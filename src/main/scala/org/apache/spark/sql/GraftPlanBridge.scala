package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into `Dataset.ofRows` (private[sql]) so graft can wrap a custom
  * logical plan node as a DataFrame. Standard extension-library shim: the
  * only privileged call is plan→DataFrame construction; planning,
  * execution, and optimization all flow through public extension points
  * (SparkSessionExtensions.injectPlannerStrategy).
  */
object GraftPlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Catalyst→data-source filter translation (protected[sql]): the exact
    * translation parquet pushdown runs, reused by graft's manifest file
    * index so its pruning sees the same filter algebra the engine does.
    */
  def translateFilter(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Option[org.apache.spark.sql.sources.Filter] =
    execution.datasources.DataSourceStrategy
      .translateFilter(e, supportNestedPredicatePushdown = false)

  /** A schema with every field nullable, nested ones included — what a
    * file-source relation serves whatever its writer declared.
    */
  def asNullable(st: types.StructType): types.StructType = st.asNullable

  private lazy val pool =
    org.apache.spark.util.ThreadUtils.newDaemonCachedThreadPool("graft-concurrent", 8)

  /** Run `a` and `b` as concurrent Spark work, each on a pool thread
    * through `SQLExecution.withThreadLocalCaptured`, so the caller's
    * local properties (job description, group, tags) and active session
    * reach every job either one runs. Returns once BOTH have finished:
    * when one throws, the other still runs to its end before the first
    * failure is rethrown, so nothing either wrote is still being written
    * when the caller cleans up.
    */
  def concurrently(spark: SparkSession)(a: => Unit, b: => Unit): Unit = {
    val s = spark.asInstanceOf[classic.SparkSession]
    val failures = Seq(execution.SQLExecution.withThreadLocalCaptured(s, pool)(a),
        execution.SQLExecution.withThreadLocalCaptured(s, pool)(b))
      .flatMap(f => scala.util.Try(f.get()).failed.toOption)
    failures.headOption.foreach {
      case e: java.util.concurrent.ExecutionException => throw e.getCause
      case e => throw e
    }
  }

  /** Write `df` under `path` as bucketed parquet: Spark's own file write
    * (`InsertIntoHadoopFsRelationCommand`, run as `DataFrameWriter.save`
    * runs it) with a bucket spec, the partition columns and no catalog
    * table. `save` refuses `bucketBy` outright (only a table write may
    * bucket); the command itself needs no table. File names carry the
    * `_NNNNN` bucket suffix, each unit's rows arrive sorted by the
    * spec's sort columns, and `_SUCCESS` lands as for any job commit.
    * `mode` overwrite replaces whatever `path` held.
    */
  def writeBucketed(df: DataFrame, path: String, partitionCols: Seq[String],
                    bucketSpec: catalyst.catalog.BucketSpec,
                    options: Map[String, String]): Unit = {
    val s = df.sparkSession.asInstanceOf[classic.SparkSession]
    val query = df.queryExecution.analyzed
    val cmd = execution.datasources.InsertIntoHadoopFsRelationCommand(
      new org.apache.hadoop.fs.Path(path), Map.empty, ifPartitionNotExists = false,
      partitionCols.map(c => query.output.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(s"no partition column '$c' in ${df.columns.mkString(", ")}"))),
      Some(bucketSpec), new execution.datasources.parquet.ParquetFileFormat, options,
      query, SaveMode.Overwrite, None, None, query.output.map(_.name))
    s.sessionState.executePlan(cmd).assertCommandExecuted()
  }
}
