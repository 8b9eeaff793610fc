package graft.plans

import graft.operators.{Fsck, MergeOps}
import graft.sources.{Chain, CorpusLayout}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{StructType, StructField, StringType, IntegerType, LongType, BooleanType, TimestampType}

/** SQL surface for the chain-maintenance verbs (SURVEY §2.H) — the last
  * piece of "a SQL-first user manages the corpus lifecycle entirely
  * from SQL". Spark's grammar has no spelling for these (they are table-
  * format verbs, not ANSI SQL), so this is the injectParser tier — the
  * same delegating-parser recipe Delta Lake uses for its VACUUM /
  * OPTIMIZE / DESCRIBE HISTORY:
  *
  * {{{
  *   DESCRIBE HISTORY graft_cl_…                    -- the generation chain
  *   VACUUM graft_cl_… [RETAIN <n> GENERATIONS]     -- MergeOps.vacuum
  *   OPTIMIZE graft_cl_…                            -- MergeOps.compact
  * }}}
  *
  * Only statements whose target identifier carries the `graft_cl_` or
  * `graft_plt_` prefix are claimed — everything else (including DESCRIBE HISTORY on
  * other tables) delegates to Spark's stock parser verbatim, stock
  * errors included. Each command resolves its target ONCE to a
  * [[graft.sources.Chain]] and lowers onto the SAME lease-fenced verb
  * the Scala API uses — one implementation for flat and partitioned
  * chains alike — so SQL maintenance inherits resync, pin awareness and
  * the single-writer fence; DESCRIBE HISTORY is a pure
  * driver-side listing (generation, files, bytes, served/pinned/dv/
  * mapped flags) — the audit view of the chain, no Spark job.
  */
class GraftSqlParser(session: SparkSession, delegate: ParserInterface)
    extends ParserInterface {

  import GraftSqlParser._

  override def parsePlan(sqlText: String): LogicalPlan = sqlText match {
    case DescribeHistoryRe(t) => DescribeHistoryCommand(t)
    case VacuumRe(t, _, n) =>
      VacuumLayoutCommand(t, Option(n).map(_.toInt).getOrElse(2))
    case OptimizeRe(t) => OptimizeLayoutCommand(t)
    case CheckTableRe(t) => CheckLayoutCommand(t)
    case CreateTagRe(t, name, _, g) =>
      CreateTagCommand(t, name, Option(g).map(_.toInt).getOrElse(-1))
    case DropTagRe(t, name) => DropTagCommand(t, name)
    case ShowTagsRe(t) => ShowTagsCommand(t)
    case CreateCorpusRe(t, dir, n, pcol, q) =>
      CreateCorpusTableCommand(t, dir, Option(n).map(_.toInt),
        Option(pcol), Option(q))
    case _ => delegate.parsePlan(sqlText)
  }

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
}

object GraftSqlParser {
  // anchored, case-insensitive, optional trailing semicolon; the
  // graft_cl_ prefix is part of the match so non-layout statements
  // fall through to the stock parser (and its stock errors)
  private val DescribeHistoryRe =
    """(?is)\s*DESCRIBE\s+HISTORY\s+(graft_(?:cl|plt)_\w+)\s*;?\s*""".r
  // maintenance verbs cover BOTH layout tiers (flat graft_cl_ and
  // partitioned graft_plt_ chains share one implementation per verb)
  private val VacuumRe =
    """(?is)\s*VACUUM\s+(graft_(?:cl|plt)_\w+)(\s+RETAIN\s+(\d+)\s+GENERATIONS)?\s*;?\s*""".r
  private val OptimizeRe =
    """(?is)\s*OPTIMIZE\s+(graft_(?:cl|plt)_\w+)\s*;?\s*""".r
  private val CheckTableRe =
    """(?is)\s*CHECK\s+TABLE\s+(graft_(?:cl|plt)_\w+)\s*;?\s*""".r
  // Iceberg's ref verbs: CREATE/DROP TAG are not in Spark's ALTER
  // grammar, so they must be claimed here; every OTHER ALTER on a
  // layout table falls through to the stock parser and the
  // AlterLayoutRule hint tier
  private val CreateTagRe =
    """(?is)\s*ALTER\s+TABLE\s+(graft_(?:cl|plt)_\w+)\s+CREATE\s+TAG\s+([A-Za-z][A-Za-z0-9_.-]*)(\s+AS\s+OF\s+VERSION\s+(\d+))?\s*;?\s*""".r
  private val DropTagRe =
    """(?is)\s*ALTER\s+TABLE\s+(graft_(?:cl|plt)_\w+)\s+DROP\s+TAG\s+([A-Za-z][A-Za-z0-9_.-]*)\s*;?\s*""".r
  private val ShowTagsRe =
    """(?is)\s*SHOW\s+TAGS\s+(graft_(?:cl|plt)_\w+)\s*;?\s*""".r
  // table BIRTH from SQL (round 15): the one lifecycle verb that was
  // Scala-only. The target is a LOGICAL keyed-table name (documents /
  // embeddings) — the graft_cl_/graft_plt_ catalog handle is the
  // command's RESULT, not its input, because the hash in those names
  // cannot be written by hand
  private val CreateCorpusRe =
    """(?is)\s*CREATE\s+TABLE\s+(\w+)\s+IN\s+CORPUS\s+'([^']+)'(?:\s+INTO\s+(\d+)\s+BUCKETS)?(?:\s+PARTITIONED\s+BY\s+(\w+))?(?:\s+AS\s+(.+?))?\s*;?\s*""".r
}

/** `DESCRIBE HISTORY <layout>` — the generation chain as rows. Pure
  * driver-side listing (the same directory walk `generations` does):
  * per generation its base data files and their bytes (every data
  * dir's top-level parquet — `_cdf/`, `_dv/` and the stats manifest
  * excluded; hard-linked bytes count in every generation that links
  * them, the inode-dedup'd number is vacuum's concern), and the served
  * (epoch marker) / pinned (snapshot or tag) / dv-sidecar /
  * column-mapped flags.
  */
case class DescribeHistoryCommand(tableName: String)
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] = DataTypeUtils.toAttributes(StructType(Seq(
    StructField("generation", IntegerType, nullable = false),
    StructField("path", StringType, nullable = false),
    StructField("committed_at", TimestampType, nullable = false),
    StructField("files", IntegerType, nullable = false),
    StructField("bytes", LongType, nullable = false),
    StructField("served", BooleanType, nullable = false),
    StructField("pinned", BooleanType, nullable = false),
    StructField("dv", BooleanType, nullable = false),
    StructField("mapped", BooleanType, nullable = false))))

  override def run(spark: SparkSession): Seq[Row] = {
    val chain = Chain.resolve(spark, tableName, "DESCRIBE HISTORY")
    def norm(p: String) = java.nio.file.Paths.get(p).normalize.toString
    val servedLoc = chain.tip(spark).map(norm)
    val pins = MergeOps.pins(spark, chain)
    MergeOps.generations(spark, chain).map { case (g, p) =>
      val data = chain.dataDirs(p).flatMap { case (_, d) => graft.FsUtil.list(d) }
        .filter(f => java.nio.file.Files.isRegularFile(f) &&
          f.getFileName.toString.endsWith(".parquet"))
      Row(g, p, new java.sql.Timestamp(CorpusLayout.commitTsOf(p)),
        data.size, data.map(java.nio.file.Files.size(_)).sum,
        servedLoc.contains(norm(p)), pins.contains(norm(p)),
        chain.dvDirs(p).nonEmpty, CorpusLayout.readMapping(p).nonEmpty)
    }
  }
}

/** `VACUUM <layout> [RETAIN n GENERATIONS]` — [[MergeOps.vacuum]]
  * through SQL: reclaims drained, unpinned, non-served generations,
  * returning the deleted paths.
  */
case class VacuumLayoutCommand(tableName: String, keepLast: Int)
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] = DataTypeUtils.toAttributes(StructType(Seq(
    StructField("deleted_path", StringType, nullable = false))))

  override def run(spark: SparkSession): Seq[Row] =
    MergeOps.vacuum(spark, Chain.resolve(spark, tableName, "VACUUM"), keepLast)
      .map(Row(_))
}

/** `OPTIMIZE <layout>` — [[MergeOps.compact]] through SQL: folds the
  * trickle chain (and any MOR sidecar) into one fresh no-shared-inode
  * generation, returning its path.
  */
case class OptimizeLayoutCommand(tableName: String)
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] = DataTypeUtils.toAttributes(StructType(Seq(
    StructField("new_generation", StringType, nullable = false))))

  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(MergeOps.compact(spark, Chain.resolve(spark, tableName, "OPTIMIZE"))))
}

/** `ALTER TABLE <layout> CREATE TAG <name> [AS OF VERSION n]` —
  * [[MergeOps.tagGeneration]]: a named generation ref (Iceberg's tag
  * shape). Tagged generations survive VACUUM; `VERSION AS OF '<name>'`
  * reads them.
  */
case class CreateTagCommand(tableName: String, tag: String,
                            generation: Int) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = DataTypeUtils.toAttributes(StructType(Seq(
    StructField("tagged_generation", StringType, nullable = false))))

  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(MergeOps.tagGeneration(spark,
      Chain.resolve(spark, tableName, "CREATE TAG"), tag, generation)))
}

/** `ALTER TABLE <layout> DROP TAG <name>` — releases the pin; the bytes
  * reclaim at the next VACUUM.
  */
case class DropTagCommand(tableName: String, tag: String)
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] = DataTypeUtils.toAttributes(StructType(Seq(
    StructField("existed", BooleanType, nullable = false))))

  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(MergeOps.dropTag(spark,
      Chain.resolve(spark, tableName, "DROP TAG"), tag)))
}

/** `SHOW TAGS <layout>` — name → generation of every retained tag. */
case class ShowTagsCommand(tableName: String) extends LeafRunnableCommand {

  override val output: Seq[Attribute] = DataTypeUtils.toAttributes(StructType(Seq(
    StructField("tag", StringType, nullable = false),
    StructField("generation", IntegerType, nullable = false))))

  override def run(spark: SparkSession): Seq[Row] =
    MergeOps.tags(spark, Chain.resolve(spark, tableName, "SHOW TAGS"))
      .toSeq.sorted.map { case (n, g) => Row(n, g) }
}

/** `CHECK TABLE <layout>` — [[Fsck.checkTable]] through SQL: audit the
  * served generation's physical invariants (markers, partition dirs,
  * mapping, file naming, bucket placement, key uniqueness, manifest
  * soundness, dv sidecars) as (check, status, details) rows.
  */
case class CheckLayoutCommand(tableName: String)
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] = DataTypeUtils.toAttributes(StructType(Seq(
    StructField("check", StringType, nullable = false),
    StructField("status", StringType, nullable = false),
    StructField("details", StringType, nullable = false))))

  override def run(spark: SparkSession): Seq[Row] =
    Fsck.checkTable(spark, Chain.resolve(spark, tableName, "CHECK TABLE"))
      .map(f => Row(f.check, f.status, f.details))
}

/** `CREATE TABLE <table> IN CORPUS '<dir>' [INTO n BUCKETS]
  * [PARTITIONED BY pcol] [AS <query>]` — table birth from SQL, closing
  * the last Scala-only lifecycle verb: a SQL-first user could MERGE,
  * UPDATE, time-travel, OPTIMIZE and VACUUM a served table but never
  * CREATE one. With AS, the query result is key-validated (unique,
  * non-NULL — the row-identity law every apply enforces, moved to
  * birth) and written as the corpus file `<dir>/<table>.parquet` with
  * errorifexists semantics (re-birthing over an existing corpus file
  * must be an explicit delete, never an accident); then
  * [[graft.operators.MergeOps.materialize]] builds and registers the
  * served layout — the flat chain, or with PARTITIONED BY the
  * partitioned one. Returns the catalog table name: the
  * handle every other SQL verb speaks. The validation snapshot
  * (localCheckpoint) is MergeOps' changeset discipline — the gate and
  * the write must see the SAME rows even off a non-deterministic query.
  */
case class CreateCorpusTableCommand(table: String, corpusDir: String,
                                    buckets: Option[Int],
                                    pcol: Option[String],
                                    query: Option[String])
    extends LeafRunnableCommand {

  override val output: Seq[Attribute] = DataTypeUtils.toAttributes(StructType(Seq(
    StructField("created_table", StringType, nullable = false))))

  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions.{col, count, lit}
    val key = CorpusLayout.keyed.getOrElse(table,
      throw new IllegalArgumentException(
        s"CREATE TABLE $table: not a keyed layout table — known tables: " +
          CorpusLayout.keyed.keys.toSeq.sorted.mkString(", ")))
    query.foreach { q =>
      val df = spark.sql(q).localCheckpoint(true)
      require(df.columns.contains(key),
        s"CREATE TABLE $table AS: query result carries no key column '$key'")
      val bad = df.groupBy(col(key)).agg(count(lit(1)).as("__n"))
        .filter(col(key).isNull || col("__n") > 1).limit(5).collect()
      require(bad.isEmpty,
        s"CREATE TABLE $table AS: key '$key' must be unique and non-NULL " +
          s"(the layout's row-identity law, enforced at birth): " +
          bad.mkString(", "))
      df.write.mode("errorifexists").parquet(s"$corpusDir/$table.parquet")
    }
    Seq(Row(MergeOps.materialize(spark,
      Chain(corpusDir, table, pcol),
      buckets.getOrElse(CorpusLayout.DefaultBuckets))))
  }
}
