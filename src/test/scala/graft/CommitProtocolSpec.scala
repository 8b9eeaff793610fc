package graft

import graft.operators.MergeOps
import graft.sources.{Chain, CorpusLayout, StatsManifest}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The commit protocol of both chain kinds: a commit writes the
  * generation's files, its schema record and markers, then one pointer
  * — no catalog statement; every reference to a layout name, bare or
  * qualified, is served from the pointer, so a sibling session sees a
  * commit with nothing to refresh; the catalog registration stays a
  * faithful description (SHOW TABLES, DESCRIBE) without carrying state;
  * and a generation's relation — manifest included — is built once per
  * (session, generation).
  */
class CommitProtocolSpec extends AnyFunSuite with SparkTestBase {

  /** (corpus dir, flat name, partitioned name, corpus rows): one corpus
    * with a flat and a partitioned chain built over it.
    */
  private def withChains(body: (String, String, String, DataFrame) => Unit): Unit = {
    import spark.implicits._
    assert(spark.conf.getOption(CorpusLayout.ConfKey).isEmpty,
      "test precondition: session must start without a layout conf")
    val tmp = java.nio.file.Files.createTempDirectory("graft_commit")
    val corpus = tmp.toString + "/corpus"
    val base = Tables.load(spark, sf, "documents")
      .select($"doc_id", $"text", $"lang", $"source",
        $"n_chars".cast("long").as("n_chars"))
    base.write.parquet(s"$corpus/documents.parquet")
    spark.conf.set(CorpusLayout.ConfKey, tmp.toString + "/layout")
    try {
      val flat = CorpusLayout.materialize(spark, corpus, tables = Seq("documents")).head
      val plt = MergeOps.materialize(spark, Chain(corpus, "documents", Some("source")),
        buckets = 8)
      body(corpus, flat, plt, base.localCheckpoint())
    } finally {
      CorpusLayout.drop(spark, corpus)
      spark.conf.unset(CorpusLayout.ConfKey)
      graft.FsUtil.deleteRecursively(tmp)
    }
  }

  private def recrawl(rows: DataFrame, tag: String): DataFrame =
    rows.select(col("doc_id"), concat(lit(s"$tag "), col("text")).as("text"),
        col("lang"), col("source"), col("n_chars"))
      .withColumn(MergeOps.TombstoneCol, lit(false))

  /** Spark's catalog DDL commands, as they name themselves in a plan. */
  private val Ddl = ("DropTableCommand|CreateDataSourceTableCommand|" +
    "CreateDataSourceTableAsSelectCommand|SaveAsV1TableCommand|CreateTableCommand|" +
    "AlterTableRenameCommand|AlterTableAddPartitionCommand|" +
    "RepairTableCommand|AlterTableRecoverPartitionsCommand").r

  test("a commit runs no catalog DDL: CoW apply, partitioned UPDATE, MOR apply, ADD COLUMNS, OPTIMIZE") {
    import spark.implicits._
    withChains { (corpus, flat, plt, base) =>
      val pchain = Chain.partitioned(spark, corpus)
      def noDdl(what: String, chain: Chain, name: String)(body: => Unit): Unit = {
        val before = MergeOps.generations(spark, chain).size
        val seen = SparkProbe.during(spark, name)(body)
        val ddl = seen.plans.flatMap(Ddl.findAllIn(_)).distinct
        assert(ddl.isEmpty, s"$what ran catalog DDL: ${ddl.mkString(", ")}")
        assert(MergeOps.generations(spark, chain).size == before + 1,
          s"$what did not commit a generation")
      }
      noDdl("flat CoW apply", Chain.flat(corpus), flat) {
        MergeOps.applyToLayout(spark, corpus,
          recrawl(base.filter($"doc_id" % 11 === 0), "cow"))
      }
      noDdl("partitioned SQL UPDATE", pchain, plt) {
        spark.sql(s"UPDATE $plt SET lang = 'up' WHERE doc_id % 7 = 0")
      }
      noDdl("partitioned MOR apply", pchain, plt) {
        MergeOps.applyToLayoutFrom(spark, pchain, mode = "mor")(_ =>
          recrawl(base.filter($"doc_id" % 5 === 0), "mor"))
      }
      noDdl("ADD COLUMNS", Chain.flat(corpus), flat) {
        spark.sql(s"ALTER TABLE $flat ADD COLUMNS (score DOUBLE)")
      }
      noDdl("OPTIMIZE", pchain, plt) {
        spark.sql(s"OPTIMIZE $plt")
      }
      // the commits landed: the served reads see every edit
      assert(spark.table(flat).filter($"text".startsWith("cow ")).count() ==
        base.filter($"doc_id" % 11 === 0).count())
      assert(spark.table(plt).filter($"text".startsWith("mor ")).count() ==
        base.filter($"doc_id" % 5 === 0).count())
    }
  }

  test("a qualified layout name is served like the bare one: a MOR delete stays deleted") {
    import spark.implicits._
    withChains { (corpus, flat, plt, base) =>
      val prev = spark.conf.getOption(MergeOps.MergeModeKey)
      spark.conf.set(MergeOps.MergeModeKey, "mor")
      try {
        spark.sql(s"DELETE FROM $flat WHERE doc_id % 3 = 0")
        spark.sql(s"DELETE FROM default.$plt WHERE doc_id % 4 = 0")
      } finally prev match {
        case Some(v) => spark.conf.set(MergeOps.MergeModeKey, v)
        case None => spark.conf.unset(MergeOps.MergeModeKey)
      }
      val left = Map(flat -> base.filter($"doc_id" % 3 =!= 0).count(),
        plt -> base.filter($"doc_id" % 4 =!= 0).count())
      left.foreach { case (name, want) =>
        def count(n: String) =
          spark.sql(s"SELECT count(*) FROM $n").head().getLong(0)
        assert(count(name) == want, s"$name: bare name lost the delete")
        assert(count(s"default.$name") == want,
          s"default.$name read the registration's base files")
        assert(count(s"spark_catalog.default.$name") == want,
          s"spark_catalog.default.$name read the registration's base files")
      }
      // time travel and ALTER claim the qualified spelling too
      assert(spark.sql(s"SELECT * FROM default.$flat VERSION AS OF 0").count() ==
        base.count())
      spark.sql(s"ALTER TABLE default.$flat ADD COLUMNS (score DOUBLE)")
      assert(spark.table(flat).columns.contains("score"))
    }
  }

  test("a sibling session serves another session's commit with no refresh, on both chain kinds") {
    import spark.implicits._
    withChains { (corpus, flat, plt, base) =>
      val sib = spark.newSession()
      sib.conf.set(CorpusLayout.ConfKey, spark.conf.get(CorpusLayout.ConfKey))
      val chains = Seq(flat -> Chain.flat(corpus), plt -> Chain.partitioned(spark, corpus))
      chains.foreach { case (name, chain) =>
        // the sibling serves (and caches) the current tip first
        assert(sib.table(name).count() == base.count())
        assert(chain.served(sib).get.count() == base.count())
        spark.sql(s"DELETE FROM $name WHERE doc_id % 6 = 0")
        val want = base.filter($"doc_id" % 6 =!= 0).count()
        assert(sib.table(name).count() == want,
          s"$name: the sibling's SQL read served the pre-commit tip")
        assert(chain.served(sib).get.count() == want,
          s"$name: the sibling's served read served the pre-commit tip")
        assert(sib.sql(s"SELECT count(*) FROM $name WHERE doc_id % 6 = 0")
          .head().getLong(0) == 0L, s"$name: deleted rows came back")
      }
    }
  }

  test("the registration describes the chain: SHOW TABLES, tableExists, DESCRIBE through commits and re-attach") {
    import spark.implicits._
    withChains { (corpus, flat, plt, base) =>
      def described(s: SparkSession, name: String, stage: String,
                    cols: Seq[String]): Unit = {
        assert(s.sql("SHOW TABLES").collect().map(_.getAs[String]("tableName"))
          .contains(name), s"$stage: SHOW TABLES lost $name")
        assert(s.catalog.tableExists(name), s"$stage: tableExists($name) is false")
        val listed = s.sql(s"DESCRIBE $name").collect().map(_.getString(0)).toSet
        cols.foreach(c => assert(listed.contains(c),
          s"$stage: DESCRIBE $name does not list $c: $listed"))
      }
      val cols = Seq("doc_id", "text", "lang", "source", "n_chars")
      Seq(flat, plt).foreach { name =>
        described(spark, name, "materialize", cols)
        spark.sql(s"UPDATE $name SET lang = 'rg' WHERE doc_id % 5 = 0")
        described(spark, name, "commit", cols)
        spark.sql(s"ALTER TABLE $name ADD COLUMNS (score DOUBLE)")
        described(spark, name, "ADD COLUMNS", cols :+ "score")
        // a fresh JVM's catalog holds no registration: drop it, and a
        // fresh session's first read re-attaches it
        spark.sql(s"DROP TABLE $name")
        val fresh = spark.newSession()
        fresh.conf.set(CorpusLayout.ConfKey, spark.conf.get(CorpusLayout.ConfKey))
        assert(fresh.table(name).filter($"lang" === "rg").count() ==
          base.filter($"doc_id" % 5 === 0).count(), s"re-attached $name lost the commit")
        described(fresh, name, "re-attach", cols :+ "score")
      }
    }
  }

  test("no chain built: the served read is None and launches no Spark job") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_commit_none")
    spark.conf.set(CorpusLayout.ConfKey, tmp.toString + "/layout")
    try {
      val seen = SparkProbe.during(spark, "none") {
        assert(Chain.flat(sf).served(spark).isEmpty)
        assert(Chain(sf, "documents", Some("source")).served(spark).isEmpty)
      }
      assert(seen.jobDescriptions.isEmpty,
        s"an unbuilt chain launched Spark jobs: ${seen.jobDescriptions}")
    } finally {
      spark.conf.unset(CorpusLayout.ConfKey)
      graft.FsUtil.deleteRecursively(tmp)
    }
  }

  test("the manifest is collected once per (session, generation) through the served name") {
    withChains { (corpus, flat, _, _) =>
      val tip = Chain.flat(corpus).layout(spark)._1
      StatsManifest.build(spark, tip, Seq("doc_id", "n_chars"))
      def read(lo: Long): Long =
        spark.sql(s"SELECT count(*) FROM $flat WHERE n_chars > $lo").head().getLong(0)
      val seen = SparkProbe.during(spark, flat) { read(100L); read(2000L) }
      // the collect is the one execution scanning the manifest's parts
      val collects = seen.plans.count(_.contains(s"/${StatsManifest.SubDir}/part-"))
      assert(collects == 1,
        s"the manifest was collected $collects times over two reads of one generation")
    }
  }
}
