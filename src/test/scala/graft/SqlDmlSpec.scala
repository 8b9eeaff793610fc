package graft

import graft.operators.MergeOps
import graft.sources.{Chain, CorpusLayout}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The SQL DML/DDL surface over served corpus layouts
  * ([[graft.plans.DmlLayoutRule]] / [[graft.plans.AlterLayoutRule]]):
  * UPDATE / DELETE FROM / INSERT INTO|OVERWRITE / ALTER TABLE … COLUMN
  * lower onto the SAME generation-chain verbs the Scala API uses. Pins
  * (1) value-level semantics of each verb against composed expectations,
  * (2) that every SQL edit rides the chain — generations advance, the
  * previously-served generation's files are never mutated or appended to
  * (Spark's stock v1 INSERT would write raw parquet into the served
  * directory), (3) the logical-name law: after ALTER RENAME, SQL MERGE /
  * UPDATE speak the NEW name and the old one fails as an ordinary
  * unresolved column (round-13 review hole: physical-schema resolution
  * silently no-op'd renamed SET clauses), (4) loud rejection of every
  * malformed shape, with non-layout targets keeping Spark's stock
  * errors.
  */
class SqlDmlSpec extends AnyFunSuite with SparkTestBase {

  private def rows(df: DataFrame): Seq[String] =
    df.orderBy(df.columns.map(col): _*).collect().map(_.toString).toSeq

  private def withSandbox(tag: String)(body: (String, String, DataFrame) => Unit): Unit = {
    import spark.implicits._
    assert(spark.conf.getOption(CorpusLayout.ConfKey).isEmpty,
      "test precondition: session must start without a layout conf")
    val tmp = java.nio.file.Files.createTempDirectory(s"graft_$tag")
    val corpus = tmp.toString + "/corpus"
    val base = Tables.load(spark, sf, "documents")
      .select($"doc_id", $"text", $"lang", $"source",
        $"n_chars".cast("long").as("n_chars"))
    base.write.parquet(s"$corpus/documents.parquet")
    spark.conf.set(CorpusLayout.ConfKey, tmp.toString + "/layout")
    try {
      CorpusLayout.materialize(spark, corpus, tables = Seq("documents"))
      body(corpus, CorpusLayout.tableName("documents", corpus),
        base.localCheckpoint())
    } finally {
      CorpusLayout.drop(spark, corpus)
      spark.conf.unset(CorpusLayout.ConfKey)
      graft.FsUtil.deleteRecursively(tmp)
    }
  }

  private def served(corpus: String): DataFrame =
    Chain.flat(corpus).served(spark).get

  private def dataFiles(dir: String): Set[String] = {
    val d = new java.io.File(dir)
    d.listFiles().filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(_.getName).toSet
  }

  test("SQL UPDATE / DELETE / INSERT ride the generation chain with SQL semantics") {
    import spark.implicits._
    withSandbox("sqldml") { (corpus, t, base) =>
      // UPDATE: RHS evaluates against the OLD row; unassigned wide
      // columns carry
      spark.sql(s"UPDATE $t SET lang = 'up', n_chars = n_chars + 1 " +
        "WHERE doc_id % 7 = 0")
      val afterUpdate = base.select($"doc_id", $"text",
        when($"doc_id" % 7 === 0, "up").otherwise($"lang").as("lang"),
        $"source",
        when($"doc_id" % 7 === 0, $"n_chars" + 1).otherwise($"n_chars")
          .cast("long").as("n_chars"))
      assert(rows(served(corpus)) == rows(afterUpdate),
        "UPDATE diverged from the composed edit")
      assert(MergeOps.generations(spark, Chain.flat(corpus)).size == 2,
        "UPDATE did not append a generation")

      // UPDATE SET c = NULL: a NULL-literal RHS types as NullType, which
      // nothing casts TO — storeAssign must short-circuit it instead of
      // failing analysis on valid DML (NULL round-trips trivially)
      spark.sql(s"UPDATE $t SET text = NULL WHERE doc_id % 91 = 0")
      val afterNull = afterUpdate.select($"doc_id",
        when($"doc_id" % 91 === 0, lit(null).cast("string"))
          .otherwise($"text").as("text"),
        $"lang", $"source", $"n_chars")
      assert(rows(served(corpus)) == rows(afterNull),
        "UPDATE SET NULL diverged from the composed edit")

      // DELETE: rows gone, nothing else touched
      spark.sql(s"DELETE FROM $t WHERE doc_id % 13 = 0")
      val afterDelete = afterNull.filter($"doc_id" % 13 =!= 0)
      assert(rows(served(corpus)) == rows(afterDelete),
        "DELETE diverged from the composed edit")

      // INSERT INTO with a column list: unlisted columns read NULL; the
      // previously-served generation's data files are untouched (stock
      // v1 INSERT would append raw parquet into that directory)
      val preGen = MergeOps.generations(spark, Chain.flat(corpus)).last._2
      val preFiles = dataFiles(preGen)
      spark.sql(s"INSERT INTO $t (doc_id, text, lang) " +
        s"SELECT -(doc_id + 1), text, 'ins' FROM parquet.`$corpus/documents.parquet` " +
        "WHERE doc_id % 101 = 0")
      val inserted = base.filter($"doc_id" % 101 === 0)
        .select((-($"doc_id" + 1L)).as("doc_id"), $"text",
          lit("ins").as("lang"), lit(null).cast("string").as("source"),
          lit(null).cast("long").as("n_chars"))
      assert(rows(served(corpus)) == rows(afterDelete.unionByName(inserted)),
        "INSERT INTO diverged from the composed edit")
      assert(dataFiles(preGen) == preFiles,
        "INSERT INTO wrote files into the previously served generation dir")
      assert(MergeOps.generations(spark, Chain.flat(corpus)).size == 5,
        "INSERT INTO did not append a generation")

      // INSERT INTO an existing key rejects loudly and burns no generation
      val e = intercept[Exception](spark.sql(
        s"INSERT INTO $t SELECT * FROM parquet.`$corpus/documents.parquet` " +
          "WHERE doc_id % 50 = 0"))
      assert(e.getMessage.contains("MERGE"),
        s"existing-key INSERT error unhelpful: ${e.getMessage}")
      assert(MergeOps.generations(spark, Chain.flat(corpus)).size == 5,
        "rejected INSERT still burned a generation")

      // INSERT OVERWRITE: the table becomes exactly the query result
      spark.sql(s"INSERT OVERWRITE $t " +
        s"SELECT doc_id, text, 'ow' AS lang, source, n_chars " +
        s"FROM parquet.`$corpus/documents.parquet` WHERE doc_id % 2 = 0")
      val ow = base.filter($"doc_id" % 2 === 0)
        .select($"doc_id", $"text", lit("ow").as("lang"), $"source", $"n_chars")
      assert(rows(served(corpus)) == rows(ow),
        "INSERT OVERWRITE diverged from the query result")

      // malformed shapes reject loudly
      intercept[Exception](spark.sql(
        s"UPDATE $t SET doc_id = doc_id + 1 WHERE doc_id = 2"))
      intercept[Exception](spark.sql(
        s"UPDATE $t SET lang = 'x', lang = 'y' WHERE doc_id = 2"))
      intercept[Exception](spark.sql(
        s"DELETE FROM $t WHERE doc_id IN (SELECT doc_id FROM " +
          s"parquet.`$corpus/documents.parquet`)"))
      intercept[Exception](spark.sql(
        s"INSERT INTO $t SELECT doc_id FROM parquet.`$corpus/documents.parquet`"))
      intercept[Exception](spark.sql(
        s"INSERT INTO $t (text, lang) SELECT text, lang " +
          s"FROM parquet.`$corpus/documents.parquet` LIMIT 1"))

      // non-layout v1 targets keep Spark's stock rejections
      base.limit(5).write.mode("overwrite")
        .option("path", corpus + "/plain").saveAsTable("sqldml_plain")
      try {
        intercept[Exception](spark.sql(
          "UPDATE sqldml_plain SET lang = 'x' WHERE doc_id = 1"))
        intercept[Exception](spark.sql(
          "DELETE FROM sqldml_plain WHERE doc_id = 1"))
      } finally spark.sql("DROP TABLE IF EXISTS sqldml_plain")
    }
  }

  test("SQL UPDATE / DELETE read the flat corpus once: the WHERE scan is the apply's only read") {
    import spark.implicits._
    withSandbox("dmlonce") { (corpus, t, base) =>
      val cols = spark.table(t).columns.toSeq
      val upd = SparkProbe.during(spark, t) {
        spark.sql(s"UPDATE $t SET lang = 'one' WHERE doc_id % 7 = 0")
      }
      assert(upd.tableScans == 1, s"UPDATE scanned the corpus ${upd.tableScans} times")
      val del = SparkProbe.during(spark, t) {
        spark.sql(s"DELETE FROM $t WHERE doc_id % 5 = 0")
      }
      assert(del.tableScans == 1, s"DELETE scanned the corpus ${del.tableScans} times")
      assert(rows(served(corpus)) == rows(base.filter($"doc_id" % 5 =!= 0)
          .withColumn("lang", when($"doc_id" % 7 === 0, "one").otherwise($"lang"))
          .select(cols.map(col): _*)),
        "UPDATE + DELETE values diverged")
    }
  }

  test("SQL ALTER TABLE evolves metadata-only; DML speaks logical names afterwards") {
    import spark.implicits._
    withSandbox("sqlddl") { (corpus, t, base) =>
      def gen(i: Int): String =
        MergeOps.generations(spark, Chain.flat(corpus))(i)._2
      def ino(p: String): Any = java.nio.file.Files.getAttribute(
        java.nio.file.Paths.get(p), "unix:ino")

      // RENAME + DROP: metadata-only — every data file hard-links (same
      // inode), the serving projection follows
      spark.sql(s"ALTER TABLE $t RENAME COLUMN lang TO language")
      spark.sql(s"ALTER TABLE $t DROP COLUMN source")
      assert(served(corpus).columns.toSeq ==
        Seq("doc_id", "text", "language", "n_chars"),
        s"evolved serving schema wrong: ${served(corpus).columns.mkString(",")}")
      val f0 = dataFiles(gen(0)).head
      assert(ino(s"${gen(0)}/$f0") == ino(s"${gen(2)}/$f0"),
        "ALTER rewrote a data file — must be a pure metadata swing")

      // ADD COLUMNS: zero-row evolving apply — hard-links everything,
      // untouched rows read NULL
      spark.sql(s"ALTER TABLE $t ADD COLUMNS (note STRING, score DOUBLE)")
      assert(served(corpus).columns.toSeq ==
        Seq("doc_id", "text", "language", "n_chars", "note", "score"))
      assert(served(corpus).filter($"note".isNotNull).count() == 0,
        "added column must read NULL on untouched rows")
      assert(ino(s"${gen(0)}/$f0") == ino(s"${gen(3)}/$f0"),
        "ADD COLUMNS rewrote a data file")

      // DML speaks the LOGICAL names now: UPDATE the renamed and added
      // columns; the old physical name fails as an ordinary unresolved
      // column (round-13 hole: it resolved physically and silently
      // no-op'd)
      spark.sql(s"UPDATE $t SET language = 'ren', note = 'n1' " +
        "WHERE doc_id % 11 = 0")
      val hit = served(corpus).filter($"doc_id" % 11 === 0)
      assert(hit.count() > 0 &&
        hit.filter($"language" === "ren" && $"note" === "n1").count() == hit.count(),
        "UPDATE through the rename/add boundary mis-applied")
      intercept[Exception](spark.sql(
        s"UPDATE $t SET lang = 'x' WHERE doc_id = 1"))
      intercept[Exception](spark.sql(
        s"UPDATE $t SET source = 'x' WHERE doc_id = 1"))

      // SQL MERGE over the mapped generation: assignments resolve against
      // the logical view (the composed target), value-correct end-to-end
      spark.sql(s"SELECT doc_id FROM parquet.`$corpus/documents.parquet` " +
        "WHERE doc_id % 11 = 0").createOrReplaceTempView("sqlddl_keys")
      try {
        spark.sql(
          s"""MERGE INTO $t t USING sqlddl_keys s ON t.doc_id = s.doc_id
             |WHEN MATCHED THEN UPDATE SET language = 'mrg',
             |  score = t.n_chars * 1.0
             |""".stripMargin)
        val m = served(corpus).filter($"doc_id" % 11 === 0)
        assert(m.filter($"language" === "mrg" &&
          $"score" === $"n_chars" * 1.0).count() == m.count(),
          "SQL MERGE mis-applied over the mapped generation")
        intercept[Exception](spark.sql(
          s"""MERGE INTO $t t USING sqlddl_keys s ON t.doc_id = s.doc_id
             |WHEN MATCHED THEN UPDATE SET lang = 'x'
             |""".stripMargin))
      } finally spark.catalog.dropTempView("sqlddl_keys")

      // time travel reads each generation through ITS mapping era
      assert(spark.sql(s"SELECT lang FROM $t VERSION AS OF 0").count() ==
        base.count(), "VERSION AS OF 0 lost the pre-rename name")

      // malformed evolution rejects loudly
      intercept[Exception](spark.sql(
        s"ALTER TABLE $t RENAME COLUMN doc_id TO id"))
      intercept[Exception](spark.sql(s"ALTER TABLE $t DROP COLUMN doc_id"))
      intercept[Exception](spark.sql(s"ALTER TABLE $t DROP COLUMN nope"))
      intercept[Exception](spark.sql(
        s"ALTER TABLE $t ADD COLUMNS (bad INT NOT NULL)"))
      intercept[Exception](spark.sql(
        s"ALTER TABLE $t ADD COLUMNS (bad INT DEFAULT 3)"))
      intercept[Exception](spark.sql(
        s"ALTER TABLE $t ADD COLUMNS (note STRING)")) // exists
      // DROP COLUMN IF EXISTS on a missing column is a quiet no-op
      val gens = MergeOps.generations(spark, Chain.flat(corpus)).size
      spark.sql(s"ALTER TABLE $t DROP COLUMN IF EXISTS nope")
      assert(MergeOps.generations(spark, Chain.flat(corpus)).size == gens,
        "IF EXISTS no-op burned a generation")
    }
  }

  test("SQL maintenance verbs: DESCRIBE HISTORY / OPTIMIZE / VACUUM drive the chain") {
    import spark.implicits._
    withSandbox("sqlmaint") { (corpus, t, base) =>
      spark.sql(s"UPDATE $t SET lang = 'v1' WHERE doc_id % 5 = 0")
      val hist = spark.sql(s"DESCRIBE HISTORY $t").collect()
      assert(hist.length == 2, s"expected 2 generations, got ${hist.length}")
      assert(hist.map(_.getInt(0)).toSeq == Seq(0, 1), "generation numbering")
      assert(!hist(0).getAs[Boolean]("served") && hist(1).getAs[Boolean]("served"),
        "served flag must mark the chain tip only")
      assert(hist.forall(_.getAs[Int]("files") > 0), "every generation lists files")
      // commit times serve the TIMESTAMP AS OF ledger: present,
      // non-decreasing along the chain
      val ts = hist.map(_.getAs[java.sql.Timestamp]("committed_at").getTime)
      assert(ts.forall(_ > 0) && ts.sorted.sameElements(ts),
        s"committed_at must be monotone along the chain, got ${ts.toSeq}")

      // OPTIMIZE folds the chain into a fresh generation
      val folded = spark.sql(s"OPTIMIZE $t").collect()
      assert(folded.length == 1 &&
        folded.head.getString(0).contains("documents_v2"),
        s"OPTIMIZE must return the new generation, got ${folded.toSeq}")

      // VACUUM RETAIN 1 GENERATIONS reclaims the two drained generations
      val deleted = spark.sql(s"VACUUM $t RETAIN 1 GENERATIONS").collect()
      assert(deleted.length == 2,
        s"expected 2 reclaimed generations, got ${deleted.toSeq}")
      assert(spark.sql(s"DESCRIBE HISTORY $t").count() == 1,
        "post-vacuum chain must be the compacted generation alone")
      // contents survived the fold + vacuum
      val expect = base.select($"doc_id", $"text",
        when($"doc_id" % 5 === 0, "v1").otherwise($"lang").as("lang"),
        $"source", $"n_chars")
      assert(rows(served(corpus)) == rows(expect),
        "OPTIMIZE+VACUUM changed the served contents")

      // malformed / non-layout statements keep stock behavior
      intercept[Exception](spark.sql(s"VACUUM $t RETAIN 0 GENERATIONS"))
      intercept[Exception](spark.sql("VACUUM some_other_table"))
      intercept[Exception](spark.sql("DESCRIBE HISTORY some_other_table"))
      intercept[Exception](spark.sql("OPTIMIZE some_other_table"))
    }
  }

  test("change data feed: _cdf slices, graft_changes TVF, replay law, gapped-feed rejection") {
    import spark.implicits._
    withSandbox("cdf") { (corpus, t, base) =>
      val prev = spark.conf.getOption(MergeOps.ChangeFeedKey)
      spark.conf.set(MergeOps.ChangeFeedKey, "true")
      try {
        spark.sql(s"UPDATE $t SET lang = 'u1' WHERE doc_id % 7 = 0")
        spark.sql(s"DELETE FROM $t WHERE doc_id % 13 = 0")
        spark.sql(s"INSERT INTO $t (doc_id, text, lang) " +
          s"SELECT -(doc_id + 1), text, 'i1' " +
          s"FROM parquet.`$corpus/documents.parquet` WHERE doc_id % 101 = 0")

        // the TVF serves the recorded slices with per-generation labels
        val feed = spark.sql(s"SELECT * FROM graft_changes('$t', 0, 3)")
        val byType = feed.groupBy($"_commit_generation", $"_change_type")
          .count().collect()
          .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
        assert(byType == Map(
          (1, "update_postimage") -> base.filter($"doc_id" % 7 === 0).count(),
          (2, "delete") -> base.filter($"doc_id" % 13 === 0).count(),
          (3, "insert") -> base.filter($"doc_id" % 101 === 0).count()),
          s"feed slices wrong: $byType")
        // update post-images carry the FULL row (carried text included)
        assert(feed.filter($"_change_type" === "update_postimage" &&
          ($"text".isNull || $"lang" =!= "u1")).count() == 0,
          "update post-image must carry the complete post row")

        // replay law: folding the feed onto generation 0 reproduces the tip
        val v0 = MergeOps.readGeneration(spark, Chain.flat(corpus), 0)
        val replayed = (1 to 3).foldLeft(v0) { (acc, g) =>
          val cs = MergeOps.changeFeed(spark, Chain.flat(corpus), g - 1, g)
            .withColumn(MergeOps.TombstoneCol, $"_change_type" === "delete")
            .drop("_change_type", "_commit_generation")
          MergeOps.applyChanges(acc, cs)
        }
        assert(rows(replayed) ==
          rows(MergeOps.readGeneration(spark, Chain.flat(corpus), 3)),
          "feed replay diverged from the tip generation")

        // quiet generations (metadata swing, fold) read as an EMPTY feed
        spark.sql(s"ALTER TABLE $t RENAME COLUMN lang TO language")
        spark.sql(s"OPTIMIZE $t")
        assert(spark.sql(s"SELECT * FROM graft_changes('$t', 3)").count() == 0,
          "metadata swing / fold must contribute empty feed slices")
      } finally {
        prev match {
          case Some(v) => spark.conf.set(MergeOps.ChangeFeedKey, v)
          case None => spark.conf.unset(MergeOps.ChangeFeedKey)
        }
      }
    }
    // a row-changing apply recorded WITHOUT the feed fails loudly —
    // silently deriving (or skipping) the slice would serve a gapped feed
    withSandbox("cdfoff") { (corpus, t, base) =>
      spark.sql(s"UPDATE $t SET lang = 'x' WHERE doc_id % 5 = 0")
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(
        MergeOps.generations(spark, Chain.flat(corpus)).last._2, "_cdf")),
        "feed sidecar written although the conf is off")
      val e = intercept[IllegalStateException](
        MergeOps.changeFeed(spark, Chain.flat(corpus), 0, 1).count())
      assert(e.getMessage.contains(MergeOps.ChangeFeedKey),
        s"gapped-feed error unhelpful: ${e.getMessage}")
    }
  }

  test("CDF pre-images: opt-in update_preimage rows pair with post-images per key") {
    import spark.implicits._
    withSandbox("cdfpre") { (corpus, t, base) =>
      val prev = spark.conf.getOption(MergeOps.ChangeFeedKey)
      spark.conf.set(MergeOps.ChangeFeedKey, "true")
      spark.conf.set(MergeOps.PreImageKey, "true")
      try {
        spark.sql(s"UPDATE $t SET lang = 'u1' WHERE doc_id % 7 = 0")
        spark.sql(s"DELETE FROM $t WHERE doc_id % 13 = 0")
        val feed = spark.sql(s"SELECT * FROM graft_changes('$t', 0, 2)")
          .localCheckpoint()
        val nUpd = base.filter($"doc_id" % 7 === 0).count()
        val byType = feed.groupBy($"_change_type").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(byType("update_preimage") == nUpd &&
          byType("update_postimage") == nUpd,
          s"pre/post must pair 1:1 per updated key, got $byType")
        // the pre row is the OLD row: original lang, same carried text
        val pair = feed.filter($"_change_type".startsWith("update_"))
          .groupBy($"doc_id").agg(
            max(when($"_change_type" === "update_preimage", $"lang")).as("pl"),
            max(when($"_change_type" === "update_postimage", $"lang")).as("ql"),
            countDistinct($"text").as("nt"), count(lit(1)).as("n"))
        assert(pair.filter($"n" =!= 2 || $"ql" =!= "u1" || $"pl" === "u1" ||
            $"nt" =!= 1).count() == 0,
          "pre-image must carry the pre-apply values, post the new ones")
        // deletes don't duplicate: the DELETE generation's slice carries
        // no pre-image rows (a key updated in gen 1 AND deleted in gen 2
        // keeps its gen-1 pre-image — slices are per-apply)
        assert(feed.filter($"_change_type" === "update_preimage" &&
          $"_commit_generation" === 2).count() == 0,
          "tombstone-only applies must not emit update_preimage rows")
        // the replay law holds once pre-images are filtered (Delta
        // consumers' rule — a pre-image is information, not an edit)
        val v0 = MergeOps.readGeneration(spark, Chain.flat(corpus), 0)
        val replayed = (1 to 2).foldLeft(v0) { (acc, g) =>
          val cs = MergeOps.changeFeed(spark, Chain.flat(corpus), g - 1, g)
            .filter($"_change_type" =!= "update_preimage")
            .withColumn(MergeOps.TombstoneCol, $"_change_type" === "delete")
            .drop("_change_type", "_commit_generation")
          MergeOps.applyChanges(acc, cs)
        }
        assert(rows(replayed) ==
          rows(MergeOps.readGeneration(spark, Chain.flat(corpus), 2)),
          "pre-image feed replay (preimages filtered) diverged from the tip")
        // the streaming reader surfaces the same rows (one micro-batch)
        val stream = graft.streaming.StreamingChangeFeed
          .readStream(spark, corpus, "documents")
        val out = java.nio.file.Files.createTempDirectory("graft_cdfpre_out")
        val q = stream.writeStream.format("memory")
          .queryName("cdfpre_feed")
          .option("checkpointLocation", s"$out/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination(60000)
        val streamed = spark.table("cdfpre_feed")
          .groupBy($"_change_type").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(streamed.getOrElse("update_preimage", 0L) == nUpd,
          s"streaming reader must surface pre-image rows, got $streamed")
        graft.FsUtil.deleteRecursively(out)
      } finally {
        spark.conf.unset(MergeOps.PreImageKey)
        prev match {
          case Some(v) => spark.conf.set(MergeOps.ChangeFeedKey, v)
          case None => spark.conf.unset(MergeOps.ChangeFeedKey)
        }
      }
    }
  }

  test("streaming CDF across a RENAME: pre-evolution stream fails loudly, restart resumes clean") {
    import spark.implicits._
    withSandbox("cdfevo") { (corpus, t, base) =>
      val prev = spark.conf.getOption(MergeOps.ChangeFeedKey)
      spark.conf.set(MergeOps.ChangeFeedKey, "true")
      val out = java.nio.file.Files.createTempDirectory("graft_cdfevo")
      try {
        import org.apache.spark.sql.streaming.Trigger
        spark.sql(s"UPDATE $t SET lang = 'e1' WHERE doc_id % 11 = 0")
        // phase 1: consume the pre-evolution slice; checkpoint survives
        // (parquet sink — the memory sink cannot recover a checkpoint)
        val s1 = graft.streaming.StreamingChangeFeed
          .readStream(spark, corpus, "documents")
        val q1 = s1.writeStream.format("parquet")
          .option("path", s"$out/sink")
          .option("checkpointLocation", s"$out/ckpt")
          .trigger(Trigger.AvailableNow()).start()
        q1.awaitTermination(60000)
        assert(spark.read.parquet(s"$out/sink").count() ==
          base.filter($"doc_id" % 11 === 0).count(), "phase-1 slice lost")

        // capture a reader whose start-time schema PREDATES the rename
        val stale = graft.streaming.StreamingChangeFeed
          .readStream(spark, corpus, "documents")

        spark.sql(s"ALTER TABLE $t RENAME COLUMN lang TO language")
        spark.sql(s"UPDATE $t SET language = 'e2' WHERE doc_id % 11 = 0")

        // the pre-evolution stream must FAIL LOUDLY on the new-era
        // slice — a fixed-schema parquet source would otherwise
        // NULL-fill the renamed column's rows silently
        val qStale = stale.writeStream.format("memory")
          .queryName("cdfevo_stale")
          .option("checkpointLocation", s"$out/ckpt_stale")
          .trigger(Trigger.AvailableNow()).start()
        val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          qStale.awaitTermination()
        }
        assert(e.getMessage.contains("different schema era") ||
          Option(e.getCause).exists(_.getMessage.contains("different schema era")),
          s"stale stream must name the schema era, got: ${e.getMessage}")

        // a RESTARTED consumer (fresh start-time schema + the SAME
        // phase-1 checkpoint) resumes cleanly on the new era: only the
        // post-rename slice is new to the seen-files log
        val s2 = graft.streaming.StreamingChangeFeed
          .readStream(spark, corpus, "documents")
        val q2 = s2.writeStream.format("parquet")
          .option("path", s"$out/sink")
          .option("checkpointLocation", s"$out/ckpt")
          .trigger(Trigger.AvailableNow()).start()
        q2.awaitTermination(60000)
        // the sink now holds both eras' rows (per-era schemas NULL-pad
        // under mergeSchema — the batch feed's documented union rule)
        val resumed = spark.read.option("mergeSchema", "true")
          .parquet(s"$out/sink")
        assert(resumed.columns.contains("language") &&
          resumed.filter($"language" === "e2").count() ==
            base.filter($"doc_id" % 11 === 0).count(),
          "restarted stream must serve exactly the new-era slice")
      } finally {
        graft.FsUtil.deleteRecursively(out)
        prev match {
          case Some(v) => spark.conf.set(MergeOps.ChangeFeedKey, v)
          case None => spark.conf.unset(MergeOps.ChangeFeedKey)
        }
      }
    }
  }

  test("CREATE TABLE IN CORPUS: SQL-only birth on both layouts, loud rejections") {
    import spark.implicits._
    assert(spark.conf.getOption(CorpusLayout.ConfKey).isEmpty,
      "test precondition: session must start without a layout conf")
    val tmp = java.nio.file.Files.createTempDirectory("graft_ctas")
    val corpus = tmp.toString + "/corpus"
    val corpus2 = tmp.toString + "/corpus2"
    spark.conf.set(CorpusLayout.ConfKey, tmp.toString + "/layout")
    val src = Tables.load(spark, sf, "documents")
      .select($"doc_id", $"text", $"lang", $"source",
        $"n_chars".cast("long").as("n_chars"))
    src.createOrReplaceTempView("ctas_src")
    try {
      // unknown (un-keyed) table name refuses with the known list
      val e1 = intercept[Exception](spark.sql(
        s"CREATE TABLE nosuch IN CORPUS '$corpus' AS SELECT * FROM ctas_src"))
      assert(e1.getMessage.contains("keyed layout table"), e1.getMessage)
      // duplicate keys refuse AT BIRTH, before anything lands on disk
      val e2 = intercept[Exception](spark.sql(
        s"CREATE TABLE documents IN CORPUS '$corpus' AS " +
          "SELECT * FROM ctas_src UNION ALL SELECT * FROM ctas_src"))
      assert(e2.getMessage.contains("row-identity"), e2.getMessage)
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$corpus/documents.parquet")),
        "rejected birth must leave no corpus file")
      // flat birth: the returned handle speaks every SQL verb
      val t = spark.sql(s"CREATE TABLE documents IN CORPUS '$corpus' " +
        "INTO 8 BUCKETS AS SELECT * FROM ctas_src").head().getString(0)
      assert(t.startsWith("graft_cl_documents_"), t)
      assert(rows(served(corpus)) == rows(src),
        "SQL-born table diverged from its CTAS query")
      spark.sql(s"UPDATE $t SET lang = 'b1' WHERE doc_id % 9 = 0")
      assert(served(corpus).filter($"lang" === "b1").count() ==
        src.filter($"doc_id" % 9 === 0).count(),
        "DML against the SQL-born handle mis-applied")
      // re-birth over an existing corpus file refuses (errorifexists)
      intercept[Exception](spark.sql(
        s"CREATE TABLE documents IN CORPUS '$corpus' AS SELECT * FROM ctas_src"))
      // partitioned birth: PARTITIONED BY routes to PartitionedLayout,
      // and the maintenance surface (CHECK TABLE) audits it clean
      val t2 = spark.sql(s"CREATE TABLE documents IN CORPUS '$corpus2' " +
        "INTO 8 BUCKETS PARTITIONED BY source AS SELECT * FROM ctas_src")
        .head().getString(0)
      assert(t2.startsWith("graft_plt_documents_"), t2)
      val audit = spark.sql(s"CHECK TABLE $t2").collect()
        .map(r => (r.getString(0), r.getString(1)))
      assert(audit.nonEmpty && audit.forall(_._2 == "ok"),
        s"SQL-born partitioned table audits dirty: ${audit.mkString(", ")}")
    } finally {
      spark.catalog.dropTempView("ctas_src")
      graft.sources.PartitionedLayout.drop(spark, corpus2, "documents")
      CorpusLayout.drop(spark, corpus)
      CorpusLayout.drop(spark, corpus2)
      spark.conf.unset(CorpusLayout.ConfKey)
      graft.FsUtil.deleteRecursively(tmp)
    }
  }

  test("streaming CDF accepts legacy unstamped slices as the stream's start era") {
    import spark.implicits._
    withSandbox("cdfleg") { (corpus, t, base) =>
      val prev = spark.conf.getOption(MergeOps.ChangeFeedKey)
      spark.conf.set(MergeOps.ChangeFeedKey, "true")
      val out = java.nio.file.Files.createTempDirectory("graft_cdfleg")
      try {
        import org.apache.spark.sql.streaming.Trigger
        spark.sql(s"UPDATE $t SET lang = 'lg' WHERE doc_id % 9 = 0")
        // simulate a chain written BEFORE the schema-era stamp existed:
        // strip _schema_fp from the slice in place — the stream must
        // treat stamp absence as its own start era, not a violation
        val gen = MergeOps.generations(spark, Chain.flat(corpus)).last._2
        val cdf = s"$gen/${MergeOps.CdfDir}"
        val slice = spark.read.parquet(FsUtil.parquetParts(java.nio.file.Paths.get(cdf)): _*)
        assert(slice.columns.contains(MergeOps.SchemaFpCol),
          "test precondition: slices are stamped today")
        val stripped = slice.drop(MergeOps.SchemaFpCol).localCheckpoint(true)
        graft.FsUtil.deleteRecursively(java.nio.file.Paths.get(cdf))
        stripped.coalesce(1).write.parquet(cdf)
        val q = graft.streaming.StreamingChangeFeed
          .readStream(spark, corpus, "documents")
          .writeStream.format("memory").queryName("cdfleg_out")
          .option("checkpointLocation", s"$out/ckpt")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination(60000)
        assert(spark.table("cdfleg_out").count() ==
          base.filter($"doc_id" % 9 === 0).count(),
          "legacy unstamped slice must stream as the start era")
      } finally {
        graft.FsUtil.deleteRecursively(out)
        prev match {
          case Some(v) => spark.conf.set(MergeOps.ChangeFeedKey, v)
          case None => spark.conf.unset(MergeOps.ChangeFeedKey)
        }
      }
    }
  }

  test("tags: named generation refs pin vacuum and resolve in VERSION AS OF") {
    import spark.implicits._
    withSandbox("sqltag") { (corpus, t, base) =>
      spark.sql(s"UPDATE $t SET lang = 't1' WHERE doc_id % 4 = 0")
      spark.sql(s"ALTER TABLE $t CREATE TAG train-v1 AS OF VERSION 1")
      spark.sql(s"UPDATE $t SET lang = 't2' WHERE doc_id % 4 = 0")
      spark.sql(s"OPTIMIZE $t")
      assert(spark.sql(s"SHOW TAGS $t").collect().map(r =>
        r.getString(0) -> r.getInt(1)).toSeq == Seq("train-v1" -> 1))

      // vacuum reclaims everything EXCEPT the served and tagged
      // generations; DESCRIBE HISTORY shows the pin
      val kept = spark.sql(s"VACUUM $t RETAIN 1 GENERATIONS").count()
      assert(kept == 2, s"expected 2 reclaimed (gens 0 and 2), got $kept")
      val hist = spark.sql(s"DESCRIBE HISTORY $t").collect()
        .map(r => r.getInt(0) ->
          (r.getAs[Boolean]("served"), r.getAs[Boolean]("pinned"))).toMap
      assert(hist.keySet == Set(1, 3), s"retained set wrong: ${hist.keySet}")
      assert(hist(1) == (false, true), "tagged generation must read pinned")

      // the tag name works wherever a generation number does
      val tagged = spark.sql(s"SELECT doc_id, lang FROM $t " +
        "VERSION AS OF 'train-v1'")
      val want = base.select($"doc_id",
        when($"doc_id" % 4 === 0, "t1").otherwise($"lang").as("lang"))
      assert(rows(tagged) == rows(want),
        "VERSION AS OF 'tag' diverged from the tagged generation")

      // drop releases the pin: next vacuum reclaims the generation
      spark.sql(s"ALTER TABLE $t DROP TAG train-v1")
      assert(spark.sql(s"VACUUM $t RETAIN 1 GENERATIONS").count() == 1,
        "dropped tag did not release the generation")
      intercept[Exception](spark.sql(
        s"SELECT * FROM $t VERSION AS OF 'train-v1'").collect())

      // malformed / duplicate tags reject loudly
      spark.sql(s"ALTER TABLE $t CREATE TAG again")
      intercept[Exception](spark.sql(s"ALTER TABLE $t CREATE TAG again"))
      intercept[Exception](spark.sql(
        s"ALTER TABLE $t CREATE TAG nope AS OF VERSION 99"))
    }
  }

  test("TIMESTAMP AS OF resolves the ledger: boundary, between, after, before-first") {
    import spark.implicits._
    withSandbox("sqlts") { (corpus, t, base) =>
      spark.sql(s"UPDATE $t SET lang = 'ts1' WHERE doc_id % 4 = 0")
      val hist = spark.sql(s"DESCRIBE HISTORY $t").collect()
        .map(r => r.getInt(0) ->
          r.getAs[java.sql.Timestamp]("committed_at").getTime).toMap
      assert(hist.keySet == Set(0, 1) && hist(0) <= hist(1),
        s"ledger precondition failed: $hist")
      // render in the SESSION zone (UTC) — java.sql.Timestamp.toString
      // speaks the JVM default zone, which need not match
      def fmt(ms: Long) = java.time.Instant.ofEpochMilli(ms)
        .atZone(java.time.ZoneId.of("UTC")).toLocalDateTime
        .toString.replace('T', ' ')
      def langs(ms: Long) = rows(spark.sql(
        s"SELECT doc_id, lang FROM $t TIMESTAMP AS OF '${fmt(ms)}'"))
      val v0 = rows(base.select($"doc_id", $"lang"))
      val v1 = rows(base.select($"doc_id",
        when($"doc_id" % 4 === 0, "ts1").otherwise($"lang").as("lang")))
      // boundary: exactly the commit moment reads that generation
      assert(langs(hist(0)) == v0, "AS OF commit(v0) must read v0")
      assert(langs(hist(1)) == v1, "AS OF commit(v1) must read v1")
      // between commits: newest at-or-before wins (v0); the sandbox's
      // real writes are seconds apart so the midpoint is strictly between
      if (hist(1) > hist(0) + 1)
        assert(langs((hist(0) + hist(1)) / 2) == v0,
          "between commits must resolve to the EARLIER generation")
      // after the last commit: the tip serves (newest <= ts)
      assert(langs(hist(1) + 3600L * 1000) == v1,
        "after-last must read the tip")
      // before the first retained commit: loud failure with the range
      val e = intercept[Exception](langs(hist(0) - 3600L * 1000))
      assert(e.getMessage.contains("before the first retained commit"),
        s"wrong before-first error: ${e.getMessage}")
      // garbage timestamps and non-constant expressions reject loudly
      intercept[Exception](spark.sql(
        s"SELECT * FROM $t TIMESTAMP AS OF 'not a time'").collect())
    }
  }

  test("CHECK TABLE: healthy audit is all-ok; planted corruption is caught by name") {
    import spark.implicits._
    withSandbox("fsck") { (corpus, t, base) =>
      // exercise the full surface first: an apply (chain + manifest
      // carry), a metadata rename (mapping checks), a MOR delete (dv
      // sidecar checks)
      spark.sql(s"UPDATE $t SET lang = 'f1' WHERE doc_id % 6 = 0")
      spark.sql(s"ALTER TABLE $t RENAME COLUMN lang TO language")
      val prevMode = spark.conf.getOption(MergeOps.MergeModeKey)
      spark.conf.set(MergeOps.MergeModeKey, "mor")
      try spark.sql(s"DELETE FROM $t WHERE doc_id % 17 = 0")
      finally prevMode match {
        case Some(v) => spark.conf.set(MergeOps.MergeModeKey, v)
        case None => spark.conf.unset(MergeOps.MergeModeKey)
      }
      val healthy = spark.sql(s"CHECK TABLE $t").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(healthy.keySet == Set("markers", "column_mapping",
        "file_naming", "bucket_placement", "key_uniqueness", "dv_sidecar"),
        s"unexpected check set: ${healthy.keySet}")
      assert(healthy.values.forall(_ == "ok"),
        s"healthy corpus flagged: $healthy")

      // corruption 1: move a data file to a wrong-bucket name — rows no
      // longer live where hash(key) says; placement must FAIL. The fresh
      // prefix keeps the name free: one write task may hold several
      // buckets, and its files differ only in the bucket suffix
      val tip = MergeOps.generations(spark, Chain.flat(corpus)).last._2
      val victim = new java.io.File(tip).listFiles()
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .maxBy(_.length)
      val m = java.util.regex.Pattern.compile("_(\\d{5})\\.")
        .matcher(victim.getName)
      assert(m.find(), s"no bucket suffix in ${victim.getName}")
      val wrong = (m.group(1).toInt + 1) % 32
      java.nio.file.Files.move(victim.toPath,
        victim.toPath.resolveSibling("part-fsckmv-" + victim.getName.replace(
          s"_${m.group(1)}.", f"_$wrong%05d.")))
      // corruption 2: duplicate another file under a fresh (valid) name
      // — its keys now exist twice; uniqueness must FAIL
      val src = new java.io.File(tip).listFiles()
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .filter(f => f.length() > 0 && !f.getName.contains(f"_$wrong%05d"))
        .maxBy(_.length)
      java.nio.file.Files.copy(src.toPath,
        src.toPath.resolveSibling("part-fsckdup-" + src.getName))
      val corrupt = spark.sql(s"CHECK TABLE $t").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(corrupt("bucket_placement") == "FAIL",
        s"misplaced file not caught: $corrupt")
      assert(corrupt("key_uniqueness") == "FAIL",
        s"duplicated keys not caught: $corrupt")
      assert(corrupt("markers") == "ok" && corrupt("column_mapping") == "ok",
        s"unrelated checks flipped: $corrupt")
    }
  }

  test("SQL UPDATE under merge-on-read matches CoW value-for-value") {
    import spark.implicits._
    withSandbox("sqlmor") { (corpus, t, base) =>
      val prevMode = spark.conf.getOption(MergeOps.MergeModeKey)
      spark.conf.set(MergeOps.MergeModeKey, "mor")
      try {
        val preGen = MergeOps.generations(spark, Chain.flat(corpus)).last._2
        val preFiles = dataFiles(preGen)
        spark.sql(s"UPDATE $t SET lang = 'mor' WHERE doc_id % 17 = 0")
        spark.sql(s"DELETE FROM $t WHERE doc_id % 19 = 0")
        val expect = base.filter($"doc_id" % 19 =!= 0)
          .select($"doc_id", $"text",
            when($"doc_id" % 17 === 0, "mor").otherwise($"lang").as("lang"),
            $"source", $"n_chars")
        assert(rows(served(corpus)) == rows(expect),
          "MOR-mode SQL DML diverged from the composed edit")
        // the MOR generations hard-link every base file: the new tips
        // carry the SAME data file names, plus a _dv sidecar
        val tip = MergeOps.generations(spark, Chain.flat(corpus)).last._2
        assert(dataFiles(tip) == preFiles,
          "MOR SQL DML rewrote base data files")
        assert(java.nio.file.Files.exists(
          java.nio.file.Paths.get(tip, "_dv")),
          "MOR SQL DML wrote no sidecar")
      } finally {
        prevMode match {
          case Some(v) => spark.conf.set(MergeOps.MergeModeKey, v)
          case None => spark.conf.unset(MergeOps.MergeModeKey)
        }
      }
    }
  }
}
