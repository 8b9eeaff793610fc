package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.operators.MergeOps
import graft.sources.{Chain, CorpusLayout, NioLocalFileSystem, PartitionedLayout}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** What a write costs per file and per stage, beyond its rows:
  * (1) no process per file — graft sessions write through
  * [[graft.sources.NioLocalFileSystem]], which sets permission bits
  * in-process with the modes stock Hadoop gives and keeps Hadoop's
  * checksums, so a whole SQL and Scala lifecycle starts no process;
  * (2) a changeset snapshot plans at its measured size, so the unit
  * rewrite broadcasts the changeset keys into its anti-join instead of
  * shuffling the touched rows for a sort-merge join.
  */
class WritePathSpec extends AnyFunSuite with SparkTestBase {

  /** The unix mode of `p` (permission bits plus sticky bit). */
  private def mode(p: Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & Integer.parseInt("1777", 8)

  /** Every `jdk.ProcessStart` JFR event (its command line) during `body`. */
  private def processesStarted(body: => Unit): Seq[String] = {
    // Spark reads the page size once per JVM with a `getconf` process, on
    // the first executor metrics poll: take that one before the window
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
    val rec = new jdk.jfr.Recording()
    val dump = Files.createTempFile("graft_write_path", ".jfr")
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      try body finally rec.stop()
      rec.dump(dump)
      jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command"))
    } finally {
      rec.close()
      Files.deleteIfExists(dump)
    }
  }

  /** A flat and a partitioned chain over sf0.001 documents, both born by
    * `CREATE TABLE … IN CORPUS` inside `birth`, so a caller can watch the
    * births too: `body(flatCorpus, flatTable, partCorpus, partTable, base)`.
    */
  private def withChains(tag: String)(birth: (=> Unit) => Unit)
                        (body: (String, String, String, String, DataFrame) => Unit): Unit = {
    import spark.implicits._
    assert(spark.conf.getOption(CorpusLayout.ConfKey).isEmpty,
      "test precondition: session must start without a layout conf")
    val tmp = Files.createTempDirectory(s"graft_$tag")
    val (flat, part) = (s"$tmp/flat", s"$tmp/part")
    spark.conf.set(CorpusLayout.ConfKey, s"$tmp/layout")
    val base = Tables.load(spark, sf, "documents")
      .select($"doc_id", $"text", $"lang", $"source",
        $"n_chars".cast("long").as("n_chars"))
    base.createOrReplaceTempView(s"${tag}_src")
    try {
      var tables = ("", "")
      birth {
        tables = (
          spark.sql(s"CREATE TABLE documents IN CORPUS '$flat' INTO 8 BUCKETS " +
            s"AS SELECT * FROM ${tag}_src").head().getString(0),
          spark.sql(s"CREATE TABLE documents IN CORPUS '$part' INTO 8 BUCKETS " +
            s"PARTITIONED BY source AS SELECT * FROM ${tag}_src").head().getString(0))
      }
      body(flat, tables._1, part, tables._2, base.localCheckpoint())
    } finally {
      spark.catalog.dropTempView(s"${tag}_src")
      PartitionedLayout.drop(spark, part, "documents")
      CorpusLayout.drop(spark, flat)
      CorpusLayout.drop(spark, part)
      spark.conf.unset(CorpusLayout.ConfKey)
      FsUtil.deleteRecursively(tmp)
    }
  }

  /** Two upserts and a tombstone over the first three keys of `base`. */
  private def changes(base: DataFrame, tag: String): DataFrame = {
    import spark.implicits._
    val keys = base.orderBy($"doc_id").limit(3).collect().map(_.getLong(0))
    base.filter($"doc_id".isin(keys(0), keys(1)))
      .withColumn("lang", lit(tag))
      .withColumn(MergeOps.TombstoneCol, lit(false))
      .unionByName(base.filter($"doc_id" === keys(2))
        .withColumn(MergeOps.TombstoneCol, lit(true)))
  }

  test("no process per file: births, CoW applies, SQL UPDATE and OPTIMIZE start no process") {
    var seen = Seq.empty[String]
    withChains("noproc")(births => seen ++= processesStarted(births)) {
      (flat, ft, part, pt, base) =>
        seen ++= processesStarted {
          MergeOps.applyToLayout(spark, flat, changes(base, "flat"))
          PartitionedLayout.applyToLayout(spark, part, changes(base, "part"))
          spark.sql(s"UPDATE $pt SET lang = 'upd' WHERE doc_id % 5 = 0")
          spark.sql(s"OPTIMIZE $ft")
        }
        assert(seen.size == 0,
          s"${seen.size} processes started, e.g. ${seen.distinct.take(3).mkString("; ")}")
        val conf = spark.sessionState.newHadoopConf()
        val fs = FileSystem.get(new java.net.URI("file:///"), conf)
        assert(fs.getClass == classOf[NioLocalFileSystem],
          s"the session's file: filesystem is ${fs.getClass.getName}")
        // the files and dirs the writes made carry stock Hadoop's modes
        val umask = FsPermission.getUMask(conf)
        val fileMode = FsPermission.getFileDefault.applyUMask(umask).toShort.toInt
        val dirMode = FsPermission.getDirDefault.applyUMask(umask).toShort.toInt
        for (chain <- Seq(Chain.flat(flat), Chain.partitioned(spark, part))) {
          val tip = MergeOps.generations(spark, chain).last._2
          val dirs = chain.dataDirs(tip).map(_._2)
          val files = dirs.flatMap(FsUtil.list).filter(f =>
            f.getFileName.toString.endsWith(".parquet"))
          assert(files.nonEmpty, s"no data file under $tip")
          files.foreach(f => assert(mode(f) == fileMode,
            f"$f has mode ${mode(f)}%o, stock Hadoop gives $fileMode%o"))
          chain.partitionCol.foreach(_ => dirs.foreach(d => assert(mode(d) == dirMode,
            f"$d has mode ${mode(d)}%o, stock Hadoop gives $dirMode%o")))
        }
    }
  }

  test("in-process permission bits equal stock Hadoop's under any umask; checksums kept") {
    val tmp = Files.createTempDirectory("graft_nio_fs")
    try {
      for (umask <- Seq("022", "077", "027")) {
        val conf = new Configuration()
        conf.set(FsPermission.UMASK_LABEL, umask)
        def modes(fs: LocalFileSystem, name: String): (Int, Int, Int) = {
          fs.initialize(new java.net.URI("file:///"), conf)
          val dir = new org.apache.hadoop.fs.Path(s"$tmp/$name-$umask/a/b")
          val out = fs.create(new org.apache.hadoop.fs.Path(dir, "f.bin"))
          try out.write(Array.fill[Byte](4096)(7)) finally out.close()
          val sticky = new org.apache.hadoop.fs.Path(s"$tmp/$name-$umask/sticky")
          fs.mkdirs(sticky)
          fs.setPermission(sticky, new FsPermission(Integer.parseInt("1777", 8).toShort))
          val p = Paths.get(dir.toString)
          (mode(p.resolve("f.bin")), mode(p), mode(Paths.get(sticky.toString)))
        }
        val ours = modes(new NioLocalFileSystem, "nio")
        val stock = modes(new LocalFileSystem, "stock")
        val um = FsPermission.getUMask(conf)
        assert(ours == stock, f"umask $umask: ours $ours, stock $stock")
        assert(ours._1 == FsPermission.getFileDefault.applyUMask(um).toShort &&
          ours._2 == FsPermission.getDirDefault.applyUMask(um).toShort &&
          ours._3 == Integer.parseInt("1777", 8),
          f"umask $umask: file ${ours._1}%o dir ${ours._2}%o sticky ${ours._3}%o")
      }
      // the checksum layer is Hadoop's: a .crc sidecar is written beside
      // the file and the read back goes through it
      val fs = new NioLocalFileSystem
      fs.initialize(new java.net.URI("file:///"), new Configuration())
      assert(fs.getRawFileSystem.isInstanceOf[NioLocalFileSystem.Raw])
      val f = new org.apache.hadoop.fs.Path(s"$tmp/crc/f.bin")
      val data = Array.tabulate[Byte](4096)(_.toByte)
      val out = fs.create(f)
      try out.write(data) finally out.close()
      assert(Files.size(Paths.get(s"$tmp/crc/.f.bin.crc")) > 0, "no .crc sidecar written")
      val back = new Array[Byte](data.length)
      val in = fs.open(f)
      try in.readFully(back) finally in.close()
      assert(back.sameElements(data), "checksummed read returned other bytes")
    } finally FsUtil.deleteRecursively(tmp)
  }

  test("changeset snapshots plan at their measured size: the unit rewrite's anti-join broadcasts") {
    withChains("antijoin")(births => births) { (flat, ft, part, pt, base) =>
      val upd = SparkProbe.during(spark, pt) {
        spark.sql(s"UPDATE $pt SET lang = 'upd' WHERE doc_id % 5 = 0")
      }
      spark.sql("SELECT doc_id, 'mrg' AS lang FROM antijoin_src WHERE doc_id % 7 = 0")
        .createOrReplaceTempView("antijoin_keys")
      val mrg = try SparkProbe.during(spark, ft) {
        spark.sql(
          s"""MERGE INTO $ft t USING antijoin_keys s ON t.doc_id = s.doc_id
             |WHEN MATCHED THEN UPDATE SET lang = s.lang
             |""".stripMargin)
      } finally spark.catalog.dropTempView("antijoin_keys")
      // the query's plan estimate is the product of its join sides, far
      // past the broadcast threshold; its measured rows are corpus-sized
      val ow = SparkProbe.during(spark, ft) {
        spark.sql(
          s"""INSERT OVERWRITE $ft
             |SELECT a.doc_id, a.text, 'ow' AS lang, a.source, a.n_chars
             |FROM antijoin_src a JOIN antijoin_src b ON a.doc_id = b.doc_id
             |WHERE a.doc_id % 3 <> 0""".stripMargin)
      }
      for ((what, seen) <- Seq("partitioned UPDATE" -> upd, "flat MERGE" -> mrg,
          "flat INSERT OVERWRITE" -> ow)) {
        val writes = seen.plans.filter(_.contains("InsertIntoHadoopFsRelationCommand"))
        assert(writes.exists(p => "BroadcastHashJoin[^\n]*LeftAnti".r.findFirstIn(p).nonEmpty),
          s"$what: no broadcast anti-join in its writes:\n${writes.mkString("\n----\n")}")
        val smj = writes.filter(_.contains("SortMergeJoin"))
        assert(smj.isEmpty, s"$what: a write planned a sort-merge join:\n${smj.mkString("\n----\n")}")
      }
    }
  }
}
