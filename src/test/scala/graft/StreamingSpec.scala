package graft

import graft.sources.Chain
import graft.streaming.EventStreams
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

/** e05_stream_stateful (SURVEY.md §2.F): streaming twins equal their batch
  * forms — windowed agg via a real Structured Streaming query (file source →
  * memory sink), sessionization via flatMapGroupsWithState vs the e02
  * window-function sessionization.
  */
class StreamingSpec extends AnyFunSuite with SparkTestBase {

  test("streaming windowed counts equal the batch plan") {
    import spark.implicits._
    val batch = Tables.load(spark, sf, "events")
    val inDir = java.nio.file.Files.createTempDirectory("graft_stream_in").toString
    batch.write.mode("overwrite").parquet(inDir)

    val stream = spark.readStream.schema(batch.schema).parquet(inDir)
    val q = EventStreams.windowedCounts(stream)
      .writeStream.outputMode("append").format("memory").queryName("win_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    // Append-mode only emits windows the watermark has passed; the final
    // (max-event-time) window stays pending — compare on the closed set.
    val got = spark.table("win_out")
      .select($"window_start", $"event_type", $"n").collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2))).toSet
    val wantAll = EventStreams.windowedCounts(batch)
      .select($"window_start", $"event_type", $"n").collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2))).toSet
    assert(got.nonEmpty, "streaming emitted no closed windows")
    assert(got.subsetOf(wantAll), "streaming windows disagree with batch plan")
  }

  test("stream-static broadcast enrichment equals the batch plan") {
    import spark.implicits._
    val batch = Tables.load(spark, sf, "events")
    val weights = Seq(("click", 1.0), ("view", 0.5), ("purchase", 10.0),
      ("signup", 5.0), ("error", 0.0)).toDF("event_type", "weight")
    val inDir = java.nio.file.Files.createTempDirectory("graft_ss_in").toString
    batch.write.mode("overwrite").parquet(inDir)

    val stream = spark.readStream.schema(batch.schema).parquet(inDir)
    val q = EventStreams.weightedWindowCounts(stream, weights)
      .writeStream.outputMode("append").format("memory").queryName("ss_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val got = spark.table("ss_out")
      .select($"window_start", $"event_type", $"n", $"weighted_n").collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val wantAll = EventStreams.weightedWindowCounts(batch, weights)
      .select($"window_start", $"event_type", $"n", $"weighted_n").collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got.nonEmpty, "stream-static join emitted no closed windows")
    assert(got.subsetOf(wantAll), "stream-static enrichment disagrees with batch plan")
  }

  test("streaming sliding-window counts equal the batch plan (e09)") {
    import spark.implicits._
    val batch = Tables.load(spark, sf, "events")
    val inDir = java.nio.file.Files.createTempDirectory("graft_slide_in").toString
    batch.write.mode("overwrite").parquet(inDir)

    val stream = spark.readStream.schema(batch.schema).parquet(inDir)
    val q = EventStreams.slidingCounts(stream)
      .writeStream.outputMode("append").format("memory").queryName("slide_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val got = spark.table("slide_out")
      .select($"window_start", $"event_type", $"n").collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2))).toSet
    val wantAll = EventStreams.slidingCounts(batch)
      .select($"window_start", $"event_type", $"n").collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2))).toSet
    assert(got.nonEmpty, "streaming emitted no closed sliding windows")
    assert(got.subsetOf(wantAll), "sliding windows disagree with batch plan")
  }

  test("flatMapGroupsWithState sessionization equals windowed sessionization (e02)") {
    import spark.implicits._
    val evs = Tables.load(spark, sf, "events")
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[EventStreams.Event]
    val got = EventStreams.sessionize(evs)
      .collect().map(s => (s.user_id, s.session_id, s.n_events, s.start_us, s.end_us)).toSet
    val want = SparkEntry.queries("e02_sessionize")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(got == want)
  }

  test("streaming dedup drops replayed events (dropDuplicates + watermark)") {
    import spark.implicits._
    val batch = Tables.load(spark, sf, "events")
    val inDir = java.nio.file.Files.createTempDirectory("graft_dedup_in").toString
    // replay the same events twice — an at-least-once source
    batch.write.mode("overwrite").parquet(s"$inDir/a")
    batch.write.mode("overwrite").parquet(s"$inDir/b")
    val stream = spark.readStream.schema(batch.schema).parquet(s"$inDir/*")
    val q = stream.withWatermark("ts", "1 hour")
      .dropDuplicates("event_id")
      .groupBy().count()
      .writeStream.outputMode("complete").format("memory").queryName("dedup_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("dedup_out").head().getLong(0)
    assert(got == batch.count(), s"streaming dedup kept $got of ${batch.count()} unique events")
  }

  test("foreachBatch sink writes queryable parquet") {
    import spark.implicits._
    val batch = Tables.load(spark, sf, "events")
    val inDir = java.nio.file.Files.createTempDirectory("graft_feb_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_feb_out").toString
    batch.write.mode("overwrite").parquet(inDir)
    val stream = spark.readStream.schema(batch.schema).parquet(inDir)
    val q = stream.writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        df.groupBy($"event_type").count()
          .write.mode("overwrite").parquet(s"$outDir/batch_$id")
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val types = spark.read.parquet(s"$outDir/batch_0").count()
    assert(types == 5, s"expected 5 event types, got $types")
  }

  test("idempotent parquet sink: a replayed micro-batch does not duplicate rows") {
    import graft.streaming.ParquetSink
    val batch = Tables.load(spark, sf, "events").limit(200)
    val outDir = java.nio.file.Files.createTempDirectory("graft_eos_out").toString

    // A real stream through the sink first (end-to-end path).
    val inDir = java.nio.file.Files.createTempDirectory("graft_eos_in").toString
    batch.write.mode("overwrite").parquet(inDir)
    val stream = spark.readStream.schema(batch.schema).parquet(inDir)
    val q = ParquetSink.sink(stream, outDir)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val afterRun = spark.read.parquet(outDir).count()
    assert(afterRun == batch.count(), s"sink wrote $afterRun of ${batch.count()} rows")

    // Simulate foreachBatch's at-least-once retry: the same batch id is
    // delivered again. The partition must be REPLACED, not appended.
    ParquetSink.writeBatch(batch, 0L, outDir)
    ParquetSink.writeBatch(batch, 0L, outDir)
    val afterReplay = spark.read.parquet(outDir).count()
    assert(afterReplay == batch.count(),
      s"replayed batch duplicated rows: $afterReplay != ${batch.count()}")

    // A NEW batch id lands beside it — both batches visible as one table.
    ParquetSink.writeBatch(batch.limit(10), 1L, outDir)
    assert(spark.read.parquet(outDir).count() == batch.count() + 10)
    assert(spark.read.parquet(outDir).where("batch_id = 1").count() == 10)
  }

  test("streaming sessionization keeps sessions open across micro-batches") {
    import spark.implicits._
    // One user's session spans THREE micro-batches; it must emerge as ONE
    // session, closed by the 30-min gap. A second user's session closes by
    // event-time TIMEOUT (watermark passes its gap horizon with no more
    // events). Open sessions are never emitted.
    def ev(id: Long, t: String, u: Long) =
      (id, java.sql.Timestamp.valueOf(t), u, "click", 1.0)
    val waves = Seq(
      Seq(ev(1, "2024-01-01 10:00:00", 1), ev(2, "2024-01-01 10:10:00", 1)),
      Seq(ev(3, "2024-01-01 10:20:00", 1), ev(4, "2024-01-01 13:00:00", 9)),
      Seq(ev(5, "2024-01-01 14:00:00", 9)))
    val inDir = java.nio.file.Files.createTempDirectory("graft_sess_stream").toString
    waves.zipWithIndex.foreach { case (w, i) =>
      w.toDF("event_id", "ts", "user_id", "event_type", "value")
        .coalesce(1).write.mode("overwrite").parquet(s"$inDir/w$i")
    }
    val schema = spark.read.parquet(s"$inDir/w0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$inDir/*")
      .withWatermark("ts", "10 minutes")
      .as[EventStreams.Event]
    val q = EventStreams.sessionizeStream(stream)
      .writeStream.outputMode("append").format("memory").queryName("sess_stream_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(180000)
    val got = spark.table("sess_stream_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    def us(t: String) = java.sql.Timestamp.valueOf(t).getTime * 1000
    // user 1: one session of 3 events spanning batches 0-1, closed by gap
    // at the 13:00 event... but that event belongs to user 9, so user 1
    // closes via the event-time timeout once the watermark (12:50 after
    // batch 1) passes its 10:50 gap horizon — fired during batch 2.
    // user 9: 13:00 session closed by the 14:00 gap; 14:00 stays open.
    val want = Set(
      (1L, 1L, 3L, us("2024-01-01 10:00:00"), us("2024-01-01 10:20:00")),
      (9L, 1L, 1L, us("2024-01-01 13:00:00"), us("2024-01-01 13:00:00")))
    assert(got == want,
      s"streaming sessions across batches:\n got  $got\n want $want")
  }

  test("streaming dedup TTL bounds state; replays neither grow state nor re-emit") {
    import spark.implicits._
    val docs = Tables.load(spark, sf, "documents").select($"doc_id", $"text")
    val inDir = java.nio.file.Files.createTempDirectory("graft_sdedup_ttl").toString
    def stamped(df: org.apache.spark.sql.DataFrame, t: String) =
      df.withColumn("ts", lit(java.sql.Timestamp.valueOf(t)))
    // waves 0-2 inside one TTL horizon (wave 2 REPLAYS wave 0); waves 3-4
    // two days later — their arrival advances the watermark past every old
    // bucket's horizon, so wave-4's batch expires the old state.
    val waves = Seq(
      stamped(docs.filter($"doc_id" < 250), "2024-01-01 10:00:00"),
      stamped(docs.filter($"doc_id" >= 250), "2024-01-01 10:05:00"),
      stamped(docs.filter($"doc_id" < 250), "2024-01-01 10:06:00"),
      stamped(Seq((100001L, "future marker document padding text one")).toDF("doc_id", "text"), "2024-01-03 10:00:00"),
      stamped(Seq((100002L, "future marker document padding text two")).toDF("doc_id", "text"), "2024-01-03 10:01:00"))
    waves.zipWithIndex.foreach { case (w, i) =>
      w.coalesce(1).write.mode("overwrite").parquet(s"$inDir/w$i")
    }
    val schema = spark.read.parquet(s"$inDir/w0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$inDir/*")
      .withWatermark("ts", "1 minute")
    // DEFAULT construction — bounded state out of the box (24 h TTL; the
    // waves 2 days later push the watermark past every old bucket).
    val pairs = graft.streaming.StreamingDedup.incrementalPairs(
      graft.streaming.StreamingDedup.bandedSignatures(stream))
    val q = pairs.writeStream.outputMode("append").format("memory").queryName("sdedup_ttl_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(180000)
    // every batch-d02 pair emerges (all real docs arrive within one horizon)
    val got = spark.table("sdedup_ttl_out")
      .select($"i", $"j", $"est_jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val want = SparkEntry.queries("d02_minhash_lsh")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(want.subsetOf(got.toSet),
      s"streaming missed ${(want -- got.toSet).size} of ${want.size} batch pairs")
    // a pair can emit once per co-bucketed band, never more — a replayed
    // doc re-appending state would double this
    val maxMult = got.groupBy(identity).map(_._2.size).max
    assert(maxMult <= graft.streaming.StreamingDedup.NumBands,
      s"pair emitted $maxMult times (> NumBands): replay re-appended state")
    // TTL: the final batch's state (old buckets expired) is far below peak
    val stateRows = q.recentProgress.toSeq
      .flatMap(p => Option(p.stateOperators).toSeq.flatten.map(_.numRowsTotal))
    assert(stateRows.nonEmpty, "no state metrics reported")
    val peak = stateRows.max
    val fin = stateRows.last
    assert(fin < peak / 10,
      s"state not expired by TTL: peak=$peak final=$fin (${stateRows.mkString(",")})")
  }

  test("routed ingest partitions by (route, batch_id) and equals the batch router") {
    import spark.implicits._
    val docs = Tables.load(spark, sf, "documents")
      .select($"doc_id", $"text", $"lang", $"n_chars")
    val inDir = java.nio.file.Files.createTempDirectory("graft_route_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_route_out").toString + "/t"
    def stamped(df: org.apache.spark.sql.DataFrame, t: String) =
      df.withColumn("ts", lit(java.sql.Timestamp.valueOf(t)))
    val wave1 = stamped(docs.filter($"doc_id" < 250), "2024-01-01 10:00:00")
    val wave2 = stamped(docs.filter($"doc_id" >= 250), "2024-01-01 10:05:00")
    wave1.coalesce(1).write.mode("overwrite").parquet(s"$inDir/w0")
    wave2.coalesce(1).write.mode("overwrite").parquet(s"$inDir/w1")
    val stream = spark.readStream.schema(spark.read.parquet(s"$inDir/w0").schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$inDir/*")
    val q = graft.streaming.CorpusIngest.ingestRouted(stream, outDir)
      .option("checkpointLocation", outDir + "_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(180000)
    // per-(doc, route) assignment matches the batch gate + router exactly
    val streamed = spark.read.parquet(outDir)
      .select($"doc_id", $"route").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val batch = graft.streaming.CorpusIngest.route(
        graft.streaming.CorpusIngest.gate(wave1.unionByName(wave2)))
      .select($"doc_id", $"route").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(streamed == batch, "routed streaming output diverges from the batch router")
    // the layout is physically routed: route=... partition dirs exist and
    // a single-route read prunes to that lane's files
    val routes = new java.io.File(outDir).listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("route=")).toSet
    assert(routes.size >= 2, s"expected multiple route lanes, got $routes")
    val oneRoute = streamed.head._2
    val pruned = spark.read.parquet(outDir).filter($"route" === oneRoute)
    def filesScanned(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.selectedPartitions.totalNumberOfFiles
      }.sum
    val scanned = filesScanned(pruned)
    val allFiles = filesScanned(spark.read.parquet(outDir))
    assert(scanned < allFiles,
      s"route filter did not prune partitions ($scanned of $allFiles files)")
    assert(pruned.count() > 0)
  }

  test("streaming corpus ingest equals the batch gate with first-arrival dedup") {
    import spark.implicits._
    val docs = Tables.load(spark, sf, "documents").select($"doc_id", $"text", $"n_chars")
    val inDir = java.nio.file.Files.createTempDirectory("graft_ingest_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_ingest_out").toString + "/t"
    def stamped(df: org.apache.spark.sql.DataFrame, t: String) =
      df.withColumn("ts", lit(java.sql.Timestamp.valueOf(t)))
    // wave 2 re-submits 100 wave-1 documents under NEW doc_ids (a
    // re-crawl): the content-hash dedup must admit only first arrivals
    val wave1 = stamped(docs.filter($"doc_id" < 300), "2024-01-01 10:00:00")
    val wave2 = stamped(
      docs.filter($"doc_id" >= 300)
        .unionByName(docs.filter($"doc_id" < 100)
          .withColumn("doc_id", $"doc_id" + 10000L)),
      "2024-01-01 10:05:00")
    wave1.coalesce(1).write.mode("overwrite").parquet(s"$inDir/w0")
    wave2.coalesce(1).write.mode("overwrite").parquet(s"$inDir/w1")
    val schema = spark.read.parquet(s"$inDir/w0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$inDir/*")
    val q = graft.streaming.CorpusIngest.ingest(stream, outDir)
      .option("checkpointLocation", outDir + "_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(180000)
    val out = spark.read.parquet(outDir).select($"doc_id", $"ch", $"quality").collect()
    // admitted hashes = the batch gate's distinct hashes (union of waves)
    val batchGate = graft.streaming.CorpusIngest.gate(
      wave1.unionByName(wave2)).select($"ch").distinct()
      .collect().map(_.getString(0)).toSet
    assert(out.map(_.getString(1)).toSet == batchGate,
      "streaming admitted-hash set diverges from the batch gate")
    assert(out.map(_.getString(1)).distinct.length == out.length,
      "duplicate content hashes admitted")
    // first arrival wins: every re-crawled duplicate kept its wave-1 id
    assert(out.forall(_.getLong(0) < 10000L),
      "a re-submitted duplicate displaced its first arrival")
  }

  test("streaming top-k snapshot equals the batch top-k after all waves") {
    import spark.implicits._
    val words = Tables.load(spark, sf, "documents")
      .select(explode(split($"text", " ")).as("w"))
    val inDir = java.nio.file.Files.createTempDirectory("graft_topk_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_topk_out").toString + "/t"
    Tables.load(spark, sf, "documents").filter($"doc_id" < 250)
      .select($"text").coalesce(1).write.mode("overwrite").parquet(s"$inDir/w0")
    Tables.load(spark, sf, "documents").filter($"doc_id" >= 250)
      .select($"text").coalesce(1).write.mode("overwrite").parquet(s"$inDir/w1")
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$inDir/w0").schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$inDir/*")
      .select(explode(split($"text", " ")).as("w"))
    val q = graft.streaming.TopKSink.sink(stream, "w", 10, outDir)
      .option("checkpointLocation", outDir + "_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(180000)
    val got = spark.read.parquet(outDir).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    val want = words.groupBy($"w").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"w".asc).limit(10).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got.sortBy(t => (-t._2, t._1)) == want,
      s"streaming top-10 snapshot diverges from batch:\n got  $got\n want $want")
  }

  test("incremental streaming minhash dedup finds the batch LSH pairs") {
    import spark.implicits._
    val docs = Tables.load(spark, sf, "documents").select($"doc_id", $"text")
    val inDir = java.nio.file.Files.createTempDirectory("graft_sdedup").toString
    // two arrival waves: state must carry wave-1 signatures into wave 2
    docs.filter($"doc_id" < 250).write.mode("overwrite").parquet(s"$inDir/w1")
    docs.filter($"doc_id" >= 250).write.mode("overwrite").parquet(s"$inDir/w2")
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$inDir/*")
    val pairs = graft.streaming.StreamingDedup.incrementalPairs(
      graft.streaming.StreamingDedup.bandedSignatures(stream))
    val q = pairs.writeStream.outputMode("append").format("memory").queryName("sdedup_out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(180000)
    val got = spark.table("sdedup_out")
      .select($"i", $"j", $"est_jaccard").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val want = SparkEntry.queries("d02_minhash_lsh")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(want.subsetOf(got),
      s"streaming missed ${(want -- got).size} of ${want.size} batch pairs")
  }

  test("stream-stream join matches batch across multi-batch arrival") {
    import spark.implicits._
    val batch = Tables.load(spark, sf, "events")
    val inDir = java.nio.file.Files.createTempDirectory("graft_ssj_in").toString
    // two arrival waves: signup/purchase pairs split across micro-batches
    // exercise the buffered join state
    batch.filter($"event_id" % 2 === 0).write.mode("overwrite").parquet(s"$inDir/a")
    batch.filter($"event_id" % 2 === 1).write.mode("overwrite").parquet(s"$inDir/b")
    val stream = spark.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$inDir/*")
    val joined = EventStreams.purchasesWithinHourOfSignup(
      stream.filter($"event_type" === "signup"),
      stream.filter($"event_type" === "purchase"))
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("ssj_out").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(180000)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getTimestamp(2).getTime, r.getTimestamp(3).getTime)
    val got = spark.table("ssj_out").collect().map(key).toSet
    val want = EventStreams.purchasesWithinHourOfSignup(
      batch.filter($"event_type" === "signup"),
      batch.filter($"event_type" === "purchase"))
      .collect().map(key).toSet
    assert(want.nonEmpty, "batch join produced no pairs — test data unusable")
    assert(got == want,
      s"stream-stream join: got ${got.size} pairs, want ${want.size}")
  }

  test("streaming as-of enrichment equals batch AsOf.join across waves with late data") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def us(t: java.sql.Timestamp) = t.getTime * 1000 + (t.getNanos / 1000) % 1000

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val evIn = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val vIn = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val enriched = graft.streaming.StreamingAsOf.enrich(
      evIn.toDF().toDF("user_id", "event_id", "ts"),
      vIn.toDF().toDF("user_id", "vts", "payload"))
    val q = enriched.writeStream.outputMode("append").format("memory")
      .queryName("asof_out").start()
    try {
      // wave 1 — versions k1@10:00/12:00; events spanning them + keyless k2.
      // max ts 12:30 → watermark 11:30 after this batch: e1/e2/e5 final.
      vIn.addData((1L, ts("2024-01-01 10:00:00"), 1.0),
        (1L, ts("2024-01-01 12:00:00"), 2.0))
      evIn.addData((1L, 1L, ts("2024-01-01 09:30:00")),
        (1L, 2L, ts("2024-01-01 10:30:00")),
        (1L, 3L, ts("2024-01-01 11:50:00")),
        (1L, 4L, ts("2024-01-01 12:30:00")),
        (2L, 5L, ts("2024-01-01 10:15:00")))
      q.processAllAvailable()
      // wave 2 — LATE version 11:40 (cross-batch out-of-order, inside the
      // watermark) must win e3's match while e3 is still pending; late
      // event e6@11:35 must NOT see it. k3's e7 pushes the watermark on.
      vIn.addData((1L, ts("2024-01-01 11:40:00"), 1.5))
      evIn.addData((1L, 6L, ts("2024-01-01 11:35:00")),
        (3L, 7L, ts("2024-01-01 14:30:00")))
      q.processAllAvailable()
      // two sentinel waves: each advances the watermark the PREVIOUS wave
      // established into effect (wm updates after a batch completes)
      evIn.addData((4L, 8L, ts("2024-01-01 20:00:00")))
      q.processAllAvailable()
      evIn.addData((4L, 9L, ts("2024-01-01 21:00:00")))
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.table("asof_out")
      .filter($"event_id" <= 7).collect()
      .map(r => r.getLong(1) -> (if (r.isNullAt(3)) -1L else r.getLong(3),
        if (r.isNullAt(4)) -1.0 else r.getDouble(4))).toMap
    // batch truth: the custom AsOf operator over the complete inputs
    val evB = Seq((1L, 1L, ts("2024-01-01 09:30:00")), (1L, 2L, ts("2024-01-01 10:30:00")),
      (1L, 3L, ts("2024-01-01 11:50:00")), (1L, 4L, ts("2024-01-01 12:30:00")),
      (2L, 5L, ts("2024-01-01 10:15:00")), (1L, 6L, ts("2024-01-01 11:35:00")),
      (3L, 7L, ts("2024-01-01 14:30:00"))).toDF("user_id", "event_id", "ts")
    val vB = Seq((1L, ts("2024-01-01 10:00:00"), 1.0), (1L, ts("2024-01-01 12:00:00"), 2.0),
      (1L, ts("2024-01-01 11:40:00"), 1.5)).toDF("user_id", "vts", "payload")
    val want = graft.plans.AsOf.join(evB, vB, "user_id", "ts", "vts")
      .toDF("user_id", "event_id", "ts", "r_user_id", "vts", "payload")
      .collect()
      .map(r => r.getLong(1) -> (if (r.isNullAt(4)) -1L else us(r.getTimestamp(4)),
        if (r.isNullAt(5)) -1.0 else r.getDouble(5))).toMap
    assert(got.size == 7, s"expected all 7 events flushed, got ${got.keySet}")
    assert(got == want, s"stream diverges from batch AsOf:\n got $got\nwant $want")
    // the late-version case actually exercised what it claims
    assert(want(3L)._2 == 1.5, "e3 should match the late 11:40 version — test vacuous")
    assert(want(6L)._2 == 1.0, "e6 (before 11:40) must not see the late version")
  }

  test("stream-static as-of enrichment equals batch AsOf.join (arrival-order-free)") {
    import spark.implicits._
    // real tables: error events stream in two UNORDERED waves (odd/even
    // ids — no time ordering across batches, which stream-static as-of
    // tolerates because the dim is complete), purchases are the static
    // versioned dim
    val events = Tables.load(spark, sf, "events")
    val errors = events.filter($"event_type" === "error")
      .select($"user_id", $"event_id", $"ts")
    val purchases = events.filter($"event_type" === "purchase")
      .select($"user_id", $"ts".as("pts"), $"value".as("p_value"))
    val inDir = java.nio.file.Files.createTempDirectory("graft_asof_static").toString
    errors.filter($"event_id" % 2 === 0).write.mode("overwrite").parquet(s"$inDir/a")
    errors.filter($"event_id" % 2 === 1).write.mode("overwrite").parquet(s"$inDir/b")
    val stream = spark.readStream.schema(errors.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$inDir/*")
    val q = graft.streaming.StreamingAsOf.enrichStaticWriter(
        stream, purchases, "user_id", "ts", "pts", s"${inDir}_out",
        "backward", Some(3600000000L))
      .option("checkpointLocation", s"${inDir}_ckpt")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(180000)
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select($"event_id",
        coalesce(unix_micros($"r_pts"), lit(-1L)),
        coalesce($"r_p_value", lit(-1.0)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = key(spark.read.parquet(s"${inDir}_out").drop("batch_id"))
    val want = key(graft.plans.AsOf.join(errors, purchases, "user_id", "ts", "pts",
        "backward", Some(3600000000L))
      .toDF((errors.columns ++ purchases.columns.map("r_" + _)).toIndexedSeq: _*))
    assert(want.nonEmpty && want.exists(_._2 != -1L) && want.exists(_._2 == -1L),
      "batch truth vacuous (no matches or no unmatched)")
    assert(got == want,
      s"stream-static as-of diverges from batch: got ${got.size}, want ${want.size}")
  }

  test("e23's watermark emulation reconciles with a real withWatermark stream") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // Replay e23's arrival model (event_id order + deterministic straggler
    // jitter) through a REAL streaming window aggregation and reconcile
    // the engine's numRowsDroppedByWatermark with the batch emulation.
    // The engine drops an input row when its whole WINDOW is behind the
    // watermark (window_end <= wm) — a strict subset of e23's per-event
    // lateness (ts < wm) — so: engine drops == window-end emulation, and
    // both ≤ the per-event late count.
    val delayMs = 600000L
    val hourUs = 3600000000L
    val rows = Tables.load(spark, sf, "events")
      .select($"event_id", $"ts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1)))
    def jitter(id: Long): Long = {
      val h = BigInt(java.security.MessageDigest.getInstance("MD5")
        .digest(s"arr:$id".getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
        .take(15), 16).toLong
      if (h % 20 == 0) 2L else if (h % 100 == 7) 5L else 0L
    }
    val batches = rows
      .map { case (id, ts) => (id / 50 + jitter(id), id, ts) }
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rs) => rs.sortBy(_._2).map(t => (t._2, t._3)) }

    def tUs(ts: java.sql.Timestamp): Long =
      ts.getTime * 1000 + (ts.getNanos / 1000) % 1000

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    val agg = input.toDF().toDF("event_id", "ts")
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "1 hour")).count()
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName("wm_audit_out").start()
    try {
      batches.foreach { chunk =>
        input.addData(chunk.toSeq)
        q.processAllAvailable()
      }
      // Reconcile against the engine's OBSERVED batching (processAllAvailable
      // may coalesce adjacent chunks): walk the data batches in order,
      // re-associate our rows by numInputRows, and check per batch that
      //  (a) the reported watermark is exactly e23's rule — (ms-truncated
      //      max event time over PRIOR batches) − delay;
      //  (b) the engine dropped exactly the WINDOWS wholly behind that
      //      watermark (window_end <= wm): the dropped-row metric sits
      //      above the partial aggregate, so same-window late events
      //      merge to one dropped row — the aggregation form of e23's
      //      per-event ts < wm lateness.
      val progresses = q.recentProgress.filter(_.numInputRows > 0)
      val flat = batches.flatten
      assert(progresses.map(_.numInputRows).sum == flat.length.toLong,
        "progress log lost rows — cannot reconcile")
      var idx = 0
      var maxUs = Long.MinValue
      var totalDropped = 0L
      progresses.foreach { p =>
        val n = p.numInputRows.toInt
        val rows = flat.slice(idx, idx + n); idx += n
        val wmUs = Option(p.eventTime.get("watermark"))
          .map(s => java.time.Instant.parse(s))
          .map(i => i.getEpochSecond * 1000000L + i.getNano / 1000L)
          .getOrElse(0L)
        val expWmUs = if (maxUs == Long.MinValue) 0L else (maxUs / 1000 - delayMs) * 1000
        assert(wmUs == expWmUs,
          s"batch ${p.batchId}: engine watermark $wmUs != emulated $expWmUs")
        val expDrop = rows.map { case (_, ts) => tUs(ts) / hourUs }
          .filter(w => (w + 1) * hourUs <= wmUs).distinct.size
        val gotDrop = p.stateOperators.map(_.numRowsDroppedByWatermark).sum
        assert(gotDrop == expDrop,
          s"batch ${p.batchId}: engine dropped $gotDrop, window-end emulation says $expDrop (wm=$wmUs)")
        totalDropped += gotDrop
        rows.foreach { case (_, ts) => maxUs = math.max(maxUs, tUs(ts)) }
      }
      assert(totalDropped > 0, "arrival schedule produced no dropped rows — vacuous")
    } finally q.stop()
  }

  test("streaming Bloom decontamination equals the batch probe across waves") {
    import spark.implicits._
    import graft.streaming.StreamingDecontaminate
    // train-side docs arrive in two waves; the eval bitset is static
    val positions = StreamingDecontaminate.evalPositions(spark, sf).cache()
    assert(positions.count() > 0 && positions.count() <= graft.operators.Dedup.BloomBits,
      "bitset not bounded by the Bloom size")
    val trainDocs = Tables.load(spark, sf, "documents")
      .select($"doc_id", $"text",
        (graft.functions.TextFunctions.hash64(
          concat(lit("split:"), $"doc_id")) % 100).as("bucket"))
      .filter($"bucket" < 90)
      .select($"doc_id", $"text")
    val inDir = java.nio.file.Files.createTempDirectory("graft_decon_in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_decon_out").toString + "/t"
    trainDocs.filter($"doc_id" < 250).coalesce(1)
      .write.mode("overwrite").parquet(s"$inDir/w0")
    trainDocs.filter($"doc_id" >= 250).coalesce(1)
      .write.mode("overwrite").parquet(s"$inDir/w1")
    val stream = spark.readStream.schema(spark.read.parquet(s"$inDir/w0").schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$inDir/*")
    val q = StreamingDecontaminate.probeWriter(stream, positions, outDir)
      .option("checkpointLocation", outDir + "_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(180000)
    val streamed = spark.read.parquet(outDir)
      .select($"doc_id", $"n_grams", $"n_bloom_hits", $"bloom_flagged").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    // the batch truth is d21's bloom columns (same helpers, full corpus)
    val batch = SparkEntry.queries("d21_bloom_decontaminate")(spark, sf)
      .select($"doc_id", $"n_grams", $"n_bloom_hits", $"bloom_flagged").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    assert(streamed == batch, "streaming decontamination diverges from the batch probe")
    assert(streamed.exists(_._4), "no flagged doc at test SF — probe vacuous")
    positions.unpersist()
  }

  test("sink compaction: read-optimized view stays exact across compaction, late batches, and post-compaction replays") {
    import spark.implicits._
    import graft.streaming.ParquetSink
    val events = Tables.load(spark, sf, "events")
      .select($"event_id", $"user_id", $"event_type")
    val base = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val raw = s"$base/raw"
    val opt = s"$base/opt"
    def wave(i: Int): org.apache.spark.sql.DataFrame =
      events.filter(pmod($"event_id", lit(5)) === i)
    // three micro-batches land through the idempotent sink
    (0 to 2).foreach(i => ParquetSink.writeBatch(wave(i), i.toLong, raw))
    val truth012 = (0 to 2).map(wave).reduce(_ union _).count()

    // compact: one folded store, few files, identical content
    ParquetSink.compact(spark, raw, opt, sortCols = Seq("user_id"), numFiles = 2)
    val ro1 = ParquetSink.readOptimized(spark, raw, opt)
    assert(ro1.count() == truth012, "compaction changed row count")
    val compactedFiles = ro1.select(input_file_name()).distinct().count()
    val rawFiles = spark.read.parquet(raw).select(input_file_name()).distinct().count()
    assert(compactedFiles <= 2 && compactedFiles < rawFiles,
      s"compaction did not shrink files: $compactedFiles vs $rawFiles")

    // late batches after the compaction stay visible through the union
    (3 to 4).foreach(i => ParquetSink.writeBatch(wave(i), i.toLong, raw))
    val truthAll = events.count()
    assert(ParquetSink.readOptimized(spark, raw, opt).count() == truthAll,
      "live tail above the watermark lost")

    // a batch REPLAYED after it was compacted must not double its rows:
    // it overwrites its live partition, but the reader ignores batches
    // <= the watermark
    ParquetSink.writeBatch(wave(1), 1L, raw)
    assert(ParquetSink.readOptimized(spark, raw, opt).count() == truthAll,
      "post-compaction replay doubled rows")

    // incremental re-compaction folds only the tail and swings the pointer
    ParquetSink.compact(spark, raw, opt, sortCols = Seq("user_id"), numFiles = 2)
    val ro2 = ParquetSink.readOptimized(spark, raw, opt)
    assert(ro2.count() == truthAll, "re-compaction changed row count")
    assert(ParquetSink.compactionState(opt).exists(_._1 == 1L), "version did not advance")
    // content identity, not just count
    val a = ro2.select($"event_id").as[Long].collect().sorted.toSeq
    val b = events.select($"event_id").as[Long].collect().sorted.toSeq
    assert(a == b, "read-optimized content diverges from the event truth")
  }

  test("streaming heavy hitters: folded sketch keeps the MG guarantee, recount equals batch t29, replay-safe") {
    import spark.implicits._
    import graft.streaming.StreamingHeavyHitters
    import graft.functions.TextFunctions.tokens
    val docs = Tables.load(spark, sf, "documents").select($"doc_id", $"text")
    val inDir = java.nio.file.Files.createTempDirectory("graft_hh_in").toString
    val stateDir = java.nio.file.Files.createTempDirectory("graft_hh_state").toString + "/s"
    docs.filter($"doc_id" < 150).coalesce(1)
      .write.mode("overwrite").parquet(s"$inDir/w0")
    docs.filter($"doc_id" >= 150 && $"doc_id" < 350).coalesce(1)
      .write.mode("overwrite").parquet(s"$inDir/w1")
    docs.filter($"doc_id" >= 350).coalesce(1)
      .write.mode("overwrite").parquet(s"$inDir/w2")
    val stream = spark.readStream.schema(spark.read.parquet(s"$inDir/w0").schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$inDir/*")
    val q = StreamingHeavyHitters.ingestWriter(stream, stateDir)
      .option("checkpointLocation", stateDir + "_ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(180000)

    // MG guarantee over the WHOLE stream after per-batch folding: every
    // word with f > n/(cap+1) is a candidate, no estimate exceeds truth
    val freq = docs.select(explode(tokens($"text")).as("word"))
      .groupBy($"word").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = freq.values.sum
    val bound = n.toDouble / (StreamingHeavyHitters.Capacity + 1)
    val cand = StreamingHeavyHitters.candidates(spark, stateDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cand.size <= StreamingHeavyHitters.Capacity, "state exceeded capacity")
    freq.foreach { case (w, f) =>
      if (f > bound) assert(cand.contains(w), s"heavy word $w (f=$f) lost by the stream fold")
      assert(cand.getOrElse(w, 0L) <= f, s"$w overestimated")
    }

    // exact recount of the streamed candidates == the batch t29 answer
    val streamed = StreamingHeavyHitters.exactHeavyHitters(docs, stateDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val batch = SparkEntry.queries("t29_heavy_hitters")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(streamed == batch, "stream sketch + recount diverges from batch t29")

    // replay: re-folding a batch must leave the state unchanged — it
    // re-reads its PREDECESSOR snapshot, never its own (fresh state dir
    // with explicit ids, so the check doesn't depend on the runner's
    // batch-id assignment)
    val replayDir = java.nio.file.Files.createTempDirectory("graft_hh_replay").toString + "/s"
    StreamingHeavyHitters.processBatch(spark.read.parquet(s"$inDir/w0"), 0L, replayDir)
    StreamingHeavyHitters.processBatch(spark.read.parquet(s"$inDir/w1"), 1L, replayDir)
    val before = StreamingHeavyHitters.candidates(spark, replayDir).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    StreamingHeavyHitters.processBatch(spark.read.parquet(s"$inDir/w1"), 1L, replayDir)
    val after = StreamingHeavyHitters.candidates(spark, replayDir).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(after == before, "replayed batch changed the sketch state")
  }

  test("partition-local extraction produces per-file metadata") {
    import spark.implicits._
    val tasks = Tables.load(spark, sf, "documents")
      .select($"doc_id", lit("biologic-mpr").as("filetype_id"),
        concat(lit("/data/files/doc_"), $"doc_id", lit(".mpr")).as("input_path"),
        $"text".as("payload"))
      .as[graft.registry.Extraction.FileTask]
    val out = graft.registry.Extraction.extractAll(tasks).cache()
    assert(out.filter($"status" === "ok").count() == tasks.count())
    // checksum parity with the relational md5 (r06 uses the same stub)
    val viaSql = Tables.load(spark, sf, "documents").select($"doc_id", md5($"text").as("m"))
    val joined = out.join(viaSql, "doc_id").filter($"checksum" =!= $"m").count()
    assert(joined == 0)
  }

  test("streaming windowed quantile sketches: counts conserved, rank bounds valid vs batch exact") {
    import spark.implicits._
    val batch = Tables.load(spark, sf, "events")
    val inDir = java.nio.file.Files.createTempDirectory("graft_qsk_in").toString
    batch.write.mode("overwrite").parquet(inDir)
    val stream = spark.readStream.schema(batch.schema).parquet(inDir)
    val q = EventStreams.windowedQuantiles(stream, k = 64)
      .writeStream.outputMode("append").format("memory").queryName("qsk_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val got = spark.table("qsk_out").collect()
    assert(got.nonEmpty, "streaming emitted no closed windows")
    // batch ground truth: the window's exact sorted values per (win, type)
    val exact = batch.select($"ts", $"event_type", $"value").collect()
      .map(r => ((r.getTimestamp(0).getTime / 3600000L) * 3600000L,
        r.getString(1), r.getDouble(2)))
      .groupBy(t => (t._1, t._2))
      .map { case (k0, vs) => k0 -> vs.map(_._3).sorted }
    got.foreach { r =>
      val key = (r.getTimestamp(0).getTime, r.getString(1))
      val (n, err) = (r.getLong(2), r.getLong(3))
      val items = r.getSeq[org.apache.spark.sql.Row](4)
        .map(it => (it.getDouble(0), it.getLong(1)))
      val truth = exact.getOrElse(key,
        fail(s"streaming emitted unknown window $key"))
      // mass conservation: the summary saw every row of its window,
      // regardless of how micro-batches split it
      assert(n == truth.length, s"$key: sketch n=$n != exact ${truth.length}")
      assert(items.map(_._2).sum == n, s"$key: item weights lost mass")
      // the self-tracked bound holds at the quartile probes — the
      // contract that survives any arrival/merge order
      Seq(0.25, 0.5, 0.75).foreach { p =>
        val x = truth((p * (truth.length - 1)).toInt)
        val rhat = items.iterator.filter(_._1 <= x).map(_._2).sum
        val rTrue = truth.count(_ <= x)
        assert(math.abs(rhat - rTrue) <= err,
          s"$key p=$p: |R̂−R| ${math.abs(rhat - rTrue)} > err $err")
      }
    }
  }

  test("streaming CDC apply: changeset waves fold into the served layout; ledger short-circuits replays") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.MergeOps
    import graft.sources.CorpusLayout
    import graft.streaming.StreamingMerge
    assert(spark.conf.getOption(CorpusLayout.ConfKey).isEmpty,
      "test precondition: session must start without a layout conf")
    val base = java.nio.file.Files.createTempDirectory("graft_smerge").toString
    spark.conf.set(CorpusLayout.ConfKey, base)
    try {
      CorpusLayout.materialize(spark, sf)
      // stat generation 0 so the file-skipping manifest must ride every
      // streaming apply's CoW carry to stay serving-fresh
      val (gen0Loc, _) = Chain.flat(sf).layout(spark)
      graft.sources.StatsManifest.build(spark, gen0Loc, Seq("doc_id", "n_chars"))
      val v0 = Tables.load(spark, sf, "documents")
        .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val in = MemoryStream[(Long, String, String, String, Long, Boolean)]
      val q = StreamingMerge.applyWriter(
        in.toDF().toDF("doc_id", "text", "lang", "source", "n_chars", "tombstone"),
        sf).start()
      try {
        // wave 0: update doc 1, insert doc -7, delete doc 2
        in.addData((1L, "v2 one", "en", "web", 6L, false),
          (-7L, "brand new", "en", "web", 9L, false),
          (2L, "", "", "", 0L, true))
        q.processAllAvailable()
        def served() = Tables.load(spark, sf, "documents")
          .select($"doc_id", $"text").collect()
          .map(r => r.getLong(0) -> r.getString(1)).toMap
        val s1 = served()
        val v0map = v0.select($"doc_id", $"text").collect()
          .map(r => r.getLong(0) -> r.getString(1)).toMap
        assert(s1(1L) == "v2 one" && s1(-7L) == "brand new" && !s1.contains(2L))
        assert(s1.size == v0map.size, "merge changed untouched-row count")
        // wave 1: delete the wave-0 insert, re-insert doc 2
        in.addData((-7L, "", "", "", 0L, true),
          (2L, "two is back", "en", "web", 11L, false))
        q.processAllAvailable()
        val s2 = served()
        assert(!s2.contains(-7L) && s2(2L) == "two is back" && s2(1L) == "v2 one")
        assert(StreamingMerge.appliedBatches(spark, sf) == Set(0L, 1L))
        // the manifest followed the generation chain: present at the NOW
        // served location, and a pruned scan answers over the merged state
        val (servedLoc, _) = Chain.flat(sf).layout(spark)
        assert(servedLoc != gen0Loc, "waves did not swing the generation")
        val pruned = graft.sources.StatsManifest.scan(spark, servedLoc,
            Seq(graft.sources.StatsManifest.LeStat("doc_id", 1L)))
          .select($"doc_id").collect().map(_.getLong(0)).toSet
        assert(pruned == s2.keySet.filter(_ <= 1L),
          "manifest-pruned scan diverged from the served merged state")
      } finally q.stop()
      // replay short-circuit: re-applying a ledgered batch id is a no-op
      // (no new generation, false returned) even with different content
      val gensBefore = {
        val root = java.nio.file.Paths.get(MergeOps.layoutRoot(spark, sf))
        val kids = java.nio.file.Files.list(root)
        try kids.count() finally kids.close()
      }
      val replay = Seq((1L, "SHOULD NOT LAND", "en", "web", 1L, false))
        .toDF("doc_id", "text", "lang", "source", "n_chars", "tombstone")
      assert(!StreamingMerge.applyBatch(replay, 1L, sf),
        "ledgered batch id re-applied")
      val gensAfter = {
        val root = java.nio.file.Paths.get(MergeOps.layoutRoot(spark, sf))
        val kids = java.nio.file.Files.list(root)
        try kids.count() finally kids.close()
      }
      assert(gensBefore == gensAfter, "replay burned a generation")
      assert(Tables.load(spark, sf, "documents")
        .filter($"doc_id" === 1L).select($"text").as[String].head() == "v2 one")
      // an empty batch is skipped without a ledger entry
      assert(!StreamingMerge.applyBatch(replay.limit(0), 99L, sf))
      assert(!StreamingMerge.appliedBatches(spark, sf).contains(99L))
      // a restarted feed that starts SCORING documents (new column)
      // evolves the served schema through the same per-batch verb
      val scored = Seq((1L, "v3 one scored", "en", "web", 13L, 0.7, false))
        .toDF("doc_id", "text", "lang", "source", "n_chars", "quality", "tombstone")
      val refused = intercept[IllegalArgumentException](
        StreamingMerge.applyBatch(scored, 100L, sf))
      assert(refused.getMessage.contains("quality"), refused.getMessage)
      assert(StreamingMerge.applyBatch(scored, 100L, sf, evolveSchema = true))
      val evolved = Tables.load(spark, sf, "documents")
      assert(evolved.columns.contains("quality"))
      assert(evolved.filter($"doc_id" === 1L).select($"quality")
        .as[Double].head() == 0.7)
      assert(evolved.filter($"quality".isNull).count() == evolved.count() - 1)
    } finally {
      CorpusLayout.drop(spark, sf)
      spark.conf.unset(CorpusLayout.ConfKey)
    }
  }

  test("streaming MOR: each micro-batch is a sidecar over hard-linked bases; ledger replays; fold converges") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.MergeOps
    import graft.sources.CorpusLayout
    import graft.streaming.StreamingMerge
    assert(spark.conf.getOption(CorpusLayout.ConfKey).isEmpty,
      "test precondition: session must start without a layout conf")
    val base = java.nio.file.Files.createTempDirectory("graft_smor").toString
    spark.conf.set(CorpusLayout.ConfKey, base)
    // the conf is the ONLY switch: the same applyWriter pipeline now
    // folds every micro-batch as a deletion-vector sidecar (foreachBatch
    // clones inherit session confs set before start)
    spark.conf.set(MergeOps.MergeModeKey, "mor")
    try {
      CorpusLayout.materialize(spark, sf)
      def genDir(g: Int): String = MergeOps.generations(spark, Chain.flat(sf))
        .collectFirst { case (`g`, p) => p }.get
      def dataFiles(dir: String): Seq[String] = {
        val kids = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
        try {
          import scala.jdk.CollectionConverters._
          kids.iterator().asScala.map(_.getFileName.toString)
            .filter(n => !n.startsWith("_") && !n.startsWith(".")).toVector.sorted
        } finally kids.close()
      }
      def ino(p: String): Any = java.nio.file.Files.getAttribute(
        java.nio.file.Paths.get(p), "unix:ino")
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val in = MemoryStream[(Long, String, String, String, Long, Boolean)]
      val q = StreamingMerge.applyWriter(
        in.toDF().toDF("doc_id", "text", "lang", "source", "n_chars", "tombstone"),
        sf).start()
      try {
        in.addData((1L, "v2 one", "en", "web", 6L, false),
          (-7L, "brand new", "en", "web", 9L, false),
          (2L, "", "", "", 0L, true))
        q.processAllAvailable()
        in.addData((-7L, "", "", "", 0L, true),
          (2L, "two is back", "en", "web", 11L, false))
        q.processAllAvailable()
      } finally q.stop()
      val served = Tables.load(spark, sf, "documents")
        .select($"doc_id", $"text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(served(1L) == "v2 one" && served(2L) == "two is back" &&
        !served.contains(-7L), "streamed MOR merge state wrong")
      assert(StreamingMerge.appliedBatches(spark, sf) == Set(0L, 1L))
      // the trickle chain never rewrote a base byte: every generation's
      // data files are generation 0's inodes, batches live in sidecars
      (1 to 2).foreach { g =>
        assert(graft.sources.CorpusLayout.hasDv(genDir(g)), s"gen $g has no sidecar")
        assert(dataFiles(genDir(g)) == dataFiles(genDir(0)),
          s"gen $g's base file set drifted")
        dataFiles(genDir(g)).foreach(f => assert(
          ino(s"${genDir(g)}/$f") == ino(s"${genDir(0)}/$f"),
          s"gen $g rewrote base file $f"))
      }
      // replay short-circuit still holds over the MOR chain
      val replay = Seq((1L, "SHOULD NOT LAND", "en", "web", 1L, false))
        .toDF("doc_id", "text", "lang", "source", "n_chars", "tombstone")
      assert(!StreamingMerge.applyBatch(replay, 1L, sf), "ledgered id re-applied")
      // fold: back to a pure bucketed generation, same contents
      val folded = MergeOps.compact(spark, Chain.flat(sf))
      assert(!graft.sources.CorpusLayout.hasDv(folded), "fold kept a sidecar")
      val after = Tables.load(spark, sf, "documents")
        .select($"doc_id", $"text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(after == served, "fold changed the streamed corpus")
    } finally {
      spark.conf.unset(MergeOps.MergeModeKey)
      CorpusLayout.drop(spark, sf)
      spark.conf.unset(CorpusLayout.ConfKey)
    }
  }

  test("streaming change feed: applies surface as change rows per generation, exactly once") {
    import spark.implicits._
    import graft.operators.MergeOps
    import graft.sources.CorpusLayout
    import graft.streaming.StreamingChangeFeed
    assert(spark.conf.getOption(CorpusLayout.ConfKey).isEmpty,
      "test precondition: session must start without a layout conf")
    val tmp = java.nio.file.Files.createTempDirectory("graft_scf")
    val corpus = tmp.toString + "/corpus"
    val base = Tables.load(spark, sf, "documents")
      .select($"doc_id", $"text", $"lang", $"source",
        $"n_chars".cast("long").as("n_chars"))
    base.write.parquet(s"$corpus/documents.parquet")
    spark.conf.set(CorpusLayout.ConfKey, tmp.toString + "/layout")
    spark.conf.set(MergeOps.ChangeFeedKey, "true")
    try {
      CorpusLayout.materialize(spark, corpus, tables = Seq("documents"))
      val q = StreamingChangeFeed.readStream(spark, corpus, "documents")
        .writeStream.outputMode("append").format("memory")
        .queryName("cdf_stream_out").start()
      try {
        def change(m: Int, tag: String) = base.filter($"doc_id" % m === 0)
          .select($"doc_id", concat(lit(s"$tag "), $"text").as("text"),
            $"lang", $"source", $"n_chars")
          .withColumn(MergeOps.TombstoneCol, $"doc_id" % (2 * m) === 0)
        // wave 1: updates + deletes; wave 2 on the survivors
        MergeOps.applyToLayout(spark, corpus, change(6, "w1"))
        q.processAllAvailable()
        val out1 = spark.table("cdf_stream_out")
        val w1 = change(6, "w1")
        assert(out1.filter($"_commit_generation" === 1).count() == w1.count(),
          "wave-1 slice incomplete on the stream")
        assert(out1.filter($"_change_type" === "delete").count() ==
          w1.filter($"doc_id" % 12 === 0).count(),
          "wave-1 deletes mislabeled")
        MergeOps.applyToLayout(spark, corpus,
          change(9, "w2").filter($"doc_id" % 12 =!= 0))
        q.processAllAvailable()
        val out2 = spark.table("cdf_stream_out")
        assert(out2.filter($"_commit_generation" === 2 &&
          $"_change_type" === "update_postimage" &&
          !$"text".startsWith("w2")).count() == 0,
          "wave-2 post-images must carry wave-2 text")
        // exactly-once per file: re-listing never re-emits a seen slice
        q.processAllAvailable()
        assert(spark.table("cdf_stream_out").count() == out2.count(),
          "idle micro-batch re-emitted seen slices")
        // the streamed rows ARE the batch feed, value for value
        val streamed = spark.table("cdf_stream_out")
          .select($"doc_id", $"text", $"_change_type", $"_commit_generation")
          .orderBy($"_commit_generation", $"doc_id", $"_change_type")
          .collect().map(_.toString).toSeq
        val batch = MergeOps.changeFeed(spark, Chain.flat(corpus), 0)
          .select($"doc_id", $"text", $"_change_type", $"_commit_generation")
          .orderBy($"_commit_generation", $"doc_id", $"_change_type")
          .collect().map(_.toString).toSeq
        assert(streamed == batch, "stream diverged from the batch feed")
      } finally q.stop()
    } finally {
      spark.conf.unset(MergeOps.ChangeFeedKey)
      CorpusLayout.drop(spark, corpus)
      spark.conf.unset(CorpusLayout.ConfKey)
      graft.FsUtil.deleteRecursively(tmp)
    }
  }
}
