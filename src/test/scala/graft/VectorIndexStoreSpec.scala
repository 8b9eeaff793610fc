package graft

import graft.operators.VectorIndexStore
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The materialized IVF index: store-read ≡ inline, and — the reason the
  * store exists — the probe's cell filter must reach the scan as a
  * PARTITION filter, so the non-probed cells are pruned at the file
  * level, never read and post-filtered.
  */
class VectorIndexStoreSpec extends AnyFunSuite with SparkTestBase {

  /** All FileSourceScanExec nodes, descending through AQE query stages
    * (leaf nodes for children()) — ONE walker for every partition-pruning
    * assertion in this suite, so a new AQE node type can't silently make
    * one copy vacuous.
    */
  private def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] = {
    val here = p match { case s: FileSourceScanExec => Seq(s); case _ => Nil }
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    here ++ kids.flatMap(scans)
  }

  private def withStore[A](f: String => A): A = {
    val base = java.nio.file.Files.createTempDirectory("vecindex").toString
    spark.conf.set(VectorIndexStore.ConfKey, base)
    try f(base)
    finally {
      VectorIndexStore.drop(spark, sf)
      spark.conf.unset(VectorIndexStore.ConfKey)
    }
  }

  test("store-read assignments and centroids equal the inline frames") {
    import spark.implicits._
    withStore { _ =>
      VectorIndexStore.materialize(spark, sf)
      val inline = VectorIndexStore.assignmentFrame(spark, sf)
        .select($"vec_id", $"cell").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val stored = VectorIndexStore.assignmentsIfPresent(spark, sf).get
        .select($"vec_id", $"cell").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(stored == inline, "store-read assignment diverges from inline")
      val centInline = VectorIndexStore.centroidFrame(spark, sf)
        .select($"c_label", $"centroid").collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
      val centStored = VectorIndexStore.centroidsIfPresent(spark, sf).get
        .select($"c_label", $"centroid").collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
      assert(centStored == centInline, "store-read centroids diverge from inline")
    }
  }

  test("probe matches s06's inline result and prunes non-probed cells at the partition level") {
    import spark.implicits._
    withStore { _ =>
      VectorIndexStore.materialize(spark, sf)
      val probe = VectorIndexStore.probe(spark, sf, queryVecId = 0L)
      // same semantics as the inline operator (s06 probes vec 0, nprobe=2)
      val got = probe.collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      val want = SparkEntry.queries("s06_ivf_ann")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      assert(got.toSeq == want.toSeq, "store probe diverges from inline s06")
      // the scale property: the assignment scan must carry the cell
      // filter as a PARTITION filter (file skipping), and the scan's
      // selected partitions must be exactly nprobe of the k cells
      val plan = probe.queryExecution.executedPlan
      // query stages are leaf nodes for collect(): descend explicitly
      val assignScans = scans(plan).filter(_.output.exists(_.name == "cell"))
      assert(assignScans.nonEmpty, s"no assignment scan in the probe plan:\n$plan")
      val sc = assignScans.head
      assert(sc.partitionFilters.nonEmpty,
        s"cell filter did not become a partition filter:\n$plan")
      val selected = sc.selectedPartitions.partitionCount
      val totalCells = VectorIndexStore.centroidsIfPresent(spark, sf).get.count()
      assert(selected == 2 && selected < totalCells,
        s"expected 2 of $totalCells cells selected, got $selected")
    }
  }

  test("probeBatch matches inline s08 and prunes to exactly the probed cell union") {
    import spark.implicits._
    withStore { _ =>
      VectorIndexStore.materialize(spark, sf)
      // s08's workload: queries = vec_id < 5, corpus = vec_id >= 5
      val queries = Tables.load(spark, sf, "embeddings")
        .filter($"vec_id" < 5)
        .select($"vec_id".as("query_id"), $"embedding".as("qv"))
      val batch = VectorIndexStore.probeBatch(spark, sf, queries,
        nprobe = 2, topK = 3, corpusPredicate = Some($"vec_id" >= 5))
      val got = batch.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      val want = SparkEntry.queries("s08_ivf_knn_join")(spark, sf).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      assert(got.toSeq == want.toSeq, "probeBatch diverges from inline s08")
      // scale pin: the assignment scan's selected partitions == the probed
      // cell union (< all cells), via a PARTITION filter — file skipping,
      // not a post-scan filter, exactly like the single-query probe
      val plan = batch.queryExecution.executedPlan
      val assignScans = scans(plan).filter(_.output.exists(_.name == "cell"))
      assert(assignScans.nonEmpty, s"no assignment scan in the batch plan:\n$plan")
      val sc = assignScans.head
      assert(sc.partitionFilters.nonEmpty,
        s"cell union did not become a partition filter:\n$plan")
      // recompute the probed cell union independently (≤ |q|×nprobe of k)
      val cent = VectorIndexStore.centroidsIfPresent(spark, sf).get
      val wq = org.apache.spark.sql.expressions.Window
        .partitionBy($"query_id").orderBy($"qcos".desc, $"c_label".asc)
      val probedCells = queries.join(broadcast(cent))
        .select($"query_id", $"c_label",
          GQuery.roundz(graft.functions.VectorFunctions.cosineSim($"qv", $"centroid"), 4).as("qcos"))
        .withColumn("rn", row_number().over(wq))
        .filter($"rn" <= 2).select($"c_label").distinct().count()
      val selected = sc.selectedPartitions.partitionCount
      val totalCells = cent.count()
      assert(selected == probedCells && selected < totalCells,
        s"expected $probedCells of $totalCells cells selected, got $selected")
    }
  }

  test("PQ facet: 8-int codes, cell-pruned ADC scan, exact when the shortlist covers, high recall when tight") {
    import spark.implicits._
    withStore { _ =>
      VectorIndexStore.materialize(spark, sf)
      VectorIndexStore.materializePQ(spark, sf)

      // compression claim: one row per corpus vector, NumSubspaces small
      // code ids each — the payload the candidate scan reads instead of
      // the 64-double raw vector
      val codes = VectorIndexStore.codesIfPresent(spark, sf).get
      val nCorpus = Tables.load(spark, sf, "embeddings").count()
      assert(codes.count() == nCorpus, "codes facet lost vectors")
      val badLen = codes.filter(size($"codes") =!= VectorIndexStore.NumSubspaces).count()
      assert(badLen == 0, "a vector's code array is not NumSubspaces long")

      val queries = Tables.load(spark, sf, "embeddings")
        .filter($"vec_id" < 5)
        .select($"vec_id".as("query_id"), $"embedding".as("qv"))
      val exact = VectorIndexStore.probeBatch(spark, sf, queries,
        nprobe = 2, topK = 3, corpusPredicate = Some($"vec_id" >= 5))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))

      // with a shortlist covering every probed-cell candidate, ADC+exact
      // rerank must equal the raw-vector probeBatch bit for bit (the
      // rerank is the same exact cosine over everything ADC saw)
      val covered = VectorIndexStore.probeBatchADC(spark, sf, queries,
        nprobe = 2, shortlist = nCorpus.toInt, topK = 3,
        corpusPredicate = Some($"vec_id" >= 5))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      assert(covered.toSeq == exact.toSeq,
        "covering-shortlist ADC diverges from the raw-vector probeBatch")

      // tight shortlist: the IVFADC trade — recall@3 vs the exact path
      // must stay high (the ADC ordering is a good proxy for cosine)
      val adc = VectorIndexStore.probeBatchADC(spark, sf, queries,
        nprobe = 2, shortlist = 20, topK = 3,
        corpusPredicate = Some($"vec_id" >= 5))
      val got = adc.collect().map(r => (r.getLong(0), r.getLong(2)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val want = exact.map(r => (r._1, r._3))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val recalls = want.map { case (q, w) =>
        got.getOrElse(q, Set.empty).intersect(w).size.toDouble / w.size
      }
      val meanRecall = recalls.sum / recalls.size
      info(s"IVFADC shortlist=20 recall@3 vs exact-in-cells: $meanRecall")
      assert(meanRecall >= 0.6, s"ADC shortlist recall too low: $meanRecall")

      // scale pin: the CODES scan carries the probed-cell union as a
      // PARTITION filter, same as the raw path
      val plan = adc.queryExecution.executedPlan
      val codeScans = scans(plan).filter(_.output.exists(_.name == "codes"))
      assert(codeScans.nonEmpty, s"no PQ-codes scan in the ADC plan:\n$plan")
      val sc = codeScans.head
      assert(sc.partitionFilters.nonEmpty,
        s"probed cells did not become a partition filter on the codes scan:\n$plan")
      val totalCells = VectorIndexStore.centroidsIfPresent(spark, sf).get.count()
      assert(sc.selectedPartitions.partitionCount < totalCells,
        "codes scan read every cell")
    }
  }

  test("a replayed append batch replaces its previous attempt (idempotent by construction)") {
    import spark.implicits._
    withStore { _ =>
      val dir = VectorIndexStore.storeDir(spark, sf).get
      VectorIndexStore.centroidFrame(spark, sf)
        .write.mode("overwrite").parquet(s"$dir/v1/centroids")
      VectorIndexStore.assignmentFrame(spark, sf).filter($"vec_id" < 400)
        .withColumn("batch_id", lit(-1L))
        .write.mode("overwrite").partitionBy("cell", "batch_id")
        .parquet(s"$dir/v1/assignments")
      graft.sources.VersionedStore.flip(dir, 1)
      val newVecs = Tables.load(spark, sf, "embeddings")
        .filter($"vec_id" >= 400).select($"vec_id", $"embedding")
      // deliver batch 7, then REPLAY it (the foreachBatch crash-recovery
      // case): the index must not double the batch's vectors
      VectorIndexStore.appendAssignments(spark, sf, newVecs, batchId = 7L)
      val once = VectorIndexStore.assignmentsIfPresent(spark, sf).get
        .groupBy($"vec_id").count().filter($"count" > 1).count()
      assert(once == 0, "duplicates before any replay — test broken")
      VectorIndexStore.appendAssignments(spark, sf, newVecs, batchId = 7L)
      val dupes = VectorIndexStore.assignmentsIfPresent(spark, sf).get
        .groupBy($"vec_id").count().filter($"count" > 1).count()
      assert(dupes == 0, s"replayed batch double-inserted $dupes vec_ids")
      val total = VectorIndexStore.assignmentsIfPresent(spark, sf).get.count()
      val expect = Tables.load(spark, sf, "embeddings").count()
      assert(total == expect, s"index has $total rows, corpus has $expect")
    }
  }

  test("streamed appends against frozen centroids converge to the full rebuild") {
    import spark.implicits._
    withStore { base =>
      // yesterday's index: full-corpus centroids, assignments for only
      // the first 400 vectors
      val dir = VectorIndexStore.storeDir(spark, sf).get
      VectorIndexStore.centroidFrame(spark, sf)
        .write.mode("overwrite").parquet(s"$dir/v1/centroids")
      VectorIndexStore.assignmentFrame(spark, sf)
        .filter($"vec_id" < 400)
        .withColumn("batch_id", lit(-1L))
        .write.mode("overwrite").partitionBy("cell", "batch_id")
        .parquet(s"$dir/v1/assignments")
      graft.sources.VersionedStore.flip(dir, 1)
      // today's vectors arrive as a 2-wave stream through VectorIngest
      val newVecs = Tables.load(spark, sf, "embeddings")
        .filter($"vec_id" >= 400).select($"vec_id", $"embedding")
      val inDir = java.nio.file.Files.createTempDirectory("graft_vec_in").toString
      newVecs.filter($"vec_id" < 450).coalesce(1)
        .write.mode("overwrite").parquet(s"$inDir/w0")
      newVecs.filter($"vec_id" >= 450).coalesce(1)
        .write.mode("overwrite").parquet(s"$inDir/w1")
      val stream = spark.readStream.schema(spark.read.parquet(s"$inDir/w0").schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$inDir/*")
      val q = graft.streaming.VectorIngest.ingestWriter(stream, sf)
        .option("checkpointLocation", inDir + "_ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(180000)
      // the streamed index equals a from-scratch rebuild (assignment is
      // a pure function of vector × frozen centroids)
      val stored = VectorIndexStore.assignmentsIfPresent(spark, sf).get
        .select($"vec_id", $"cell").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val truth = VectorIndexStore.assignmentFrame(spark, sf)
        .select($"vec_id", $"cell").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(stored == truth, "streamed appends diverge from the full rebuild")
      // and the probe serves the freshly appended vectors
      val probed = VectorIndexStore.probe(spark, sf, queryVecId = 0L).collect()
      val want = SparkEntry.queries("s06_ivf_ann")(spark, sf).collect()
      assert(probed.map(_.getLong(0)).toSeq == want.map(_.getLong(0)).toSeq,
        "probe over the streamed index diverges from inline s06")
    }
  }

  /** Versioned atomic retrain: the race the old rebuild-in-place allowed
    * (a probe reading half-built centroids/assignments/PQ) must be
    * impossible — a probe issued at ANY moment reads one complete
    * generation. Pinned via the retrainStaged seam: inside the window
    * where v2 is fully written but the pointer hasn't flipped, the served
    * index is still v1 (plan scans v1 files, values identical to the
    * pre-retrain snapshot); after the flip everything — probes, ADC,
    * appends — runs against v2.
    */
  test("retrain: probes racing a retrain read one consistent generation; appends follow the flip") {
    import spark.implicits._
    withStore { _ =>
      val v1 = VectorIndexStore.materialize(spark, sf)
      assert(v1.endsWith("/v1"), s"bootstrap should write generation v1, got $v1")
      VectorIndexStore.materializePQ(spark, sf)
      val queries = Tables.load(spark, sf, "embeddings")
        .filter($"vec_id" < 5)
        .select($"vec_id".as("query_id"), $"embedding".as("qv"))
      def run() = VectorIndexStore.probeBatch(spark, sf, queries,
        nprobe = 2, topK = 3, corpusPredicate = Some($"vec_id" >= 5))
      def scanDirs(df: org.apache.spark.sql.DataFrame): Seq[String] = {
        df.collect()
        scans(df.queryExecution.executedPlan)
          .flatMap(_.relation.location.rootPaths.map(_.toString))
      }
      val before = run().collect().toSeq
      val dir = VectorIndexStore.storeDir(spark, sf).get

      var probedMidRetrain = false
      val v2 = VectorIndexStore.retrainStaged(spark, sf) {
        // v2 is fully staged (all four facets written) …
        for (facet <- Seq("centroids", "assignments", "pq_codebook", "pq_codes"))
          assert(java.nio.file.Files.exists(
            java.nio.file.Paths.get(s"$dir/v2/$facet/_SUCCESS")),
            s"retrain flip before $facet was written")
        // … but the pointer still serves v1: a racing probe reads the old
        // generation in full, bit-identical to the pre-retrain snapshot
        assert(graft.sources.VersionedStore.current(dir).contains(1))
        val mid = run()
        assert(mid.collect().toSeq == before, "mid-retrain probe diverged")
        val midStore = scanDirs(mid).filter(_.contains(dir))
        assert(midStore.nonEmpty && midStore.forall(_.contains("/v1/")),
          s"mid-retrain probe plan scans outside generation v1: $midStore")
        probedMidRetrain = true
      }
      assert(probedMidRetrain && v2.endsWith("/v2"))
      assert(graft.sources.VersionedStore.current(dir).contains(2))
      // post-flip: plans scan v2, values equal (same corpus, deterministic
      // build), and the ADC path serves v2's staged PQ facet
      val after = run()
      assert(after.collect().toSeq == before, "v2 rebuild changed results on an unchanged corpus")
      val afterStore = scanDirs(after).filter(_.contains(dir))
      assert(afterStore.nonEmpty && afterStore.forall(_.contains("/v2/")),
        s"post-flip probe plan still scans v1: $afterStore")
      val adc = VectorIndexStore.probeBatchADC(spark, sf, queries
          .select($"query_id", $"qv"), nprobe = 2, shortlist = 1000, topK = 3,
          corpusPredicate = Some($"vec_id" >= 5))
        .collect()
      assert(adc.nonEmpty, "ADC probe on the retrained generation returned nothing")
      // appends compose with the new generation: new vectors land in v2
      val donor = Tables.load(spark, sf, "embeddings")
        .filter($"vec_id" === 7L).select($"embedding").head().getSeq[Float](0)
      val newVecs = Seq((900001L, donor)).toDF("vec_id", "embedding")
      VectorIndexStore.appendAssignments(spark, sf, newVecs, batchId = 99L)
      val appended = VectorIndexStore.assignmentsIfPresent(spark, sf).get
        .filter($"vec_id" === 900001L)
      assert(appended.count() == 1, "append after retrain did not land in the served generation")
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$dir/v1/assignments/cell=" +
          appended.select($"cell").head().getInt(0), "batch_id=99")),
        "append wrote into the RETIRED generation")
      // old generations are reclaimable once drained
      VectorIndexStore.pruneOldVersions(spark, sf)
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/v1")),
        "pruneOldVersions left v1 behind")
      assert(run().collect().toSeq == before, "prune broke the served generation")
    }
  }

  test("applyChangeset: cell-scoped CoW apply — exact deletes, frozen-centroid upserts, linked untouched cells") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    withStore { _ =>
      VectorIndexStore.materialize(spark, sf)
      VectorIndexStore.materializePQ(spark, sf)
      val emb = Tables.load(spark, sf, "embeddings").select($"vec_id", $"embedding")
      val picked = emb.orderBy($"vec_id").limit(3).collect()
      val (aId, aVec) = (picked(0).getLong(0), picked(0).getSeq[Float](1))
      val (bId, bVec) = (picked(1).getLong(0), picked(1).getSeq[Float](1))
      val delId = picked(2).getLong(0)
      val preAsn = VectorIndexStore.assignmentsIfPresent(spark, sf).get
        .select($"vec_id", $"cell").collect()
        .map(r => r.getLong(0) -> r.get(1).toString.toInt).toMap
      val nBefore = preAsn.size
      val servedBefore = VectorIndexStore.servedDir(spark, sf).get
      // the changeset: a takes b's embedding (must re-home to b's cell),
      // -100 inserts with a's OLD embedding (must land in a's old cell),
      // delId leaves the index entirely
      val changes = Seq(
        (aId, bVec, false),
        (-100L, aVec, false),
        (delId, Seq.empty[Float], true))
        .toDF("vec_id", "embedding", "tombstone")
      assert(VectorIndexStore.applyChangeset(spark, sf, changes))
      val servedAfter = VectorIndexStore.servedDir(spark, sf).get
      assert(servedAfter != servedBefore, "apply did not stage a new generation")
      val asn = VectorIndexStore.assignmentsIfPresent(spark, sf).get
        .select($"vec_id", $"cell").collect()
        .map(r => r.getLong(0) -> r.get(1).toString.toInt).toMap
      assert(!asn.contains(delId), "deleted vector still assigned")
      assert(asn.size == nBefore, s"expected ${nBefore} rows (+1 insert -1 delete), got ${asn.size}")
      assert(asn(aId) == preAsn(bId),
        "updated vector not re-homed to its new embedding's cell")
      assert(asn(-100L) == preAsn(aId),
        "inserted vector not homed like the embedding it carries")
      // PQ facet followed: code rows track the assignment rows exactly
      val codes = VectorIndexStore.codesIfPresent(spark, sf).get
      assert(codes.filter($"vec_id" === delId).count() == 0,
        "deleted vector kept its PQ code")
      assert(codes.filter($"vec_id" === -100L).count() == 1,
        "inserted vector has no PQ code")
      // ADC end-to-end on the applied index: the inserted vector is its
      // own embedding's top hit
      val q = Seq((-100L, aVec)).toDF("query_id", "qv")
      val hits = VectorIndexStore.probeBatchADC(spark, sf, q,
        nprobe = 2, shortlist = 50, topK = 1).collect()
      assert(hits.nonEmpty && hits.head.getLong(2) == -100L,
        s"self-probe of the inserted vector missed: ${hits.toSeq}")
      // untouched cells hard-link forward: shared inodes, not copies
      val touched = Set(preAsn(aId), preAsn(bId), preAsn(delId), asn(-100L))
      val untouchedCell = preAsn.values.toSet.diff(touched).headOption
      assert(untouchedCell.isDefined, "scenario degenerate: every cell touched")
      val cdir = s"cell=${untouchedCell.get}"
      def firstFileUnder(p: java.nio.file.Path): java.nio.file.Path = {
        val st = java.nio.file.Files.walk(p)
        try {
          val found = st.filter(java.nio.file.Files.isRegularFile(_))
            .filter(_.getFileName.toString.endsWith(".parquet")).findFirst()
          assert(found.isPresent, s"no parquet file under $p"); found.get()
        } finally st.close()
      }
      val oldF = firstFileUnder(java.nio.file.Paths.get(servedBefore, "assignments", cdir))
      val rel = java.nio.file.Paths.get(servedBefore, "assignments").relativize(oldF)
      val newF = java.nio.file.Paths.get(servedAfter, "assignments").resolve(rel)
      assert(java.nio.file.Files.exists(newF) &&
        java.nio.file.Files.isSameFile(oldF, newF),
        "untouched cell was rewritten, not linked")
      // replay is content-idempotent (a fresh generation, same rows)
      assert(VectorIndexStore.applyChangeset(spark, sf, changes))
      val again = VectorIndexStore.assignmentsIfPresent(spark, sf).get
        .select($"vec_id", $"cell").collect()
        .map(r => r.getLong(0) -> r.get(1).toString.toInt).toMap
      assert(again == asn, "replayed apply diverged")
    }
  }

  test("a build never reuses a version dir a killed build left behind") {
    withStore { _ =>
      VectorIndexStore.materialize(spark, sf)
      val dir = VectorIndexStore.storeDir(spark, sf).get
      // a killed PQ retrain: complete pq_codebook and pq_codes staged
      // under v2, the pointer never flipped (v1 serves no PQ facet)
      VectorIndexStore.materializePQ(spark, sf)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir, "v2"))
      for (f <- Seq("pq_codebook", "pq_codes"))
        java.nio.file.Files.move(java.nio.file.Paths.get(dir, "v1", f),
          java.nio.file.Paths.get(dir, "v2", f))
      assert(VectorIndexStore.codesIfPresent(spark, sf).isEmpty)
      // a non-PQ build must not serve the orphaned codes, trained against
      // another generation's centroids
      VectorIndexStore.materialize(spark, sf)
      assert(VectorIndexStore.servedDir(spark, sf).exists(_ != s"$dir/v1"))
      assert(VectorIndexStore.codesIfPresent(spark, sf).isEmpty,
        "the new generation serves PQ codes a killed build left behind")
    }
  }
}
