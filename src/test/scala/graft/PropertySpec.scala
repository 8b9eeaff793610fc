package graft

import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property-style specs: generated inputs, one Spark round-trip per
  * property (a DataFrame of all samples, not a job per case), compared
  * against plain-Scala reference implementations.
  */
class PropertySpec extends AnyFunSuite with SparkTestBase {

  private val tokenGen: Gen[List[String]] =
    Gen.chooseNum(0, 30).flatMap(n => Gen.listOfN(n, Gen.oneOf(
      "the", "a", "join", "hash", "row", "scan", "filter", "sort", "merge", "dup")))

  private def samples[A](g: Gen[A], n: Int): List[A] =
    (0 until n).toList.flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  test("ShingleExpr equals the sliding-window reference on generated inputs") {
    import spark.implicits._
    val data = samples(tokenGen, 200)
    val df = data.zipWithIndex.map { case (ts, i) => (i, ts) }.toDF("id", "toks")
    val got = df.select($"id", shingles($"toks", 3).as("sh"))
      .collect().map(r => r.getInt(0) -> r.getSeq[String](1).toList).toMap
    data.zipWithIndex.foreach { case (ts, i) =>
      val want = if (ts.length >= 3) ts.sliding(3).map(_.mkString(" ")).toList else Nil
      assert(got(i) == want, s"sample $i: ${ts.mkString(",")}")
    }
  }

  test("permHash family members are permutations (injective on a range)") {
    import spark.implicits._
    val n = 100000L
    val df = spark.range(n).toDF("h")
    (0 until 4).foreach { p =>
      val distinct = df.select(permHash($"h", p).as("x")).distinct().count()
      assert(distinct == n, s"perm $p collides on 0..$n")
    }
  }

  test("CosineSim: self-similarity 1, symmetry, bounded") {
    import spark.implicits._
    val e = Tables.load(spark, sf, "embeddings").limit(50)
      .select($"vec_id", asDouble($"embedding").as("v"))
    val self = e.select(cosineSim($"v", $"v").as("c")).collect().map(_.getDouble(0))
    assert(self.forall(c => math.abs(c - 1.0) < 1e-9))
    val pairs = e.as("x").join(e.as("y"), $"x.vec_id" < $"y.vec_id")
      .select(cosineSim($"x.v", $"y.v").as("xy"), cosineSim($"y.v", $"x.v").as("yx"))
      .collect()
    assert(pairs.forall(r => r.getDouble(0) == r.getDouble(1)), "not symmetric")
    assert(pairs.forall(r => r.getDouble(0) >= -1.0 - 1e-9 && r.getDouble(0) <= 1.0 + 1e-9))
  }

  // ── Recall probes for the approximate vector operators. ──
  // The DuckDB oracle mirrors each LSH algorithm, so it can never see
  // recall collapse (SURVEY §6's minhash lesson). These probes compare
  // against driver-side brute force and against the ANALYTIC hyperplane-
  // LSH bound at the data's own neighbor angles: for a pair at angle θ,
  // P(one sign bit agrees) = 1 − θ/π, so P(candidate) is a polynomial in
  // p per scheme. A degenerate bucket function (e.g. all bits from one
  // coordinate) would crater measured recall far below the bound.

  /** (ids, vectors) collected once — 500×64 floats, test-only. */
  private lazy val embCollected: Array[(Long, Array[Double])] = {
    import spark.implicits._
    Tables.load(spark, sf, "embeddings")
      .select($"vec_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray.map(_.toDouble))
      .sortBy(_._1)
  }

  /** Cosine with CosineSim's exact sequential accumulation order. */
  private def cosine(x: Array[Double], y: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < x.length) { dot += x(i) * y(i); na += x(i) * x(i); nb += y(i) * y(i); i += 1 }
    val den = math.sqrt(na) * math.sqrt(nb)
    if (den == 0.0) 0.0 else dot / den
  }

  /** Brute-force top-k neighbor ids per vector (query-order ties: rounded
    * cos desc, id asc — identical to the ranking windows).
    */
  private def bruteTopK(k: Int): Map[Long, Seq[(Long, Double)]] =
    embCollected.map { case (i, x) =>
      i -> embCollected.filter(_._1 != i)
        .map { case (j, y) => (j, cosine(x, y)) }
        .sortBy { case (j, c) => (-math.rint(c * 10000) / 10000, j) }
        .take(k).toSeq
    }.toMap

  /** P(bit agrees) for a pair at cosine c under hyperplane LSH. */
  private def pAgree(c: Double): Double =
    1.0 - math.acos(math.max(-1.0, math.min(1.0, c))) / math.Pi

  private def bucketOf(v: Array[Double], nBits: Int): Int =
    (0 until nBits).map(b => if (v(b) > 0) 1 << b else 0).sum

  test("s05 kNN-graph recall: LSH multi-probe candidates vs brute force >= analytic bound") {
    import spark.implicits._
    val n = embCollected.length
    val truth = bruteTopK(2)
    val got = SparkEntry.queries("s05_knn_graph")(spark, sf)
      .select($"src", $"dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.size == 2 * n, s"expected 2 edges per vector, got ${got.size} for $n")
    val truePairs = truth.toSeq.flatMap { case (i, nns) => nns.map(nn => (i, nn._1)) }
    val measured = truePairs.count(got.contains).toDouble / truePairs.size
    // P(hamming(bucket_i, bucket_j) <= 1) over 6 bits = p^6 + 6 p^5 (1-p),
    // averaged over the true neighbor pairs' own angles.
    val bound = truth.values.flatten.map { case (_, c) =>
      val p = pAgree(c); math.pow(p, 6) + 6 * math.pow(p, 5) * (1 - p)
    }.sum / truePairs.size
    assert(measured >= 0.85 * bound,
      f"s05 recall collapsed: measured=$measured%.4f analytic=$bound%.4f")
  }

  test("s18 NN-descent quality law: per-src best cos never decreases, round over round") {
    import spark.implicits._
    val (_, perRound, rounds) = graft.operators.Similarity.nnDescentRounds(spark, sf)
    assert(rounds == perRound.size && rounds >= 1 &&
      rounds <= graft.operators.Similarity.NnDescentMaxRounds,
      s"descent ran $rounds rounds over ${perRound.size} graphs")
    // round r's candidates ⊇ round r-1's edges and rescoring is exact,
    // so the per-src champion may only improve — Dong et al.'s invariant,
    // checked on EVERY consecutive pair, not just seed vs final.
    perRound.sliding(2).filter(_.size == 2).foreach { case Seq(a, b) =>
      val regressed = a.filter($"rn" === 1).select($"src", $"cos".as("ca"))
        .join(b.filter($"rn" === 1).select($"src", $"cos".as("cb")), "src")
        .filter($"cb" < $"ca").take(1)
      assert(regressed.isEmpty,
        s"a refinement round LOST quality: ${regressed.mkString(", ")}")
    }
    // recall@2 vs the brute-force truth must not fall below the seed's —
    // the measured form of the same law (the lift is reported in SCALING).
    val truth = bruteTopK(2)
    def recall(g: Set[(Long, Long)]): Double = {
      val truePairs = truth.toSeq.flatMap { case (i, nns) => nns.map(nn => (i, nn._1)) }
      truePairs.count(g.contains).toDouble / truePairs.size
    }
    val seedRecall = recall(SparkEntry.queries("s05_knn_graph")(spark, sf)
      .select($"src", $"dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    val finalRecall = recall(perRound.last
      .select($"src", $"dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    assert(finalRecall >= seedRecall,
      f"descent lowered recall@2: seed=$seedRecall%.4f final=$finalRecall%.4f")
  }

  test("s02-scheme ANN recall over all queries >= analytic bound") {
    // s02 itself serves one query; probe its scheme (4-bit own-bucket
    // candidates, top-5) over every vector as the query.
    val truth = bruteTopK(5)
    val buckets = embCollected.map { case (i, v) => i -> bucketOf(v, 4) }.toMap
    val hits = truth.toSeq.flatMap { case (i, nns) =>
      nns.map { case (j, c) => (buckets(i) == buckets(j), pAgree(c)) }
    }
    val measured = hits.count(_._1).toDouble / hits.size
    val bound = hits.map(h => math.pow(h._2, 4)).sum / hits.size
    assert(measured >= 0.85 * bound,
      f"s02 scheme recall collapsed: measured=$measured%.4f analytic=$bound%.4f")
  }

  test("d06 near-dup recall vs d05 exact ground truth >= analytic bound") {
    import spark.implicits._
    // ground truth from the exact baseline operator itself (d05, cos>=0.45
    // threshold); d06 finds the subset co-located in a 4-bit sign bucket.
    val truth = SparkEntry.queries("d05_embed_dupes")(spark, sf)
      .select($"i", $"j", $"cos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(truth.nonEmpty, "no ground-truth near-dup pairs at this sf")
    val got = SparkEntry.queries("d06_embed_lsh_dupes")(spark, sf)
      .select($"i", $"j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val measured = truth.count(t => got.contains((t._1, t._2))).toDouble / truth.size
    val bound = truth.map(t => math.pow(pAgree(t._3), 4)).sum / truth.size
    assert(measured >= 0.85 * bound,
      f"d06 recall collapsed: measured=$measured%.4f analytic=$bound%.4f")
  }

  test("s06 IVF scheme recall: nprobe=2 of 10 cells beats the random-cell baseline") {
    import spark.implicits._
    // Driver-side mirror of Similarity.centroids: per-label coordinate
    // means; assignment/probing replicate the operator's exact ordering
    // (cos rounded to 4dp desc, label asc).
    val labels = Tables.load(spark, sf, "embeddings")
      .select($"vec_id", $"label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val cents = embCollected.groupBy { case (id, _) => labels(id) }
      .map { case (l, vs) =>
        l -> Array.tabulate(64)(k => vs.map(_._2(k)).sum / vs.length)
      }
    val cellIds = cents.keys.toSeq.sorted
    def nearestCells(v: Array[Double], k: Int): Seq[Int] =
      cellIds.map(l => (l, math.rint(cosine(v, cents(l)) * 10000) / 10000))
        .sortBy { case (l, c) => (-c, l) }.take(k).map(_._1)
    val vecs = embCollected.toMap
    val assign = embCollected.map { case (i, v) => i -> nearestCells(v, 1).head }.toMap
    val truth = bruteTopK(5)
    val hits = truth.toSeq.flatMap { case (i, nns) =>
      val probes = nearestCells(vecs(i), 2).toSet
      nns.map { case (j, _) => probes.contains(assign(j)) }
    }
    val measured = hits.count(identity).toDouble / hits.size
    // Random-cell baseline = nprobe/k = 0.20; the label structure lifts
    // this data to ~0.40. A degenerate index (all vectors in one cell,
    // broken tie order, wrong centroid math) collapses to the baseline.
    assert(measured >= 0.30,
      f"s06 IVF recall degenerate: measured=$measured%.4f vs random-cell 0.20")
  }

  test("s07 quantized-shortlist recall beats the random-shortlist baseline") {
    // Driver-side mirror of the s07 coarse stage: 60-bit sign agreement,
    // top-50 shortlist (agree desc, id asc). Measure how often the true
    // top-5 exact-cosine neighbors survive into the shortlist, over every
    // vector as the query. A random 50-shortlist captures each true
    // neighbor with p = 50/(n-1); a broken quantizer (all-zero signatures,
    // inverted sign, wrong tie order) collapses to that baseline.
    val truth = bruteTopK(5)
    def sig(v: Array[Double]): Long =
      (0 until 60).foldLeft(0L)((acc, b) => if (v(b) > 0) acc | (1L << b) else acc)
    val sigs = embCollected.map { case (i, v) => i -> sig(v) }.toMap
    val n = embCollected.length
    val hits = truth.toSeq.flatMap { case (i, nns) =>
      val shortlist = embCollected.filter(_._1 != i)
        .map { case (j, _) => (j, 60 - java.lang.Long.bitCount(sigs(i) ^ sigs(j))) }
        .sortBy { case (j, a) => (-a, j) }.take(50).map(_._1).toSet
      nns.map { case (j, _) => shortlist.contains(j) }
    }
    val measured = hits.count(identity).toDouble / hits.size
    val baseline = 50.0 / (n - 1)
    assert(measured >= math.min(1.0, 1.5 * baseline),
      f"s07 shortlist recall degenerate: measured=$measured%.4f vs random=$baseline%.4f")
  }

  test("SignBitsExpr equals the per-coordinate reference on generated vectors") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val vecs = samples(Gen.listOfN(64, Gen.chooseNum(-5.0, 5.0)), 60)
      .map(_.toArray) :+ Array.fill(64)(0.0) // all-zero edge: no bits set
    val nBits = 60
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val got = df.select($"id", graft.functions.VectorFunctions.signBits($"v", nBits).as("sb"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    vecs.zipWithIndex.foreach { case (v, i) =>
      val expected = (0 until nBits).foldLeft(0L)((acc, b) =>
        if (v(b) > 0) acc | (1L << b) else acc)
      assert(got(i.toLong) == expected, s"vector $i: ${got(i.toLong)} != $expected")
    }
    // SQL registration path produces the same expression
    df.createOrReplaceTempView("sbv")
    val viaSql = spark.sql(s"SELECT id, sign_bits(v, $nBits) AS sb FROM sbv")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaSql == got, "sign_bits SQL registration diverges from the Column DSL")
  }

  // ── Connected-components laws: the star contraction that backs d08. ──

  test("CC law: star rounds are O(log n) on a path graph where min-label needs O(n)") {
    import spark.implicits._
    // adversarial long chain (template spam that mutates a little per
    // copy): the diameter-bound worst case for label propagation
    val n = 48
    val path = (0 until n - 1).map(i => (i.toLong, (i + 1).toLong)).toDF("i", "j")
    val (starLbl, starRounds) = graft.operators.Dedup.starComponents(path)
    val (minLbl, hops) = graft.operators.Dedup.minLabelComponents(path)
    val sMap = starLbl.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val mMap = minLbl.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sMap == mMap, "star labels diverge from min-label on the path graph")
    assert(sMap.size == n && sMap.values.forall(_ == 0L),
      "path graph must collapse to one component rooted at 0")
    val log2n = (math.log(n.toDouble) / math.log(2.0)).ceil.toInt
    assert(starRounds <= log2n + 2,
      s"star rounds $starRounds not O(log n) (n=$n, ceil(log2)=$log2n)")
    assert(hops >= n / 2, s"min-label hops $hops suspiciously small — law is vacuous")
    assert(starRounds * 3 < hops,
      s"star ($starRounds rounds) should beat min-label ($hops hops) >3x on a chain")
  }

  test("CC law: star == min-label on random graphs (self-loops, dups) and the real LSH pair graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    // multigraph noise: duplicate edges, self loops, both orientations
    val gen = (1 to 300).map(_ =>
      (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong)).toDF("i", "j")
    def labelsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labelsOf(graft.operators.Dedup.starComponents(gen)._1) ==
      labelsOf(graft.operators.Dedup.minLabelComponents(gen)._1),
      "star CC diverges from min-label CC on the generated multigraph")
    // the engine's real edge frame (what d08 consumes at test SF)
    val real = SparkEntry.queries("d02_minhash_lsh")(spark, sf).select($"i", $"j")
    assert(labelsOf(graft.operators.Dedup.starComponents(real)._1) ==
      labelsOf(graft.operators.Dedup.minLabelComponents(real)._1),
      "star CC diverges from min-label CC on the real LSH pair graph")
  }

  test("CC law: components agrees with min-label on its collected and distributed branches") {
    import spark.implicits._
    import graft.operators.Dedup
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    def labelsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.get(0) -> r.get(1)).toMap
    val rnd = new scala.util.Random(29)
    val gen = (1 to 300).map(_ =>
      (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong)).toDF("i", "j")
    val graphs = Seq(
      "random multigraph" -> gen,
      "real d02 pair graph" -> SparkEntry.queries("d02_minhash_lsh")(spark, sf).select($"i", $"j"),
      "empty pair set" -> Seq.empty[(Long, Long)].toDF("i", "j"),
      "Int-typed multigraph" -> gen.select($"i".cast("int"), $"j".cast("int")))
    for ((what, g) <- graphs) {
      val reference = labelsOf(Dedup.minLabelComponents(g)._1)
      val byCollect = Dedup.components(g)
      spark.conf.set(threshold, "-1")
      val byRounds = try Dedup.components(g) finally spark.conf.unset(threshold)
      assert(byCollect.isLocal && !byRounds.isLocal,
        s"$what: the threshold did not pick the branch")
      assert(byCollect.schema == byRounds.schema,
        s"$what: branch schemas differ: ${byCollect.schema} vs ${byRounds.schema}")
      assert(byCollect.schema.map(_.dataType).distinct == Seq(g.schema.head.dataType),
        s"$what: labels not typed as the pairs: ${byCollect.schema}")
      assert(labelsOf(byCollect) == reference, s"$what: collected labels diverge from min-label")
      assert(labelsOf(byRounds) == reference, s"$what: star labels diverge from min-label")
    }
  }

  test("t13 entropy bounds: 0 <= H <= ln(n_types), H = 0 iff one type") {
    import spark.implicits._
    val rows = SparkEntry.queries("t13_token_entropy")(spark, sf)
      .select($"n_types", $"entropy").collect()
    rows.foreach { r =>
      val (types, h) = (r.getLong(0), r.getDouble(1))
      assert(h >= -1e-9, s"negative entropy $h")
      // each per-type term is rounded to 6dp before the exact DECIMAL sum,
      // so the bound loosens by up to 5e-7 per type
      assert(h <= math.log(types.toDouble) + types * 5e-7 + 1e-9,
        s"entropy $h exceeds ln($types) — term accounting broken")
      if (types == 1) assert(math.abs(h) <= 1e-9, s"single-type doc with H=$h")
    }
  }

  test("p07 training order is a permutation: shards partition the corpus, pos dense") {
    import spark.implicits._
    val rows = SparkEntry.queries("p07_training_order")(spark, sf)
      .select($"doc_id", $"shard", $"pos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val nDocs = Tables.load(spark, sf, "documents").count()
    assert(rows.map(_._1).distinct.length.toLong == nDocs, "docs lost or duplicated")
    rows.groupBy(_._2).foreach { case (shard, members) =>
      val ps = members.map(_._3).sorted
      assert(ps.toSeq == (1 to members.length).toSeq,
        s"shard $shard positions not dense 1..${members.length}: ${ps.take(5).toSeq}...")
    }
  }

  test("sessionization invariants: in-session gaps <= 30min, sessions ordered") {
    import spark.implicits._
    val sess = SparkEntry.queries("e02_sessionize")(spark, sf)
    // session windows of one user never overlap and are time-ordered by id
    val bad = sess.as("a").join(sess.as("b"),
        $"a.user_id" === $"b.user_id" && $"a.session_id" + 1 === $"b.session_id" &&
          $"b.start_us" - $"a.end_us" <= 1800000000L)
      .count()
    assert(bad == 0, "adjacent sessions closer than the 30-min gap")
  }

  test("round-5b operator invariants: d18/s15/e26/m10/p22/t23") {
    import spark.implicits._
    // d18: every surviving group is a real dup group, variants can't
    // outnumber copies, and total deduped rows never exceed the corpus
    val d18 = SparkEntry.queries("d18_url_dedup")(spark, sf)
      .select($"n_copies", $"n_variants").collect()
    assert(d18.nonEmpty, "d18: no duplicate URL groups at test SF — oracle is vacuous")
    d18.foreach { r =>
      assert(r.getLong(0) >= 2 && r.getLong(1) <= r.getLong(0),
        s"d18: n_variants > n_copies or singleton group: $r")
    }
    // s15: pair count is monotonically non-increasing in the threshold,
    // and the mean similarity of kept pairs is at least the threshold
    val s15 = SparkEntry.queries("s15_threshold_sweep")(spark, sf)
      .orderBy($"threshold").collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getDouble(2)))
    s15.sliding(2).foreach {
      case Array((t1, n1, _), (t2, n2, _)) =>
        assert(n2 <= n1, s"s15: pair count grew from θ=$t1 ($n1) to θ=$t2 ($n2)")
      case _ =>
    }
    s15.foreach { case (t, _, mean) =>
      assert(mean >= t, s"s15: mean cosine $mean below its own threshold $t")
    }
    // e26: dwell is capped by the session cutoff on both the max and mean
    SparkEntry.queries("e26_dwell_time")(spark, sf).collect().foreach { r =>
      assert(r.getAs[Long]("max_dwell_us") <= 1800000000L,
        s"e26: dwell beyond the 30-min session cutoff: $r")
      assert(r.getAs[Double]("mean_dwell_sec") <= 1800.0, s"e26: mean dwell over cutoff: $r")
    }
    // m10: classes partition the corpus; widescreen share is a subset
    val m10 = SparkEntry.queries("m10_resolution_profile")(spark, sf).collect()
    val corpusN = Tables.load(spark, sf, "documents").count()
    assert(m10.map(_.getAs[Long]("n_assets")).sum == corpusN,
      "m10: resolution classes do not partition the corpus")
    m10.foreach(r => assert(r.getAs[Long]("n_wide") <= r.getAs[Long]("n_assets")))
    // p22: shard arithmetic is exact and waste is bounded by one shard
    SparkEntry.queries("p22_pack_efficiency")(spark, sf).collect().foreach { r =>
      val (total, shards, waste) = (r.getAs[Long]("total_tokens"),
        r.getAs[Long]("n_shards"), r.getAs[Long]("waste_tokens"))
      assert(shards * 500 == total + waste && waste >= 0 && waste < 500,
        s"p22: shard arithmetic broken: $r")
      val fill = r.getAs[Double]("fill_rate")
      assert(fill > 0.0 && fill <= 1.0, s"p22: fill_rate out of range: $r")
    }
    // t23: both signals are rates in [0,1]
    SparkEntry.queries("t23_code_detect")(spark, sf).collect().foreach { r =>
      val (sym, kw) = (r.getAs[Double]("sym_ratio"), r.getAs[Double]("kw_rate"))
      assert(sym >= 0.0 && sym <= 1.0 && kw >= 0.0 && kw <= 1.0,
        s"t23: signal out of [0,1]: $r")
    }
  }

  test("round-6 operator invariants: d21/s19/p24/t26") {
    import spark.implicits._
    // d21: the Bloom filter is ONE-SIDED — an exact hit can never be
    // missed (no false negatives), per-doc Bloom hit counts dominate
    // exact counts, and the false_positive flag is exactly the
    // bloom-and-not-exact case. Non-vacuity: some exact hit must exist
    // at test SF or the whole calibration is untested.
    val d21 = SparkEntry.queries("d21_bloom_decontaminate")(spark, sf).collect()
    assert(d21.exists(_.getAs[Long]("n_exact_hits") > 0), "d21: exact probe vacuous at test SF")
    assert(d21.exists(_.getAs[Boolean]("false_positive")) ||
      d21.forall(r => r.getAs[Long]("n_bloom_hits") == r.getAs[Long]("n_exact_hits")),
      "d21: bloom counts diverge from exact without any FP flag")
    d21.foreach { r =>
      assert(r.getAs[Long]("n_bloom_hits") >= r.getAs[Long]("n_exact_hits"),
        s"d21: false negative (bloom < exact): $r")
      assert(r.getAs[Long]("n_exact_hits") == 0 || r.getAs[Boolean]("bloom_flagged"),
        s"d21: exact-contaminated doc not bloom-flagged: $r")
      assert(r.getAs[Boolean]("false_positive") ==
        (r.getAs[Long]("n_bloom_hits") > 0 && r.getAs[Long]("n_exact_hits") == 0),
        s"d21: false_positive flag inconsistent: $r")
    }
    // s19: every fused doc comes from at least one arm shortlist, the
    // score is the RRF of its ranks bit-for-bit, and a doc that leads
    // the vector arm agrees with s03's exact top-1 (shared item space,
    // same 4dp rounding).
    val s19 = SparkEntry.queries("s19_rrf_fusion")(spark, sf).collect()
    assert(s19.nonEmpty)
    s19.foreach { r =>
      val lex = Option(r.getAs[java.lang.Integer]("lex_rank")).map(_.toInt)
      val vec = Option(r.getAs[java.lang.Integer]("vec_rank")).map(_.toInt)
      assert(lex.nonEmpty || vec.nonEmpty, s"s19: fused doc in neither shortlist: $r")
      val want = math.rint((lex.map(r => 1.0 / (60 + r)).getOrElse(0.0) +
        vec.map(r => 1.0 / (60 + r)).getOrElse(0.0)) * 1e6) / 1e6
      assert(r.getAs[Double]("rrf_score") == want, s"s19: score != RRF of ranks: $r")
    }
    val s03top1 = SparkEntry.queries("s03_knn_join")(spark, sf).collect()
      .filter(_.getAs[Int]("rn") == 1)
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("vec_id")).toMap
    s19.filter(r => Option(r.getAs[java.lang.Integer]("vec_rank")).exists(_ == 1))
      .foreach { r =>
        val q = r.getAs[Long]("query_id")
        s03top1.get(q).foreach(v =>
          assert(r.getAs[Long]("doc_id") == v, s"s19: vec-arm top-1 disagrees with s03: $r"))
      }
    // p24: the two held-out splits cover exactly the non-train corpus
    // (p01's buckets), and leaked counts stay within their splits.
    val p24 = SparkEntry.queries("p24_split_leakage")(spark, sf).collect()
      .map(r => r.getAs[String]("split") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_leaked"))).toMap
    assert(p24.keySet == Set("validation", "test"), s"p24: unexpected splits: ${p24.keySet}")
    val splitCounts = SparkEntry.queries("p01_split_assign")(spark, sf)
      .groupBy($"split").count().collect()
      .map(r => r.getAs[String]("split") -> r.getAs[Long]("count")).toMap
    p24.foreach { case (split, (nDocs, nLeaked)) =>
      assert(nDocs == splitCounts(split), s"p24: $split size != p01's split size")
      assert(nLeaked >= 0 && nLeaked <= nDocs, s"p24: leaked outside [0, n_docs] for $split")
    }
    // t26: VMR is non-negative (Cauchy–Schwarz over the N-doc count
    // vector, zeros included), df never exceeds the corpus, and the
    // top-word mass agrees with an independent corpus count.
    val t26 = SparkEntry.queries("t26_word_burstiness")(spark, sf).collect()
    assert(t26.length == 10)
    val n = Tables.load(spark, sf, "documents").count()
    val freqs = Tables.load(spark, sf, "documents")
      .select(explode(tokens($"text")).as("w"))
      .groupBy($"w").count().collect()
      .map(r => r.getAs[String]("w") -> r.getAs[Long]("count")).toMap
    t26.foreach { r =>
      assert(r.getAs[Double]("vmr") >= 0.0, s"t26: negative VMR: $r")
      assert(r.getAs[Long]("df") <= n, s"t26: df beyond corpus: $r")
      assert(r.getAs[Long]("total_f") == freqs(r.getAs[String]("word")),
        s"t26: total_f disagrees with independent count: $r")
    }
  }

  test("round-6b operator invariants: d22/t27/m12/s20") {
    import spark.implicits._
    // d22: dup windows are bounded by windows, and duplication is
    // symmetric — a duplicated window lives in ≥2 docs, so dup mass
    // can never be concentrated in exactly one doc.
    val d22 = SparkEntry.queries("d22_substring_dupes")(spark, sf).collect()
    assert(d22.nonEmpty)
    d22.foreach { r =>
      assert(r.getAs[Long]("n_dup_windows") <= r.getAs[Long]("n_windows"), s"d22: $r")
      assert(r.getAs[Double]("dup_win_frac") >= 0.0 && r.getAs[Double]("dup_win_frac") <= 1.0)
    }
    val nDupDocs = d22.count(_.getAs[Long]("n_dup_windows") > 0)
    assert(nDupDocs != 1, "d22: exactly one doc carries dup windows — symmetry broken")
    // t27: the earliest document is 100% novel, novelty ∈ [0,1], and
    // total novel grams across docs = the corpus' distinct gram count
    // (every gram is novel exactly once).
    val t27 = SparkEntry.queries("t27_gram_novelty")(spark, sf).collect()
    val firstDoc = t27.map(_.getAs[Long]("doc_id")).min
    t27.foreach { r =>
      val nov = r.getAs[Double]("novelty")
      assert(nov >= 0.0 && nov <= 1.0, s"t27: novelty out of range: $r")
      if (r.getAs[Long]("doc_id") == firstDoc)
        assert(nov == 1.0, s"t27: first doc not fully novel: $r")
    }
    val distinctGrams = Tables.load(spark, sf, "documents")
      .select(explode(array_distinct(shingles(tokens($"text"), 3))).as("g"))
      .select(hash64($"g").as("h")).distinct().count()
    assert(t27.map(_.getAs[Long]("n_novel")).sum == distinctGrams,
      "t27: novel grams don't sum to the distinct gram count")
    // m12: hamming of a 60-bit signature is ≤ 60, mean ≤ max, and the
    // is_static flag is exactly the integer-algebra mean<10 test.
    SparkEntry.queries("m12_motion_profile")(spark, sf).collect().foreach { r =>
      val (nT, mean, mx) = (r.getAs[Long]("n_transitions"),
        r.getAs[Double]("mean_hamming"), r.getAs[Long]("max_hamming"))
      assert(mx <= 60 && mean <= mx + 1e-9, s"m12: hamming bounds broken: $r")
      assert(r.getAs[Boolean]("is_static") == (mean < 10.0) ||
        math.abs(mean - 10.0) < 1e-6, s"m12: is_static flag inconsistent: $r")
      assert(nT >= 1)
    }
    // s20: three DISTINCT picks per query, and pick 1 is the plain
    // relevance argmax — s03's exact top-1 on the shared query set.
    val s20 = SparkEntry.queries("s20_mmr_diversify")(spark, sf).collect()
    val byQuery = s20.groupBy(_.getAs[Long]("query_id"))
    byQuery.foreach { case (q, rows) =>
      assert(rows.length == 3, s"s20: query $q has ${rows.length} picks")
      assert(rows.map(_.getAs[Long]("vec_id")).distinct.length == 3,
        s"s20: repeated pick for query $q")
    }
    val s03top1 = SparkEntry.queries("s03_knn_join")(spark, sf).collect()
      .filter(_.getAs[Int]("rn") == 1)
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("vec_id")).toMap
    s20.filter(_.getAs[Int]("pick") == 1).foreach { r =>
      s03top1.get(r.getAs[Long]("query_id")).foreach(v =>
        assert(r.getAs[Long]("vec_id") == v,
          s"s20: pick 1 disagrees with s03 exact top-1: $r"))
    }
  }

  test("round-6c operator invariants: t28/e29/p25") {
    import spark.implicits._
    // t28: quartiles are ordered and docs partition the corpus
    val t28 = SparkEntry.queries("t28_length_profile")(spark, sf).collect()
    assert(t28.nonEmpty)
    t28.foreach { r =>
      val (mn, p25, p50, p75, mx) = (r.getAs[Long]("min_tokens").toDouble,
        r.getAs[Double]("p25_tokens"), r.getAs[Double]("p50_tokens"),
        r.getAs[Double]("p75_tokens"), r.getAs[Long]("max_tokens").toDouble)
      assert(mn <= p25 && p25 <= p50 && p50 <= p75 && p75 <= mx,
        s"t28: quartiles out of order: $r")
    }
    assert(t28.map(_.getAs[Long]("n_docs")).sum ==
      Tables.load(spark, sf, "documents").count(),
      "t28: sources do not partition the corpus")
    // e29: the triangle normalizes itself — offset 0 is always rate 1,
    // every rate ∈ (0, 1], cohort_size is the cohort's own offset-0 cell
    val e29 = SparkEntry.queries("e29_retention_rate")(spark, sf).collect()
    assert(e29.nonEmpty)
    e29.foreach { r =>
      val rate = r.getAs[Double]("retention")
      assert(rate > 0.0 && rate <= 1.0, s"e29: rate out of range: $r")
      if (r.getAs[Int]("offset_weeks") == 0)
        assert(rate == 1.0 &&
          r.getAs[Long]("n_active") == r.getAs[Long]("cohort_size"),
          s"e29: offset-0 cell not its own cohort size: $r")
    }
    // p25: shares sum to ~1, allocations to ~the 100k budget, and the
    // effective mass agrees with d17 (same dedup discount) per source
    val p25 = SparkEntry.queries("p25_dedup_budget")(spark, sf).collect()
    val shareSum = p25.map(_.getAs[Double]("temp_share")).sum
    assert(math.abs(shareSum - 1.0) < 1e-4, s"p25: shares sum to $shareSum")
    val allocSum = p25.map(_.getAs[Double]("alloc_tokens")).sum
    assert(math.abs(allocSum - 100000.0) < 10.0, s"p25: allocations sum to $allocSum")
    val d17eff = SparkEntry.queries("d17_soft_dedup_weight")(spark, sf).collect()
      .map(r => r.getAs[String]("source") ->
        r.getAs[Long]("effective_utokens") / 1000000L).toMap
    p25.foreach { r =>
      assert(r.getAs[Long]("effective_tokens") == d17eff(r.getAs[String]("source")),
        s"p25: effective mass disagrees with d17: $r")
    }
  }

  test("round-6d operator invariants: d23/e30") {
    import spark.implicits._
    // d23: one representative per component, drawn FROM the component,
    // with the PageRank floor 0.15 respected; the component set and the
    // per-cluster sizes agree with d08's converged labels.
    val d23 = SparkEntry.queries("d23_central_representative")(spark, sf).collect()
    assert(d23.nonEmpty)
    val compSizes = SparkEntry.queries("d08_dup_components")(spark, sf).collect()
      .groupBy(_.getAs[Long]("component"))
    assert(d23.map(_.getAs[Long]("component")).toSet == compSizes.keySet,
      "d23: component set diverges from d08")
    d23.foreach { r =>
      val comp = r.getAs[Long]("component")
      val members = compSizes(comp).map(_.getAs[Long]("doc_id")).toSet
      assert(members.contains(r.getAs[Long]("representative")),
        s"d23: representative outside its component: $r")
      assert(r.getAs[Long]("n_docs") == members.size,
        s"d23: cluster size disagrees with d08: $r")
      assert(r.getAs[Double]("rep_score") >= 0.15 - 1e-9,
        s"d23: PageRank below the damping floor: $r")
    }
    // e30: MAEs are non-negative, at most 24 hours scored per type, and
    // the winner flag is exactly the comparison of the two rounded MAEs
    val e30 = SparkEntry.queries("e30_seasonal_backtest")(spark, sf).collect()
    assert(e30.nonEmpty)
    e30.foreach { r =>
      val (ms, mp) = (r.getAs[Double]("mae_seasonal"), r.getAs[Double]("mae_persist"))
      assert(ms >= 0.0 && mp >= 0.0, s"e30: negative MAE: $r")
      assert(r.getAs[Long]("n_scored") <= 24, s"e30: more than 24 hours scored: $r")
      assert(r.getAs[Boolean]("seasonal_wins") == (ms < mp),
        s"e30: winner flag inconsistent: $r")
    }
  }

  test("MG law: candidates cover all phi-heavy words with bounded error, any merge tree") {
    // Misra–Gries guarantee (the contract t29's exactness rests on):
    // after ANY partitioning of the stream into per-task sketches merged
    // in ANY order, (1) every word with f(w) > n/(cap+1) is present, and
    // (2) every estimate underestimates by at most n/(cap+1). Exercised
    // on Zipf-skewed generated streams across random partition counts
    // and merge orders — including merge trees, not just left folds.
    val cap = 8
    (1 to 6).foreach { trial =>
      val rnd = new scala.util.Random(1000 + trial)
      // Zipf-ish: word w_i drawn with weight ~ 1/(i+1) over 40 types.
      val weights = (0 until 40).map(i => 1.0 / (i + 1))
      val cum = weights.scanLeft(0.0)(_ + _).tail
      val total = cum.last
      val n = 2000 + rnd.nextInt(3000)
      val stream = Seq.fill(n) {
        val x = rnd.nextDouble() * total
        s"w${cum.indexWhere(x <= _)}"
      }
      val freq = stream.groupBy(identity).map { case (w, xs) => w -> xs.size.toLong }
      val bound = n.toDouble / (cap + 1)

      // random partitioning into 1..9 chunks, sketched independently
      val nParts = 1 + rnd.nextInt(9)
      val chunks = rnd.shuffle(stream).grouped(math.max(1, n / nParts)).toList
      var sketches = chunks.map { c =>
        val s = new graft.functions.MGSketch(cap)
        c.foreach(s.add)
        s
      }
      // random binary merge tree: repeatedly merge two random sketches
      while (sketches.size > 1) {
        val i = rnd.nextInt(sketches.size)
        val j0 = rnd.nextInt(sketches.size - 1)
        val j = if (j0 >= i) j0 + 1 else j0
        val (a, b) = (sketches(i), sketches(j))
        b.counts.foreach { case (w, c) => a.addCount(w, c) }
        a.shrink()
        sketches = a :: sketches.zipWithIndex
          .filter { case (_, k) => k != i && k != j }.map(_._1)
      }
      val sk = sketches.head
      assert(sk.counts.size <= cap, s"trial $trial: sketch overflowed capacity")
      freq.foreach { case (w, f) =>
        if (f > bound)
          assert(sk.counts.contains(w),
            s"trial $trial: heavy word $w (f=$f > $bound) missing from sketch")
        val est = sk.counts.getOrElse(w, 0L)
        assert(est <= f, s"trial $trial: $w overestimated: est=$est f=$f")
        assert(f - est <= bound + 1e-9,
          s"trial $trial: $w error ${f - est} exceeds bound $bound")
      }
    }
  }

  test("q51 law: histogram rank-narrowing equals the sorted-rank reference on adversarial shapes") {
    // the oracle checks ONE distribution (lineitem prices); the law runs
    // the same algorithm with B=8 — forcing real multi-bucket narrowing
    // on tiny corpora — over the shapes that break naive bucketing:
    // heavy ties (one value dominates a bucket), all-equal (w=0
    // degenerate path), negatives, exponential skew (most buckets empty)
    val rnd = new scala.util.Random(42)
    val ps = Seq("0.25", "0.50", "0.75", "0.95")
    val shapes: Seq[(String, Seq[Double])] = Seq(
      "uniform" -> Seq.fill(2000)(rnd.nextDouble() * 100 - 50),
      "heavy-ties" -> Seq.fill(2000)(rnd.nextInt(5).toDouble),
      "all-equal" -> Seq.fill(500)(7.25),
      "exp-skew" -> Seq.fill(2000)(math.exp(rnd.nextDouble() * 12)),
      "two-clusters" -> (Seq.fill(999)(1.0) ++ Seq.fill(1001)(1e9)))
    shapes.foreach { case (name, vs) =>
      import spark.implicits._
      val got = graft.operators.Relational
        .exactQuantiles(vs.toDF("v"), ps, bucketsB = 8)
        .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
      val sorted = vs.sorted
      val want = ps.map { p =>
        val rk = (BigDecimal(p) * vs.size).setScale(0, BigDecimal.RoundingMode.CEILING).toInt
        p.toDouble -> sorted(rk - 1)
      }.toMap
      assert(got == want, s"shape $name: got $got want $want")
    }
    // grouped form (q53's path): all five shapes as DISTINCT groups of
    // one frame — per-group narrowing must reproduce each group's
    // sorted-rank reference independently
    import spark.implicits._
    val grouped = shapes.flatMap { case (name, vs) => vs.map(v => (name, v)) }
      .toDF("g", "v")
    val gotG = graft.operators.Relational
      .exactQuantilesBy(grouped, Seq("g"), ps, bucketsB = 8)
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    val wantG = shapes.flatMap { case (name, vs) =>
      val sorted = vs.sorted
      ps.map { p =>
        val rk = (BigDecimal(p) * vs.size).setScale(0, BigDecimal.RoundingMode.CEILING).toInt
        (name, p.toDouble) -> sorted(rk - 1)
      }
    }.toMap
    assert(gotG == wantG, s"grouped narrowing diverges: got $gotG want $wantG")
  }

  test("MP law: quantile-sketch rank estimates stay within the self-tracked bound, any merge tree") {
    // the contract q54's exact refine rests on: for EVERY value x,
    // |R̂(x) − R(x)| ≤ err, where R̂ sums the weights of summary items
    // ≤ x and err is the bound the sketch accumulated while compacting
    // — across value shapes, chunkings, and random merge orders. Also:
    // item weights must sum to n exactly (no mass lost), and the bound
    // must stay USEFUL (≪ n) at realistic k.
    val rnd = new scala.util.Random(7)
    (0 until 8).foreach { trial =>
      val n = 3000 + rnd.nextInt(5000)
      val k = Seq(16, 64, 256, 1024)(trial % 4)
      val data = Array.fill(n)(trial % 4 match {
        case 0 => rnd.nextDouble() * 1000
        case 1 => rnd.nextInt(10).toDouble // heavy ties
        case 2 => math.exp(rnd.nextDouble() * 10) // exponential skew
        case _ => rnd.nextGaussian() * 50
      })
      // random chunking, sketch each chunk, merge in random tree order
      val nChunks = 1 + rnd.nextInt(8)
      val chunks = data.grouped(math.max(1, n / nChunks)).toBuffer
      val sketches = chunks.map { c =>
        val s = new graft.functions.MPSketch(k)
        c.foreach(s.add)
        s
      }
      while (sketches.length > 1) {
        val i = rnd.nextInt(sketches.length)
        val a = sketches.remove(i)
        val j = rnd.nextInt(sketches.length)
        sketches(j).merge(a)
      }
      val sk = sketches.head
      assert(sk.n == n, s"trial $trial: n ${sk.n} != $n")
      val items = sk.items
      assert(items.map(_._2).sum == n, s"trial $trial: weights lost mass")
      val sorted = data.sorted
      val probes = Array.fill(25)(data(rnd.nextInt(n))) ++
        Seq(sorted.head - 1, sorted.last + 1, sorted(n / 2), sorted(n / 4))
      probes.foreach { x =>
        val rhat = items.iterator.filter(_._1 <= x).map(_._2).sum
        val r = sorted.count(_ <= x)
        assert(math.abs(rhat - r) <= sk.err,
          s"trial $trial k=$k: |R̂−R| = ${math.abs(rhat - r)} > err ${sk.err} at x=$x")
      }
      if (k >= 256) assert(sk.err < n / 4,
        s"trial $trial k=$k: bound ${sk.err} useless vs n=$n")
    }
  }

  test("CDC law: boundaries resynchronize after a front insertion; fixed frames never do") {
    // the property m13 exists for: content-defined cuts depend only on
    // the local 16-byte window, so prefixing ONE byte shifts every cut
    // position by one but keeps the SAME cut set beyond the window —
    // every chunk after the first surviving cut is byte-identical.
    // Fixed-size frames (m02's shape) all shift and share nothing.
    import graft.functions.CdcBoundsExpr
    val rnd = new scala.util.Random(11)
    (0 until 8).foreach { trial =>
      val payload = Array.fill(2000)((rnd.nextInt(256) - 128).toByte)
      val edited = 0x41.toByte +: payload
      def chunks(bs: Array[Byte]): Seq[Seq[Byte]] =
        CdcBoundsExpr.bounds(bs, 6, 1 << 20).toSeq
          .map { case (o, l) => bs.slice(o, o + l).toSeq }
      val (ca, cb) = (chunks(payload), chunks(edited))
      assert(ca.nonEmpty && ca.map(_.length).sum == 2000, s"trial $trial: cover broken")
      assert(cb.map(_.length).sum == 2001, s"trial $trial: edited cover broken")
      assert(ca.length >= 3, s"trial $trial: too few chunks (${ca.length}) — vacuous")
      // every chunk of the original except the FIRST must reappear
      // verbatim in the edited chunking (window hash at position i+1 of
      // the edited stream equals position i of the original for i ≥ 16,
      // so all original cuts ≥ 16 survive shifted)
      val bSet = cb.toSet
      ca.drop(1).foreach { c =>
        assert(bSet.contains(c), s"trial $trial: post-edit chunk lost (len ${c.length})")
      }
      // fixed 64-byte frames: the +1 shift misaligns every frame
      def frames(bs: Array[Byte]): Set[Seq[Byte]] =
        bs.grouped(64).map(_.toSeq).toSet
      val sharedFrames = frames(payload).intersect(frames(edited))
      assert(sharedFrames.size <= 1, // the ragged tail can coincide by luck
        s"trial $trial: fixed frames unexpectedly survived the shift: ${sharedFrames.size}")
    }
  }

  test("StatsManifest soundness law on generated data: pruned scan ≡ filter, dropped files hold no match") {
    import spark.implicits._
    import graft.sources.StatsManifest
    import graft.sources.StatsManifest._
    // adversarial value pool: nulls, negative/positive longs, empty and
    // over-cap and non-ASCII strings (truncation/capping must cost
    // pruning, never correctness; non-ASCII comparisons run in UTF-8
    // byte space — StatsManifestSpec pins that they also PRUNE)
    val strPool = Seq("", "aa", "mm", "zz", "z" * 80, "αβγδε", "m" * 70)
    val rowGen: Gen[(Long, Option[Long], String)] = for {
      id <- Gen.chooseNum(0L, 10000L)
      v <- Gen.option(Gen.chooseNum(-500L, 500L))
      s <- Gen.oneOf(strPool)
    } yield (id, v, s)
    val data = samples(rowGen, 2000)
    val tmp = java.nio.file.Files.createTempDirectory("graft_smprop")
    try {
      val dir = tmp.toString + "/t"
      data.toDF("id", "v", "s").repartition(16).write.parquet(dir)
      StatsManifest.build(spark, dir, Seq("id", "v", "s"))
      val full = spark.read.parquet(dir)
      val allFiles = StatsManifest.listDataFiles(dir)
      val predGen: Gen[Seq[StatPred]] = for {
        lo <- Gen.chooseNum(-600L, 600L)
        w <- Gen.chooseNum(0L, 400L)
        sv <- Gen.oneOf(strPool)
        idv <- Gen.chooseNum(0L, 10000L)
        ps <- Gen.someOf(Seq[StatPred](
          BetweenStat("v", lo, lo + w), EqStat("s", sv),
          GeStat("id", idv), LeStat("s", sv), IsNullStat("v")))
      } yield ps.toSeq
      val cases = samples(predGen, 24).filter(_.nonEmpty)
      assert(cases.size >= 15, "generator starved")
      for ((preds, i) <- cases.zipWithIndex) {
        val flt = preds.map(_.dataFilter).reduce(_ && _)
        // parity: skipping never changes an answer
        val got = StatsManifest.scan(spark, dir, preds)
          .orderBy($"id", $"v", $"s").collect().map(_.toString).toSeq
        val want = full.filter(flt)
          .orderBy($"id", $"v", $"s").collect().map(_.toString).toSeq
        assert(got == want, s"case $i parity: $preds")
        // soundness: every DROPPED file provably holds no matching row
        val (kept, total) = prunedFiles(spark, dir, manifestDirFor(dir), preds)
        val dropped = allFiles.filterNot(kept.toSet)
        assert(kept.size + dropped.size == total)
        if (dropped.nonEmpty) {
          val leaked = spark.read.parquet(dropped.map(f => s"$dir/$f"): _*)
            .filter(flt).count()
          assert(leaked == 0L, s"case $i: pruning dropped $leaked matching rows ($preds)")
        }
      }
    } finally {
      graft.FsUtil.deleteRecursively(tmp)
    }
  }
}
