package perfbench

import scala.jdk.CollectionConverters._

import graft.operators.MergeOps
import graft.sources.{CorpusLayout, PartitionedLayout, StatsManifest, ZOrderLayout}
import graft.streaming.StreamingMerge
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Helpers shared by the chain workloads. */
object Chains {
  val ChangeSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType), StructField("tombstone", BooleanType)))

  /** The op's `rows` ([doc_id, text, lang, source, n_chars, tombstone])
    * as a changeset frame. */
  def changes(ctx: Ctx, op: Op): DataFrame = {
    val rows = op.node.get("rows").elements().asScala.map { r =>
      def s(i: Int) = if (r.get(i).isNull) null else r.get(i).asText
      Row(r.get(0).asLong, s(1), s(2), s(3),
        if (r.get(4).isNull) null else r.get(4).asLong, r.get(5).asBoolean)
    }.toSeq
    ctx.spark.createDataFrame(rows.asJava, ChangeSchema)
  }

  def create(ctx: Ctx, corpus: String, partitioned: Boolean): String =
    ctx.tracer.span("sources.materialize", -1) {
      ctx.spark.sql(
        s"""CREATE TABLE documents IN CORPUS '$corpus' INTO 16 BUCKETS
           |${if (partitioned) "PARTITIONED BY source" else ""}
           |AS SELECT doc_id, text, lang, source, CAST(n_chars AS BIGINT) AS n_chars
           |FROM parquet.`${ctx.dataDir}/documents.parquet`""".stripMargin)
        .head().getString(0)
    }

  /** DESCRIBE HISTORY rows of a chain table. */
  def history(ctx: Ctx, table: String): Seq[Row] =
    ctx.spark.sql(s"DESCRIBE HISTORY $table").collect().toSeq

  /** Generations, unique-inode bytes over all of them, and the served
    * generation's bytes, from the chain's own history listing. */
  def footprint(ctx: Ctx, table: String): Map[String, Any] = {
    val h = history(ctx, table)
    val files = h.flatMap(r => FsWalk.snapshot(r.getString(1)).values)
    Map("generations" -> h.size,
      "unique_bytes" -> FsWalk.uniqueBytes(files),
      "tip_bytes" -> h.filter(_.getBoolean(5)).map(_.getLong(4)).sum)
  }

  /** Trace-only: data files the op wrote vs hard-linked under `root`. */
  def fsDiff(ctx: Ctx, root: String)(body: => OpOut): OpOut =
    if (!ctx.tracer.enabled) body
    else {
      val before = FsWalk.snapshot(root)
      val out = body
      val (w, l, b) = FsWalk.diff(before, FsWalk.snapshot(root))
      ctx.tracer.add("sources.files_written", w)
      ctx.tracer.add("sources.files_linked", l)
      ctx.tracer.add("sources.bytes_written_mb", b / 1e6)
      out
    }
}

/** Writes against a flat and a partitioned generation chain. */
final class DmlSession extends Workload {
  /** the chain files as the first timed op found them */
  private var before: Map[String, FsWalk.Entry] = null

  private def layout(ctx: Ctx) = s"${ctx.workDir}/layout"

  def setup(ctx: Ctx): Unit = {
    ctx.spark.conf.set(CorpusLayout.ConfKey, layout(ctx))
    val flat = s"${ctx.workDir}/flat"
    val part = s"${ctx.workDir}/part"
    ctx.names("F") = Chains.create(ctx, flat, partitioned = false)
    ctx.names("P") = Chains.create(ctx, part, partitioned = true)
    ctx.names("Fdir") = flat
    ctx.names("Pdir") = part
  }

  def run(ctx: Ctx, op: Op): OpOut = {
    val chain = op.str("chain")
    op.kind match {
      case "sql" =>
        // a DML statement runs its whole apply when the command executes
        val layer = Option(op.str("layer")).getOrElse("operators.sql_dml")
        ctx.phases(ctx.tracer.span(layer, op.id)(ctx.sql(op.str("sql"))), op.id)
        OpOut()
      case "apply" =>
        val dir = ctx.names(s"${chain}dir")
        ctx.tracer.span("operators.apply", op.id) {
          val cs = Chains.changes(ctx, op)
          if (chain == "P") PartitionedLayout.applyToLayout(ctx.spark, dir, cs)
          else MergeOps.applyToLayout(ctx.spark, dir, cs)
        }
        OpOut()
      case "stream" =>
        val applied = ctx.tracer.span("streaming.batch", op.id) {
          StreamingMerge.applyBatch(Chains.changes(ctx, op),
            op.int("batch"), ctx.names("Fdir"))
        }
        ctx.tracer.add("streaming.delivered", 1)
        ctx.tracer.add("streaming.applied", if (applied) 1 else 0)
        OpOut(extra = Map("applied" -> applied))
    }
  }

  override def around(ctx: Ctx, op: Op)(body: => OpOut): OpOut = {
    if (before == null) before = FsWalk.snapshot(layout(ctx))
    Chains.fsDiff(ctx, layout(ctx))(body)
  }

  override def finish(ctx: Ctx): Map[String, Any] = {
    val after = FsWalk.snapshot(layout(ctx))
    val oldInodes = before.values.map(_.inode).toSet
    val newBytes = FsWalk.uniqueBytes(after.filter { case (k, e) =>
      !before.contains(k) && !oldInodes.contains(e.inode)
    }.values)
    val tips = Seq("F", "P").map { c =>
      val out = s"${ctx.workDir}/tips/$c"
      ctx.spark.table(ctx.names(c)).coalesce(1).write.parquet(out)
      c -> (Chains.footprint(ctx, ctx.names(c)) + ("dump" -> out))
    }.toMap
    Map("new_inode_bytes" -> newBytes, "chains" -> tips)
  }
}

/** Reads against a chain with copy-on-write and deletion-vector
  * generations, a tag, a change feed and a z-ordered stats manifest. */
final class ServeRead extends Workload {
  def setup(ctx: Ctx): Unit = {
    val s = ctx.spark
    s.conf.set(CorpusLayout.ConfKey, s"${ctx.workDir}/layout")
    s.conf.set(MergeOps.ChangeFeedKey, "true")
    val dir = s"${ctx.workDir}/flat"
    val t = Chains.create(ctx, dir, partitioned = false)
    ctx.names("T") = t
    ctx.names("PT") = Chains.create(ctx, s"${ctx.workDir}/part",
      partitioned = true)
    val edits = ctx.cfg.get("setup_edits").elements().asScala.toSeq
    edits.foreach { e =>
      s.conf.set(MergeOps.MergeModeKey, e.get("mode").asText)
      MergeOps.applyToLayout(s, dir, Chains.changes(ctx, Op(e)))
    }
    s.conf.set(MergeOps.MergeModeKey, "cow")
    val tag = ctx.cfg.get("tag")
    s.sql(s"ALTER TABLE $t CREATE TAG ${tag.get("name").asText} " +
      s"AS OF VERSION ${tag.get("version").asInt}")
    val z = s"${ctx.workDir}/zdocs"
    ZOrderLayout.write(s.table(t).select("doc_id", "lang", "source", "n_chars"),
      Seq("n_chars", "doc_id"), z, numFiles = 16)
    StatsManifest.build(s, z, Seq("doc_id", "n_chars", "source"))
    ctx.names("Z") = z
    // TIMESTAMP AS OF targets: each generation's own commit time
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS").withZone(java.time.ZoneOffset.UTC)
    val hist = Chains.history(ctx, t)
    hist.foreach { r =>
      ctx.names(s"TS${r.getInt(0)}") =
        fmt.format(r.getTimestamp(2).toInstant)
    }
  }

  def run(ctx: Ctx, op: Op): OpOut = op.kind match {
    case "sql" =>
      ctx.collect(ctx.sql(op.str("sql")), op.id)
    case "stats_scan" =>
      val df = ctx.tracer.span("sources.stats_scan", op.id) {
        StatsManifest.scan(ctx.spark, ctx.names("Z"), Seq(
          StatsManifest.BetweenStat("n_chars", op.int("lo"), op.int("hi"))))
          .select("doc_id", "n_chars")
      }
      ctx.collect(df, op.id)
  }

  override def finish(ctx: Ctx): Map[String, Any] =
    Map("chains" -> Map("T" -> Chains.footprint(ctx, ctx.names("T")),
      "PT" -> Chains.footprint(ctx, ctx.names("PT"))))
}

/** A fixed basket of engine queries over stores built once. */
final class BatchPipeline extends Workload {
  private val packOf = Map('q' -> "relational", 't' -> "textops",
    'd' -> "dedup", 's' -> "similarity", 'e' -> "eventops",
    'm' -> "multimodal", 'p' -> "pipeline", 'r' -> "registry")

  def setup(ctx: Ctx): Unit = {
    val s = ctx.spark
    val base = s"${ctx.workDir}/stores"
    s.conf.set(graft.operators.SignatureStore.ConfKey, base)
    s.conf.set(CorpusLayout.ConfKey, base)
    // the 16-permutation family reproduces the inline pipeline, and so
    // the DuckDB oracle, exactly; the default one-permutation family is
    // a different Jaccard estimator whose answers no oracle pins
    s.conf.set(graft.operators.SignatureStore.FamilyKey, "perm16")
    ctx.tracer.span("operators.sigstore_build", -1) {
      graft.operators.SignatureStore.materialize(s, ctx.dataDir)
    }
    ctx.tracer.span("sources.materialize", -1) {
      CorpusLayout.materialize(s, ctx.dataDir)
    }
    release(ctx)
  }

  private def release(ctx: Ctx): Unit = {
    ctx.spark.catalog.clearCache()
    graft.operators.Dedup.releaseSignatures()
    graft.operators.Relational.releaseCaches()
    graft.FsUtil.sweep()
  }

  private lazy val queries = graft.SparkEntry.queries

  def run(ctx: Ctx, op: Op): OpOut = op.kind match {
    case "query" =>
      val name = op.str("name")
      val layer = if (name.head == 'r') "registry.dispatch"
        else s"operators.${packOf(name.head)}"
      val out = ctx.tracer.span(layer, op.id) {
        ctx.collect(queries(name)(ctx.spark, ctx.dataDir), op.id)
      }
      release(ctx)
      out
  }

  override def finish(ctx: Ctx): Map[String, Any] = {
    val names = ctx.cfg.get("ops").elements().asScala
      .filter(_.get("kind").asText == "query").map(_.get("name").asText).toSet
    val oracle = graft.SparkEntry.oracleSql
    Map("oracle" -> names.toSeq.sorted.map(n => n -> oracle.getOrElse(n, null)).toMap)
  }
}
