package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dataflow.Flow
import graft.incremental.{Incremental, SetupDriver}
import graft.operators.{EmbedText, Entities, Parse, StubEmbedder, StubParserClient, TwoTier}
import graft.sinks.{ParquetConnector, TargetConnector}

/** The engine's core path: a seeded documents corpus goes through parse →
  * two-tier chunk → stub embed → mentions (the q62 chain, assembled with
  * `Flow`) and `Incremental.syncSourceTo` exports it into
  * `ParquetConnector`. Measured: one cold full build, one no-change
  * re-run, a closed loop of seeded ~1 % deltas (the step: mutate, add
  * and delete), one logic-fingerprint change and two from-scratch builds
  * of the final snapshot. `build_s` is the median of the three
  * from-scratch builds. */
object IngestSync extends Workload {
  val name = "ingest_sync"
  val Docs = 5000
  val DeltaShare = 0.01
  val MinDeltas = 4
  val EmbedDim = 16

  /** Document id → (version, ordinal); ids above the initial range are
    * documents the deltas added. */
  final class Snapshot(val seed: Long, n: Int) {
    val rows = mutable.LinkedHashMap.empty[Long, (Int, Long)]
    (0 until n).foreach(i => rows(i.toLong) = (0, 1L))
    var nextId: Long = n.toLong
    val idSpace: Long = n.toLong

    /** Applies delta `k`; returns the number of added and changed keys. */
    def mutate(k: Int): Int = {
      val r = Corpus.rng(seed, k.toLong, 7)
      val m = math.max(3, math.round(rows.size * DeltaShare).toInt)
      val keys = rows.keys.toVector
      val picked = mutable.LinkedHashSet.empty[Long]
      val nChange = m * 3 / 5
      val nDelete = m / 5
      while (picked.size < nChange + nDelete) picked += keys(r.nextInt(keys.size))
      val (change, delete) = picked.toVector.splitAt(nChange)
      change.foreach { id => val (v, o) = rows(id); rows(id) = (v + 1, o + 1) }
      delete.foreach(rows.remove)
      val nAdd = m - nChange - nDelete
      (0 until nAdd).foreach { _ => rows(nextId) = (0, 1L); nextId += 1 }
      nChange + nAdd
    }

    def write(spark: SparkSession, path: String): Unit = {
      import spark.implicits._
      rows.toSeq.map { case (id, (v, o)) =>
        (id, o, Corpus.docText(seed, id, v, idSpace))
      }.toDF("doc_id", "ordinal", "text")
        .repartition(1).write.mode("overwrite").parquet(path)
    }
  }

  /** The keyed source: (source_key, ordinal, content_hash, payload). */
  def source(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).select(
      col("doc_id").cast("string").as("source_key"), col("ordinal"),
      md5(col("text")).as("content_hash"), col("doc_id"), col("text"))

  /** The process chain: one row per child chunk, keyed by chunk id. */
  def process(delta: DataFrame): DataFrame = {
    val spark = delta.sparkSession
    val parsed = Parse.parse(
      delta.select(col("doc_id"),
        concat(lit("doc_"), col("doc_id"), lit(".pdf")).as("name"),
        concat(lit("s3://corpus/"), col("doc_id")).as("url"),
        col("text").as("content"),
        lit(Parse.TierBalanced).as("tier")),
      "doc_id", "name", "url", "content", "tier", () => StubParserClient())
    val docs = parsed.select(col("id").as("doc_id"), col("parsed_text").as("text"),
      col("id").cast("string").as("source_key"))
    val chunks = TwoTier.chunk(docs, "doc_id", "text", 100, 20, 25,
        carryCols = Seq("source_key"))
      .withColumn("_eid", xxhash64(col("chunk_id")))
    val embedded = EmbedText.embed(chunks, "_eid", "chunk_text",
        () => StubEmbedder(EmbedDim))
      .withColumnRenamed("id", "_eid")
    // every token is a mention (maxDf unbounded), so a document's count
    // does not depend on which other documents share its batch
    val mentions = Entities.extractMentions(docs, "doc_id", "text", Int.MaxValue)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_mentions"))
    val flow = Flow(spark)
    flow.importSource(chunks.join(embedded, Seq("_eid"))
        .join(mentions, Seq("doc_id"), "left"), "chunk_id")
      .transform("target_key", col("chunk_id"))
      .collect("chunks", Seq(
        "source_key" -> col("source_key"), "target_key" -> col("target_key"),
        "doc_id" -> col("doc_id"), "page_index" -> col("page_index"),
        "child_index" -> col("child_index"), "chunk_text" -> col("chunk_text"),
        "n_tokens" -> col("n_tokens"), "embedding" -> col("embedding"),
        "n_mentions" -> coalesce(col("n_mentions"), lit(0L))))
    flow.collector("chunks")
  }

  /** Per-sync counts the delegating connector gathers. */
  final class SinkCounts {
    var upserted = 0L
    var deleted = 0L
    var written = 0L
  }

  /** Delegating connector of the traced run: closes the pre-sink span,
    * counts the already-cached `rows` (running the process chain), then
    * delegates the mutation and opens the commit span. */
  final class TracedConnector(inner: TargetConnector, tracer: Tracer,
      group: () => String, counts: SinkCounts) extends TargetConnector {
    def kind: String = inner.kind
    def applySetup(spark: SparkSession, target: String,
        desired: org.apache.spark.sql.types.StructType,
        allowRecreate: Boolean): SetupDriver.SetupResult =
      inner.applySetup(spark, target, desired, allowRecreate)
    def read(spark: SparkSession, target: String): Option[DataFrame] =
      inner.read(spark, target)
    def applyMutation(spark: SparkSession, target: String, rows: DataFrame,
        primaryKey: Seq[String], deletes: Option[DataFrame]): Unit = {
      tracer.end()
      val g = group()
      val up = tracer.span("operators.process", g)(rows.count())
      val del = tracer.overhead(deletes.map(_.count()).getOrElse(0L))
      tracer.span("sinks.apply_mutation", g)(
        inner.applyMutation(spark, target, rows, primaryKey, deletes))
      tracer.samples.lastOption.foreach(x => counts.written += x.writtenRows)
      counts.upserted += up
      counts.deleted += del
      tracer.begin("incremental.commit", g)
    }
  }

  /** Order-independent hash and size of a frame. */
  def rowHash(df: DataFrame): (BigDecimal, Long) = {
    val r = df.select(xxhash64(df.columns.sorted.map(c => col(s"`$c`")): _*).as("_h"))
      .agg(sum(col("_h").cast("decimal(38,0)")), count(lit(1))).head()
    (BigDecimal(Option(r.getDecimal(0)).getOrElse(java.math.BigDecimal.ZERO)), r.getLong(1))
  }

  def trackingHash(spark: SparkSession, path: String): (BigDecimal, Long) =
    rowHash(spark.read.parquet(path)
      .withColumn("target_keys", array_sort(col("target_keys"))))

  def setup(spark: SparkSession, dir: String, seed: Long): Unit =
    new Snapshot(seed, Docs).write(spark, s"$dir/src-0")

  def run(ctx: Ctx): Measured = {
    val spark = ctx.spark
    val dir = ctx.dir
    val snap = new Snapshot(ctx.seed, Docs)
    val sink = s"$dir/sink"
    val tracking = s"$dir/tracking"
    var group = "cold"
    val counts = new SinkCounts
    val connector: TargetConnector = ctx.tracer.fold[TargetConnector](ParquetConnector)(
      t => new TracedConnector(ParquetConnector, t, () => group, counts))
    var evaluated = 0L
    var deltaEvaluated = 0L
    var deltaChanged = 0L
    // per sync: group -> (wall ms, tracing overhead ms inside it)
    val syncWall = mutable.LinkedHashMap.empty[String, (Double, Double)]

    def sync(src: String, fp: String): (Long, Double) = {
      val df = source(spark, src)
      val over0 = ctx.tracer.fold(0.0)(_.overheadMs)
      ctx.tracer.foreach(_.begin("incremental.pre_sink", group))
      val (n, ms) = ctx.timed(s"sync $group")(Incremental.syncSourceTo(spark, df, process, fp,
        connector, sink, tracking))
      ctx.tracer.foreach(_.end())
      syncWall(group) = (ms, ctx.tracer.fold(0.0)(_.overheadMs) - over0)
      evaluated += n
      (n, ms)
    }

    // 1. cold full build of the snapshot the set-up generated
    val (nCold, coldMs) = sync(s"$dir/src-0", "v1")
    ctx.check("cold build evaluates every document")(nCold == snap.rows.size)
    ctx.measureRetainedHeap()
    // 2. no-change re-run
    group = "nochange"
    val (nSame, sameMs) = sync(s"$dir/src-0", "v1")
    ctx.check("no-change run evaluates 0 rows")(nSame == 0)
    // 3. closed loop of ~1 % deltas for --seconds, at least MinDeltas
    val deltaMs = mutable.ArrayBuffer.empty[Double]
    val writtenBefore = counts.written
    val upBefore = (counts.upserted, counts.deleted)
    var k = 0
    val loopStart = ctx.elapsedS
    def more: Boolean = ctx.steps match {
      case Some(n) => k < n
      case None => k < MinDeltas ||
        ctx.elapsedS - loopStart + deltaMs.last / 1000 < ctx.seconds
    }
    while (more) {
      k += 1
      group = s"delta-$k"
      val changed = snap.mutate(k)
      val src = s"$dir/src-$k"
      snap.write(spark, src)
      val (n, ms) = sync(src, "v1")
      ctx.check(s"delta $k evaluates exactly the changed keys")(n == changed)
      deltaMs += ms
      deltaEvaluated += n
      deltaChanged += changed
      if (k > 1) deleteTree(s"$dir/src-${k - 1}")
    }
    val deltaWritten = counts.written - writtenBefore
    val deltaTouched = counts.upserted - upBefore._1 + counts.deleted - upBefore._2
    // 4. one logic-fingerprint change
    group = "fp_change"
    val last = s"$dir/src-$k"
    val (nFp, fpMs) = sync(last, "v2")
    ctx.check("fingerprint change re-evaluates every document")(nFp == snap.rows.size)

    // two from-scratch builds of the final snapshot; the final sink and
    // tracking must equal them
    ctx.tracer.foreach(_.close())
    val rebuildMs = (1 to 2).map { b =>
      ctx.timed(s"sync rebuild-$b")(Incremental.syncSourceTo(spark, source(spark, last),
        process, "v2", ParquetConnector, s"$dir/fresh-sink-$b", s"$dir/fresh-tracking-$b"))._2
    }
    ctx.check("sink equals a cold build of the final snapshot")(
      rowHash(spark.read.parquet(sink)) == rowHash(spark.read.parquet(s"$dir/fresh-sink-1")))
    ctx.check("tracking equals a cold build of the final snapshot")(
      trackingHash(spark, tracking) == trackingHash(spark, s"$dir/fresh-tracking-1"))

    ctx.detail("cold_build_s") = (coldMs / 1000, "s")
    ctx.detail("rebuild_s") = (Stats.median(rebuildMs) / 1000, "s")
    ctx.detail("nochange_sync_s") = (sameMs / 1000, "s")
    ctx.detail("delta_sync_p50_s") = (Stats.median(deltaMs.toSeq) / 1000, "s")
    ctx.detail("delta_sync_tail_s") = (Stats.tail(deltaMs.toSeq) / 1000, "s")
    ctx.detail("fp_change_s") = (fpMs / 1000, "s")
    ctx.detail("corpus_docs") = (Docs.toDouble, "docs")
    ctx.detail("delta_keys") = (deltaChanged.toDouble / math.max(k, 1), "keys")
    ctx.counts("incremental.evaluated_rows") = evaluated.toDouble
    ctx.counts("incremental.useful_ratio") = deltaEvaluated.toDouble / math.max(deltaChanged, 1L)
    ctx.tracer.foreach { t =>
      ctx.counts("incremental.tracking_rows_written") =
        t.samples.filter(_.name == "incremental.commit").map(_.writtenRows).sum.toDouble
      ctx.counts("sinks.rows_upserted") = counts.upserted.toDouble
      ctx.counts("sinks.rows_deleted") = counts.deleted.toDouble
      ctx.counts("sinks.rows_written") = counts.written.toDouble
      ctx.counts("sinks.write_amplification") =
        deltaWritten.toDouble / math.max(deltaTouched, 1L)
      // within each sync the spans account for its wall time up to the
      // tracing overhead spent inside that sync
      ctx.record("syncs") = syncWall.toSeq.map { case (g, (wall, over)) =>
        val ss = t.samples.filter(_.group == g)
        Map("group" -> g, "sync_wall_ms" -> wall, "overhead_ms" -> over,
          "span_wall_ms" -> ss.map(_.wallMs).sum,
          "unaccounted_ms" -> (wall - over - ss.map(_.wallMs).sum),
          "spans" -> ss.map(s => s.name -> s.wallMs).toMap)
      }
    }
    Measured(Stats.median(coldMs +: rebuildMs) / 1000, deltaMs.toSeq)
  }

  private def deleteTree(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
  }
}
