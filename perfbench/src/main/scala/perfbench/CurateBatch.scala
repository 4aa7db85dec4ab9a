package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The compute- and shuffle-bound training-data path over a seeded
  * corpus: `SparkEntry.prepareArtifacts` (`build_s`), then repeated
  * sequential passes over six curation cells (the step is one pass).
  * Every pass must reproduce the first pass's output hashes; the DuckDB
  * twins of the cells are replayed on a small corpus of the same seed,
  * where they run in seconds. */
object CurateBatch extends Workload {
  val name = "curate_batch"
  val Docs = 5000
  val Vecs = 2000
  /** Size of the corpus the DuckDB twins replay. */
  val CheckDocs = 200
  val CheckVecs = 100
  val MinPasses = 1

  def setup(spark: SparkSession, dir: String, seed: Long): Unit =
    Corpus.writeTables(spark, dir, seed, Docs, Vecs)

  def run(ctx: Ctx): Measured = {
    val spark = ctx.spark
    val dir = ctx.dir
    val (_, artifactsMs) = ctx.timed("artifacts")(
      ctx.span("artifacts.prepare", "build")(SparkEntry.prepareArtifacts(spark, dir)))
    ctx.measureRetainedHeap()

    val passMs = mutable.ArrayBuffer.empty[Double]
    val cellMs = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]](
      Catalogue.Cells.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    val first = mutable.Map.empty[String, (BigDecimal, Long)]
    val loopStart = ctx.elapsedS
    def more: Boolean = ctx.steps match {
      case Some(n) => passMs.size < n
      case None => passMs.size < MinPasses ||
        ctx.elapsedS - loopStart + passMs.last / 1000 < ctx.seconds
    }
    while (more) {
      val pass = passMs.size + 1
      passMs += Catalogue.Cells.map { c =>
        val (h, ms) = ctx.timed(c)(ctx.span(s"curate.$c", s"pass-$pass")(
          IngestSync.rowHash(SparkEntry.queries(c)(spark, dir))))
        if (pass == 1) first(c) = h
        else ctx.check(s"$c pass $pass reproduces pass 1")(h == first(c))
        cellMs(c) += ms
        ms
      }.sum
    }

    // outputs on a small corpus of the same seed for the DuckDB twin checks
    val small = s"$dir/check"
    Corpus.writeTables(spark, small, ctx.seed + 1, CheckDocs, CheckVecs)
    Catalogue.Cells.foreach { c =>
      val out = s"$dir/out/$c"
      SparkEntry.queries(c)(spark, small).write.mode("overwrite").parquet(out)
      ctx.oracle += Map("cell" -> c, "path" -> out, "tables" -> small,
        "sql" -> SparkEntry.oracleSql(c))
    }

    ctx.detail("artifacts_s") = (artifactsMs / 1000, "s")
    ctx.detail("curate_s") = (Stats.median(passMs.toSeq) / 1000, "s")
    ctx.detail("corpus_docs") = (Docs.toDouble, "docs")
    cellMs.foreach { case (c, ms) => ctx.detail(s"$c.p50_ms") = (Stats.median(ms.toSeq), "ms") }
    Measured(artifactsMs / 1000, passMs.toSeq)
  }
}
