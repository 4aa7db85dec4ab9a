package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Shared state of one benchmark run. */
final class Ctx(val spark: SparkSession, val dir: String, val seed: Long,
    val seconds: Double, val tracer: Option[Tracer], val steps: Option[Int]) {
  private val t0 = System.nanoTime()
  var retainedHeapMb = Double.NaN

  /** Heap in use after full collections, taken right after the build:
    * what the workload keeps resident (indexes, memoized artifacts). */
  def measureRetainedHeap(): Unit = {
    org.apache.spark.PerfbenchBus.awaitUnpersisted(spark.sparkContext)
    // collections a short while apart let the context cleaner drop the
    // blocks of unreachable broadcasts; the least reading is what stays
    retainedHeapMb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** Workload figures beyond the end-to-end set, by name and unit. */
  val detail = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Per-layer counts (the spans come from the tracer). */
  val counts = mutable.LinkedHashMap.empty[String, Double]
  /** Extra sections of the traced-run record. */
  val record = mutable.LinkedHashMap.empty[String, Any]
  /** Outputs for the DuckDB twin checks the runner script performs. */
  val oracle = mutable.ArrayBuffer.empty[Map[String, Any]]

  def elapsedS: Double = (System.nanoTime() - t0) / 1e9

  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val passed = try ok catch {
      case e: Exception =>
        System.err.println(s"check $what threw: $e"); false
    }
    if (!passed) { failed += 1; failures += what; System.err.println(s"CHECK FAILED: $what") }
  }

  /** Times `body` in milliseconds; counts it as one operation. */
  def timed[T](what: String)(body: => T): (T, Double) = {
    attempted += 1
    val s = System.nanoTime()
    val out = body
    val ms = (System.nanoTime() - s) / 1e6
    Main.log(f"$what%-40s $ms%10.1f ms")
    (out, ms)
  }

  def span[T](name: String, group: String)(body: => T): T =
    tracer.fold(body)(_.span(name, group)(body))
}

/** What a workload's measured phase produced. */
final case class Measured(buildS: Double, stepMs: Seq[Double])

trait Workload {
  def name: String
  /** Generates the seeded corpus under `dir`. */
  def setup(spark: SparkSession, dir: String, seed: Long): Unit
  /** The measured phase: the from-scratch build, then the closed loop. */
  def run(ctx: Ctx): Measured
}

/** Entry point. Usage:
  * `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *  --work <dir> [--steps <n>] [--record <file>]`, or `--list-metrics`. */
object Main {
  val Workloads: Seq[Workload] = Seq(IngestSync, SearchMix, CurateBatch)
  val SetupRepeats = 3
  /** Fixed step counts of a traced run, so its totals compare across runs. */
  val TracedSteps: Map[String, Int] =
    Map("ingest_sync" -> 8, "search_mix" -> 60, "curate_batch" -> 1)

  def main(args: Array[String]): Unit = {
    if (args.contains("--list-metrics")) { println(Catalogue.json); return }
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = Workloads.find(_.name == opts("workload")).getOrElse(
      sys.error(s"unknown workload ${opts("workload")}; one of ${Workloads.map(_.name).mkString(", ")}"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = opts("work")
    val steps = opts.get("steps").map(_.toInt)
      .orElse(if (trace) TracedSteps.get(wl.name) else None)
    val cores = Runtime.getRuntime.availableProcessors()

    // set-up: session start, corpus generation and a session warm-up,
    // three times for a steady median; the measured phase runs on the
    // last session. The workload's own operators are not warmed, so every
    // run measures them from the same cold start.
    var spark: SparkSession = null
    var dir = ""
    val setupS = (0 until SetupRepeats).map { rep =>
      if (spark != null) stop(spark)
      val t = System.nanoTime()
      spark = session(cores, work)
      dir = s"$work/corpus-$rep"
      wl.setup(spark, dir, seed)
      warmUp(spark, dir)
      log(s"set-up ${rep + 1} done")
      (System.nanoTime() - t) / 1e9
    }

    val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
      .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    oldGen.foreach(_.resetPeakUsage())
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val ctx = new Ctx(spark, dir, seed, seconds, tracer, steps)
    val measured = try wl.run(ctx) catch {
      case e: Exception =>
        e.printStackTrace()
        tracer.foreach(_.abandon())
        ctx.failed += 1
        ctx.attempted += 1
        ctx.failures += s"run threw ${e.getClass.getSimpleName}"
        Measured(Double.NaN, Nil)
    }
    log("measured phase done")
    ctx.detail("measured_s") = (ctx.elapsedS, "s")
    val peakMb = oldGen.map(_.getPeakUsage.getUsed / 1048576.0).getOrElse(Double.NaN)
    tracer.foreach(_.close())

    val e2e: Map[String, Double] = Map(
      "setup_s" -> Stats.median(setupS),
      "build_s" -> measured.buildS,
      "step_p50_ms" -> (if (measured.stepMs.isEmpty) Double.NaN else Stats.median(measured.stepMs)),
      "step_tail_ms" -> (if (measured.stepMs.isEmpty) Double.NaN else Stats.tail(measured.stepMs)))
    setupS.zipWithIndex.foreach { case (t, i) => ctx.detail(s"setup_${i + 1}_s") = (t, "s") }
    ctx.detail("old_gen_peak_mb") = (peakMb, "MB")
    ctx.detail("heap_retained_mb") = (ctx.retainedHeapMb, "MB")
    ctx.detail("steps") = (measured.stepMs.size.toDouble, "count")
    ctx.detail("step_tail_percentile") =
      (Stats.tailPercentile(measured.stepMs.size), "%")

    println(s"# workload ${wl.name} seed $seed cores $cores trace ${if (trace) 1 else 0}")
    Catalogue.EndToEnd.foreach { case (n, u) => println(f"metric $n%-22s ${e2e(n)}%14.4f $u") }
    ctx.detail.foreach { case (n, (v, u)) => println(f"detail $n%-22s $v%14.4f $u") }

    val metrics: Seq[(String, Double, String)] = tracer match {
      case None => Catalogue.EndToEnd.map { case (n, u) => (n, e2e(n), u) }
      case Some(t) =>
        ctx.counts("trace.overhead_ms") = t.overheadMs
        val bySpan = t.samples.toSeq.groupBy(_.name)
        Catalogue.Spans.flatMap { case (span, fields) =>
          fields.map { case (f, u) =>
            (s"$span.$f", Tracer.total(bySpan.getOrElse(span, Nil), f), u)
          }
        } ++ Catalogue.Counts.map { case (n, u) => (n, ctx.counts.getOrElse(n, 0.0), u) }
    }
    tracer.foreach { t =>
      val rec = mutable.LinkedHashMap[String, Any](
        "workload" -> wl.name, "seed" -> seed, "cores" -> cores,
        "steps" -> steps.getOrElse(0),
        "end_to_end" -> Catalogue.EndToEnd.map { case (n, u) => n -> Map("value" -> e2e(n), "unit" -> u) }.toMap,
        "detail" -> ctx.detail.map { case (n, (v, u)) => n -> Map("value" -> v, "unit" -> u) },
        "per_layer" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap,
        "spans" -> t.samples.map(Tracer.sampleJson))
      rec ++= ctx.record
      val out = opts.getOrElse("record", s"$work/trace.json")
      Files.createDirectories(Paths.get(out).toAbsolutePath.getParent)
      Files.writeString(Paths.get(out), Stats.json(rec) + "\n")
      println(s"# trace record written to $out")
    }
    stop(spark)

    val complete = metrics.forall { case (_, v, _) => !v.isNaN }
    val result = Map(
      "correct" -> (ctx.failed == 0 && complete),
      "attempted" -> math.max(ctx.attempted, 1L),
      "failed" -> ctx.failed,
      "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap,
      "failures" -> ctx.failures.toSeq,
      "oracle" -> ctx.oracle.toSeq)
    println(Stats.json(result))
    if (!complete) sys.exit(1)
  }

  private val started = System.nanoTime()

  /** Progress line on stderr (the runner keeps it in the workload log). */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - started) / 1e9}%8.2f s] $msg")

  def session(cores: Int, work: String): SparkSession = {
    val s = graft.Sessions.localBuilder(cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Bench.scala's session warm-up, then one scan of each generated table. */
  def warmUp(spark: SparkSession, dir: String): Unit = {
    spark.range(1000000).selectExpr("sum(id)").collect()
    Files.list(Paths.get(dir)).iterator().asScala
      .toSeq.sorted
      .foreach(p => spark.read.parquet(p.toString).count())
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}
