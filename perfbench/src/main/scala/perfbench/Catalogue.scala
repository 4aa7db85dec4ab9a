package perfbench

/** Every metric the benchmark prints, with its unit. `BENCHMARK.json`
  * lists the same names; `test_catalogue.py` pins the two together. */
object Catalogue {

  /** End-to-end metrics, printed by every workload's untraced run. What
    * `build_s` and the step are depends on the workload (README.md). */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "build_s" -> "s",
    "step_p50_ms" -> "ms",
    "step_tail_ms" -> "ms")

  val Cells: Seq[String] = Seq(
    "q17_jaccard_pairs", "q18_minhash_lsh", "q72_embed_dedup_lsh",
    "q242_hard_negatives_lsh_auto", "q187_training_pipeline",
    "q219_curation_capstone")

  /** Spans with the fields each records. */
  val Spans: Seq[(String, Seq[(String, String)])] = {
    import Tracer.{BaseFields, CellFields, SearchFields}
    Seq("incremental.pre_sink", "operators.process", "sinks.apply_mutation",
      "incremental.commit").map(_ -> BaseFields) ++
      Seq("search.bm25", "search.vector", "search.hybrid")
        .map(_ -> (BaseFields ++ SearchFields)) ++
      Seq("operators.build_index" -> BaseFields,
        "artifacts.prepare" -> BaseFields) ++
      Cells.map(c => s"curate.$c" -> (BaseFields ++ CellFields))
  }

  val Counts: Seq[(String, String)] = Seq(
    "incremental.evaluated_rows" -> "rows",
    "incremental.useful_ratio" -> "ratio",
    "incremental.tracking_rows_written" -> "rows",
    "sinks.rows_upserted" -> "rows",
    "sinks.rows_deleted" -> "rows",
    "sinks.rows_written" -> "rows",
    "sinks.write_amplification" -> "ratio",
    "search.bm25.rows_examined_per_result" -> "rows/result",
    "trace.overhead_ms" -> "ms")

  /** Per-layer metrics, printed by every workload's traced run; a span
    * the workload never enters reads 0. */
  val PerLayer: Seq[(String, String)] =
    Spans.flatMap { case (span, fields) =>
      fields.map { case (f, unit) => s"$span.$f" -> unit }
    } ++ Counts

  def json: String = Stats.json(Map(
    "end_to_end" -> EndToEnd.map { case (n, u) => Map("name" -> n, "unit" -> u) },
    "per_layer" -> PerLayer.map { case (n, u) => Map("name" -> n, "unit" -> u) }))
}
