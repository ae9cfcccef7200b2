package graft.core

/** Engine-wide SQL tuning: the session confs that differ from Spark's
  * defaults ([[Session]] applies them). Post-shuffle parallelism is not
  * tuned here: AQE's partition coalescing stays stock, and the
  * CPU-heavy operators it would starve pin their own partitioning
  * (`core/Grouped`; OPTIMIZATION_r19.md §1 has the session-wide
  * alternative and why it was dropped).
  */
object EngineTuning {

  val conf: Map[String, String] = Map(
    // The engine's bit-exactness contract makes every oracle-checked
    // float sum an ORDERED fold (core/Folds: aggregate over
    // array_sort(collect_list(...))) — a typed-buffer aggregate that
    // plans as ObjectHashAggregate. Stock Spark falls that operator
    // back to SORT-based aggregation after only 128 distinct keys per
    // task, so every fold-heavy stage (BM25 scoring, graph contribution
    // sums, LOF reach folds) paid a full per-task sort of its input
    // (r19 profile: `numTasksFallBacked` on every such stage). 4096
    // keeps realistic per-(query,doc)/per-node group counts in the hash
    // path. The hash path holds every group's buffer in memory until
    // the threshold trips, so a `collect_list` group with no size limit
    // is held whole: memory is not bounded by this setting. Results are
    // identical either way: every collect_list here is sorted before
    // folding. Keeping 4096 over the stock 128 is not yet settled by an
    // A/B record.
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "4096")
}
