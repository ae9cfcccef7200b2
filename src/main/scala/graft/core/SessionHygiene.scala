package graft.core

/** Long-session hygiene — the conf a session that will run HUNDREDS of
  * queries (a bench sweep, a pipeline service, a notebook kernel that
  * lives for days) should start with.
  *
  * Spark's app-status stores grow with every executed query: the core
  * AppStatusListener retains up to `spark.ui.retainedJobs`=1000 jobs /
  * `retainedStages`=1000 stages / `retainedTasks`=100000 task rows, and
  * the SQL listener retains `spark.sql.ui.retainedExecutions`=1000
  * executions EACH holding the full physical-plan graph and per-node
  * metric maps — all strongly referenced, so no GC fence can reclaim
  * them. In `local[*]` the driver IS the executor: by query ~150 of a
  * ~200-query sweep the store holds tens of thousands of task rows plus
  * hundreds of plan graphs, and every task completion pays bookkeeping
  * against the bloated store while the heap pays the tenancy. (The r17
  * drift adjudication measured NO intra-sweep aging signal at bench
  * scale — BENCH_NOTES r17 — so these caps are a robustness bound, not
  * a measured-regression fix; the growth itself is real and strongly
  * referenced, and a 1000-executor cluster pays it purely driver-side,
  * where scheduling latency rises as the listener bus drains into
  * ever-larger stores.)
  *
  * These caps keep enough history for live debugging (the last ~50
  * queries) while bounding the store at a size whose bookkeeping is
  * invisible to query wall time. They are STATIC confs — listeners read
  * them at SparkContext start — so [[Session]] applies them on the
  * builder, not through `spark.conf.set`.
  */
object SessionHygiene {

  val conf: Map[String, String] = Map(
    "spark.ui.retainedJobs" -> "200",
    "spark.ui.retainedStages" -> "200",
    "spark.ui.retainedTasks" -> "5000",
    "spark.sql.ui.retainedExecutions" -> "50")
}
