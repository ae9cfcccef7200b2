package perfbench

/** The per-layer metrics of the traced run: every span below reports
  * the same figures on every workload; a span the workload does not
  * call reads 0. */
object Trace {

  val Models: Seq[String] = E1.FitOrder.map(f => s"models.$f")

  val Spans: Seq[String] = Seq("core.prepare") ++ Models ++ Seq(
    "bench.run", "bench.detect", "io.persist", "bench.final_benchmark",
    "io.leaderboard") ++ IterOps.Spans

  def layerMetrics(spans: Map[String, Usage]): Seq[(String, Double, String)] = {
    def cpu(s: String) = spans.get(s).map(_.taskCpuS).getOrElse(0.0)
    // the share of compute E1 spends recomputing what it already persisted
    val first = cpu("bench.run") + cpu("io.persist")
    val refit = cpu("bench.final_benchmark") + cpu("io.leaderboard")
    Spans.flatMap { s =>
      val u = spans.getOrElse(s, Usage.zero)
      Seq((s"$s.wall_s", u.wallS, "s"), (s"$s.driver_s", u.driverS, "s"),
        (s"$s.jobs", u.jobs.toDouble, "count"),
        (s"$s.tasks", u.tasks.toDouble, "count"),
        (s"$s.task_cpu_s", u.taskCpuS, "s"),
        (s"$s.shuffle_write_mb", u.shuffleMb, "MB")) ++
        (if (Models.contains(s)) Seq((s"$s.max_task_s", u.maxTaskS, "s"))
         else Nil)
    } :+ (("bench.refit_frac", if (first > 0) refit / first else 0.0, "ratio"))
  }
}
