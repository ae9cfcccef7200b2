package perfbench

import org.apache.spark.sql.SparkSession

/** One workload, driven through the program's public functions. */
trait Workload {
  /** Generate the seeded inputs and cache them. */
  def setup(seed: Long): Unit
  /** Input rows one pass processes. */
  def rowsPerPass: Long
  /** One closed-loop pass over the inputs. */
  def pass(): Unit
  /** Check the last pass's outputs: (operations attempted, failed). */
  def check(): (Long, Long)
  /** Layer calls made on their own, in the traced run only. */
  def layers(): Unit
  /** Data files the last pass persisted. */
  def persistedFiles(): Int = 0
}

/** The benchmark. Usage:
  * `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *  --work <dir>`; the last stdout line is the JSON result. */
object Main {

  val Workloads: Seq[String] = Seq("e1_short", "iterative_ops")
  val SetupReps = 3

  private def fail(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    sys.exit(2)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => fail(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def arg(k: String): String = args.getOrElse(k, fail(s"--$k is required"))
    val workload = arg("workload")
    if (!Workloads.contains(workload)) fail(s"unknown workload $workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val trace = arg("trace") match {
      case "0" => false
      case "1" => true
      case t => fail(s"--trace must be 0 or 1, got $t")
    }
    val work = arg("work")
    // the engine's env knobs would change what is measured
    val knobs = sys.env.keys.filter(_.startsWith("SPARK_GRAFT_")).toSeq.sorted
    if (knobs.nonEmpty) fail(s"refusing to run with ${knobs.mkString(", ")} set")

    // at most 4 cores: task counts (shuffle partitions) stay the same on
    // every host with at least 4, so counts compare across hosts
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors)
    val conf = graft.core.EngineTuning.conf ++ Map(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.local.dir" -> s"$work/spark-local",
      "spark.sql.warehouse.dir" -> s"$work/warehouse")
    println(Json.obj(Seq("config" -> Json.obj(conf.toSeq.sorted.map {
      case (k, v) => k -> Json.str(v) } :+ ("cpus" -> cpus.toString)))))

    val probe = new Probe
    def workloadOn(spark: SparkSession): Workload = workload match {
      case "e1_short" => new E1(spark, probe, workload, 8, 672,
        Seq("kalman"), work, cpus)
      case "iterative_ops" => new IterOps(spark, probe, cpus)
    }
    // set-up = session build + seeded inputs generated and cached, done
    // SetupReps times; the last session is the one measured
    var spark: SparkSession = null
    var w: Workload = null
    val setups = (1 to SetupReps).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = conf.foldLeft(SparkSession.builder().appName("perfbench")) {
        case (b, (k, v)) => b.config(k, v) }.getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      w = workloadOn(spark)
      w.setup(seed)
      (System.nanoTime() - t0) / 1e9
    }
    probe.attach(spark)
    val setupS = median(setups)
    System.err.println("perfbench: set-ups " +
      setups.map(s => f"$s%.2fs").mkString(" "))

    var attempted = 0L
    var failed = 0L
    def checked(): Unit = {
      val (a, f) = w.check()
      attempted += a
      failed += f
    }
    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        // closed loop, one client: passes back to back until `seconds`
        val passes = scala.collection.mutable.ArrayBuffer.empty[Usage]
        val loop0 = System.nanoTime()
        while (passes.isEmpty || (System.nanoTime() - loop0) / 1e9 < seconds) {
          val (_, u) = probe.measure(w.pass())
          checked()
          passes += u
          System.err.println(f"perfbench: pass ${passes.length} wall " +
            f"${u.wallS}%.2fs jobs ${u.jobs} task cpu ${u.taskCpuS}%.1fs " +
            f"failed $failed/$attempted")
        }
        def med(f: Usage => Double) = median(passes.map(f).toSeq)
        val wallS = med(_.wallS)
        Seq(
          ("setup_s", setupS, "s"),
          ("wall_s", wallS, "s"),
          ("rows_per_s", w.rowsPerPass / wallS, "rows/s"),
          ("ok_frac", 1.0 - failed.toDouble / attempted, "ratio"),
          ("spark_jobs", med(_.jobs.toDouble), "count"),
          ("task_cpu_s", med(_.taskCpuS), "s"),
          ("shuffle_mb", med(_.shuffleMb), "MB"))
      } else {
        probe.tracing = true
        probe.resetHeapPeak()
        val (_, u) = probe.measure(w.pass())
        val heapMb = probe.heapPeakMb()
        val overheadS = probe.overheadS
        checked()
        w.layers()
        probe.tracing = false
        Trace.layerMetrics(probe.spans.toMap) ++
          Seq(("io.persist.files", w.persistedFiles().toDouble, "count"),
            ("run.core_util", u.taskCpuS / (u.wallS * cpus), "ratio"),
            ("run.heap_peak_mb", heapMb, "MB"),
            ("trace.overhead_s", overheadS, "s"))
      }
    spark.stop()
    val result = Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
    println(result)
    sys.exit(if (failed == 0) 0 else 1)
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
