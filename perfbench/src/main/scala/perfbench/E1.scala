package perfbench

import java.io.File
import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.bench.Pipelines
import graft.core.SeriesOps
import graft.models._

/** E1, the paper's workflow: every model × series through
  * `Pipelines.run*`, the results tree written by `Pipelines.persist`,
  * then `Pipelines.runFinalBenchmark` and its leaderboard CSV — the
  * calls `graft.bench.BenchmarkRunner` makes, driven with seeded inputs. */
final class E1(spark: SparkSession, probe: Probe, name: String,
               val nSeries: Int, val nPoints: Int, val models: Seq[String],
               dir: String, parts: Int) extends Workload {
  import E1._

  private[perfbench] var series: DataFrame = _
  private[perfbench] var labels: DataFrame = _

  private var seed = 0L

  def rowsPerPass: Long = nSeries.toLong * nPoints * models.size

  def setup(seed: Long): Unit = {
    this.seed = seed
    Option(series).foreach(_.unpersist(blocking = true))
    Option(labels).foreach(_.unpersist(blocking = true))
    val in = Inputs.nab(seed, nSeries, nPoints)
    series = Inputs.cached(spark, in.series, Inputs.seriesSchema, parts)
    labels = Inputs.cached(spark, in.labels, Inputs.labelSchema, 1)
  }

  private def out: String = s"$dir/results"

  /** One pass of E1. Spans mark each layer when the probe is tracing. */
  def pass(): Unit = {
    models.foreach { m =>
      val (pred, metrics) = probe.span("bench.run")(pipeline(m))
      probe.span("io.persist")(
        Pipelines.persist(s"$out/$m/events", pred, metrics, Key))
    }
    val lb = probe.span("bench.final_benchmark")(
      Pipelines.runFinalBenchmark(series, labels, Key, Ts, Value, cfg,
        models))
    probe.span("io.leaderboard")(
      lb.coalesce(1).write.mode("overwrite").option("header", "true")
        .csv(s"$out/metrics_summary"))
  }

  private def pipeline(m: String): (DataFrame, DataFrame) = m match {
    case "kalman" => Pipelines.runKalman(series, labels, Key, Ts, Value, cfg)
  }

  override def persistedFiles(): Int = {
    def walk(f: File): Int =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(walk).sum
      else if (f.getName.startsWith("part-")) 1 else 0
    models.map(m => walk(new File(s"$out/$m/events"))).sum
  }

  /** Check the last pass's outputs. The leaderboard must hold exactly
    * one row per (model, series), each equal to the metrics record the
    * same model persisted for that series. A (model, series) pair that
    * is missing, duplicated or different counts as one failure: the
    * program's own error handling may drop a model silently. */
  def check(): (Long, Long) = {
    val lb = spark.read.option("header", "true").csv(s"$out/metrics_summary")
      .collect().toSeq
    val got = lb.groupBy(r => (r.getAs[String]("Model"),
      r.getAs[String]("Dataset")))
    val persisted = models.flatMap { m =>
      val df = spark.read.json(s"$out/$m/events/metrics")
      def d(r: Row, c: String): Option[Double] =
        if (!df.columns.contains(c) || r.isNullAt(r.fieldIndex(c))) None
        else Some(r.getAs[Any](c).toString.toDouble)
      df.collect().map { r =>
        (m.toUpperCase, r.getAs[Any](Key).toString) ->
          LbMetrics.map(c => d(r, c._2))
      }
    }.toMap
    val expected = for {
      m <- models
      s <- 0 until nSeries
    } yield (m.toUpperCase, s.toString)
    val bad = expected.count { k =>
      got.get(k) match {
        case Some(Seq(r)) =>
          val vals = LbMetrics.map { case (c, _) =>
            Option(r.getAs[String](c)).map(_.toDouble) }
          !persisted.get(k).exists(sameValues(_, vals))
        case _ => true
      }
    }
    val extra = got.keySet.count(k => !expected.contains(k))
    val d = digest(lb)
    val digestOk = seed != DefaultSeed || Digests.get(name).contains(d)
    if (!digestOk) System.err.println(s"perfbench: leaderboard digest $d " +
      s"differs from the one recorded for seed $DefaultSeed")
    (expected.size.toLong, (bad + extra).toLong + (if (digestOk) 0 else 1))
  }

  def layers(): Unit = new E1Layers(this, probe).run()
}

object E1 {
  val Key = "user_id"
  val Ts = "ts"
  val Value = "value"
  /** The paper's detector settings (kalman_model.py defaults: daily
    * period 48 on the 30-minute grid). */
  val cfg: Pipelines.Config = Pipelines.Config()

  /** Leaderboard column → the metrics-record field it is taken from. */
  val LbMetrics: Seq[(String, String)] = Seq(
    "Event_F1" -> "f1", "Precision" -> "precision", "Recall" -> "recall",
    "FP_per_Day" -> "fp_per_day", "Latency_Min" -> "median_latency_minutes")

  /** The seed whose leaderboard digests are recorded below. */
  val DefaultSeed = 1L
  val Digests: Map[String, String] = Map("e1_short" -> "c66dff4c88738dd8")

  private def sameValues(a: Seq[Option[Double]],
                         b: Seq[Option[Double]]): Boolean =
    a.zip(b).forall {
      case (Some(x), Some(y)) =>
        x == y || math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(x))
      case (x, y) => x == y
    }

  /** Order-independent digest of the leaderboard, values to 9 decimals. */
  def digest(lb: Seq[Row]): String = {
    val lines = lb.map { r =>
      (Seq("Model", "Dataset").map(r.getAs[String]) ++
        LbMetrics.map { case (c, _) =>
          Option(r.getAs[String](c)).map(v => f"${v.toDouble}%.9f")
            .getOrElse("null")
        }).mkString(",")
    }.sorted
    MessageDigest.getInstance("SHA-256")
      .digest(lines.mkString("\n").getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString
  }

  /** The model fits the traced run makes on their own (span names). */
  val FitOrder: Seq[String] = Seq("stl_lite", "stl_exact", "kalman", "ar",
    "gp")
}

/** The traced run's extra calls: each layer's public function on its own,
  * with the benchmark's spans around it. Inputs for a layer are built
  * outside its span, the way the pipelines build them. */
final class E1Layers(e1: E1, probe: Probe) {
  import E1._

  private val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /** Cache `df` and materialize it through the no-op sink. */
  private def materialize(df: DataFrame): DataFrame = {
    val c = df.cache()
    cached += c
    c.write.format("noop").mode("overwrite").save()
    c
  }

  /** The pipelines' fit join: prep rows matched to a model's output by
    * series id (string) and timestamp. */
  private def joinFit(prep: DataFrame, fit: DataFrame,
                      cols: Seq[Column]): DataFrame = {
    val f = fit.select(col("series_id").as("__sid") +: col(Ts).as("__fts")
      +: cols: _*)
    prep.join(f, prep(Key).cast("string") === col("__sid") &&
        prep(Ts) === col("__fts"))
      .drop("__sid", "__fts")
  }

  def run(): Unit = {
    val prep = probe.span("core.prepare")(materialize(SeriesOps.withSplit(
      SeriesOps.markLabelWindows(e1.series, e1.labels, Key, Ts, "label_ts",
        cfg.labelWindowRows), Key, Ts, cfg.trainFrac, cfg.valFrac)))
    // every model fit, whichever pipelines the workload runs
    val fits = scala.collection.mutable.Map.empty[String, DataFrame]
    FitOrder.foreach { f =>
      val input = f match {
        case "ar" =>
          val base = joinFit(prep, fits("stl_exact"),
            Seq(col("resid").as("__target")))
          SeriesOps.standardScale(base, Key, "__target", "__tn",
            popStd = true).localCheckpoint(eager = true)
        case _ => prep
      }
      fits(f) = probe.span(s"models.$f")(materialize(f match {
        case "stl_lite" => StlLite.decompose(input, Key, Ts, Value,
          cfg.period)
        case "stl_exact" => StlExact.decompose(input, Key, Ts, Value,
          cfg.period)
        case "kalman" => KalmanLocalLevel.run(input, Key, Ts, Value,
          cfg.trainFrac)
        case "ar" => AutoRegressor.run(input, Key, Ts, "__tn", 48,
          cfg.trainFrac)
        case "gp" => GpRegressor.run(input, Key, Ts, Value, cfg.trainFrac,
          1000, cfg.period)
      }))
    }
    // the detector tail on each pipeline's residual frame
    e1.models.foreach { m =>
      val frame = m match {
        case "kalman" => joinFit(prep, fits("kalman"),
          Seq(col("pred_mean"), col("pred_std"), col("resid")))
      }
      val input = frame.localCheckpoint(eager = true)
      probe.span("bench.detect") {
        val (pred, metrics) = Pipelines.detectAndScore(input, Key, Ts, cfg)
        pred.write.format("noop").mode("overwrite").save()
        metrics.write.format("noop").mode("overwrite").save()
      }
    }
    cached.foreach(_.unpersist(blocking = true))
    cached.clear()
  }
}
