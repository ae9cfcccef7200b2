package graft.bench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Session
import graft.metrics.Metrics

/** E1: the runnable final benchmark (run_final_benchmark.py) — executes
  * every model pipeline over the events series table, persists the
  * results tree (`<out>/<model>/events/{predictions,metrics}`), and
  * writes the leaderboard CSV (aggregate_metrics.py).
  *
  * Usage: runMain graft.bench.BenchmarkRunner <sfDir> <outDir> [models]
  */
object BenchmarkRunner {

  private val Key = "user_id"

  /** Fit each model once over every series keyed by `user_id`, persist
    * its predictions and metrics under `<outDir>/<model>/events`, and
    * return the leaderboard built from the persisted metrics records,
    * the way aggregate_metrics.py scans the results tree. */
  def run(series: DataFrame, labels: DataFrame, outDir: String,
          models: Seq[String], cfg: Pipelines.Config): DataFrame = {
    val spark = series.sparkSession
    Metrics.leaderboard(models.map { m =>
      val (pred, metrics) = fit(m, series, labels, cfg)
      val dir = s"$outDir/$m/events"
      Pipelines.persist(dir, pred, metrics, Key)
      println(s"[benchmark] $m done")
      Pipelines.leaderboardRows(m,
        spark.read.schema(metrics.schema).json(s"$dir/metrics"), Key)
    })
  }

  private def fit(m: String, series: DataFrame, labels: DataFrame,
                  cfg: Pipelines.Config): (DataFrame, DataFrame) = {
    val (ts, value) = ("ts", "value")
    m match {
      case "stl" => Pipelines.runStl(series, labels, Key, ts, value, cfg)
      case "stl_exact" => Pipelines.runStl(series, labels, Key, ts, value,
        cfg, exact = true)
      case "kalman" => Pipelines.runKalman(series, labels, Key, ts, value,
        cfg)
      case "ar" => Pipelines.runAutoRegressor(series, labels, Key, ts,
        value, cfg, seqLen = 12)
      case "bsts" => Pipelines.runBsts(series, labels, Key, ts, value, cfg)
      case "gp" => Pipelines.runGp(series, labels, Key, ts, value, cfg)
      case "hybrid" => Pipelines.runHybrid(series, labels, Key, ts, value,
        cfg)
      case other => throw new IllegalArgumentException(
        s"unknown model '$other'")
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_results"
    val models = if (args.length > 2) args(2).split(",").toSeq
                 else Seq("stl", "kalman")
    val spark = Session.local(Session.cpus())
    // dual-generation events read (ns-as-long or native µs) — shared
    // with the query surface
    val series = graft.SparkEntry.readEvents(spark, sfDir)
    // labels: each series' maximum-value point (deterministic, one per
    // series, ties broken by earliest ts), one second off-grid
    val wmax = org.apache.spark.sql.expressions.Window
      .partitionBy(Key).orderBy(col("value").desc, col("ts").asc)
    val labels = series
      .withColumn("__r", row_number().over(wmax))
      .filter(col("__r") === 1)
      .select(col(Key),
        (col("ts") + expr("INTERVAL 1 SECOND")).as("label_ts"))
    val lb = run(series, labels, outDir, models,
      Pipelines.Config(period = 24, rollingWindow = 24))
    lb.coalesce(1).write.mode("overwrite").option("header", "true")
      .csv(s"$outDir/metrics_summary")
    lb.show(20, false)
    spark.stop()
  }
}
