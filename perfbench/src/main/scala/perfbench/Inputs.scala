package perfbench

import java.sql.Timestamp

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. The same seed gives the same inputs; the
  * program only ever sees the DataFrames built here. */
object Inputs {

  /** 2024-01-01T00:00:00Z, the first grid point of every series. */
  val Epoch: Long = 1704067200000L
  val StepMs: Long = 30L * 60 * 1000

  /** Rows of series(user_id, ts, value) and labels(user_id, label_ts). */
  final case class Nab(series: Seq[Row], labels: Seq[Row])

  /** NAB-like series on a 30-minute grid: random-walk level, daily and
    * weekly seasonality, Gaussian noise, and 2-4 injected anomaly
    * windows per series. One label (the window's middle point) per
    * window, at least one in each half of the series. */
  def nab(seed: Long, nSeries: Int, nPoints: Int): Nab = {
    require(nPoints >= 4 * 48, s"nPoints=$nPoints too short for 2 windows")
    val rng = new Random(seed)
    val series = Seq.newBuilder[Row]
    val labels = Seq.newBuilder[Row]
    (0 until nSeries).foreach { sid =>
      val base = 50 + 50 * rng.nextDouble()
      val daily = 5 + 10 * rng.nextDouble()
      val weekly = 2 + 5 * rng.nextDouble()
      val noise = 0.5 + 1.5 * rng.nextDouble()
      val phase = 2 * math.Pi * rng.nextDouble()
      val nWin = 2 + rng.nextInt(3)
      // one window per equal segment of [48, n - 48): spread over both
      // halves, never overlapping
      val seg = (nPoints - 96) / nWin
      val windows = (0 until nWin).map { w =>
        val len = 2 + rng.nextInt(5)
        val start = 48 + w * seg + rng.nextInt(math.max(1, seg - len))
        val size = (6 + 4 * rng.nextDouble()) * noise *
          (if (rng.nextBoolean()) 1 else -1)
        (start, len, size)
      }
      var level = 0.0
      (0 until nPoints).foreach { t =>
        level += 0.05 * noise * rng.nextGaussian()
        val seasonal =
          daily * math.sin(2 * math.Pi * t / 48 + phase) +
            weekly * math.sin(2 * math.Pi * t / 336 + phase)
        val spike = windows.collectFirst {
          case (s, l, size) if t >= s && t < s + l => size
        }.getOrElse(0.0)
        val v = base + level + seasonal + noise * rng.nextGaussian() + spike
        series += Row(sid.toLong, new Timestamp(Epoch + t * StepMs), v)
      }
      windows.foreach { case (s, l, _) =>
        labels += Row(sid.toLong, new Timestamp(Epoch + (s + l / 2) * StepMs))
      }
    }
    Nab(series.result(), labels.result())
  }

  val seriesSchema: StructType = StructType(Seq(
    StructField("user_id", LongType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("value", DoubleType, nullable = false)))

  val labelSchema: StructType = StructType(Seq(
    StructField("user_id", LongType, nullable = false),
    StructField("label_ts", TimestampType, nullable = false)))

  /** Rows (vec_id, embedding) and the planted (original, copy) id pairs. */
  final case class Emb(rows: Seq[Row], planted: Seq[(Long, Long)])

  /** Embeddings: `n` vectors of `dim` floats around `clusters` centres,
    * the last `pairs` of them planted near-duplicates (a copy of an
    * earlier vector with tiny noise). */
  def embeddings(seed: Long, n: Int, dim: Int, clusters: Int,
                 pairs: Int): Emb = {
    val rng = new Random(seed)
    val centres = Array.fill(clusters, dim)(rng.nextGaussian())
    val vecs = Array.tabulate(n - pairs) { i =>
      val c = centres(i % clusters)
      Array.tabulate(dim)(j => (c(j) + 1.5 * rng.nextGaussian()).toFloat)
    }
    val planted = (0 until pairs).map { p =>
      val orig = rng.nextInt(n - pairs)
      (orig.toLong, (n - pairs + p).toLong)
    }
    val copies = planted.map { case (orig, _) =>
      vecs(orig.toInt).map(x => (x + 0.001 * rng.nextGaussian()).toFloat)
    }
    val all = vecs ++ copies
    Emb(all.indices.map(i => Row(i.toLong, all(i).toSeq)), planted)
  }

  val embSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false),
      nullable = false)))

  /** Documents: `n` texts of about `words` space-separated terms drawn
    * from a Zipf(1.1) vocabulary of `vocab` words. Rows (doc_id, text). */
  def documents(seed: Long, n: Int, words: Int, vocab: Int): Seq[Row] = {
    val rng = new Random(seed)
    val weights = (1 to vocab).map(r => 1.0 / math.pow(r, 1.1))
    val cdf = weights.scanLeft(0.0)(_ + _).tail.map(_ / weights.sum).toArray
    def word(): String = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      s"w${if (i >= 0) i else math.min(-i - 1, vocab - 1)}"
    }
    (0 until n).map { d =>
      val len = words / 2 + rng.nextInt(words + 1)
      Row(d.toLong, Seq.fill(len)(word()).mkString(" "))
    }
  }

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))

  /** A cached DataFrame over `rows`, materialized, in `parts` slices. */
  def cached(spark: SparkSession, rows: Seq[Row], schema: StructType,
             parts: Int): DataFrame = {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, parts), schema).cache()
    df.count()
    df
  }
}
