package graft.events

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.core.SeriesOps

/** Property-style invariants over randomized flag/value vectors
  * (fixed seed, SURVEY §5): merge∘split identity, k-monotonicity,
  * metric bounds, MAD outlier robustness. */
class PropertySpec extends SparkSpec {

  private val rng = new scala.util.Random(1234)

  private def randomFlags(n: Int, p: Double): Seq[Int] =
    Seq.fill(n)(if (rng.nextDouble() < p) 1 else 0)

  test("eventize(gap=0) events expand back to exactly the flagged rows") {
    (1 to 10).foreach { _ =>
      val flags = randomFlags(40, 0.3)
      val ev = Events.eventize(flagSeries(flags), Seq("series_id"), "ts",
        "flag", 0).collect()
      val covered = ev.flatMap(r =>
        r.getAs[Int]("start_rn") to r.getAs[Int]("end_rn")).toSet
      val expected = flags.zipWithIndex.collect {
        case (1, i) => i + 1
      }.toSet
      assert(covered === expected)
    }
  }

  test("events are disjoint, ordered, and separated by more than gap") {
    (1 to 10).foreach { _ =>
      val gap = rng.nextInt(4)
      val flags = randomFlags(60, 0.35)
      val ev = Events.eventize(flagSeries(flags), Seq("series_id"), "ts",
        "flag", gap).collect()
        .map(r => (r.getAs[Int]("start_rn"), r.getAs[Int]("end_rn")))
        .sortBy(_._1)
      ev.foreach { case (s, e) => assert(s <= e) }
      ev.sliding(2).foreach {
        case Array((_, e1), (s2, _)) =>
          assert(s2 - e1 > gap + 1,
            s"events ($e1, $s2) should have merged at gap=$gap")
        case _ =>
      }
    }
  }

  test("persistence never adds flags and removes all short runs") {
    (1 to 10).foreach { _ =>
      val p = 2 + rng.nextInt(2)
      val flags = randomFlags(50, 0.4)
      val out = Events.persistFilter(flagSeries(flags), Seq("series_id"),
        "ts", "flag", p, "fp", None)
        .orderBy("ts").collect()
        .map(r => (r.getAs[Int]("flag"), r.getAs[Int]("fp")))
      out.foreach { case (f, fp) => assert(fp <= f) }
      // every surviving run has length >= p
      val runs = out.map(_._2).foldLeft(List.empty[Int]) {
        case (acc, 1) => if (acc.isEmpty || acc.head == 0) 1 :: acc
                         else (acc.head + 1) :: acc.tail
        case (acc, _) => 0 :: acc
      }.filter(_ > 0)
      runs.foreach(len => assert(len >= p))
    }
  }

  test("flag count is non-increasing in the threshold k") {
    val zs = Seq.fill(60)(rng.nextDouble() * 5)
    val df = valueSeries(zs)
    val counts = Seq(1.0, 2.0, 3.0, 4.0).map { k =>
      df.withColumn("f", SeriesOps.thresholdFlag(col("value"), lit(k)))
        .agg(sum("f")).collect().head.getLong(0)
    }
    counts.sliding(2).foreach { case Seq(a, b) => assert(b <= a) }
  }

  test("event metrics stay within [0, 1] on random inputs") {
    (1 to 8).foreach { _ =>
      val pred = Events.eventize(flagSeries(randomFlags(40, 0.3)),
        Seq("series_id"), "ts", "flag", 1)
      val truth = Events.eventize(flagSeries(randomFlags(40, 0.2)),
        Seq("series_id"), "ts", "flag", 1)
      Events.eventLevelMetrics(pred, truth, Seq("series_id")).collect()
        .foreach { r =>
          Seq("precision", "recall", "f1").foreach { c =>
            val v = r.getAs[Double](c)
            assert(v >= 0 && v <= 1, s"$c = $v")
          }
        }
    }
  }

  /** (series_id, k, start_rn, end_rn): the columns eventLevelMetrics
    * reads from an eventize() output, plus the sweep's k key. */
  private type Ev = (String, Double, Int, Int)

  /** Plain-Scala J3 oracle: per key, pred events overlapping ANY true
    * event (tp), true events overlapped by ANY pred (tp_true), and the
    * record columns in eventLevelMetrics' output order after the keys. */
  private def overlapOracle(pred: Seq[Ev], truth: Seq[Ev],
                            key: Ev => Seq[Any]): Map[Seq[Any], Seq[Any]] = {
    val eps = 1e-9
    def hit(a: Ev, b: Ev) = a._3 <= b._4 && a._4 >= b._3
    (pred ++ truth).map(key).distinct.map { kv =>
      val p = pred.filter(key(_) == kv)
      val t = truth.filter(key(_) == kv)
      val tp = p.count(e => t.exists(hit(e, _))).toLong
      val tpt = t.count(e => p.exists(hit(_, e))).toLong
      val (np, nt) = (p.size.toLong, t.size.toLong)
      val prec = tp / (np + eps)
      val rec = tpt / (nt + eps)
      kv -> Seq(tp, np - tp, nt - tpt, np, nt, prec, rec,
        2.0 * prec * rec / (prec + rec + eps))
    }.toMap
  }

  private def metricsByKey(pred: Seq[Ev], truth: Seq[Ev],
                           keys: Seq[String]): Map[Seq[Any], Seq[Any]] = {
    import spark.implicits._
    val cols = Seq("series_id", "k", "start_rn", "end_rn")
    val got = Events.eventLevelMetrics(pred.toDF(cols: _*),
      truth.toDF(cols: _*), keys).collect()
    got.map(r => r.toSeq.take(keys.size) -> r.toSeq.drop(keys.size)).toMap
      .ensuring(_.size == got.length, "one row per key")
  }

  test("eventLevelMetrics equals a plain interval-overlap count") {
    // own RNG: the suite-shared stream would shift every later test
    val r = new scala.util.Random(77)
    val grid = for (s <- Seq("a", "b", "c", "d"); k <- Seq(2.0, 2.5))
      yield (s, k)
    def events(keys: Seq[(String, Double)]): Seq[Ev] = keys.flatMap {
      case (s, k) => Seq.fill(1 + r.nextInt(3)) {
        val st = 1 + r.nextInt(40)
        (s, k, st, st + r.nextInt(6))
      }
    }
    val twoKeys: Ev => Seq[Any] = e => Seq(e._1, e._2)
    val oneKey: Ev => Seq[Any] = e => Seq(e._1)
    (1 to 6).foreach { _ =>
      // 8 keys: 2 pred-only, 2 truth-only, 4 on both sides
      val shuffled = r.shuffle(grid)
      val pred = events(shuffled.take(6))
      val truth = events(shuffled.drop(2))
      assert(metricsByKey(pred, truth, Seq("series_id", "k")) ===
        overlapOracle(pred, truth, twoKeys))
      assert(metricsByKey(pred, truth, Seq("series_id")) ===
        overlapOracle(pred, truth, oneKey))
    }
    // an empty side: every key comes from the other one
    val some = events(grid.take(3))
    Seq((some, Seq.empty[Ev]), (Seq.empty[Ev], some),
        (Seq.empty[Ev], Seq.empty[Ev])).foreach { case (p, t) =>
      assert(metricsByKey(p, t, Seq("series_id", "k")) ===
        overlapOracle(p, t, twoKeys))
    }
  }

  test("eventLevelMetrics gives a null key a zero-count group") {
    // a null key never equi-joins, so its group counts nothing — the
    // SQL oracle's LEFT JOIN USING reports the same zeros
    val pred = Seq[Ev]((null, 2.0, 1, 3), ("a", 2.0, 1, 3))
    val truth = Seq[Ev]((null, 2.0, 2, 4), ("a", 2.0, 2, 4))
    val got = metricsByKey(pred, truth, Seq("series_id"))
    assert(got(Seq(null)) === Seq(0L, 0L, 0L, 0L, 0L, 0.0, 0.0, 0.0))
    assert(got(Seq("a")) === overlapOracle(pred.drop(1), truth.drop(1),
      e => Seq(e._1))(Seq("a")))
  }

  test("resolveComponents equals a union-find oracle on random graphs") {
    import spark.implicits._
    (1 to 5).foreach { _ =>
      val n = 30 + rng.nextInt(40)
      val nEdges = rng.nextInt(n)
      val edges = Seq.fill(nEdges)(
        (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // driver-side union-find oracle
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = {
        var r = x
        while (parent(r) != r) r = parent(r)
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = (0 until n).map { i =>
        // min node id of the component = fully-compressed root under
        // min-merge union
        var r = find(i)
        (i.toLong, r.toLong)
      }.toMap
      val docs = (0L until n).toDF("doc_id")
      val pairs =
        if (edges.isEmpty) Seq((0L, 0L)).toDF("id_a", "id_b").limit(0)
        else edges.toDF("id_a", "id_b")
      val got = graft.llm.Dedup.resolveComponents(docs, pairs, "doc_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expected)
    }
  }

  test("MAD sigma is invariant to a single gross outlier") {
    val base = Seq.fill(51)(10 + rng.nextGaussian())
    val clean = SeriesOps.madSigma(valueSeries(base), "series_id", "value")
      .collect().head.getAs[Double]("mad_sigma")
    val dirty = SeriesOps.madSigma(
      valueSeries(base.updated(25, 1e6)), "series_id", "value")
      .collect().head.getAs[Double]("mad_sigma")
    assert(math.abs(clean - dirty) / clean < 0.2,
      s"MAD moved from $clean to $dirty on one outlier")
  }
}
