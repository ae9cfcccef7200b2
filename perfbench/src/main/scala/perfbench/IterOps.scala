package perfbench

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.graph.{Hits, PageRank}
import graft.llm.{Bm25, Pq, SemDedup}

/** The driver-cadence operators (iterated k-means, graph rounds), called
  * with the registry's parameters on seeded embeddings and documents. */
final class IterOps(spark: SparkSession, probe: Probe, parts: Int)
    extends Workload {
  import IterOps._

  private var emb: Inputs.Emb = _
  private var embDf: DataFrame = _
  private var docs: DataFrame = _
  private var edges: DataFrame = _
  private val outputs = scala.collection.mutable.Map.empty[String, Seq[Row]]
  private val errors = scala.collection.mutable.Map.empty[String, Throwable]

  def setup(seed: Long): Unit = {
    Seq(embDf, docs, edges).filter(_ != null)
      .foreach(_.unpersist(blocking = true))
    emb = Inputs.embeddings(seed, NEmb, Dim, Clusters, Planted)
    embDf = Inputs.cached(spark, emb.rows, Inputs.embSchema, parts)
    docs = Inputs.cached(spark,
      Inputs.documents(seed + 1, NDocs, Words, Vocab), Inputs.docSchema,
      parts)
    // the registry's 3-out-link doc graph
    val ids = docs.select(col("doc_id"))
    val link = (a: Int, b: Int) =>
      ids.select(col("doc_id").as("src"),
        ((col("doc_id") * a + b) % lit(NDocs.toLong)).as("dst"))
    edges = link(7, 1).unionByName(link(13, 3)).unionByName(link(31, 11))
      .cache()
    edges.count()
  }

  def rowsPerPass: Long = 2L * NEmb + 2L * NDocs + 2L * 3 * NDocs

  private def call(name: String)(body: => DataFrame): Unit =
    try outputs(name) = probe.span(name)(body.collect().toSeq)
    catch { case NonFatal(e) => errors(name) = e }

  def pass(): Unit = {
    outputs.clear()
    errors.clear()
    val queries = embDf.filter(col("vec_id") < NQueries)
    call("llm.ivfpq")(Pq.ivfPqTopK(embDf, queries, "vec_id", "embedding",
      AnnK))
    call("llm.semdedup")(SemDedup.semDedup(embDf, "vec_id", "embedding",
      k = 8, minCosine = MinCosine))
    val q = docs.filter(col("doc_id") < NQueries)
    call("llm.bm25")(Bm25.topK(docs, q, "doc_id", "doc_id", "text",
      k = TextK))
    call("llm.rm3")(Bm25.rm3TopK(docs, q, "doc_id", "doc_id", "text",
      k = TextK, fbDocs = 3, fbTerms = 5))
    val nodes = docs.select(col("doc_id"))
    call("graph.pagerank")(PageRank.pageRank(nodes, "doc_id", edges, "src",
      "dst", iters = 10))
    call("graph.hits")(Hits.hits(nodes, "doc_id", edges, "src", "dst",
      iters = 5))
  }

  def check(): (Long, Long) = {
    val bad = Spans.filterNot { s =>
      errors.get(s).foreach(e =>
        System.err.println(s"perfbench: $s threw ${e.getMessage}"))
      val ok = outputs.get(s).exists(checks(s))
      if (!ok && !errors.contains(s))
        System.err.println(s"perfbench: $s failed its output check")
      ok
    }
    (Spans.size.toLong, bad.size.toLong)
  }

  def layers(): Unit = ()

  private lazy val vecs: Array[Array[Double]] = {
    val a = new Array[Array[Double]](emb.rows.size)
    emb.rows.foreach { r =>
      val v = r.getSeq[Float](1).map(_.toDouble).toArray
      val n = math.sqrt(v.map(x => x * x).sum)
      a(r.getLong(0).toInt) = v.map(_ / n)
    }
    a
  }

  private def cos(i: Int, j: Int): Double = {
    val (a, b) = (vecs(i), vecs(j))
    var s = 0.0
    var k = 0
    while (k < a.length) { s += a(k) * b(k); k += 1 }
    s
  }

  /** Each operator's output check, computed outside the program. */
  private val checks: Map[String, Seq[Row] => Boolean] = Map(
    // recall@k of the approximate top-k against exact cosine top-k
    "llm.ivfpq" -> { rows =>
      val got = rows.map(r => (r.getAs[Long]("query_id"),
        r.getAs[Long]("corpus_id"))).toSet
      val exact = (0 until NQueries).flatMap { q =>
        vecs.indices.sortBy(j => (-cos(q, j), j)).take(AnnK)
          .map(j => (q.toLong, j.toLong))
      }
      val recall = exact.count(got).toDouble / exact.size
      System.err.println(s"perfbench: ivfpq recall@$AnnK $recall " +
        s"(floor $AnnRecallFloor)")
      rows.size == NQueries * AnnK && recall >= AnnRecallFloor
    },
    // one row per input; a dropped row has an above-threshold neighbour
    // in its cluster, and no planted pair keeps both copies
    "llm.semdedup" -> { rows =>
      val cluster = rows.map(r => r.getAs[Long]("vec_id").toInt ->
        r.getAs[Int]("cluster")).toMap
      val kept = rows.filter(_.getAs[Boolean]("is_kept"))
        .map(_.getAs[Long]("vec_id").toInt).toSet
      val dropsJustified = cluster.keys.filterNot(kept).forall { d =>
        vecs.indices.exists(j => j != d && cluster(j) == cluster(d) &&
          cos(d, j) >= MinCosine - 1e-9)
      }
      val plantedResolved = emb.planted.forall { case (a, b) =>
        cluster(a.toInt) != cluster(b.toInt) ||
          !(kept(a.toInt) && kept(b.toInt))
      }
      rows.size == NEmb && cluster.size == NEmb && dropsJustified &&
        plantedResolved
    },
    "llm.bm25" -> topKRows,
    "llm.rm3" -> topKRows,
    // every node ranked; with no dangling nodes the ranks keep mass 1
    "graph.pagerank" -> { rows =>
      val ids = rows.map(_.getAs[Long]("doc_id")).toSet
      val mass = rows.map(_.getAs[Double]("pagerank")).sum
      ids.size == NDocs && rows.size == NDocs && math.abs(mass - 1) < 1e-6
    },
    // every node scored, max-normalized to exactly 1
    "graph.hits" -> { rows =>
      val ids = rows.map(_.getAs[Long]("doc_id")).toSet
      val auth = rows.map(_.getAs[Double]("authority"))
      val hub = rows.map(_.getAs[Double]("hub"))
      ids.size == NDocs && rows.size == NDocs && auth.max == 1.0 &&
        hub.max == 1.0 && (auth ++ hub).forall(x => x >= 0 && x <= 1)
    })

  /** k rows per query, ranked 1..k. */
  private def topKRows(rows: Seq[Row]): Boolean = {
    val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
    byQuery.size == NQueries && byQuery.values.forall(rs =>
      rs.map(_.getAs[Long]("rank")).sorted == (1L to TextK))
  }
}

object IterOps {
  val Spans: Seq[String] = Seq("llm.ivfpq", "llm.semdedup", "llm.bm25",
    "llm.rm3", "graph.pagerank", "graph.hits")

  val NEmb = 1000
  val Dim = 64
  val Clusters = 10
  val Planted = 20
  val NDocs = 2000
  val Words = 50
  val Vocab = 2000
  val NQueries = 5
  val AnnK = 3
  val TextK = 5
  val MinCosine = 0.4
  val AnnRecallFloor = 0.4
}
