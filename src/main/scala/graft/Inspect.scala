package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.execution.{FormattedMode, SparkPlan, SortExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec

import graft.core.Session

/** Dev tool: run named queries warm on the engine session and explain
  * where their time goes.
  *
  * Each query runs once untimed (codegen, broadcasts, page cache), then
  * once measured: build seconds (DataFrame construction, including any
  * eager checkpoints inside the query lambda) and warm seconds (build +
  * materialize every row). Materialization is
  * `queryExecution.toRdd.foreachPartition` against the same
  * QueryExecution whose plan and metrics are read afterwards; a `.write`
  * would plan a fresh one and leave this one's metrics empty.
  *
  * Per query it writes `plans/<tag>/<q>_<suffix>.txt` — the formatted
  * final plan, per-operator metrics and the job log — and prints one
  * summary line. The operator counts come from the final AQE plan.
  *
  * Usage: runMain graft.Inspect <tag> <suffix> q1 q2 ...
  * Env: SPARK_GRAFT_SF_DIR (required), SPARK_GRAFT_CPUS.
  */
object Inspect {

  /** One Spark job seen by the listener. */
  private case class Job(id: Int, startMs: Long, endMs: Long, tasks: Int,
                         name: String) {
    def sec: Double = (endMs - startMs) / 1e3
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: graft.Inspect <tag> <suffix> q1 [q2 ...]")
    val Array(tag, suffix) = args.take(2)
    val names = args.drop(2).toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("SPARK_GRAFT_SF_DIR must name the testdata directory"))
    val spark = Session.local(Session.cpus())
    val dir = Paths.get("plans", tag)
    Files.createDirectories(dir)
    // every job of the measured invocation, build included: iterative
    // queries do their work in driver-action jobs during DataFrame
    // construction, which plan metrics never show
    val jobs = new ConcurrentLinkedQueue[Job]()
    val starts = new ConcurrentHashMap[Int, (Long, String, Int)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        starts.put(js.jobId, (js.time,
          js.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n'))
            .getOrElse(""),
          js.stageInfos.map(_.numTasks).sum))
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        Option(starts.remove(je.jobId)).foreach { case (t0, name, tasks) =>
          jobs.add(Job(je.jobId, t0, je.time, tasks, name))
        }
    }
    names.foreach { name =>
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      System.gc()
      jobs.clear()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      val qe = SparkEntry.queries(name)(spark, sfDir).queryExecution
      val buildSec = (System.nanoTime() - t0) / 1e9
      qe.toRdd.foreachPartition(it => while (it.hasNext) it.next())
      val warmSec = (System.nanoTime() - t0) / 1e9
      // the listener bus is async: let the last onJobEnd arrive before
      // removing the listener, or the job log comes up short
      Thread.sleep(200)
      spark.sparkContext.removeSparkListener(listener)
      val log = jobs.toArray(Array.empty[Job]).sortBy(_.id).toSeq
      val nodes = finalNodes(qe.executedPlan)
      def count(p: SparkPlan => Boolean) = nodes.count(p)
      val summary = f"== $name: warm $warmSec%.2f s, build $buildSec%.2f s, " +
        f"jobs ${log.size}, job sum ${log.map(_.sec).sum}%.2f s, " +
        s"exchanges ${count(_.isInstanceOf[ShuffleExchangeLike])}, " +
        s"broadcasts ${count(_.isInstanceOf[BroadcastExchangeLike])}, " +
        s"sorts ${count(_.isInstanceOf[SortExec])}, " +
        s"codegen ${count(_.isInstanceOf[WholeStageCodegenExec])}, " +
        s"bnlj ${count(_.isInstanceOf[BroadcastNestedLoopJoinExec])}"
      val report = Seq(summary, "",
        qe.explainString(FormattedMode), "== Operator metrics ==",
        operatorMetrics(qe.executedPlan), "== Jobs ==") ++
        log.map(j => f"job ${j.id}%4d ${j.sec}%6.2f s tasks=${j.tasks}%4d  ${j.name}")
      Files.write(dir.resolve(s"${name}_$suffix.txt"),
        (report.mkString("\n") + "\n").getBytes(UTF_8))
      println(summary)
    }
    spark.stop()
  }

  /** Children of `p` in its final plan: an AQE plan's final tree, a
    * query stage's plan, and subqueries. A reused exchange is a leaf, so
    * each exchange counts once. */
  private def children(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case s: QueryStageExec => Seq(s.plan)
    case _: ReusedExchangeExec => Nil
    case _ => p.children ++ p.subqueries
  }

  private def finalNodes(p: SparkPlan): Seq[SparkPlan] =
    p +: children(p).flatMap(finalNodes)

  /** The final plan as an indented tree, each operator with its nonzero
    * metrics (rows out, operator times, shuffle bytes). */
  private def operatorMetrics(root: SparkPlan): String = {
    def lines(p: SparkPlan, depth: Int): Seq[String] = {
      val m = p.metrics.toSeq
        .filter { case (_, v) => v.value != 0 && v.value != -1 }
        .sortBy(_._1)
        .map { case (k, v) => s"$k=${v.value}" }
        .mkString(" ")
      ("  " * depth + p.nodeName + (if (m.nonEmpty) s" [$m]" else "")) +:
        children(p).flatMap(lines(_, depth + 1))
    }
    lines(root, 0).mkString("\n")
  }
}
