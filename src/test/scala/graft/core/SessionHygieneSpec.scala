package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Pins the long-session store caps (the r17 session-aging fix): the
  * conf set must cover exactly the four unbounded-growth stores, and
  * every cap must be strictly below Spark's default (otherwise the "cap"
  * is a no-op). SessionSpec checks that the session builder applies
  * them.
  */
class SessionHygieneSpec extends AnyFunSuite {

  // Spark 4 defaults for the capped stores (StatusConf / SQLConf)
  private val sparkDefaults = Map(
    "spark.ui.retainedJobs" -> 1000,
    "spark.ui.retainedStages" -> 1000,
    "spark.ui.retainedTasks" -> 100000,
    "spark.sql.ui.retainedExecutions" -> 1000)

  test("caps cover exactly the four growth stores, each below default") {
    assert(SessionHygiene.conf.keySet == sparkDefaults.keySet)
    SessionHygiene.conf.foreach { case (k, v) =>
      assert(v.toInt > 0 && v.toInt < sparkDefaults(k),
        s"$k=$v must be a real cap (0 < cap < default ${sparkDefaults(k)})")
    }
  }
}
