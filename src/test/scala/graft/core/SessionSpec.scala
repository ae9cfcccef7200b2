package graft.core

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SQLConf

import graft.SparkSpec

/** Pins the one engine session builder: what every session carries, that
  * building it twice is harmless, how `SPARK_GRAFT_CPUS` is read, and
  * that each tuning entry really changes Spark's behaviour. */
class SessionSpec extends SparkSpec {

  test("conf holds the four base settings plus every tuning and hygiene pair") {
    val c = Session.conf(3)
    assert(c("spark.master") === "local[3]")
    assert(c("spark.sql.shuffle.partitions") === "3")
    assert(c("spark.sql.session.timeZone") === "UTC")
    assert(c("spark.ui.enabled") === "false")
    (EngineTuning.conf ++ SessionHygiene.conf).foreach { case (k, v) =>
      assert(c.get(k).contains(v), s"conf lost $k")
    }
    assert(c.size === 4 + EngineTuning.conf.size + SessionHygiene.conf.size)
  }

  test("the builder carries every conf pair") {
    // the builder exposes no getter; verify via the private options
    // map. Spark versions move the field between Builder and its
    // SparkSessionBuilder superclass, so walk the hierarchy instead of
    // hard-coding one location.
    val b = Session.builder(3)
    val f = Iterator.iterate[Class[_]](b.getClass)(_.getSuperclass)
      .takeWhile(_ != null)
      .flatMap(c => scala.util.Try(c.getDeclaredField("options")).toOption)
      .nextOption()
      .getOrElse(fail("no 'options' field anywhere in the builder " +
        "class hierarchy — Spark renamed it; update this check"))
    f.setAccessible(true)
    val opts = f.get(b).asInstanceOf[
      scala.collection.mutable.HashMap[String, String]]
    Session.conf(3).foreach { case (k, v) =>
      assert(opts.get(k).contains(v), s"builder lost $k")
    }
  }

  test("a second local call returns the same session") {
    // the shared fixture's SparkContext is live, so `local` builds a
    // sibling session over it; clear the builder's session cache first
    // (or getOrCreate hands back the fixture) and restore it afterwards
    val fixture = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val first = Session.local(2)
      assert(first ne fixture, "expected a fresh session")
      assert(Session.local(2) eq first)
    } finally {
      SparkSession.setDefaultSession(fixture)
      SparkSession.setActiveSession(fixture)
      fixture.sparkContext.setLogLevel("ERROR")
    }
  }

  test("SPARK_GRAFT_CPUS must be a positive integer") {
    assert(Session.cpus(Some("3")) === 3)
    assert(Session.cpus(None) === Runtime.getRuntime.availableProcessors)
    Seq("0", "-1", "abc").foreach { bad =>
      val e = intercept[IllegalArgumentException](Session.cpus(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
    }
  }

  test("every tuning entry differs from Spark's default") {
    // compared as typed values, so "1m" against the default "1MB" is
    // caught as the no-op it is. SQLConf's entry lookup is internal to
    // Spark, hence the reflection.
    val entryOf = SQLConf.getClass.getMethod("getConfigEntry",
      classOf[String])
    val getConf = classOf[SQLConf].getMethod("getConf",
      Class.forName("org.apache.spark.internal.config.ConfigEntry"))
    EngineTuning.conf.foreach { case (k, v) =>
      val entry = entryOf.invoke(SQLConf, k)
      assert(entry != null, s"$k is not a SQL conf")
      val tuned = new SQLConf
      tuned.setConfString(k, v)
      assert(getConf.invoke(tuned, entry) != getConf.invoke(new SQLConf, entry),
        s"$k=$v is Spark's default")
    }
  }
}
