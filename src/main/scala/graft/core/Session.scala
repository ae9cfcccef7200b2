package graft.core

import org.apache.spark.sql.SparkSession

/** The engine's one session builder. Every main builds its session here,
  * so `Bench`, `Verify`, `BenchmarkRunner` and `Inspect` all run the same
  * engine: `local[cpus]`, `cpus` shuffle partitions, UTC, UI off, the
  * [[EngineTuning]] and [[SessionHygiene]] confs, WARN logging.
  */
object Session {

  /** Every conf pair an engine session on `cpus` cores starts with. */
  def conf(cpus: Int): Map[String, String] = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false") ++
    EngineTuning.conf ++ SessionHygiene.conf

  /** A builder carrying every [[conf]] pair. The hygiene caps are static
    * confs, read at SparkContext start, so they go on the builder. */
  private[core] def builder(cpus: Int): SparkSession.Builder =
    conf(cpus).foldLeft(SparkSession.builder()) {
      case (b, (k, v)) => b.config(k, v)
    }

  /** The engine session on `cpus` cores. Idempotent: a second call
    * returns the session the first one built. */
  def local(cpus: Int): SparkSession = {
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `SPARK_GRAFT_CPUS`: a positive integer; unset means the available
    * processors. */
  def cpus(raw: Option[String] = sys.env.get("SPARK_GRAFT_CPUS")): Int =
    env("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors,
      "a positive integer")(_.toIntOption.filter(_ > 0), raw)

  /** Environment setting `name`: `default` when unset; otherwise `parse`
    * must accept the trimmed value, or this fails naming `bound`. */
  def env[T](name: String, default: => T, bound: String)(
      parse: String => Option[T], raw: Option[String] = sys.env.get(name))
      : T =
    raw.fold(default) { s =>
      parse(s.trim).getOrElse(throw new IllegalArgumentException(
        s"$name must be $bound, got '$s'"))
    }
}
