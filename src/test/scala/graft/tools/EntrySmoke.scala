package graft
import graft.core.Session
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(Session.cpus())
    val n = SparkEntry.entry(spark).count()
    println(s"ENTRY_ROWS=$n")
    spark.stop()
  }
}
