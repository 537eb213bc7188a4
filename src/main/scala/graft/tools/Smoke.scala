package graft.tools

import graft.SparkEntry
import graft.util.Sessions

/** Mimics the driver's t1 smoke: a BARE session (no graft-specific confs —
  * in particular no nanosAsLong preset) running SparkEntry.entry. Proves the
  * engine self-configures everything it needs at runtime.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.bare("4").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val n = SparkEntry.entry(spark).count()
    println(s"[smoke] entry rows: $n")
    require(n > 0, "entry() returned no rows")
    spark.stop()
  }
}
