package graft.tools

import graft.{Session, SparkEntry}

/** The driver's t1 smoke, runnable locally: `SparkEntry.entry` on
  * sf0.001 must return rows.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session()
    val n = SparkEntry.entry(spark).count()
    println(s"[smoke] entry rows = $n (queries registered: ${SparkEntry.queries.size}, " +
      s"oracles: ${SparkEntry.oracleSql.size})")
    assert(n > 0)
    spark.stop()
  }
}
