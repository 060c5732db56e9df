package graft.tools

import graft.{Bench, Session, SparkEntry}

/** Time named queries (after a warmup run of a cheap query), each run
  * materialized exactly as `Bench` times it:
  *   sbt "runMain graft.tools.TimeQuery <name>[,<name>...] [sfDir] [reps]"
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val spark = Session()
    spark.read.parquet(s"$sfDir/lineitem.parquet").groupBy("l_returnflag").count().count()
    names.foreach { name =>
      (1 to reps).foreach { r =>
        val t0 = System.nanoTime()
        val n = Bench.materialize(SparkEntry.queries(name)(spark, sfDir))
        println(f"[time] $name rep$r: ${(System.nanoTime() - t0) / 1e9}%.3f s ($n rows)")
      }
    }
    spark.stop()
  }
}
