package graft.tools

import graft.{Session, SparkEntry}

/** Print the formatted physical plan of a named query:
  *   sbt "runMain graft.tools.Explain <queryName> [sfDir]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = Session()
    SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    spark.stop()
  }
}
