package graft.tools

import graft.{GraftExtensions, Session}

/** Ad-hoc SQL runner with the graft functions registered and the
  * driver tables mounted as temp views:
  *   sbt "runMain graft.tools.Sql \"SELECT graft_dot(...) FROM embeddings\" [sfDir]"
  */
object Sql {
  def main(args: Array[String]): Unit = {
    val query = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = Session()
    GraftExtensions.register(spark)
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { t =>
      graft.Tables.load(spark, sfDir, t).createOrReplaceTempView(t)
    }
    graft.Tables.events(spark, sfDir).createOrReplaceTempView("events")
    spark.sql(query).show(20, truncate = false)
    spark.stop()
  }
}
