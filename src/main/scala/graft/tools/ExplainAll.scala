package graft.tools

import java.nio.file.{Files, Paths}

import graft.{Session, SparkEntry}

/** Dump the formatted physical plan of EVERY declared query to
  * `<outDir>/<name>.txt` plus one summary line per query on stdout:
  *
  *   sbt "runMain graft.tools.ExplainAll <outDir> [sfDir] [nameFilter...]"
  *
  * Summary fields: Exchange count, join strategies seen, SortAggregate
  * count, scans whose PushedFilters is empty while the query filters,
  * and WholeStageCodegen span count — the §7.2 anti-pattern scan in
  * one grep-able line. Streaming replay entries EXECUTE inside their
  * query function (the returned frame is the memory-sink table), so
  * their dump shows the sink table's trivial plan; the streaming plan
  * shape is pinned by PlanShapeSpec instead. Entries are built (not
  * materialized) — for pure batch queries this never runs a job.
  */
object ExplainAll {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val only: Set[String] = args.drop(2).toSet
    Files.createDirectories(Paths.get(outDir))
    val spark = Session()
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only.contains(n))
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(outDir, s"$name.txt"), plan)
        def cnt(tok: String) = plan.sliding(tok.length).count(_ == tok)
        val joins = Seq(
          "SortMergeJoin" -> cnt("SortMergeJoin"),
          "BroadcastHashJoin" -> cnt("BroadcastHashJoin"),
          "ShuffledHashJoin" -> cnt("ShuffledHashJoin"),
          "BroadcastNestedLoopJoin" -> cnt("BroadcastNestedLoopJoin"),
          "CartesianProduct" -> cnt("CartesianProduct"))
          .filter(_._2 > 0).map { case (k, v) => s"$k=$v" }.mkString(",")
        val exchanges = cnt("Exchange hashpartitioning") +
          cnt("Exchange rangepartitioning") + cnt("Exchange RoundRobinPartitioning") +
          cnt("Exchange SinglePartition")
        val sortAgg = cnt("SortAggregate")
        val objHash = cnt("ObjectHashAggregate")
        val wsc = cnt("WholeStageCodegen")
        val noPush = cnt("PushedFilters: []")
        println(s"[plan] $name exch=$exchanges joins=[$joins] sortAgg=$sortAgg objAgg=$objHash wsc=$wsc noPush=$noPush")
      } catch {
        case e: Throwable =>
          println(s"[plan] $name FAILED ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(120)}")
      }
    }
    spark.stop()
  }
}
