package graft

import org.apache.spark.sql.SparkSession

/** The one batch-session factory: Bench, Verify, every tool and both
  * demos build their session here, so their settings cannot drift.
  * Streaming replays derive their isolated session from it with
  * [[graft.queries.StreamingQueries.streamSession]].
  */
object Session {

  /** Local worker threads and shuffle partitions (`SPARK_GRAFT_CPUS`,
    * default 4).
    */
  val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** FAIR is what Bench's concurrent mini-pass needs (the pool property
    * is inert under FIFO); with one job at a time it schedules exactly
    * like FIFO, so serial runs are unaffected.
    */
  private[graft] val settings: Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.scheduler.mode" -> "FAIR")

  /** `master` defaults to `local[cpus]`; TaxiCsvDemo passes a cluster
    * address.
    */
  def apply(master: String = s"local[$cpus]"): SparkSession = {
    val spark = SparkSession.builder().master(master).config(settings).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
