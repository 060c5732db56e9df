package graft

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The primitive behind the r15 iterative-loop optimization: an
  * `observe` metric is delivered by the `localCheckpoint` action
  * itself (Dataset.checkpoint runs under withAction, so the
  * CollectMetrics accumulators publish), letting convergence checks
  * ride the materialization instead of paying a second full pass per
  * superstep (PairGraph.components' label sum, PairGraph.hops'
  * frontier count).
  */
class ObserveCheckpointSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("observe metric fires on localCheckpoint and equals the separate aggregate") {
    import spark.implicits._
    val df = (1L to 1000L).toDF("v")
      .withColumn("component", col("v") % 7)
    val obs = Observation()
    val ck = df
      .observe(obs,
        coalesce(sum(col("component").cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO)).as("lsum"),
        count(when(col("component") === 0, 1)).as("nf"))
      .localCheckpoint()
    val lsum = obs.get("lsum").asInstanceOf[java.math.BigDecimal]
    val nf = obs.get("nf").asInstanceOf[Long]
    val want = df.agg(
      sum(col("component").cast("decimal(38,0)")),
      count(when(col("component") === 0, 1))).head
    assert(lsum.compareTo(want.getDecimal(0)) == 0)
    assert(nf == want.getLong(1))
    // and the checkpointed frame is intact (plan replaced by the RDD)
    assert(ck.count() == 1000L)
  }

  test("empty input: the coalesce keeps the sum non-null") {
    import spark.implicits._
    val df = Seq.empty[Long].toDF("component")
    val obs = Observation()
    df.observe(obs,
        coalesce(sum(col("component").cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO)).as("lsum"))
      .localCheckpoint()
    assert(obs.get("lsum").asInstanceOf[java.math.BigDecimal]
      .compareTo(java.math.BigDecimal.ZERO) == 0)
  }
}
