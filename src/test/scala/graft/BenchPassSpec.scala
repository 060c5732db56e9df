package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `Bench` must not hide a failure: an entry that throws, while its
  * query is built or while it runs, is recorded as failed with its
  * error class, gets no timing, and is left out of the best-of-passes
  * map the total is summed from.
  */
class BenchPassSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("a throwing entry is recorded as failed, never timed, and left out of best and total") {
    val entries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "ok" -> ((s, _) => s.range(10).toDF("x")),
      "throws_at_build" -> ((_, _) => throw new IllegalStateException("injected at build")),
      "throws_at_run" -> ((s, _) => s.range(3).select(raise_error(lit("injected at run")).as("e"))))
    val pass = Bench.runPass(spark, "unused", entries)
    assert(pass.timings.keySet == Set("ok"))
    assert(pass.failures.keySet == Set("throws_at_build", "throws_at_run"))
    assert(pass.failures("throws_at_build").startsWith("java.lang.IllegalStateException: injected at build"))
    assert(pass.failures("throws_at_run").contains("injected at run"))

    val (best, failed) = Bench.bestOf(Seq(pass, Bench.runPass(spark, "unused", entries)))
    assert(best.keySet == Set("ok"))
    assert(failed.keySet == Set("throws_at_build", "throws_at_run"))
  }

  test("an entry that fails in any pass has no best time") {
    val p1 = Bench.Pass(Map("a" -> 2.0, "flaky" -> 1.0), Map.empty)
    val p2 = Bench.Pass(Map("a" -> 1.5), Map("flaky" -> "java.lang.RuntimeException: x"))
    val (best, failed) = Bench.bestOf(Seq(p1, p2))
    assert(best == Map("a" -> 1.5))
    assert(failed == Map("flaky" -> "java.lang.RuntimeException: x"))
  }
}
