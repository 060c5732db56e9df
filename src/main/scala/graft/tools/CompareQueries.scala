package graft.tools

import graft.{Session, SparkEntry}
import org.apache.spark.sql.functions._

/** Assert two registered queries produce identical results (sorted-row
  * hash over all columns), e.g. a streaming entry vs its batch twin:
  *   sbt "runMain graft.tools.CompareQueries <nameA> <nameB> [sfDir]"
  */
object CompareQueries {
  def main(args: Array[String]): Unit = {
    val (a, b) = (args(0), args(1))
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.01"
    val spark = Session()
    def digest(name: String): (Long, java.math.BigDecimal) = {
      val df = SparkEntry.queries(name)(spark, sfDir)
      val cols = df.columns.sorted.map(col)
      // DECIMAL(38,0) accumulation: a sum of Long hashes overflows ANSI
      val row = df.agg(count(lit(1)),
        sum(xxhash64(cols: _*).cast(org.apache.spark.sql.types.DecimalType(38, 0)))).head
      (row.getLong(0), row.getDecimal(1))
    }
    val (da, db) = (digest(a), digest(b))
    println(s"[compare] $a=$da $b=$db match=${da == db}")
    spark.stop()
    if (da != db) sys.exit(1)
  }
}
