package graft.demo

import graft.geo.NycGeo
import graft.model.TaxiRide
import org.apache.spark.sql.functions._

/** Batch form of the reference's TotalArrivalCount over a real taxi
  * CSV file in the reference's 7-field wire format
  * (`datatypes/TaxiRide.scala:68-90`, `convertTrips.sh:24-31`) — the
  * entry point a user of the reference would reach for first with
  * their own `nycTaxiData.gz` (gz is transparent to `spark.read`).
  *
  *   sbt "runMain graft.demo.TaxiCsvDemo /path/to/rides.csv[.gz]"
  */
object TaxiCsvDemo {
  def main(args: Array[String]): Unit = {
    val path = args.headOption.getOrElse(sys.error("usage: TaxiCsvDemo <csv path>"))
    val spark = sys.env.get("SPARK_MASTER").fold(graft.Session())(graft.Session(_))

    val rides = TaxiRide.parseCsv(spark.read.text(path).toDF("line"), "line")
    val counts = rides
      .filter(!col("isStart"))
      .filter(NycGeo.isInNYC(col("lon"), col("lat")))
      .groupBy(NycGeo.gridCell(col("lon"), col("lat")).as("cell"))
      .agg(max(col("time")).as("last_time"), sum(col("passengerCnt")).as("cnt"))
      .withColumn("center_lon", NycGeo.cellCenterLon(col("cell")))
      .withColumn("center_lat", NycGeo.cellCenterLat(col("cell")))
      .orderBy(col("cnt").desc)
    counts.show(20, truncate = false)
    spark.stop()
  }
}
