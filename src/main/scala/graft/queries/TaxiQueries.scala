package graft.queries

import graft.geo.NycGeo
import graft.streaming.TaxiPipelines
import graft.streaming.TaxiReplay.ridesFromEvents
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's three taxi pipelines (SURVEY.md §2 O4–O12, O15) in
  * batch form, oracle-checked. The reference's taxi data file is absent
  * from its clone, so the pipelines run over a deterministic rides view
  * of the driver's `events` table ([[graft.streaming.TaxiReplay.ridesFromEvents]]):
  * lon/lat/passenger fields are pure integer arithmetic on event
  * columns, computable identically by Spark and DuckDB (`ridesSql`).
  *
  * One pipeline per operator: every entry reads that rides frame, the
  * cell-keyed ones through [[TaxiPipelines.cellProject]], and the
  * total, sliding and ride-duration entries ARE the functions their
  * streaming twins run ([[TaxiPipelines]]). On a batch frame the
  * pipelines' `withWatermark` is a no-op the optimizer removes
  * (PlanShapeSpec pins that). The DuckDB SQL below is the reference
  * implementation every entry, batch or stream, is checked against.
  *
  * Output event times are epoch milliseconds (`t_ms`, `w_end_ms`),
  * matching the reference's native unit (Flink event time,
  * `TaxiRideSource.scala:116`).
  */
object TaxiQueries {

  private val ridesSql: String =
    """SELECT event_id AS rideId,
      |       epoch_ms(date_trunc('millisecond', ts)) AS t_ms,
      |       (event_id % 2 = 0) AS isStart,
      |       -74.05::DOUBLE + (user_id % 360) * 0.001::DOUBLE AS lon,
      |       40.5::DOUBLE + (event_id % 520) * 0.001::DOUBLE AS lat,
      |       CAST(event_id % 4 + 1 AS INT) AS passengers
      |FROM events""".stripMargin

  private val cellEventsSql: String =
    s"""SELECT ${NycGeo.Sql.gridCell} AS cell, rideId, t_ms, passengers
       |FROM ($ridesSql)
       |WHERE NOT isStart AND ${NycGeo.Sql.isInNYC}""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // O9 TotalArrivalCount, final-state form: per cell, last event time
    // + running passenger total + cell center (O12). One shuffle on
    // `cell` (bounded key space: 100k cells — SURVEY §6).
    "taxi_total_count" -> ((s, dir) =>
      TaxiPipelines.totalArrivalCount(ridesFromEvents(s, dir).toDF())),

    // O9 exact per-event emission (running fold): batch window-function
    // form — running sum per cell ordered by (ts, rideId).
    "taxi_running_count" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("cell"))
        .orderBy(col("ts"), col("rideId"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      TaxiPipelines.cellProject(ridesFromEvents(s, dir).toDF())
        .select(col("cell"), col("rideId"), unix_millis(col("ts")).as("t_ms"),
          sum(col("passengers")).over(w).as("running_cnt"))
    }),

    // O10 SlidingArrivalCount: 15-min window / 5-min slide per cell.
    // Spark's `window()` explodes each event into its 3 overlapping
    // panes and pre-aggregates map-side before the shuffle.
    "taxi_sliding_count" -> ((s, dir) =>
      TaxiPipelines.slidingArrivalCount(ridesFromEvents(s, dir).toDF())),

    // Tumbling window = degenerate slide (slide == size): the API case
    // the reference supports but no demo uses (SURVEY §2.1 Streaming).
    "taxi_tumbling_count" -> ((s, dir) => {
      TaxiPipelines.cellProject(ridesFromEvents(s, dir).toDF())
        .groupBy(window(col("ts"), "15 minutes"), col("cell"))
        .agg(sum(col("passengers")).as("cnt"))
        .select(col("cell"), unix_millis(col("window.end")).as("w_end_ms"), col("cnt"))
    }),

    // The latent ride-duration interval join (SURVEY.md §2.1 "Joins"):
    // START and END events of a ride pair on pair_id within a ±1 h
    // event-time bound — the stream-stream join of
    // `taxi_duration_stream` on a batch frame. Equi-join on pair_id →
    // single shuffle, AQE-handled; the time bound is the state-cleanup
    // contract in the streaming twin.
    "taxi_ride_duration" -> ((s, dir) =>
      TaxiPipelines.rideDurationJoin(ridesFromEvents(s, dir).toDF())),

    // Origin→destination matrix — the trip-flow rollup a taxi/mobility
    // deployment actually reports (reference computes arrivals only;
    // OD closes the pair): START and END legs of each ride meet on
    // pair_id (= rideId div 2, the ETL's pairing key), both bbox-
    // filtered and projected to GRID CELLS before the join — only
    // (pair_id, cell[, passengers]) ints cross the exchange. Two
    // bounded shuffles: the pair join (keyed, 1:1) and the (o, d)
    // rollup whose key space is trips-bounded, never cells². The END
    // leg carries the passenger count (the reference's convention:
    // arrivals own the count).
    "taxi_od_matrix" -> ((s, dir) => {
      val r = ridesFromEvents(s, dir).filter(NycGeo.isInNYC(col("lon"), col("lat")))
      val o = r.filter(col("isStart"))
        .select(expr("rideId div 2").as("pair_id"),
          NycGeo.gridCell(col("lon"), col("lat")).as("o_cell"))
      val d = r.filter(!col("isStart"))
        .select(expr("rideId div 2").as("pair_id"),
          NycGeo.gridCell(col("lon"), col("lat")).as("d_cell"),
          col("passengers"))
      o.join(d, Seq("pair_id"))
        .groupBy(col("o_cell"), col("d_cell"))
        .agg(count(lit(1)).as("n_trips"), sum(col("passengers")).as("pax"))
    }),

    // O15 trip→event ETL: one input row becomes a START and an END
    // event via explode(array(...)) — the awk script's 1→2 expansion
    // (`convertTrips.sh:35`) as a single narrow Spark stage, no shuffle.
    "taxi_etl_explode" -> ((s, dir) => {
      ridesFromEvents(s, dir).filter(col("isStart")).select(
        col("rideId"),
        explode(array(
          struct(col("tMs").as("t_ms"), lit("START").as("tag")),
          struct((col("tMs") + (col("passengers") * lit(60000L))).as("t_ms"),
            lit("END").as("tag")))).as("ev"))
        .select(col("rideId"), col("ev.t_ms").as("t_ms"), col("ev.tag").as("tag"))
    }),

    // Rides-in-progress timeline: how many rides are active at each
    // event instant, over the ETL intervals [t_start, t_start +
    // passengers·2 min). The naive form is a range-containment join
    // (timeline × intervals — quadratic, the classic range-join
    // blowup); the scale form is the SWEEP: ±1 deltas at interval
    // endpoints, aggregated per instant, then a global running sum.
    // A bare ROW_NUMBER-style global window would collapse onto one
    // task, so the running sum is the same two-level distributed
    // prefix sum as `text_global_shuffle`: per-day partial cumsum
    // (parallel window, day = range-partition id) + a #days-row
    // day-offset rollup joined back by broadcast. The delta
    // aggregate is localCheckpointed once so the within-day and
    // day-total consumers share one pass. Exact integers throughout.
    "taxi_concurrency" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val iv = ridesFromEvents(s, dir).filter(col("isStart"))
        .select(col("tMs").as("t_start"),
          (col("tMs") + col("passengers") * lit(120000L)).as("t_end"))
      val deltas = iv.select(col("t_start").as("t_ms"), lit(1L).as("delta"))
        .unionAll(iv.select(col("t_end").as("t_ms"), lit(-1L).as("delta")))
      val agg = deltas.groupBy(col("t_ms")).agg(sum(col("delta")).as("d"))
        .withColumn("day", expr("t_ms div 86400000"))
        .localCheckpoint()
      val within = agg.withColumn("run",
        sum(col("d")).over(Window.partitionBy(col("day")).orderBy(col("t_ms"))))
      val dayOff = agg.groupBy(col("day")).agg(sum(col("d")).as("tot"))
        .select(col("day"), coalesce(
          sum(col("tot")).over(Window.orderBy(col("day"))
            .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)).as("off"))
      within.join(broadcast(dayOff), Seq("day"))
        .select(col("t_ms"), (col("run") + col("off")).as("concurrency"))
    })
  )

  /** Ride-duration interval-join oracle — shared by the batch query
    * and the stream-stream-join query (identical result contract).
    */
  val rideDurationSql: String =
    s"""WITH r AS ($ridesSql)
       |SELECT s.rideId // 2 AS pair_id, s.t_ms AS t_start, e.t_ms AS t_end,
       |  e.t_ms - s.t_ms AS duration_ms
       |FROM (SELECT * FROM r WHERE isStart) s
       |JOIN (SELECT * FROM r WHERE NOT isStart) e
       |  ON s.rideId // 2 = e.rideId // 2
       | AND e.t_ms BETWEEN s.t_ms - 3600000 AND s.t_ms + 3600000""".stripMargin

  /** Sliding-window counts without the center columns — shared by the
    * early-trigger streaming oracle (final fires carry no centers).
    */
  val slidingNoCentersSql: String =
    s"""SELECT cell, bs + 300000 * (o + 1) AS w_end_ms,
       |  CAST(SUM(passengers) AS BIGINT) AS cnt
       |FROM (SELECT cell, passengers, t_ms - t_ms % 300000 AS bs
       |      FROM ($cellEventsSql))
       |CROSS JOIN (VALUES (0), (1), (2)) AS offs(o)
       |GROUP BY cell, w_end_ms""".stripMargin

  /** Sliding counts over SECONDS-truncated event times — oracle for
    * the file-stream ingress, whose CSV wire format (reference §1.2)
    * carries seconds resolution. Identical to the
    * `taxi_sliding_count` oracle except pane assignment uses the
    * truncated time (an event within 1 s after a 5-min boundary can
    * land one pane earlier than with ms resolution).
    */
  val slidingSecondsSql: String =
    s"""SELECT cell,
       |  bs + 300000 * (o + 1) AS w_end_ms,
       |  CAST(SUM(passengers) AS BIGINT) AS cnt,
       |  ${NycGeo.Sql.cellCenterLon("cell")} AS center_lon,
       |  ${NycGeo.Sql.cellCenterLat("cell")} AS center_lat
       |FROM (SELECT cell, passengers,
       |        (t_ms - t_ms % 1000) - (t_ms - t_ms % 1000) % 300000 AS bs
       |      FROM ($cellEventsSql))
       |CROSS JOIN (VALUES (0), (1), (2)) AS offs(o)
       |GROUP BY cell, w_end_ms""".stripMargin

  /** Early-fire oracle (O11 FIRE semantics): per (cell, pane), the
    * count trigger fires at cumulative sums s₀ = min{cum ≥ T},
    * sₖ₊₁ = min{cum ≥ sₖ + T} over the pane's event-time-ordered
    * cumulative passenger sums — a recursive CTE advancing one *fire*
    * per step (depth ≤ final_sum / T). `list_min(list_filter(...))`
    * finds the next fire level without aggregating over the recursive
    * reference. Valid against ordered replay (see earlyFiresStream).
    */
  def earlyFiresSql(threshold: Int): String =
    s"""WITH RECURSIVE panes AS (
       |  SELECT cell, bs + 300000 * (o + 1) AS w_end_ms, t_ms, rideId, passengers
       |  FROM (SELECT cell, passengers, t_ms, rideId, t_ms - t_ms % 300000 AS bs
       |        FROM ($cellEventsSql))
       |  CROSS JOIN (VALUES (0), (1), (2)) AS offs(o)
       |),
       |agg AS (
       |  SELECT cell, w_end_ms, list(cum ORDER BY cum) AS cums
       |  FROM (SELECT cell, w_end_ms,
       |          CAST(SUM(passengers) OVER (PARTITION BY cell, w_end_ms
       |            ORDER BY t_ms, rideId
       |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
       |        FROM panes)
       |  GROUP BY cell, w_end_ms
       |),
       |fires AS (
       |  SELECT cell, w_end_ms, cums,
       |    list_min(list_filter(cums, c -> c >= $threshold)) AS early_cnt,
       |    1::BIGINT AS seq
       |  FROM agg
       |  WHERE list_min(list_filter(cums, c -> c >= $threshold)) IS NOT NULL
       |  UNION ALL
       |  SELECT f.cell, f.w_end_ms, f.cums,
       |    list_min(list_filter(f.cums, c -> c >= f.early_cnt + $threshold)),
       |    f.seq + 1
       |  FROM fires f
       |  WHERE list_min(list_filter(f.cums, c -> c >= f.early_cnt + $threshold)) IS NOT NULL
       |)
       |SELECT cell, w_end_ms, seq, early_cnt FROM fires""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "taxi_od_matrix" ->
      s"""WITH r AS (SELECT * FROM ($ridesSql) WHERE ${NycGeo.Sql.isInNYC}),
         |o AS (SELECT rideId // 2 AS pair_id, ${NycGeo.Sql.gridCell} AS o_cell
         |      FROM r WHERE isStart),
         |d AS (SELECT rideId // 2 AS pair_id, ${NycGeo.Sql.gridCell} AS d_cell,
         |        passengers
         |      FROM r WHERE NOT isStart)
         |SELECT o_cell, d_cell, COUNT(*) AS n_trips,
         |  CAST(SUM(passengers) AS BIGINT) AS pax
         |FROM o JOIN d USING (pair_id)
         |GROUP BY 1, 2""".stripMargin,
    "taxi_total_count" ->
      s"""SELECT cell, MAX(t_ms) AS last_t_ms, CAST(SUM(passengers) AS BIGINT) AS cnt,
         |  ${NycGeo.Sql.cellCenterLon("cell")} AS center_lon,
         |  ${NycGeo.Sql.cellCenterLat("cell")} AS center_lat
         |FROM ($cellEventsSql)
         |GROUP BY cell""".stripMargin,
    "taxi_running_count" ->
      s"""SELECT cell, rideId, t_ms,
         |  CAST(SUM(passengers) OVER (PARTITION BY cell ORDER BY t_ms, rideId
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_cnt
         |FROM ($cellEventsSql)""".stripMargin,
    "taxi_sliding_count" ->
      s"""SELECT cell,
         |  bs + 300000 * (o + 1) AS w_end_ms,
         |  CAST(SUM(passengers) AS BIGINT) AS cnt,
         |  ${NycGeo.Sql.cellCenterLon("cell")} AS center_lon,
         |  ${NycGeo.Sql.cellCenterLat("cell")} AS center_lat
         |FROM (SELECT cell, passengers, t_ms - t_ms % 300000 AS bs
         |      FROM ($cellEventsSql))
         |CROSS JOIN (VALUES (0), (1), (2)) AS offs(o)
         |GROUP BY cell, w_end_ms""".stripMargin,
    "taxi_tumbling_count" ->
      s"""SELECT cell, bs + 900000 AS w_end_ms, CAST(SUM(passengers) AS BIGINT) AS cnt
         |FROM (SELECT cell, passengers, t_ms - t_ms % 900000 AS bs
         |      FROM ($cellEventsSql))
         |GROUP BY cell, w_end_ms""".stripMargin,
    "taxi_ride_duration" -> rideDurationSql,
    "taxi_etl_explode" ->
      s"""WITH r AS (SELECT * FROM ($ridesSql) WHERE isStart)
         |SELECT rideId, t_ms, 'START' AS tag FROM r
         |UNION ALL
         |SELECT rideId, t_ms + passengers * 60000 AS t_ms, 'END' AS tag FROM r""".stripMargin,
    // Single-window sweep: the two-level prefix sum on the Spark side
    // must equal this by the associativity of the running sum.
    "taxi_concurrency" ->
      s"""WITH iv AS (
         |  SELECT t_ms AS t_start, t_ms + passengers * 120000 AS t_end
         |  FROM ($ridesSql) WHERE isStart),
         |deltas AS (SELECT t_start AS t_ms, 1 AS delta FROM iv
         |  UNION ALL SELECT t_end, -1 FROM iv),
         |agg AS (SELECT t_ms, sum(delta) AS d FROM deltas GROUP BY t_ms)
         |SELECT t_ms, CAST(sum(d) OVER (ORDER BY t_ms) AS BIGINT) AS concurrency FROM agg""".stripMargin
  )
}
