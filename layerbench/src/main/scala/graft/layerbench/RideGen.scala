package graft.layerbench

import graft.geo.NycGeo
import graft.streaming.RideEvent

/** Seeded taxi-ride generator in the reference's event shape: every
  * ride is a START/END pair (`rideId` 2p and 2p+1, so `rideId div 2`
  * pairs them), END times trail START by 3–45 minutes, passengers 1–4.
  *
  * Locations: `outShare` of all events fall outside the NYC bounding box
  * (the pipelines filter them); of the remaining END events `hotShare`
  * drop off in one of `hotCells` fixed grid cells (the running counts
  * concentrate there), the rest uniformly over the grid (many cold keys
  * of state). The same (seed, parameters) always gives the same events.
  */
final case class RideGen(
    seed: Long,
    hotShare: Double = 0.7,
    outShare: Double = 0.1,
    hotCells: Int = 20,
    rideGapMs: Long = 100L) {

  /** 2013-01-01T00:00Z — the reference data's year. */
  val T0: Long = 1356998400000L

  private val hot: Vector[(Double, Double)] = {
    val r = new java.util.Random(seed ^ 0x5DEECE66DL)
    Vector.fill(hotCells) {
      // cells around midtown/downtown Manhattan, at their centers
      val col = 30 + r.nextInt(40)
      val row = 160 + r.nextInt(80)
      (NycGeo.LonWest + (col + 0.5) * NycGeo.DeltaLon, NycGeo.LatNorth - (row + 0.5) * NycGeo.DeltaLat)
    }
  }

  /** `nEvents` events (rounded up to whole rides) sorted by (tMs, rideId). */
  def events(nEvents: Int): Vector[RideEvent] = {
    val r = new java.util.Random(seed)
    val nRides = (nEvents + 1) / 2
    def inBox(): (Double, Double) =
      (NycGeo.LonWest + r.nextDouble() * (NycGeo.LonEast - NycGeo.LonWest),
        NycGeo.LatSouth + r.nextDouble() * (NycGeo.LatNorth - NycGeo.LatSouth))
    def outBox(): (Double, Double) = (-73.5 - r.nextDouble(), 40.0 + r.nextDouble() * 0.4)
    val out = Vector.newBuilder[RideEvent]
    out.sizeHint(nRides * 2)
    var t = T0
    var p = 0L
    while (p < nRides) {
      t += 1 + r.nextInt((2 * rideGapMs).toInt)
      val dur = (3 + r.nextInt(43)) * 60000L + r.nextInt(60000)
      val pax = 1 + r.nextInt(4)
      val (slon, slat) = if (r.nextDouble() < outShare) outBox() else inBox()
      val (elon, elat) =
        if (r.nextDouble() < outShare) outBox()
        else if (r.nextDouble() < hotShare) {
          val (lon, lat) = hot(r.nextInt(hot.size))
          (lon + (r.nextDouble() - 0.5) * NycGeo.DeltaLon * 0.5, lat + (r.nextDouble() - 0.5) * NycGeo.DeltaLat * 0.5)
        } else inBox()
      out += RideEvent(2 * p, t, isStart = true, slon, slat, pax)
      out += RideEvent(2 * p + 1, t + dur, isStart = false, elon, elat, pax)
      p += 1
    }
    out.result().sortBy(e => (e.tMs, e.rideId))
  }
}
