package graft.layerbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.immutable.ListMap

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Small statistics, JSON and /proc helpers shared by the workloads. */
object Stats {

  /** Linear-interpolated quantile (the `numpy`/`statistics` "inclusive"
    * definition); `q` in [0, 1]. Empty input gives NaN.
    */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Median that reads 0 for no samples — per-layer counters of a layer
    * the workload does not touch.
    */
  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)
}

/** Result and span files, written with the Jackson (and its Scala
  * module) that Spark already brings; `obj` keeps fields in order. NaN
  * is written as the string "NaN".
  */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def obj(fields: (String, Any)*): ListMap[String, Any] = ListMap(fields: _*)
  def write(path: Path, v: Any): Unit = mapper.writeValue(path.toFile, v)
}

/** Machine context read from /proc: stamps, not metrics. */
object Proc {
  private def read(p: String): Option[String] =
    try Some(new String(Files.readAllBytes(java.nio.file.Paths.get(p)), StandardCharsets.UTF_8))
    catch { case _: Exception => None }

  def loadAvg: String = read("/proc/loadavg").map(_.split(' ').take(3).mkString(" ")).getOrElse("unavailable")

  /** Aggregate cpu jiffies from /proc/stat (user nice system idle
    * iowait irq softirq steal ...).
    */
  def cpuJiffies: Array[Long] =
    read("/proc/stat").map(_.linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong))
      .getOrElse(Array.empty)

  /** (busy %, steal %) between two `cpuJiffies` snapshots. */
  def cpuPct(a: Array[Long], b: Array[Long]): (Double, Double) =
    if (a.length < 8 || b.length < 8) (-1.0, -1.0)
    else {
      val d = a.zip(b).map { case (x, y) => y - x }
      val tot = math.max(d.sum.toDouble, 1.0)
      val idle = (d(3) + d(4)).toDouble
      (100.0 * (tot - idle - d(7)) / tot, 100.0 * d(7) / tot)
    }

  /** Peak resident set (VmHWM) of this process, MB. */
  def vmHwmMb: Double =
    read("/proc/self/status").flatMap(_.linesIterator.find(_.startsWith("VmHWM:")))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  /** Fixed single-thread integer loop, wall-clocked: effective machine
    * speed at the moment, so a uniformly slow window shows in the stamps.
    */
  def calibMs(): Double = {
    var h = 0x9E3779B97F4A7C15L
    var i = 0L
    val t0 = System.nanoTime()
    while (i < 30000000L) {
      h = java.lang.Long.rotateLeft(h ^ (i * 0xC2B2AE3D27D4EB4FL), 31) * 0x9E3779B185EBCA87L
      i += 1
    }
    val ms = (System.nanoTime() - t0) / 1e6
    if (h == 42L) Console.err.println(h)
    ms
  }
}
