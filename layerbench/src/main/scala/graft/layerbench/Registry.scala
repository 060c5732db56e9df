package graft.layerbench

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkEntry
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Closed loop, serial: repeated passes over a fixed list of registry
  * entries, each called through `SparkEntry.queries(name)` on the
  * benchmark's copy of the sf0.001 tables and materialized with a
  * full-row `xxhash64` aggregate (every output column is evaluated; a
  * bare count would let Catalyst prune them).
  *
  * An entry run is timed in three parts: build (the `queries(name)`
  * call, with any eager work inside it), plan (forcing
  * `queryExecution.executedPlan` of the aggregate) and exec (collecting
  * it). A result is one entry run; its latency is the sum of the three.
  * The seed shuffles the entry order of every pass.
  */
object Registry {

  /** The self-test's entry: its build throws. */
  val InjectedFailure = "injected_failure"

  private final case class EntryRun(name: String, fromEpochMs: Long, toEpochMs: Long,
      buildS: Double, planS: Double, execS: Double, fingerprint: Option[(Long, String)], error: String) {
    def wallS: Double = buildS + planS + execS
  }

  private final case class Pass(runs: Seq[EntryRun], fromEpochMs: Long, toEpochMs: Long)

  /** Row count and the decimal sum of every row's full-row hash. */
  private def fingerprint(df: DataFrame): DataFrame =
    df.agg(count(lit(1)), sum(xxhash64(struct(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*)).cast("decimal(38,0)")))

  def run(ctx: Ctx): Outcome = {
    val o = ctx.opts
    val spark = ctx.spark
    val base = o.settings.getParent
    val dir = base.resolve(o.wl("data_dir").asText).toString
    val names = o.wl("entries").elements().asScala.map(_.asText).toVector
    val entries = names ++ (if (o.injectFailure) Seq(InjectedFailure) else Nil)
    val expectedPath = base.resolve(o.wl("expected").asText)
    val expected: Map[String, (Long, String)] =
      if (o.record) Map.empty
      else new ObjectMapper().readTree(expectedPath.toFile).properties().asScala.map { e =>
        e.getKey -> (e.getValue.get("rows").asLong, e.getValue.get("hash").asText)
      }.toMap
    val warmPasses = o.wlInt("warm_passes")
    val rng = new Random(o.seed)

    def once(name: String): EntryRun = {
      val from = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var t1, t2 = 0L
      val (fp, err) =
        try {
          if (name == InjectedFailure) throw new IllegalStateException("injected failure")
          val df = SparkEntry.queries(name)(spark, dir)
          t1 = System.nanoTime()
          val agg = fingerprint(df)
          agg.queryExecution.executedPlan
          t2 = System.nanoTime()
          val r = agg.collect().head
          (Some((r.getLong(0), if (r.isNullAt(1)) "null" else r.getDecimal(1).toPlainString)), "")
        } catch { case e: Exception => (None, e.toString.linesIterator.next().take(300)) }
      val t3 = System.nanoTime()
      if (t1 == 0L) t1 = t3
      if (t2 == 0L) t2 = t3
      EntryRun(name, from, System.currentTimeMillis(), (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9, fp, err)
    }
    def ok(r: EntryRun): Boolean =
      r.error.isEmpty && (o.record || expected.get(r.name) == r.fingerprint)
    def pass(): Pass = {
      val from = System.currentTimeMillis()
      val runs = rng.shuffle(entries).map(once)
      Pass(runs, from, System.currentTimeMillis())
    }
    def passS(p: Pass): Double = p.runs.filter(ok).map(_.wallS).sum

    // warm-up: a fixed number of whole passes (a fixed count puts every
    // run at the same point of the JIT ramp)
    val warm = (1 to warmPasses).map(_ => passS(pass()))

    // measured passes: whole passes that fit in the measured window (one
    // more as long as the last still ends inside it)
    val firstTimedEpochNs = Main.epochNs
    val measureStart = System.nanoTime()
    val passes = ArrayBuffer.empty[Pass]
    while (passes.isEmpty || (System.nanoTime() - measureStart) / 1e9 + passS(passes.last) <= ctx.seconds)
      passes += pass()
    org.apache.spark.layerbench.ListenerBusBridge.waitUntilEmpty(spark.sparkContext)

    val runs = passes.flatMap(_.runs).toSeq
    val good = runs.filter(ok)
    val mismatched = runs.filter(r => r.error.isEmpty && !ok(r))
    if (o.record) {
      // every pass of an entry must agree before its fingerprint is recorded
      val fps = runs.filter(_.error.isEmpty).groupBy(_.name).map { case (n, rs) => n -> rs.map(_.fingerprint.get).distinct }
      val unstable = fps.filter(_._2.size > 1).keys
      require(unstable.isEmpty, s"fingerprints differ between passes: ${unstable.mkString(", ")}")
      val rec = LinkedHashMap(names.filter(fps.contains).map { n =>
        n -> Json.obj("rows" -> fps(n).head._1, "hash" -> fps(n).head._2)
      }: _*)
      Json.write(expectedPath, rec)
    }

    def median(name: String, f: EntryRun => Double): Double = Stats.medianOr0(good.filter(_.name == name).map(f))
    val entryWall = names.map(n => n -> median(n, _.wallS)).filter(_._2 > 0)
    val geomean = math.exp(entryWall.map(x => math.log(x._2)).sum / entryWall.size)
    val passTimes = passes.map(passS).toSeq
    val units = passes.map(p => MeasuredUnit(p.fromEpochMs, p.toEpochMs, Nil)).toSeq
    val jobs = (r: EntryRun) => ctx.tasks.map(_.jobsIn(r.fromEpochMs, r.toEpochMs).size.toDouble).getOrElse(0.0)
    val perEntry = names.flatMap { n =>
      Seq(s"entry.$n.build_s" -> median(n, _.buildS), s"entry.$n.wall_s" -> median(n, _.wallS),
        s"entry.$n.jobs" -> median(n, jobs))
    }
    val layers = StreamLayers.metrics(units, ctx.tasks) ++ perEntry ++ Map(
      "query.build_s" -> Stats.medianOr0(passes.map(_.runs.filter(ok).map(_.buildS).sum).toSeq),
      "catalyst.plan_s" -> Stats.medianOr0(passes.map(_.runs.filter(ok).map(_.planS).sum).toSeq))

    if (ctx.tracer.enabled) {
      val tr = ctx.tracer
      passes.foreach { p =>
        val pid = tr.add("registry.pass", -1, tr.epochToMs(p.fromEpochMs), tr.epochToMs(p.toEpochMs))
        p.runs.foreach { r =>
          val start = tr.epochToMs(r.fromEpochMs)
          val id = tr.add("registry.entry", pid, start, start + r.wallS * 1e3,
            Seq("entry" -> r.name, "ok" -> ok(r), "error" -> r.error))
          val phases = Seq("query.build" -> r.buildS, "catalyst.plan" -> r.planS, "entry.exec" -> r.execS)
          val bounds = phases.scanLeft(start)(_ + _._2 * 1e3)
          val ids = phases.zip(bounds).map { case ((name, d), s) => tr.add(name, id, s, s + d * 1e3) }
          ctx.tasks.foreach(_.jobsIn(r.fromEpochMs, r.toEpochMs).foreach { case (a, e) =>
            val end = tr.epochToMs(e)
            val phase = bounds.drop(1).indexWhere(end <= _)
            tr.add("spark.job", if (phase < 0) id else ids(phase), tr.epochToMs(a), end)
          })
        }
      }
    }

    Outcome(
      attempted = runs.size,
      failed = runs.size - good.size,
      gatePassed = mismatched.isEmpty,
      resultMs = good.map(_.wallS * 1e3),
      // a median over passes, like the latencies: a slow stretch of the
      // host inside the window moves it only when it covers half the passes
      throughputPerS = Stats.median(passes.filter(passS(_) > 0).map(p => p.runs.count(ok) / passS(p)).toSeq),
      firstTimedEpochNs = firstTimedEpochNs,
      layers = layers,
      headline = Seq(("pass_s", Stats.median(passTimes), "s"), ("entry_geomean_s", geomean, "s"),
        ("passes", passes.size.toDouble, "count"), ("entries", names.size.toDouble, "count")),
      notes = Seq("warm_pass_s" -> warm, "pass_s" -> passTimes,
        "failed_runs" -> runs.filterNot(ok).map(r => Json.obj("entry" -> r.name, "error" -> r.error,
          "fingerprint" -> r.fingerprint.map(f => Seq(f._1.toString, f._2)), "expected" ->
            expected.get(r.name).map(f => Seq(f._1.toString, f._2)))),
        "entry_wall_s" -> Json.obj(entryWall: _*),
        "runs" -> good.map(r => Seq(r.name, r.wallS))))
  }
}
