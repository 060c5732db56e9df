package graft.layerbench

/** One measured unit of work: the paced window or one registry pass,
  * with the micro-batches that ran inside it.
  */
final case class MeasuredUnit(fromEpochMs: Long, toEpochMs: Long, batches: Seq[BatchRec])

/** Per-layer metrics shared by every workload.
  *
  * Rule: a `*_ms` metric is a median over the micro-batches of all
  * measured units; a `*_s`, count or `*_peak` metric is a per-unit total
  * (or peak), reported as the median over units. Layers a workload does
  * not touch read 0.
  */
object StreamLayers {
  private val MB = 1024.0 * 1024.0

  def metrics(units: Seq[MeasuredUnit], tasks: Option[TaskLog]): Map[String, Double] = {
    val bs = units.flatMap(_.batches)
    def med(f: BatchRec => Double): Double = Stats.medianOr0(bs.map(f))
    def perUnit(f: MeasuredUnit => Double): Double = Stats.medianOr0(units.map(f))
    def rowsOut(b: BatchRec): Double = (if (b.sinkRows >= 0) b.sinkRows else b.stateRowsUpdated).toDouble
    val engine = Map(
      "engine.trigger_ms" -> med(_.phase("triggerExecution")),
      "engine.planning_ms" -> med(_.phase("queryPlanning")),
      "engine.latest_offset_ms" -> med(_.phase("latestOffset")),
      "engine.get_batch_ms" -> med(_.phase("getBatch")),
      "engine.batches" -> perUnit(_.batches.size.toDouble),
      "engine.rows_per_batch" -> med(_.inputRows.toDouble),
      "ckpt.wal_commit_ms" -> med(_.phase("walCommit")),
      "ckpt.commit_offsets_ms" -> med(_.phase("commitOffsets")),
      "state.commit_ms" -> med(_.stateCommitMs.toDouble),
      "state.rows" -> med(_.stateRows.toDouble),
      "state.mem_mb" -> med(_.stateMemBytes / MB),
      "state.commit_s" -> perUnit(_.batches.map(_.stateCommitMs).sum / 1e3),
      "state.rows_peak" -> perUnit(_.batches.map(_.stateRows.toDouble).maxOption.getOrElse(0.0)),
      "state.mem_mb_peak" -> perUnit(_.batches.map(_.stateMemBytes / MB).maxOption.getOrElse(0.0)),
      "pipeline.add_batch_ms" -> med(_.phase("addBatch")),
      "pipeline.add_batch_s" -> perUnit(_.batches.map(_.phase("addBatch")).sum / 1e3),
      "pipeline.rows_out" -> perUnit(_.batches.map(rowsOut).sum))
    val sched = tasks.map { log =>
      // pipeline.*: tasks that ran inside the unit's micro-batches;
      // spark.*: every task and job of the unit
      val inBatches = units.map(u => log.totalsIn(u.batches.map(b => (b.startEpochMs, b.endEpochMs))))
      val all = units.map(u => log.totals(u.fromEpochMs, u.toEpochMs))
      def m(xs: Seq[SparkTotals])(f: SparkTotals => Double): Double = Stats.medianOr0(xs.map(f))
      Map(
        "pipeline.task_cpu_s" -> m(inBatches)(_.taskCpuS),
        "pipeline.shuffle_write_mb" -> m(inBatches)(_.shuffleWriteMb),
        "pipeline.spill_mb" -> m(inBatches)(_.spillMb),
        "pipeline.gc_s" -> m(inBatches)(_.gcS),
        "spark.jobs" -> m(all)(_.jobs.toDouble),
        "spark.stages" -> m(all)(_.stages.toDouble),
        "spark.tasks" -> m(all)(_.tasks.toDouble),
        "spark.task_cpu_s" -> m(all)(_.taskCpuS),
        "spark.shuffle_mb" -> m(all)(_.shuffleMb),
        "spark.spill_mb" -> m(all)(_.spillMb),
        "spark.gc_s" -> m(all)(_.gcS),
        "spark.exec_s" -> m(all)(_.execS))
    }.getOrElse(Map.empty)
    engine ++ sched
  }

  /** Engine phase spans of one micro-batch, laid out in the order
    * MicroBatchExecution runs them (progress reports durations only).
    * Returns the ids of the batch span and of its `addBatch` span (the
    * parent of sink spans), -1 when tracing is off.
    */
  def traceBatch(tracer: Tracer, b: BatchRec, parent: Int): (Int, Int) = {
    if (!tracer.enabled) return (-1, -1)
    val start = tracer.epochToMs(b.startEpochMs)
    val id = tracer.add("engine.batch", parent, start, start + b.phase("triggerExecution"),
      Seq("batch_id" -> b.batchId, "rows" -> b.inputRows))
    var t = start
    var addBatch = id
    Seq("latestOffset" -> "engine.latest_offset", "walCommit" -> "ckpt.wal_commit",
      "getBatch" -> "engine.get_batch", "queryPlanning" -> "engine.planning",
      "addBatch" -> "pipeline.add_batch", "commitOffsets" -> "ckpt.commit_offsets").foreach {
      case (k, name) =>
        val d = b.phase(k)
        if (d > 0) {
          val s = tracer.add(name, id, t, t + d)
          if (k == "addBatch") addBatch = s
          t += d
        }
    }
    (id, addBatch)
  }
}
