package perfbench

import org.apache.spark.PerfbenchBus

/** Per-layer metrics of a traced run, computed once the run's operations are
  * done from the driver spans ([[Tracer]]) and the scheduler's task records
  * ([[TaskLog]]). Every workload reports every name below; a layer the
  * workload never enters reads 0. Timings are medians over the operations
  * in which the layer ran. */
object Layers {

  val units: Seq[(String, String)] = Seq(
    "consolidate.wall_s" -> "s", "consolidate.task_s" -> "s",
    "consolidate.shuffle_write_mb" -> "MB", "consolidate.edges_out" -> "count",
    "gate.wall_s" -> "s", "gate.collect_mb" -> "MB", "gate.local_frac" -> "frac",
    "index.build_s" -> "s", "index.broadcast_s" -> "s", "index.mb" -> "MB",
    "shards.build_s" -> "s", "shards.shuffle_mb" -> "MB", "shards.hot_s" -> "s",
    "kernel.wall_s" -> "s", "kernel.task_s" -> "s", "kernel.cpu_s" -> "s", "kernel.gc_s" -> "s",
    "kernel.shuffle_mb" -> "MB", "kernel.spill_mb" -> "MB", "kernel.task_skew" -> "ratio",
    "kernel.rows_out" -> "count",
    "deltapack.build_ms" -> "ms",
    "absorb.driver_ms_p50" -> "ms", "absorb.driver_ms_max" -> "ms", "absorb.compact_ms" -> "ms",
    "absorb.window_wait_ms" -> "ms", "absorb.wal_kb_per_batch" -> "KB", "absorb.state_dir_mb" -> "MB",
    "job.ms_p50" -> "ms", "job.tasks" -> "count", "job.core_busy_frac" -> "frac",
    "bulk.wall_s" -> "s", "bulk.shuffle_mb" -> "MB", "bulk.wal_mb" -> "MB",
    "spark.jobs_per_op" -> "count", "spark.tasks_per_op" -> "count", "spark.driver_gap_s" -> "s",
    "jvm.driver_gc_s" -> "s",
    "call.wco_triangle_s" -> "s", "call.wco_triangle_count_s" -> "s", "call.seed_k4_count_s" -> "s",
    "call.cycle3_above_gate_s" -> "s", "call.bulk_absorb_s" -> "s", "call.batch_p90_ms" -> "ms",
    "trace.overhead_frac" -> "frac", "trace.layer_sum_err" -> "frac")

  /** Every per-layer metric, 0 where `values` has none. */
  def complete(values: Map[String, Double]): Map[String, (Double, String)] = {
    val unknown = values.keySet -- units.map(_._1)
    require(unknown.isEmpty, s"unlisted layer metrics: ${unknown.mkString(", ")}")
    units.map { case (k, u) => k -> (values.getOrElse(k, 0.0), u) }.toMap
  }

  val MB = 1024.0 * 1024.0
}

/** Joins a finished traced run's spans with its scheduler records. */
final class Analysis(c: Ctx) {
  PerfbenchBus.drain(c.sc)
  private val t = c.tracer
  val jobs: Seq[TaskLog.Job] = c.log.jobs
  val tasks: Seq[TaskLog.Task] = c.log.tasks
  private val stages = c.log.stages
  private val jobById = jobs.map(j => j.id -> j).toMap
  private val tasksByJob = tasks.groupBy(_.job)
  private val mapStages = c.log.mapStages

  /** Layer of a task: its job group, except that the shuffle-map stages run
    * inside the gate span are consolidate's (scan, distinct, partial sums;
    * adaptive execution runs them as jobs of their own) and a per-batch
    * match job submitted inside an absorb is the kernel's. */
  def layerOf(task: TaskLog.Task): String = jobById.get(task.job).fold("") { j =>
    if (j.group == "gate" && mapStages(task.stage)) "consolidate"
    else if (j.group == "absorb" && isBatchJob(j)) "kernel"
    else j.group
  }

  /** The per-batch stats job `applyBatchStatsAsync` submits. */
  def isBatchJob(j: TaskLog.Job): Boolean = j.callSite.startsWith("collectAsync")

  def jobsOf(op: String): Seq[TaskLog.Job] = jobs.filter(_.op == op)

  def tasksOf(op: String): Seq[TaskLog.Task] = jobsOf(op).flatMap(j => tasksByJob.getOrElse(j.id, Nil))

  def tasksOf(op: String, layer: String): Seq[TaskLog.Task] = tasksOf(op).filter(layerOf(_) == layer)

  /** Seconds per layer of one replayed operation: each child span's self
    * time, with the gate span split at the end of its shuffle-map stages. */
  def parts(r: Tracer.Span): Map[String, Double] =
    t.children(r).flatMap { k =>
      val self = t.selfNs(k) / 1e9
      if (k.name != "gate") Seq(k.name -> self)
      else {
        val gateJobs = jobsOf(r.op).filter(_.group == "gate").map(_.id).toSet
        val mapEnd = stages.filter(s => gateJobs(s.job) && mapStages(s.id)).map(_.completed).maxOption
        val cons = mapEnd.fold(0.0)(e => ((e - t.epochMs(k.start)) / 1e3).max(0.0).min(self))
        Seq("consolidate" -> cons, "gate" -> (self - cons))
      }
    }.groupMapReduce(_._1)(_._2)(_ + _)

  /** Seconds of the operation during which none of its tasks ran. */
  def driverGap(r: Tracer.Span): Double = {
    val iv = tasksOf(r.op).map(x => (t.nanoOf(x.launch), t.nanoOf(x.finish)))
    (r.dur - Tracer.covered(iv, r.start, r.end)) / 1e9
  }

  /** Median over stages with several tasks of (slowest / median task time). */
  def skew(ts: Seq[TaskLog.Task]): Double =
    Stats.median(ts.groupBy(_.stage).values.filter(_.size > 1).flatMap { st =>
      val med = Stats.median(st.map(_.runMs.toDouble))
      if (med > 0) Some(st.map(_.runMs).max / med) else None
    }.toSeq)

  /** Task totals of one layer in one operation. */
  def taskSums(op: String, layer: String): Map[String, Double] = {
    val ts = tasksOf(op, layer)
    Map("task_s" -> ts.map(_.runMs).sum / 1e3, "cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / Layers.MB,
      "spill_mb" -> ts.map(_.spill).sum / Layers.MB,
      "result_mb" -> ts.map(_.resultBytes).sum / Layers.MB)
  }

  /** Median of `f` over the operations where it is defined. */
  def med(ops: Seq[Tracer.Span])(f: Tracer.Span => Option[Double]): Double =
    Stats.median(ops.flatMap(f))

  /** Common metrics of replayed batch operations: layer walls from
    * [[parts]], task totals per layer, scheduler counts per operation. */
  def replayMetrics(replays: Seq[Tracer.Span]): Map[String, Double] = {
    val ps = replays.map(r => r -> parts(r)).toMap
    def wall(layer: String) = med(replays)(r => ps(r).get(layer))
    def sum(layer: String, k: String) =
      med(replays.filter(r => ps(r).contains(layer)))(r => Some(taskSums(r.op, layer)(k)))
    val kernelTasks = replays.map(r => tasksOf(r.op, "kernel"))
    Map(
      "consolidate.wall_s" -> wall("consolidate"),
      "consolidate.task_s" -> sum("consolidate", "task_s"),
      "consolidate.shuffle_write_mb" -> sum("consolidate", "shuffle_write_mb"),
      "gate.wall_s" -> wall("gate"),
      "gate.collect_mb" -> sum("gate", "result_mb"),
      "index.build_s" -> wall("index.build"),
      "index.broadcast_s" -> wall("index.broadcast"),
      "shards.build_s" -> wall("shards.build"),
      "shards.shuffle_mb" -> sum("shards.build", "shuffle_write_mb"),
      "shards.hot_s" -> wall("shards.hot"),
      "kernel.wall_s" -> wall("kernel"),
      "kernel.task_s" -> sum("kernel", "task_s"),
      "kernel.cpu_s" -> sum("kernel", "cpu_s"),
      "kernel.gc_s" -> sum("kernel", "gc_s"),
      "kernel.shuffle_mb" -> sum("kernel", "shuffle_write_mb"),
      "kernel.spill_mb" -> sum("kernel", "spill_mb"),
      "kernel.task_skew" -> Stats.median(kernelTasks.filter(_.nonEmpty).map(skew)),
      "spark.jobs_per_op" -> med(replays)(r => Some(jobsOf(r.op).size.toDouble)),
      "spark.tasks_per_op" -> med(replays)(r => Some(tasksOf(r.op).size.toDouble)),
      "spark.driver_gap_s" -> med(replays)(r => Some(driverGap(r))))
  }
}
