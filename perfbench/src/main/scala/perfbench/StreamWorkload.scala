package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable.{ArrayBuffer, Queue}
import scala.concurrent.{Await, ExecutionContext}
import scala.concurrent.duration.Duration
import org.apache.spark.FutureAction
import graft.fast.{DeltaPack, FastBatch, FastGraphState}
import graft.plan.Planner

/** `stream-b1000`: incremental triangle maintenance over the tool→tool stream.
  * The preload goes in with `initialize`; the tail follows in 1000-edge
  * batches through `applyBatchStatsAsync`, a closed loop that submits the next
  * batch only when one of `nproc` pipeline slots is free. The state is durable
  * (WAL fsync per batch, compaction every `maxTail` batches).
  *
  * The loop runs until the deadline, not until the tail ends: after the last
  * tail batch it retracts the tail batch by batch in reverse order (weight
  * −1), then absorbs it again, and so on. Retracting batch k from the state
  * batch k left behind yields exactly batch k's match deltas negated, so
  * every pass over the tail does the same work. */
object StreamWorkload {
  val batchSize = 1000
  val maxTail = 8
  /** Batches absorbed in each set-up, so JIT warm-up is set-up time. */
  val warmBatches = 2
  /** Unrecorded batches the closed loop absorbs before its window opens: the
    * first compaction cycles in the live state still run slower. */
  val leadBatches = 3 * maxTail
  /** Traced runs alternate traced and untraced blocks of this many batches
    * (one compaction each) to measure the tracing overhead. */
  val traceBlock = maxTail

  private final class Live(val state: FastGraphState, val dir: Path) {
    var absorbed = 0
    var net = 0L
  }

  private final class InFlight(val f: FutureAction[Seq[(Long, Long)]], val batch: Int,
                               val submitNs: Long, val op: String, val traced: Boolean,
                               val timed: Boolean) {
    @volatile var doneNs = 0L
    var rows = 0L
    f.onComplete(_ => doneNs = System.nanoTime())(ExecutionContext.parasitic)
  }

  def run(c: Ctx): Result = {
    val t = c.tracer
    val window = c.cores
    val gens = ArrayBuffer.empty[Boolean]
    var batches: Array[Array[(Long, Long, Long)]] = Array.empty
    var retractions: Array[Array[(Long, Long, Long)]] = Array.empty
    // the i-th batch absorbed: odd passes over the tail retract it backwards
    def batchAt(i: Int): Array[(Long, Long, Long)] = {
      val n = batches.length
      if ((i / n) % 2 == 0) batches(i % n) else retractions(n - 1 - i % n)
    }
    var stream: Fixtures.Stream = null
    val (live, setupTimes) = c.setups(3) { i =>
      t.operation("setup") {
        val (path, gen) = Fixtures.streamFile(c.spark, c.cache, c.args.seed)
        gens += gen
        stream = Fixtures.stream(c.spark, path)
        batches = stream.tail.grouped(batchSize).toArray
        retractions = batches.map(_.map { case (a, b, w) => (a, b, -w) })
        val dir = c.work.resolve(s"state-$i")
        val st = new FastGraphState(c.spark, Planner.triangle, Some(dir.toString),
          numParts = c.cores, maxTail = maxTail, pipelineDepth = window)
        t.span("shards.build")(st.initialize(stream.preload))
        val l = new Live(st, dir)
        for (b <- 0 until warmBatches) {
          val parts = Await.result(st.applyBatchStatsAsync(b, batchAt(b)), Duration.Inf)
          l.absorbed += 1; l.net += parts.map(_._2).sum
        }
        l
      }
    } { l => l.state.close(); Io.rmrf(l.dir) }

    val lat = ArrayBuffer.empty[(Double, Boolean)]
    val waits = ArrayBuffer.empty[Double]
    val driverMs = ArrayBuffer.empty[Double]
    val done = ArrayBuffer.empty[InFlight]
    val q = Queue.empty[InFlight]
    var timedRows = 0L
    def drain(): Unit = {
      val x = q.dequeue()
      val parts = Await.result(x.f, Duration.Inf)
      val end = if (x.doneNs > 0) x.doneNs else System.nanoTime()
      x.rows = parts.map(_._1).sum
      live.net += parts.map(_._2).sum
      if (x.timed) {
        lat += (((end - x.submitNs) / 1e6, x.traced))
        timedRows += x.rows
        done += x
      }
    }
    def submit(b: Int, timed: Boolean): InFlight = {
      val submitNs = System.nanoTime()
      val x = t.operation("batch") {
        val f = t.span("absorb")(live.state.applyBatchStatsAsync(b, batchAt(b)))
        if (t.enabled) {
          t.span("deltapack")(DeltaPack(batchAt(b)))
          val wal = live.dir.resolve("wal").resolve(s"batch=$b.bin")
          if (Files.exists(wal)) t.count("absorb.wal_bytes", Files.size(wal).toDouble)
        }
        new InFlight(f, b, submitNs, t.currentOp, t.enabled, timed)
      }
      if (timed) driverMs += (System.nanoTime() - submitNs) / 1e6
      live.absorbed += 1
      x
    }

    // one closed loop: `leadBatches` unrecorded absorbs, then the window,
    // which opens with the pipeline already full
    var next = live.absorbed
    val firstTimed = next + leadBatches
    var gc0 = 0.0
    var t0 = 0L
    var deadline = Long.MaxValue
    while (next < firstTimed || System.nanoTime() < deadline) {
      val timed = next >= firstTimed
      if (next == firstTimed) {
        gc0 = c.gcSeconds()
        t0 = System.nanoTime()
        deadline = t0 + c.args.seconds * 1000000000L
      }
      t.enabled = c.args.trace && timed && ((next - firstTimed) / traceBlock) % 2 == 0
      val w0 = System.nanoTime()
      while (q.size >= window) drain()
      if (timed) waits += (System.nanoTime() - w0) / 1e6
      q += submit(next, timed)
      next += 1
    }
    while (q.nonEmpty) drain()
    val elapsed = (System.nanoTime() - t0) / 1e9
    val gcS = c.gcSeconds() - gc0
    val measured = next - firstTimed
    val liveMb = c.liveHeapMb()

    // one more batch alone in the pipeline, for the traced layer-sum check
    val sync =
      if (c.args.trace) {
        t.enabled = true
        val x = t.operation("batch-sync") {
          val x = submit(next, timed = true)
          t.span("await")(Await.ready(x.f, Duration.Inf))
          x
        }
        q += x; drain(); next += 1
        Some(x)
      } else None

    // Z-set oracle: the net weight of all match deltas equals
    // total(preload ∪ absorbed batches) − total(preload), both computed by the
    // batch engine (its consolidate cancels the retracted edges)
    val absorbedDf = Fixtures.frame(c.spark, (0 until next).flatMap(i => batchAt(i).toSeq))
    val before = BatchLoop.aggOf(FastBatch.enumerateAgg(stream.preload, Planner.triangle))._2
    val after = BatchLoop.aggOf(FastBatch.enumerateAgg(stream.preload.unionByName(absorbedDf),
      Planner.triangle))._2
    val ok = c.check("stream Z-set identity", live.net == after - before,
      s"net match weight ${live.net}, expected ${after - before}")
    for (_ <- 0 until measured + sync.size) c.op(ok)
    val stateMb = Io.sizeBytes(live.dir) / Layers.MB
    live.state.close()

    val untracedLat = lat.filter(!_._2).map(_._1).toSeq
    val allLat = lat.map(_._1).toSeq
    val detail = Map[String, Any](
      "fixture_generated" -> gens.toSeq, "setup_s" -> setupTimes, "measured_s" -> elapsed,
      "window" -> window, "batch_size" -> batchSize, "tail_batches" -> batches.length,
      "tail_passes" -> next.toDouble / batches.length,
      "batches_measured" -> measured, "updates_per_s" -> measured * batchSize / elapsed,
      "lead_batches" -> leadBatches, "match_changes" -> timedRows, "net_weight" -> live.net,
      "batch_latency_ms" -> Stats.summary(allLat), "batch_latency_each_ms" -> allLat,
      "driver_absorb_ms" -> Stats.summary(driverMs.toSeq),
      "window_wait_ms" -> Stats.summary(waits.toSeq), "gc_s" -> gcS)
    if (!c.args.trace)
      Result(Map(
        "setup_s" -> (Stats.median(setupTimes), "s"),
        "live_heap_mb" -> (liveMb, "MB"),
        "op_p50_ms" -> (Stats.median(allLat), "ms"),
        "ops_per_s" -> (measured / elapsed, "1/s"),
        "matches_per_s" -> (timedRows / elapsed, "1/s")), Map.empty, detail)
    else traced(c, done.toSeq, sync, untracedLat, lat.filter(_._2).map(_._1).toSeq,
      waits.toSeq, stateMb, gcS / math.max(1, measured), elapsed, detail)
  }

  private def traced(c: Ctx, done: Seq[InFlight], sync: Option[InFlight],
                     untracedLat: Seq[Double], tracedLat: Seq[Double], waits: Seq[Double],
                     stateMb: Double, gcPerBatch: Double, elapsed: Double,
                     detail: Map[String, Any]): Result = {
    val t = c.tracer
    val a = new Analysis(c)
    // top-level "batch" operations are the pipelined ones; the sync batch
    // nests inside its own "batch-sync" operation
    val perBatch = t.ops("batch").map(_.op)
    val pipelined = perBatch.toSet
    val batchOf = done.map(x => x.op -> x.batch).toMap
    val absorbSpans = t.all.filter(s => s.name == "absorb" && pipelined(s.op))
    val kernelJobs = a.jobs.filter(j => pipelined(j.op) && a.isBatchJob(j))
    val kernelJobIds = kernelJobs.map(_.id).toSet
    val layerSum = sync.map { x =>
      val op = t.ops("batch-sync").head
      val absorb = t.all.find(s => s.name == "absorb" && s.op == x.op).get
      val job = a.jobs.filter(j => j.op == x.op && a.isBatchJob(j))
      val jobExcl = job.map(j => (j.end - math.max(j.start.toDouble, t.epochMs(absorb.end))).max(0.0) / 1e3).sum
      val parts = t.selfNs(absorb) / 1e9 + jobExcl
      val wall = op.dur / 1e9
      Map("wall_s" -> wall, "layer_sum_s" -> parts, "err" -> math.abs(parts / wall - 1),
        "ok" -> (math.abs(parts / wall - 1) <= 0.10))
    }
    layerSum.filter(_("ok") != true).foreach(v =>
      System.err.println(s"[perfbench] layer sum of a stream batch off by ${v("err")}"))
    val absorbMs = absorbSpans.map(_.dur / 1e6)
    // batch ids count absorbs from 0 after initialize; every maxTail-th compacts
    val compactMs = absorbSpans.filter(s => (batchOf(s.op) + 1) % maxTail == 0).map(_.dur / 1e6)
    val values = Map(
      "shards.build_s" -> Stats.median(t.all.filter(_.name == "shards.build").map(_.dur / 1e9)),
      "deltapack.build_ms" -> Stats.median(t.all.filter(_.name == "deltapack").map(_.dur / 1e6)),
      "absorb.driver_ms_p50" -> Stats.median(absorbMs),
      "absorb.driver_ms_max" -> absorbMs.maxOption.getOrElse(0.0),
      "absorb.compact_ms" -> Stats.median(compactMs),
      "absorb.window_wait_ms" -> Stats.median(waits),
      "absorb.wal_kb_per_batch" -> Stats.median(t.counted("absorb.wal_bytes").map(_._2)) / 1024,
      "absorb.state_dir_mb" -> stateMb,
      "job.ms_p50" -> Stats.median(kernelJobs.map(j => (j.end - j.start).toDouble)),
      "job.tasks" -> Stats.median(perBatch.map(o => a.tasksOf(o, "kernel").size.toDouble)),
      "job.core_busy_frac" -> a.tasks.filter(x => kernelJobIds(x.job)).map(_.runMs).sum /
        (elapsed * 1e3 * c.cores),
      "kernel.wall_s" -> Stats.median(kernelJobs.map(j => (j.end - j.start) / 1e3)),
      "kernel.task_s" -> Stats.median(perBatch.map(o => a.taskSums(o, "kernel")("task_s"))),
      "kernel.cpu_s" -> Stats.median(perBatch.map(o => a.taskSums(o, "kernel")("cpu_s"))),
      "kernel.gc_s" -> Stats.median(perBatch.map(o => a.taskSums(o, "kernel")("gc_s"))),
      "kernel.shuffle_mb" -> Stats.median(perBatch.map(o => a.taskSums(o, "kernel")("shuffle_write_mb"))),
      "kernel.spill_mb" -> Stats.median(perBatch.map(o => a.taskSums(o, "kernel")("spill_mb"))),
      "kernel.task_skew" -> Stats.median(perBatch.map(o => a.tasksOf(o, "kernel")).filter(_.nonEmpty).map(a.skew)),
      "kernel.rows_out" -> Stats.median(done.filter(_.traced).map(_.rows.toDouble)),
      "spark.jobs_per_op" -> Stats.median(perBatch.map(o => a.jobsOf(o).size.toDouble)),
      "spark.tasks_per_op" -> Stats.median(perBatch.map(o => a.tasksOf(o).size.toDouble)),
      "spark.driver_gap_s" -> Stats.median(done.filter(_.traced).map { x =>
        val end = if (x.doneNs > 0) x.doneNs else x.submitNs
        val iv = a.tasksOf(x.op).map(k => (t.nanoOf(k.launch), t.nanoOf(k.finish)))
        (end - x.submitNs - Tracer.covered(iv, x.submitNs, end)) / 1e9
      }),
      "jvm.driver_gc_s" -> gcPerBatch,
      "call.batch_p90_ms" -> Stats.pct(untracedLat ++ tracedLat, 0.9),
      "trace.overhead_frac" -> (Stats.median(tracedLat) / Stats.median(untracedLat) - 1),
      "trace.layer_sum_err" -> layerSum.fold(0.0)(_("err").asInstanceOf[Double]))
    Result(Map.empty, Layers.complete(values), detail ++ Map(
      "layer_sum" -> layerSum, "traced_batch_latency_ms" -> Stats.summary(tracedLat),
      "untraced_batch_latency_ms" -> Stats.summary(untracedLat)))
  }
}
