package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.fast.{FastBatch, FastGraphState}
import graft.plan.Planner

/** One checked public call: `run` returns (rows or count, total); `replay`,
  * when given, recomputes the same through [[Replay]]'s layer steps; `wrong`
  * describes a result that fails the operation's check. */
final case class BatchOp(name: String, run: () => (Long, Long),
                         replay: Option[() => (Long, Long)],
                         wrong: ((Long, Long)) => Option[String])

object BatchOp {
  def pinned(expect: (Long, Long)): ((Long, Long)) => Option[String] =
    r => if (r == expect) None else Some(s"got $r, expected $expect")
}

/** Closed loop over a fixed pass of batch operations: each call is submitted
  * only when the previous one has returned. */
object BatchLoop {

  def aggOf(df: DataFrame): (Long, Long) = {
    val r = df.collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  def rowCount(m: FastBatch.Materialized): (Long, Long) =
    try { val n = m.df.count(); (n, n) } finally m.release()

  private def checked(c: Ctx, op: BatchOp, what: String)(body: => (Long, Long)): ((Long, Long), Double) = {
    val t0 = System.nanoTime()
    val r = body
    val sec = (System.nanoTime() - t0) / 1e9
    val bad = op.wrong(r)
    val ok = c.check(s"$what ${op.name}", bad.isEmpty, bad.getOrElse(""))
    c.op(ok)
    (r, sec)
  }

  /** Untraced run: `leadPasses` unrecorded passes, because the JIT keeps
    * speeding the calls up for several passes after set-up, then passes until
    * the deadline. One closed-loop operation is one pass; rates are over the
    * time spent in the passes, and a pass's matches are every binding its
    * calls returned. */
  def measure(c: Ctx, ops: Seq[BatchOp], setupTimes: Seq[Double], leadPasses: Int,
              extra: () => Map[String, Any]): Result = {
    val walls = ops.map(_.name -> ArrayBuffer.empty[Double]).toMap
    val passes = ArrayBuffer.empty[(Double, Long)]
    for (_ <- 0 until leadPasses) ops.foreach(op => checked(c, op, "call")(op.run()))
    val gc0 = c.gcSeconds()
    val deadline = System.nanoTime() + c.args.seconds * 1000000000L
    while (System.nanoTime() < deadline) {
      val p0 = System.nanoTime()
      var matches = 0L
      for (op <- ops) {
        val (r, sec) = checked(c, op, "call")(op.run())
        walls(op.name) += sec
        matches += r._1
      }
      passes += (((System.nanoTime() - p0) / 1e9, matches))
    }
    val timed = passes.toSeq
    val secs = timed.map(_._1).sum
    Result(
      endToEnd = Map(
        "live_heap_mb" -> (c.liveHeapMb(), "MB"),
        "setup_s" -> (Stats.median(setupTimes), "s"),
        "op_p50_ms" -> (Stats.median(timed.map(_._1)) * 1e3, "ms"),
        "ops_per_s" -> (timed.size / secs, "1/s"),
        "matches_per_s" -> (timed.map(_._2).sum / secs, "1/s")),
      layers = Map.empty,
      detail = extra() ++ Map(
        "setup_s" -> setupTimes, "passes_s" -> timed.map(_._1),
        "passes" -> Stats.summary(timed.map(_._1)),
        "calls_s" -> walls.map { case (k, v) => k -> Stats.summary(v.toSeq) },
        "gc_s" -> (c.gcSeconds() - gc0)))
  }

  /** Traced run: one unrecorded call of each operation, then rounds until the
    * deadline. A round runs every replayed operation three ways — untraced,
    * traced, and replayed layer by layer — in an order that flips every round,
    * and every other operation traced only. */
  def trace(c: Ctx, ops: Seq[BatchOp], setupTimes: Seq[Double], extra: () => Map[String, Any],
            layerExtra: Analysis => Map[String, Double]): Result = {
    val t = c.tracer
    val plain = ops.map(_.name -> ArrayBuffer.empty[Double]).toMap
    t.enabled = false
    ops.foreach(op => checked(c, op, "call")(op.run()))
    var calls = 0
    val gc0 = c.gcSeconds()
    val deadline = System.nanoTime() + c.args.seconds * 1000000000L
    var round = 0
    while (System.nanoTime() < deadline) {
      for (op <- ops) {
        val traced = () => { t.enabled = true; t.operation(s"call:${op.name}")(checked(c, op, "call")(op.run())); () }
        val ways = op.replay.fold(Seq(traced)) { rp =>
          Seq(
            () => { t.enabled = false; plain(op.name) += checked(c, op, "call")(op.run())._2 },
            traced,
            () => { t.enabled = true; t.operation(s"replay:${op.name}")(checked(c, op, "replay")(rp())); () })
        }
        (if (round % 2 == 0) ways else ways.reverse).foreach(_())
        calls += ways.size
      }
      round += 1
    }
    t.enabled = true
    val gcS = c.gcSeconds() - gc0
    val a = new Analysis(c)
    // fastest traced call against the fastest replay, one of each per round:
    // interference from other work on the machine only ever adds time
    val sums = ops.filter(_.replay.isDefined).map { op =>
      val wall = t.ops(s"call:${op.name}").map(_.dur / 1e9).min
      val parts = t.ops(s"replay:${op.name}").map(r => a.parts(r).values.sum).min
      op.name -> Map("call_wall_s" -> wall, "layer_sum_s" -> parts,
        "err" -> math.abs(parts / wall - 1), "ok" -> (math.abs(parts / wall - 1) <= 0.10))
    }.toMap
    val overhead = Stats.median(ops.filter(_.replay.isDefined).map { op =>
      Stats.median(t.ops(s"call:${op.name}").map(_.dur / 1e9)) / Stats.median(plain(op.name).toSeq) - 1
    })
    val replays = ops.filter(_.replay.isDefined).flatMap(op => t.ops(s"replay:${op.name}"))
    val callMetric = Map("wco_triangle" -> "call.wco_triangle_s",
      "wco_triangle_count" -> "call.wco_triangle_count_s", "seed_k4_count" -> "call.seed_k4_count_s",
      "cycle3_above_gate" -> "call.cycle3_above_gate_s", "bulk_absorb" -> "call.bulk_absorb_s")
    val values = a.replayMetrics(replays) ++
      ops.collect { case op if callMetric.contains(op.name) =>
        callMetric(op.name) -> Stats.median(
          if (op.replay.isDefined) plain(op.name).toSeq else t.ops(s"call:${op.name}").map(_.dur / 1e9))
      } ++
      Map(
        "consolidate.edges_out" -> Stats.median(t.counted("consolidate.edges_out").map(_._2)),
        "bulk.wal_mb" -> Stats.median(t.counted("bulk.wal_bytes").map(_._2)) / Layers.MB,
        "gate.local_frac" -> t.counted("gate.local").map(_._2).sum / math.max(1, replays.size),
        "index.mb" -> t.counted("index.bytes").headOption.fold(0.0)(_._2 / Layers.MB),
        "kernel.rows_out" -> Stats.median(t.counted("kernel.rows_out").map(_._2)),
        "jvm.driver_gc_s" -> gcS / math.max(1, calls),
        "trace.overhead_frac" -> overhead,
        "trace.layer_sum_err" -> sums.values.map(_("err").asInstanceOf[Double]).maxOption.getOrElse(0.0)) ++
      layerExtra(a)
    sums.foreach { case (k, v) =>
      if (v("ok") != true) System.err.println(s"[perfbench] layer sum of $k off by ${v("err")}")
    }
    Result(Map.empty, Layers.complete(values), extra() ++ Map(
      "setup_s" -> setupTimes, "layer_sum" -> sums,
      "untraced_calls_s" -> plain.map { case (k, v) => k -> Stats.summary(v.toSeq) },
      "traced_calls_s" -> ops.map(op => op.name -> Stats.summary(t.ops(s"call:${op.name}").map(_.dur / 1e9))).toMap,
      "tracing_overhead_frac" -> overhead))
  }

  def run(c: Ctx, ops: Seq[BatchOp], setupTimes: Seq[Double], leadPasses: Int,
          extra: () => Map[String, Any],
          layerExtra: Analysis => Map[String, Double] = _ => Map.empty): Result =
    if (c.args.trace) trace(c, ops, setupTimes, extra, layerExtra)
    else measure(c, ops, setupTimes, leadPasses, extra)
}

/** `wco-local`: the three headline WCO queries over the batch graph, below the
  * local-index gate. See README.md for why. */
object LocalWorkload {
  import Fixtures.Pins

  def run(c: Ctx): Result = {
    val gens = ArrayBuffer.empty[Boolean]
    val (edges, setupTimes) = c.setups(5) { _ =>
      val (path, gen) = Fixtures.graphTable(c.spark, c.cache, c.args.seed)
      gens += gen
      val edges = Fixtures.graphEdges(c.spark, path)
      val (n, _) = BatchLoop.aggOf(FastBatch.enumerateAgg(edges, Planner.triangle))
      c.check("setup triangle count", n == Pins.triangleRows, s"got $n")
      edges
    }(_ => ())
    val tri = BatchOp.pinned((Pins.triangleRows, Pins.triangleRows))
    val ops = Seq(
      BatchOp("wco_triangle",
        () => BatchLoop.rowCount(FastBatch.enumerateM(edges, Planner.triangle)),
        Some(() => Replay.local(c, edges, Planner.triangle, agg = false)), tri),
      BatchOp("wco_triangle_count",
        () => BatchLoop.aggOf(FastBatch.enumerateAgg(edges, Planner.triangle)),
        Some(() => Replay.local(c, edges, Planner.triangle, agg = true)), tri),
      BatchOp("seed_k4_count",
        () => BatchLoop.aggOf(FastBatch.enumerateAgg(edges, Planner.clique4)),
        Some(() => Replay.local(c, edges, Planner.clique4, agg = true)),
        BatchOp.pinned((Pins.k4Count, Pins.k4Count))))
    BatchLoop.run(c, ops, setupTimes, leadPasses = 3, () => Map("fixture_generated" -> gens.toSeq,
      "graph" -> Map("nodes" -> Fixtures.graphNodes, "pairs" -> Fixtures.graphRows,
        "edges" -> Pins.edges, "gate" -> FastBatch.localIndexMaxEdges)))
  }
}

/** `sharded-bulk`: the batch graph above the gate (cycle3 enumeration through
  * the node-sharded pipeline) plus a backfill of the stream's tail into a
  * freshly initialised durable state. See README.md for why. */
object BulkWorkload {
  import Fixtures.Pins

  /** Gate below the graph's edge count: executors that cannot hold a full index. */
  val gate = 1000L

  def run(c: Ctx): Result = {
    val gens = ArrayBuffer.empty[Boolean]
    val ((edges, stream), setupTimes) = c.setups(3) { _ =>
      val (gpath, g1) = Fixtures.graphTable(c.spark, c.cache, c.args.seed)
      val (spath, g2) = Fixtures.streamFile(c.spark, c.cache, c.args.seed)
      gens += (g1 || g2)
      val edges = Fixtures.graphEdges(c.spark, gpath)
      val stream = Fixtures.stream(c.spark, spath)
      FastBatch.localIndexMaxEdges = gate
      val (n, _) = BatchLoop.aggOf(FastBatch.enumerateAgg(edges, Planner.cycle3))
      c.check("setup cycle3 count above the gate", n == Pins.cycle3Rows, s"got $n")
      (edges, stream)
    }(_ => ())

    // oracles, below the gate: the above-gate cycle3 must match the local
    // regime, and a backfill's match deltas must net to
    // total(preload ∪ tail) − total(preload) (Z-set bilinearity)
    FastBatch.localIndexMaxEdges = Long.MaxValue
    val c3 = BatchLoop.aggOf(FastBatch.enumerateAgg(edges, Planner.cycle3))
    c.check("cycle3 below the gate", c3 == (Pins.cycle3Rows, Pins.cycle3Rows), s"got $c3")
    val before = BatchLoop.aggOf(FastBatch.enumerateAgg(stream.preload, Planner.triangle))._2
    val after = BatchLoop.aggOf(FastBatch.enumerateAgg(
      stream.preload.unionByName(stream.tailFrame), Planner.triangle))._2
    FastBatch.localIndexMaxEdges = gate

    val absorbS = ArrayBuffer.empty[Double]
    var firstRows = -1L
    var pass = 0
    def backfill(): (Long, Long) = {
      val t = c.tracer
      pass += 1
      val dir = c.work.resolve(s"backfill-$pass")
      val st = t.span("shards.build") {
        val st = new FastGraphState(c.spark, Planner.triangle, Some(dir.toString),
          numParts = c.cores, largeBatchThreshold = 1)
        st.initialize(stream.preload)
        st
      }
      try {
        val t0 = System.nanoTime()
        val r = t.span("bulk") {
          BatchLoop.aggOf(st.applyBatchDistributed(0L, stream.tailFrame)
            .agg(count(lit(1)), coalesce(sum("w"), lit(0L))))
        }
        absorbS += (System.nanoTime() - t0) / 1e9
        t.count("bulk.wal_bytes", Io.sizeBytes(dir.resolve("wal")).toDouble)
        if (firstRows < 0) firstRows = r._1
        r
      } finally { st.close(); Io.rmrf(dir) }
    }
    val ops = Seq(
      BatchOp("cycle3_above_gate",
        () => BatchLoop.rowCount(FastBatch.enumerateM(edges, Planner.cycle3)),
        Some(() => Replay.sharded(c, edges, Planner.cycle3, agg = false)),
        BatchOp.pinned((Pins.cycle3Rows, Pins.cycle3Rows))),
      BatchOp("bulk_absorb", () => backfill(), None, { case (rows, net) =>
        if (net != after - before) Some(s"net weight $net, expected ${after - before}")
        else if (rows != firstRows) Some(s"$rows match-delta rows, first backfill had $firstRows")
        else None
      }))
    BatchLoop.run(c, ops, setupTimes, leadPasses = 1, () => Map("fixture_generated" -> gens.toSeq,
      "gate" -> gate, "bulk_absorb_s" -> Stats.summary(absorbS.toSeq),
      "tail_edges" -> stream.tail.length, "backfill_match_rows" -> firstRows),
      a => Map(
        "bulk.wall_s" -> a.med(c.tracer.all.filter(_.name == "bulk"))(s => Some(s.dur / 1e9)),
        "bulk.shuffle_mb" -> a.med(c.tracer.ops("call:bulk_absorb"))(
          r => Some(a.taskSums(r.op, "bulk")("shuffle_write_mb")))))
  }
}
