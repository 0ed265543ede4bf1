package perfbench

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.util.SizeEstimator
import graft.batch.EdgeIndex
import graft.fast.{DeltaEngine, DeltaPack, FastBatch, FastGraphState}

/** `FastBatch`'s two regimes replayed step by step from their public parts,
  * one span per layer, so each layer's time is measured on its own. Each
  * step is forced by an action before the next starts. The steps and their
  * order follow `FastBatch.run`; the replay returns the same (rows or count,
  * total) as the single call, which the caller checks. */
object Replay {

  /** The regime's gate-and-collect job: consolidate, then pack each
    * partition into primitive arrays up to twice its fair share of the gate.
    * Returns the concatenated arrays and whether any partition was cut. */
  def packedCollect(e: RDD[(Long, Long, Long)], gate: Long)
      : (Array[Long], Array[Long], Array[Long], Boolean) = {
    val capPer = (2L * gate / math.max(1, e.getNumPartitions) + 1024L)
      .min(Int.MaxValue.toLong).toInt
    val parts = e.mapPartitions { it =>
      val a = Array.newBuilder[Long]; val b = Array.newBuilder[Long]; val c = Array.newBuilder[Long]
      var n = 0
      while (n < capPer && it.hasNext) {
        val t = it.next(); a += t._1; b += t._2; c += t._3; n += 1
      }
      Iterator.single((a.result(), b.result(), c.result(), it.hasNext))
    }.collect()
    (parts.map(_._1).flatten, parts.map(_._2).flatten, parts.map(_._3).flatten, parts.exists(_._4))
  }

  /** A count's result as the single call hands it over: `FastBatch.enumerateAgg`
    * wraps (n, total) in a one-row frame, which the caller collects. */
  private def aggFrame(c: Ctx, r: (Long, Long)): (Long, Long) = {
    val row = c.spark.createDataFrame(java.util.List.of(Row(r._1, r._2)), StructType(Seq(
      StructField("n", LongType), StructField("total", LongType)))).collect()(0)
    (row.getLong(0), row.getLong(1))
  }

  private def consolidated(edges: DataFrame): RDD[(Long, Long, Long)] =
    EdgeIndex.consolidate(edges).select("src", "dst", "w").rdd
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

  /** Below the gate: consolidate + packed collect → `buildFullIndexPacked` →
    * broadcast → `enumerateLocalRows` (counted through a DataFrame, as the
    * single call's consumer does) or `enumerateLocalAgg`. */
  def local(c: Ctx, edges: DataFrame, motif: Seq[(Int, Int)], agg: Boolean): (Long, Long) = {
    val t = c.tracer
    val engine = new DeltaEngine(motif, Nil, c.sc.defaultParallelism)
    val (sa, da, wa, cut) = t.span("gate")(packedCollect(consolidated(edges), FastBatch.localIndexMaxEdges))
    require(!cut && sa.length <= FastBatch.localIndexMaxEdges, "local replay above the gate")
    t.count("consolidate.edges_out", sa.length)
    t.count("gate.local", 1)
    val index = t.span("index.build")(DeltaEngine.buildFullIndexPacked(sa, da, wa))
    if (t.counted("index.bytes").isEmpty) t.count("index.bytes", SizeEstimator.estimate(index).toDouble)
    val (hot, seedsB) = t.span("index.broadcast")((c.sc.broadcast(index), c.sc.broadcast((sa, da, wa))))
    try t.span("kernel") {
      val nParts = c.sc.defaultParallelism
      val seeds = c.sc.parallelize(0 until nParts, nParts).mapPartitions { pit =>
        pit.flatMap { r =>
          val (ss, ds, ws) = seedsB.value
          Iterator.range(r, ss.length, nParts).map(i => (ss(i), ds(i), ws(i)))
        }
      }
      val r =
        if (agg) aggFrame(c, engine.enumerateLocalAgg(hot, seeds))
        else {
          val n = GraftBridge.internalCreateDataFrame(c.spark, engine.enumerateLocalRows(hot, seeds),
            FastGraphState.matchSchema(engine.numAttrs)).count()
          (n, n)
        }
      t.count("kernel.rows_out", r._1.toDouble)
      r
    } finally { hot.unpersist(false); seedsB.unpersist(false) }
  }

  /** Above the gate: consolidate + the (discarded) packed collect →
    * `buildShards` → `buildHot` + broadcast → `enumerateInternalRows`
    * (checkpointed, then counted through a DataFrame) or `enumerateAggRdd`. */
  def sharded(c: Ctx, edges: DataFrame, motif: Seq[(Int, Int)], agg: Boolean): (Long, Long) = {
    val t = c.tracer
    val parts = c.sc.defaultParallelism
    val engine = new DeltaEngine(motif, Nil, parts)
    val (e, (sa, _, _, cut)) = t.span("gate") {
      val e = consolidated(edges)
      (e, packedCollect(e, FastBatch.localIndexMaxEdges))
    }
    require(cut || sa.length > FastBatch.localIndexMaxEdges, "sharded replay below the gate")
    val shards = t.span("shards.build") {
      e.persist()
      val s = engine.buildShards(e).persist()
      s.count()
      s
    }
    val (hot, dp) = t.span("shards.hot")(
      (c.sc.broadcast(DeltaEngine.buildHot(shards, 8 * parts)), c.sc.broadcast(DeltaPack.empty)))
    try t.span("kernel") {
      val r =
        if (agg) aggFrame(c, engine.enumerateAggRdd(shards, DeltaEngine.BcastHot(hot), dp, e))
        else {
          val out = engine.enumerateInternalRows(shards, DeltaEngine.BcastHot(hot), dp, e)
          out.localCheckpoint()
          out.count()
          val n = GraftBridge.internalCreateDataFrame(c.spark, out,
            FastGraphState.matchSchema(engine.numAttrs)).count()
          out.unpersist(false)
          (n, n)
        }
      t.count("kernel.rows_out", r._1.toDouble)
      r
    } finally {
      shards.unpersist(false); e.unpersist(false)
      hot.unpersist(false); dp.unpersist(false)
    }
  }
}
