package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.fast.FastGraphState
import graft.gen.TranscriptGen
import graft.transcripts.TranscriptEdges

/** Seeded workload inputs, cached as parquet under the run's cache directory
  * keyed by seed and [[Fixtures.version]].
  *
  * The batch graph has the shape of the engine's lineitem-derived motif graph
  * (`SparkEntry.edges`: `l_orderkey % K -> l_partkey % K`, distinct, no self
  * loops): `graphRows` uniformly drawn node pairs over `graphNodes` nodes,
  * duplicates and self loops left in for the query's consolidate to remove.
  * Its STRUCTURE is fixed; `--seed` only relabels the nodes by a seeded
  * bijection, which leaves every motif count unchanged — so the pinned counts
  * in [[Fixtures.Pins]] hold for every seed while partitioning, hashing and
  * index layout change with it.
  *
  * The stream is the engine's own transcript generator with the seed passed
  * through: `TranscriptGen` → tool→tool adjacency edges in event-time order,
  * split 90% preload / 10% tail. */
object Fixtures {

  /** Bump when any generator below changes, so stale caches are not reused. */
  val version = 1

  val graphNodes = 800
  val graphRows = 96000
  /** Fixed structure seed of the batch graph (independent of `--seed`). */
  private val structureSeed = 0x5eed0001L

  val streamConvs = 6000
  val streamTurns = 50
  val streamTools = 2000
  val preloadFrac = 0.9

  /** Motif counts of the batch graph, the same for every seed (every edge has
    * weight 1, so each total equals its count). Cross-checked at the default
    * seed by the engine's local and sharded regimes and by a Spark SQL
    * self-join count. */
  object Pins {
    val edges = 89017L
    val triangleRows = 1376805L
    val cycle3Rows = 1376409L
    val k4Count = 2955788L
  }

  /** Seeded bijection of [0, n): Fisher–Yates driven by splitmix64. */
  def relabel(seed: Long, n: Int): Array[Long] = {
    val p = Array.tabulate(n)(_.toLong)
    var i = n - 1
    var h = seed
    while (i > 0) {
      h = TranscriptGen.splitmix64(h)
      val j = java.lang.Long.remainderUnsigned(h, (i + 1).toLong).toInt
      val t = p(i); p(i) = p(j); p(j) = t
      i -= 1
    }
    p
  }

  /** Raw (src, dst) pairs of the batch graph under the seed's labels. */
  def graphPairs(seed: Long): (Array[Long], Array[Long]) = {
    val label = relabel(seed, graphNodes)
    val src = new Array[Long](graphRows)
    val dst = new Array[Long](graphRows)
    var h = structureSeed
    var i = 0
    while (i < graphRows) {
      h = TranscriptGen.splitmix64(h)
      src(i) = label(java.lang.Long.remainderUnsigned(h, graphNodes.toLong).toInt)
      h = TranscriptGen.splitmix64(h)
      dst(i) = label(java.lang.Long.remainderUnsigned(h, graphNodes.toLong).toInt)
      i += 1
    }
    (src, dst)
  }

  /** Parquet path of the batch graph's raw pairs, generated when missing.
    * Returns (path, true when this call generated it). */
  def graphTable(spark: SparkSession, cache: Path, seed: Long): (String, Boolean) =
    cached(cache.resolve(s"graph-v$version-s$seed-$graphNodes-$graphRows")) { path =>
      val (s, d) = graphPairs(seed)
      val rows = spark.sparkContext.parallelize(s.indices, spark.sparkContext.defaultParallelism)
        .map(i => Row(s(i), d(i)))
      spark.createDataFrame(rows, StructType(Seq(
          StructField("a", LongType), StructField("b", LongType))))
        .write.parquet(path)
    }

  /** The batch graph as the motif queries see it: a parquet scan with self
    * loops dropped and duplicates collapsed (`SparkEntry.edgesM`'s shape). */
  def graphEdges(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
      .select(col("a").as("src"), col("b").as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()

  /** The seed's tool→tool edge stream, generated when missing: for every
    * conversation of `TranscriptGen`, turn i's tool → turn i+1's tool at the
    * later of the two event times (the derivation of
    * `TranscriptEdges.toolToolEdges`), sorted by (time, src, dst). A tool's
    * node id is `TranscriptEdges.toolBase` plus its Zipf rank. Cached as
    * big-endian (src, dst) long pairs; returns (path, true when generated). */
  def streamFile(spark: SparkSession, cache: Path, seed: Long): (String, Boolean) =
    cached(cache.resolve(s"stream-v$version-s$seed-$streamConvs-$streamTurns-$streamTools")) { dir =>
      val cfg = TranscriptGen.Config(streamConvs, streamTurns, streamTools, seed = seed)
      val cdf = TranscriptGen.zipfCdf(cfg.nTools, cfg.zipfS)
      val turns = streamTurns
      val base = TranscriptEdges.toolBase
      val id = (tool: String) => base + tool.stripPrefix("tool").toLong
      val edges = spark.sparkContext.parallelize(0 until streamConvs).flatMap { conv =>
        val ts = Array.tabulate(turns)(k => TranscriptGen.turnAt(cfg, cdf, conv.toLong * turns + k))
        (0 until turns - 1).map { k =>
          (math.max(ts(k).ts.getTime, ts(k + 1).ts.getTime), id(ts(k).tool), id(ts(k + 1).tool))
        }
      }.collect().sorted
      Files.createDirectories(Paths.get(dir))
      val out = new DataOutputStream(new BufferedOutputStream(
        Files.newOutputStream(Paths.get(dir, "edges.bin"))))
      try edges.foreach { case (_, a, b) => out.writeLong(a); out.writeLong(b) } finally out.close()
    }

  /** The stream split into the preload (as a frame) and the tail (in event
    * order, also as a frame). Every edge has weight 1. */
  final case class Stream(preload: DataFrame, tail: Array[(Long, Long, Long)], tailFrame: DataFrame)

  def stream(spark: SparkSession, dir: String): Stream = {
    val in = new DataInputStream(new BufferedInputStream(
      Files.newInputStream(Paths.get(dir, "edges.bin"))))
    val edges = try Array.fill(streamConvs * (streamTurns - 1))((in.readLong(), in.readLong(), 1L))
      finally in.close()
    val (pre, tail) = edges.splitAt((edges.length * preloadFrac).toInt)
    Stream(frame(spark, pre.toSeq), tail, frame(spark, tail.toSeq))
  }

  /** (src, dst, w) frame over driver-side edges. */
  def frame(spark: SparkSession, es: Seq[(Long, Long, Long)]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(es.map(e => Row(e._1, e._2, e._3))),
      FastGraphState.edgeSchema)

  /** Generates into a temporary sibling and renames it into place, so an
    * interrupted generation never leaves a half-written fixture behind. */
  private def cached(dir: Path)(write: String => Unit): (String, Boolean) = {
    if (Files.isDirectory(dir)) (dir.toString, false)
    else {
      val tmp = dir.resolveSibling(dir.getFileName.toString + ".tmp")
      Files.createDirectories(dir.getParent)
      Io.rmrf(tmp)
      write(tmp.toString)
      Files.move(tmp, dir)
      (dir.toString, true)
    }
  }
}
