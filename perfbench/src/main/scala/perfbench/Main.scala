package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload W --seed N --seconds S --trace 0|1 --out DIR`.
  *
  * Prints ONE JSON line (`correct`, `attempted`, `failed`, `metrics`) as the
  * last line of stdout and writes the full result, with its environment,
  * under DIR/results. `--trace 0` reports end-to-end metrics; `--trace 1` runs
  * the layer replays and reports per-layer metrics (see README.md). */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        out: Path, commit: String, sourceDigest: String)

  def parseArgs(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = req("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    val seconds = req("seconds").toInt
    require(seconds >= 1, "--seconds must be at least 1")
    Args(req("workload"), req("seed").toLong, seconds, trace,
      Paths.get(req("out")).toAbsolutePath, m.getOrElse("commit", ""), m.getOrElse("source-digest", ""))
  }

  val workloads: Map[String, Ctx => Result] = Map(
    "stream-b1000" -> StreamWorkload.run,
    "wco-local" -> LocalWorkload.run,
    "sharded-bulk" -> BulkWorkload.run)

  def main(argv: Array[String]): Unit =
    try run(parseArgs(argv))
    catch {
      case e: Throwable =>
        // exit at once: Spark's non-daemon threads would keep the JVM alive
        e.printStackTrace()
        sys.exit(1)
    }

  private def run(args: Args): Unit = {
    val workload = workloads.getOrElse(args.workload,
      throw new IllegalArgumentException(
        s"unknown workload ${args.workload}; one of ${workloads.keys.toSeq.sorted.mkString(", ")}"))
    val cores = Runtime.getRuntime.availableProcessors()
    val localDir = args.out.resolve("spark-local")
    Files.createDirectories(localDir)
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.local.dir", localDir.toString)
      .config("spark.sql.warehouse.dir", args.out.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.kryo.referenceTracking", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "100")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = new Ctx(spark, args, cores)
    val res = workload(ctx)
    val metrics = if (args.trace) res.layers else res.endToEnd
    val correct = ctx.failed == 0 && ctx.checks.forall(_.ok)
    val env = Map[String, Any](
      "nproc" -> cores,
      "mem_total_mb" -> Ctx.memTotalMb(),
      "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.toArray.toSeq,
      "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "java_version" -> sys.props("java.version"),
      "spark_version" -> spark.version,
      "spark_master" -> spark.sparkContext.master,
      "spark_local_dir" -> spark.conf.get("spark.local.dir"),
      "git_commit" -> args.commit,
      "source_digest" -> args.sourceDigest,
      "session_start_s" -> sessionS,
      "peak_rss_mb" -> Ctx.peakRssMb())
    val full = Map[String, Any](
      "workload" -> args.workload, "seed" -> args.seed, "seconds" -> args.seconds,
      "trace" -> args.trace, "correct" -> correct, "attempted" -> ctx.attempted,
      "failed" -> ctx.failed, "ops_failed_frac" -> ctx.failed.toDouble / math.max(1, ctx.attempted),
      "checks" -> ctx.checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "detail" -> res.detail, "env" -> env,
      "percentiles" -> "nearest-rank; each timing summary carries its sample count n")
    val resultsDir = args.out.resolve("results")
    Files.createDirectories(resultsDir)
    val tag = s"${args.workload}-s${args.seed}-t${if (args.trace) 1 else 0}"
    Files.writeString(resultsDir.resolve(s"$tag.json"), Json.render(full) + "\n")
    if (args.trace) ctx.tracer.write(resultsDir.resolve(s"$tag.spans.jsonl"))
    ctx.checks.filterNot(_.ok).foreach(c => System.err.println(s"[perfbench] CHECK FAILED ${c.name}: ${c.detail}"))
    spark.stop()
    println(Json.render(Map("correct" -> correct, "attempted" -> ctx.attempted,
      "failed" -> ctx.failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })))
    System.out.flush()
    sys.exit(0)
  }
}

/** Metric name → (value, unit). */
final case class Result(endToEnd: Map[String, (Double, String)],
                        layers: Map[String, (Double, String)],
                        detail: Map[String, Any])

final case class Check(name: String, ok: Boolean, detail: String)

/** Per-run state shared by the workloads: session, tracer, task log,
  * operation accounting and the run's working directories. */
final class Ctx(val spark: SparkSession, val args: Main.Args, val cores: Int) {
  val sc = spark.sparkContext
  val tracer = new Tracer(sc, args.trace)
  val log = new TaskLog
  if (args.trace) sc.addSparkListener(log)
  val cache: Path = args.out.resolve("cache")
  val work: Path = args.out.resolve("work").resolve(args.workload)
  Io.rmrf(work)
  Files.createDirectories(work)

  var attempted = 0
  var failed = 0
  private val checkByName = scala.collection.mutable.LinkedHashMap.empty[String, Check]

  /** Records a named check, keeping its first failure; returns `ok`. */
  def check(name: String, ok: Boolean, detail: => String): Boolean = {
    if (!checkByName.get(name).exists(!_.ok))
      checkByName(name) = Check(name, ok, if (ok) "" else detail)
    ok
  }

  def checks: Seq[Check] = checkByName.values.toSeq

  /** Counts one operation; it failed unless `ok`. */
  def op(ok: Boolean): Unit = { attempted += 1; if (!ok) failed += 1 }

  /** Runs `one` `n` times, timing each; keeps the last value and hands the
    * others to `release`. Returns (last, seconds of each set-up). */
  def setups[T](n: Int)(one: Int => T)(release: T => Unit): (T, Seq[Double]) = {
    val times = ArrayBuffer.empty[Double]
    var last: Option[T] = None
    for (i <- 0 until n) {
      last.foreach(release)
      val t0 = System.nanoTime()
      last = Some(one(i))
      times += (System.nanoTime() - t0) / 1e9
    }
    (last.get, times.toSeq)
  }

  /** Heap still in use after full collections, MB: what the workload's state
    * and caches hold at the end of its measured window. Collects until the
    * figure settles, because Spark's context cleaner frees unreferenced
    * broadcasts and shuffles only after a collection has found them. */
  def liveHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def used() = { mem.gc(); mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0) }
    var last = used()
    var settled = false
    var i = 0
    while (!settled && i < 8) {
      Thread.sleep(100)
      val now = used()
      settled = math.abs(now - last) < 0.5
      last = now
      i += 1
    }
    last
  }

  /** Total JVM garbage-collection time so far, in seconds. */
  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
  }
}

object Ctx {
  private def procField(file: String, key: String): Option[Long] =
    try {
      Files.readAllLines(Paths.get(file)).toArray.map(_.toString)
        .find(_.startsWith(key + ":"))
        .map(_.drop(key.length + 1).trim.split("\\s+")(0).toLong)
    } catch { case _: java.io.IOException => None }

  /** Peak resident set of this process (VmHWM), MB. */
  def peakRssMb(): Double = procField("/proc/self/status", "VmHWM").fold(0.0)(_ / 1024.0)

  def memTotalMb(): Long = procField("/proc/meminfo", "MemTotal").fold(0L)(_ / 1024)
}
