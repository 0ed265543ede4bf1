package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Driver-side spans recorded around each call into an engine layer. Spans
  * stay in memory and are written once, when the run ends.
  *
  * When enabled, a span also names the Spark jobs submitted inside it: the
  * job group is the span's layer and the job description its operation id,
  * so [[TaskLog]] can attribute task metrics to layers. When disabled,
  * `span` only runs its body and job properties are left untouched. */
final class Tracer(sc: SparkContext, traced: Boolean) {
  import Tracer.Span

  private val spans = ArrayBuffer.empty[Span]
  private val counts = ArrayBuffer.empty[(String, String, Double)]
  private var stack: List[Span] = Nil
  private var nextId = 1
  private var op = ""
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  /** Cleared while a traced run measures its untraced comparison calls. */
  var enabled: Boolean = traced

  /** Epoch milliseconds of a `System.nanoTime` reading (the scheduler's clock). */
  def epochMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6

  /** `System.nanoTime` reading of a scheduler timestamp. */
  def nanoOf(epochMs: Long): Long = baseNs + (epochMs - baseMs) * 1000000L

  /** Id of the operation being recorded ("" outside one). */
  def currentOp: String = op

  /** Records a work count for the current operation. */
  def count(name: String, value: Double): Unit = if (enabled) counts += ((op, name, value))

  def counted(name: String): Seq[(String, Double)] =
    counts.iterator.filter(_._2 == name).map(x => (x._1, x._3)).toSeq

  /** Runs `body` as a top-level operation span with a fresh operation id. */
  def operation[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val saved = op
      op = s"$name#$nextId"
      try span(name)(body) finally op = saved
    }

  def span[T](layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(nextId, stack.headOption.fold(0)(_.id), op, layer, System.nanoTime())
      nextId += 1
      stack ::= s
      sc.setJobGroup(layer, op)
      try body
      finally {
        s.end = System.nanoTime()
        spans += s
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.name, p.op)
          case None => sc.clearJobGroup()
        }
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Top-level operation spans named `name`. */
  def ops(name: String): Seq[Span] = spans.filter(s => s.parent == 0 && s.name == name).toSeq

  /** Self time: the span's duration minus the part its children cover. */
  def selfNs(s: Span): Long = {
    val kids = spans.iterator.filter(_.parent == s.id).map(k => (k.start, k.end)).toSeq
    s.dur - Tracer.covered(kids, s.start, s.end)
  }

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  def write(path: Path): Unit = {
    val lines = spans.sortBy(_.start).map { s =>
      Json.obj("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_ns" -> s.start, "end_ns" -> s.end, "self_ns" -> selfNs(s))
    }
    val countLines = counts.map { case (o, n, v) => Json.obj("op" -> o, "count" -> n, "value" -> v) }
    Files.writeString(path, (lines ++ countLines).mkString("", "\n", "\n"))
  }
}

object Tracer {
  final class Span(val id: Int, val parent: Int, val op: String, val name: String,
                   val start: Long) {
    var end: Long = start
    def dur: Long = end - start
  }

  /** Length of the union of `[a, b)` intervals clipped to `[lo, hi)`. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var cur = lo
    for ((a0, b0) <- iv.sortBy(_._1)) {
      val a = math.max(a0, cur); val b = math.min(b0, hi)
      if (b > a) { total += b - a; cur = b }
    }
    total
  }
}

/** Every job and task the scheduler reports, tagged with the job group and
  * description set by [[Tracer]]. Times are epoch milliseconds. */
final class TaskLog extends SparkListener {
  import TaskLog._

  private val jobsById = scala.collection.mutable.LinkedHashMap.empty[Int, Job]
  private val stageBuf = ArrayBuffer.empty[Stage]
  private val jobOfStage = scala.collection.mutable.HashMap.empty[Int, Int]
  private val mapStageIds = scala.collection.mutable.HashSet.empty[Int]
  private val taskBuf = ArrayBuffer.empty[Task]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    // the result stage is created after its parents, so it has the highest
    // id; its name is the call site of the job's action
    val last = e.stageInfos.maxByOption(_.stageId).fold("")(_.name)
    jobsById(e.jobId) = Job(e.jobId, prop("spark.jobGroup.id"),
      prop("spark.job.description"), e.time, e.time, last)
    e.stageIds.foreach(jobOfStage(_) = e.jobId)
    e.stageInfos.filter(org.apache.spark.PerfbenchBus.isMapStage).foreach(mapStageIds += _.stageId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobsById.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stageBuf += Stage(i.stageId, jobOfStage.getOrElse(i.stageId, -1),
      i.completionTime.getOrElse(0L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) taskBuf += Task(jobOfStage.getOrElse(e.stageId, -1), e.stageId,
      e.taskInfo.launchTime, e.taskInfo.finishTime, m.executorRunTime,
      m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.resultSize)
  }

  def jobs: Seq[Job] = synchronized(jobsById.values.toSeq)
  def tasks: Seq[Task] = synchronized(taskBuf.toSeq)
  def stages: Seq[Stage] = synchronized(stageBuf.toSeq)
  /** Stages that write shuffle output (as opposed to returning results). */
  def mapStages: Set[Int] = synchronized(mapStageIds.toSet)
}

object TaskLog {
  final case class Job(id: Int, group: String, op: String, start: Long,
                       var end: Long, callSite: String)
  final case class Task(job: Int, stage: Int, launch: Long, finish: Long,
                        runMs: Long, cpuNs: Long, gcMs: Long, shuffleWrite: Long,
                        spill: Long, resultBytes: Long)
  final case class Stage(id: Int, job: Int, completed: Long)
}

/** Nearest-rank statistics: the p-th percentile of n samples is the
  * ceil(p·n)-th smallest, so every reported value is a measured sample. */
object Stats {
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(p * s.length).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)

  /** The highest of a few standard percentiles that leaves at least ten
    * samples above it, as (p, value); None below 20 samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    Seq(0.99, 0.95, 0.9, 0.75, 0.5).find(p => xs.length - math.ceil(p * xs.length) >= 10)
      .map(p => (p, pct(xs, p)))

  /** {"n", "p50", "pXX", ...} summary of a timing sample. */
  def summary(xs: Seq[Double]): Map[String, Any] = {
    val base = Map[String, Any]("n" -> xs.length, "p25" -> pct(xs, 0.25), "p50" -> median(xs),
      "mean" -> (if (xs.isEmpty) 0.0 else xs.sum / xs.length),
      "min" -> (if (xs.isEmpty) 0.0 else xs.min), "max" -> (if (xs.isEmpty) 0.0 else xs.max))
    tail(xs).fold(base) { case (p, v) => base + (f"p${p * 100}%.0f" -> v) }
  }
}

object Io {
  def rmrf(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  def sizeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
}

/** Minimal JSON writer for maps, sequences, numbers, booleans and strings. */
object Json {
  def obj(kv: (String, Any)*): String = render(kv.toMap)

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${str(k.toString)}:${render(x)}" }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s => str(s.toString)
  }

  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
