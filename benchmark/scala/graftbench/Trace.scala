package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval. Spans of one op share `op`; `parent` names the
  * span that caused this one ("" for a root). */
final case class Span(id: String, parent: String, op: Long, name: String,
    startMs: Double, endMs: Double)

/** Spark-side work charged to one (op, phase). */
final class Acc {
  var jobs, stages, tasks, failedTasks = 0L
  var runMs, cpuMs, waitMs, gcMs = 0.0
  var shuffleRead, shuffleWrite, spill, input = 0L
}

/** Benchmark-side tracing. The benchmark sets the `graftbench.op` and
  * `graftbench.phase` local properties before each call into the
  * program; the listener reads them back from each job, so jobs,
  * stages and tasks are charged to the op and phase that launched
  * them. Jobs launched on threads the benchmark does not own (the REST
  * server's) carry no op and are charged to op 0. Spans stay in memory
  * and are written out once, at exit.
  */
final class Tracer(val enabled: Boolean) extends SparkListener {
  val OpKey = "graftbench.op"
  val PhaseKey = "graftbench.phase"
  private val epochNs = System.nanoTime()
  private val epochMs = System.currentTimeMillis()
  def nowMs: Double = (System.nanoTime() - epochNs) / 1e6
  /** Spark event times are wall-clock millis; spans use `nowMs`. */
  private def wallToMs(t: Long): Double = (t - epochMs).toDouble

  val spans = new ConcurrentLinkedQueue[Span]()
  private val accs = new ConcurrentHashMap[(Long, String), Acc]()
  private val stageOwner = new ConcurrentHashMap[Int, (Long, String, Int)]()
  private val stageSubmitted = new ConcurrentHashMap[Int, Long]()
  private val jobStart = new ConcurrentHashMap[Int, (Long, String, Long)]()
  val jobsSeen = new AtomicLong()

  def attach(sc: SparkContext): Unit = if (enabled) sc.addSparkListener(this)

  def span(id: String, parent: String, op: Long, name: String,
      start: Double, end: Double): Unit =
    if (enabled) spans.add(Span(id, parent, op, name, start, end))

  def acc(op: Long, phase: String): Acc =
    accs.computeIfAbsent((op, phase), _ => new Acc)

  def accOf(op: Long, phase: String): Acc =
    Option(accs.get((op, phase))).getOrElse(new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobsSeen.incrementAndGet()
    val props = Option(e.properties)
    val op = props.flatMap(p => Option(p.getProperty(OpKey)))
      .map(_.toLong).getOrElse(0L)
    val phase = props.flatMap(p => Option(p.getProperty(PhaseKey)))
      .getOrElse("unattributed")
    acc(op, phase).synchronized { acc(op, phase).jobs += 1 }
    e.stageInfos.foreach(s => stageOwner.put(s.stageId, (op, phase, e.jobId)))
    jobStart.put(e.jobId, (op, phase, e.time))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (op, phase, t0) =>
      span(s"job:${e.jobId}", s"op:$op/$phase", op, "spark.job",
        wallToMs(t0), wallToMs(e.time))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmitted.put(e.stageInfo.stageId,
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    Option(stageOwner.get(s.stageId)).foreach { case (op, phase, job) =>
      val a = acc(op, phase)
      a.synchronized { a.stages += 1 }
      for (t0 <- s.submissionTime; t1 <- s.completionTime)
        span(s"stage:${s.stageId}.${s.attemptNumber()}", s"job:$job", op,
          "spark.stage", wallToMs(t0), wallToMs(t1))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageOwner.get(e.stageId)).foreach { case (op, phase, _) =>
      val a = acc(op, phase)
      val info = e.taskInfo
      val m = Option(e.taskMetrics)
      val submitted = Option(stageSubmitted.get(e.stageId))
      a.synchronized {
        a.tasks += 1
        if (info != null && info.failed) a.failedTasks += 1
        submitted.foreach { s =>
          if (info != null) a.waitMs += math.max(0L, info.launchTime - s)
        }
        m.foreach { tm =>
          a.runMs += tm.executorRunTime
          a.cpuMs += tm.executorCpuTime / 1e6
          a.gcMs += tm.jvmGCTime
          a.shuffleRead += tm.shuffleReadMetrics.totalBytesRead
          a.shuffleWrite += tm.shuffleWriteMetrics.bytesWritten
          a.spill += tm.memoryBytesSpilled + tm.diskBytesSpilled
          a.input += tm.inputMetrics.bytesRead
        }
      }
    }

  def writeSpans(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.asScala.toSeq.sortBy(_.startMs).foreach { s =>
      w.write(Json.obj(
        "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs))
      w.newLine()
    } finally w.close()
  }
}

/** Minimal JSON writer; values are String, numbers, Boolean, Option,
  * Seq, Map or pre-rendered [[Json.Raw]]. */
object Json {
  final case class Raw(text: String)
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case Raw(t) => t
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case a: Array[_] => a.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
  def obj(kvs: (String, Any)*): String =
    kvs.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
