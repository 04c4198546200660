package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, AtomicLongArray}

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._

/** Minimal JSON writer for the harness's records: numbers, strings,
  * booleans and nested string-keyed maps.
  */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    (b += '"').toString
  }

  def value(v: Any): String = v match {
    case null                 => "null"
    case s: String            => str(s)
    case b: Boolean           => b.toString
    case d: Double            => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int               => n.toString
    case n: Long              => n.toString
    case m: Map[_, _]         => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case o                    => str(o.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

/** One timed interval at a layer boundary. Times are nanoseconds on one
  * epoch-anchored clock, so harness spans and Spark's millisecond event
  * times share an axis.
  */
final case class Span(id: Long, parent: Long, name: String, start: Long, end: Long,
    attrs: Seq[(String, Any)]) {
  def json: String = Json.obj(Seq("id" -> id, "parent" -> parent, "name" -> name,
    "start_ns" -> start, "end_ns" -> end) ++ attrs)
}

/** Keeps spans in memory while `on`; writes them when the run ends. */
final class Tracer(@volatile var on: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]
  private val ids   = new AtomicLong
  private val epoch = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }
  private val nano0 = System.nanoTime()

  def now(): Long = epoch + (System.nanoTime() - nano0)
  def fromMillis(ms: Long): Long = ms * 1000000L
  def newId(): Long = ids.incrementAndGet()

  def record(id: Long, parent: Long, name: String, start: Long, end: Long,
      attrs: (String, Any)*): Unit =
    if (on) spans.add(Span(id, parent, name, start, end, attrs))

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.forEach(s => w.println(s.json)) finally w.close()
  }
}

/** Application-wide scheduler and executor counters, plus (while tracing)
  * a span per Spark job and per stage. A job's parent is the harness span
  * named by the [[Recorder.SpanKey]] local property when it was submitted,
  * so jobs started while a query is being built are told apart from jobs
  * its terminal action runs.
  */
final class Recorder(tracer: Tracer) extends SparkListener {
  import Recorder._

  private val c = new AtomicLongArray(Counters.size)
  private def add(i: Int, v: Long): Unit = c.addAndGet(i, v)

  // listener-bus thread only
  private var active    = 0
  private var busyStart = 0L
  private val jobStages = mutable.Map[Int, Seq[Int]]()
  private val submitted = mutable.Set[Int]()
  private val jobSpan   = mutable.Map[Int, (Long, Long, Long)]() // jobId -> (span, parent, start)
  private val stageJob  = mutable.Map[Int, Int]()
  private val stageAcc  = mutable.Map[(Int, Int), Array[Long]]()

  def snapshot(): Array[Long] = Array.tabulate(Counters.size)(c.get)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    add(Jobs, 1)
    if (active == 0) busyStart = e.time
    active += 1
    jobStages(e.jobId) = e.stageIds
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    if (tracer.on) {
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toLong).getOrElse(0L)
      jobSpan(e.jobId) = (tracer.newId(), parent, e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    active -= 1
    if (active == 0) add(BusyMs, e.time - busyStart)
    val stages  = jobStages.remove(e.jobId).getOrElse(Nil)
    val skipped = stages.count(s => !submitted.contains(s))
    add(Skipped, skipped)
    jobSpan.remove(e.jobId).foreach { case (id, parent, start) =>
      tracer.record(id, parent, "spark_job", tracer.fromMillis(start), tracer.fromMillis(e.time),
        "job_id" -> e.jobId, "stages" -> stages.size, "stages_skipped" -> skipped,
        "succeeded" -> (e.jobResult == JobSucceeded))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    add(Stages, 1)
    submitted += e.stageInfo.stageId
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val d = new Array[Long](StageFields)
    d(0) = 1
    if (e.reason != Success) d(1) = 1
    val m = e.taskMetrics
    if (m != null) {
      d(2) = m.executorCpuTime
      d(3) = m.executorRunTime
      d(4) = m.jvmGCTime
      d(5) = m.shuffleWriteMetrics.bytesWritten
      d(6) = m.shuffleReadMetrics.totalBytesRead
      d(7) = m.shuffleReadMetrics.fetchWaitTime
      d(8) = m.memoryBytesSpilled + m.diskBytesSpilled
      d(9) = m.inputMetrics.recordsRead
      d(10) = m.inputMetrics.bytesRead
    }
    var i = 0
    while (i < StageFields) { add(Tasks + i, d(i)); i += 1 }
    if (tracer.on) {
      val acc = stageAcc.getOrElseUpdate((e.stageId, e.stageAttemptId), new Array[Long](StageFields))
      i = 0
      while (i < StageFields) { acc(i) += d(i); i += 1 }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (tracer.on) {
    val s   = e.stageInfo
    val acc = stageAcc.remove((s.stageId, s.attemptNumber())).getOrElse(new Array[Long](StageFields))
    val parent = stageJob.get(s.stageId).flatMap(j => jobSpan.get(j)).map(_._1).getOrElse(0L)
    val start  = s.submissionTime.getOrElse(0L)
    tracer.record(tracer.newId(), parent, "stage", tracer.fromMillis(start),
      tracer.fromMillis(s.completionTime.getOrElse(start)),
      Seq("stage_id" -> s.stageId, "attempt" -> s.attemptNumber(), "num_tasks" -> s.numTasks) ++
        StageNames.zip(acc): _*)
  }
}

object Recorder {
  val SpanKey = "perfbench.span"
  // Counter layout: the first four are scheduler counts, then the
  // per-task fields (also kept per stage while tracing).
  val Jobs = 0; val Stages = 1; val Skipped = 2; val BusyMs = 3; val Tasks = 4
  val StageNames: Seq[String] = Seq("tasks", "task_failures", "cpu_ns", "run_ms", "gc_ms",
    "shuffle_write_bytes", "shuffle_read_bytes", "fetch_wait_ms", "spill_bytes",
    "records_read", "bytes_read")
  val StageFields: Int = StageNames.size
  val Counters: Seq[String] = Seq("jobs", "stages", "stages_skipped", "busy_ms") ++ StageNames
}
