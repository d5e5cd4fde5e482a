package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable.ArrayBuffer

/** Spans recorded around the benchmark's calls into graft's layers. Kept in
  * memory and written out with the run record. Each span has a name, start
  * and end (ns on the JVM's monotonic clock), its parent span and the trace
  * id shared by the spans of one query or one statement. When tracing is
  * off `span` only runs its body, so untraced runs pay nothing for it.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  import Tracer._

  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 1
  private var nextTrace = 1

  /** Trace id of the most recent root span (0 when tracing is off). */
  def lastTrace: Int = if (enabled) nextTrace - 1 else 0

  def span[T](name: String, root: Boolean = false)(body: => T): T =
    if (!enabled) body
    else {
      val parent = if (root) None else stack.headOption
      val trace = parent.map(_.trace).getOrElse { nextTrace += 1; nextTrace - 1 }
      val s = Span(nextId, parent.map(_.id).getOrElse(0), trace, name, System.nanoTime())
      nextId += 1
      spans += s
      stack = s :: stack
      // jobs submitted inside the span carry its id, so the listener can
      // hang them under it
      sc.setLocalProperty(SpanProperty, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanProperty, stack.headOption.map(_.id.toString).orNull)
      }
    }

  def records: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "trace" -> s.trace, "name" -> s.name,
    "start" -> s.start, "end" -> s.end))
}

object Tracer {
  val SpanProperty = "perfbench.span"

  final case class Span(id: Int, parent: Int, trace: Int, name: String, start: Long) {
    var end: Long = -1L
  }
}

/** Spark execution counters per job, tagged with the span that submitted
  * the job. Job times come from the scheduler's wall clock (ms); they are
  * mapped onto the span clock with the offset taken when the listener is
  * installed.
  */
final class JobListener extends SparkListener {
  private final class Job(val id: Int, val span: Int, val startMs: Long, val stages: Seq[Int]) {
    var endMs: Long = -1L
  }
  private final class Stage {
    var tasks = 0L; var cpuNs = 0L; var runMs = 0L; var gcMs = 0L
    var recordsRead = 0L; var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  }

  private val nanoAtMs0 = System.nanoTime()
  private val ms0 = System.currentTimeMillis()
  private val jobs = ArrayBuffer.empty[Job]
  private val stages = scala.collection.mutable.HashMap.empty[Int, Stage]

  private def toNanos(ms: Long): Long = nanoAtMs0 + (ms - ms0) * 1000000L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toInt).getOrElse(0)
    jobs += new Job(e.jobId, span, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val m = info.taskMetrics
    val s = new Stage
    s.tasks = info.numTasks
    if (m != null) {
      s.cpuNs = m.executorCpuTime; s.runMs = m.executorRunTime; s.gcMs = m.jvmGCTime
      s.recordsRead = m.inputMetrics.recordsRead
      s.shuffleRead = m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite = m.shuffleWriteMetrics.bytesWritten
      s.spill = m.memoryBytesSpilled + m.diskBytesSpilled
    }
    stages(info.stageId) = s
  }

  /** One record per job: its span, its interval on the span clock, and the
    * summed counters of the stages that ran for it (skipped stages count
    * nothing).
    */
  def records: Seq[Map[String, Any]] = synchronized {
    jobs.toSeq.map { j =>
      val ran = j.stages.flatMap(stages.get)
      Map("job" -> j.id, "span" -> j.span,
        "start" -> toNanos(j.startMs), "end" -> toNanos(math.max(j.endMs, j.startMs)),
        "stages" -> ran.size, "tasks" -> ran.map(_.tasks).sum,
        "task_cpu_ns" -> ran.map(_.cpuNs).sum, "task_run_ms" -> ran.map(_.runMs).sum,
        "gc_ms" -> ran.map(_.gcMs).sum, "records_read" -> ran.map(_.recordsRead).sum,
        "shuffle_read_bytes" -> ran.map(_.shuffleRead).sum,
        "shuffle_write_bytes" -> ran.map(_.shuffleWrite).sum,
        "spill_bytes" -> ran.map(_.spill).sum)
    }
  }
}

/** JVM-wide counters read from the platform MXBeans. In local mode every
  * task runs in this JVM, so these cover the engine's work too.
  */
object Jvm {
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  private val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans

  def allocatedBytes(): Long = threads.getTotalThreadAllocatedBytes

  def gcMillis(): Long = {
    var t = 0L
    gcs.forEach(g => t += math.max(0L, g.getCollectionTime))
    t
  }

  /** (allocated bytes, GC ms) now; see [[since]]. */
  def snapshot(): (Long, Long) = (allocatedBytes(), gcMillis())

  /** Allocation and GC time since a [[snapshot]], as run-record facts. */
  def since(s: (Long, Long)): Map[String, Any] = Map(
    "timed_alloc_bytes" -> (allocatedBytes() - s._1), "timed_gc_ms" -> (gcMillis() - s._2))

  /** Peak resident set of this process (`VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status"))
    val hwm = lines.toArray(new Array[String](0)).find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
    hwm / 1024.0
  }
}
