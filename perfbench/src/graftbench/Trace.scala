package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.jdk.CollectionConverters._

/** One timed interval around a call into a layer. `parent` is the
  * enclosing span (0 for an op's root span) and `op` the id of the op
  * the span belongs to; times are `System.nanoTime` values. */
final class Span(val id: Long, val parent: Long, val op: Long,
                 val layer: String, val name: String, val start: Long) {
  @volatile var end: Long = 0L
  def durNs: Long = end - start
}

/** Spark task counters summed over every job submitted under one
  * span's job group. */
final class TaskSums {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var recordsRead = 0L
  var bytesRead = 0L
  var shuffleWritten = 0L
  def add(o: TaskSums): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs
    recordsRead += o.recordsRead
    bytesRead += o.bytesRead; shuffleWritten += o.shuffleWritten
  }
}

/** In-memory span recorder. Spans are recorded only inside a traced
  * op (the traced run alternates traced and untraced ops to measure
  * its own overhead); a call outside one costs a thread-local read. Every traced span runs its Spark jobs under
  * its own job group, so [[Listener]] can attribute task metrics to
  * the span that submitted them. */
object Trace {
  private val ids = new AtomicLong(0L)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[Span]()
  @volatile var sc: SparkContext = _
  val GroupPrefix = "graftbench-span-"
  private val JobGroupKey = "spark.jobGroup.id"

  def nextId(): Long = ids.incrementAndGet()

  /** The span running on this thread, if any (null outside a traced op). */
  def active: Span = current.get()

  /** Root span of one op; `traced = false` runs the body untraced. */
  def op[T](kind: String, traced: Boolean)(body: => T): T =
    if (!traced) body
    else {
      val id = nextId()
      run(new Span(id, 0L, id, "op", kind, System.nanoTime()))(body)
    }

  /** A layer span under the thread's active span; untraced when the
    * thread has no active span. */
  def span[T](layer: String, name: String)(body: => T): T = {
    val p = current.get()
    if (p == null) body
    else run(new Span(nextId(), p.id, p.op, layer, name, System.nanoTime()))(body)
  }

  /** A layer span with an explicit parent: the body of a streaming
    * micro-batch runs on the stream thread, not the thread that
    * opened the enclosing span. */
  def spanUnder[T](parent: Span, layer: String, name: String)(body: => T): T =
    if (parent == null) body
    else run(new Span(nextId(), parent.id, parent.op, layer, name,
      System.nanoTime()))(body)

  private def run[T](s: Span)(body: => T): T = {
    val prev = current.get()
    val prevGroup = if (sc == null) null else sc.getLocalProperty(JobGroupKey)
    current.set(s)
    if (sc != null) sc.setLocalProperty(JobGroupKey, GroupPrefix + s.id)
    try body
    finally {
      s.end = System.nanoTime()
      spans.add(s)
      current.set(prev)
      if (sc != null) sc.setLocalProperty(JobGroupKey, prevGroup)
    }
  }

  /** Job-group-keyed task counters, registered only in traced runs. */
  final class Listener extends SparkListener {
    private val stageSpan = new ConcurrentHashMap[Int, Long]()
    val bySpan = new ConcurrentHashMap[Long, TaskSums]()
    private def sums(span: Long): TaskSums =
      bySpan.computeIfAbsent(span, _ => new TaskSums)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).map(_.getProperty(JobGroupKey)).orNull
      if (g != null && g.startsWith(GroupPrefix)) {
        val span = g.stripPrefix(GroupPrefix).toLong
        e.stageIds.foreach(st => stageSpan.put(st, span))
        val s = sums(span)
        s.synchronized { s.jobs += 1 }
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val span = stageSpan.get(e.stageInfo.stageId)
      // skipped stages never complete, so this counts stages that ran
      if (span != 0L) { val s = sums(span); s.synchronized { s.stages += 1 } }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val span = stageSpan.get(e.stageId)
      val m = e.taskMetrics
      if (span != 0L && m != null) {
        val s = sums(span)
        s.synchronized {
          s.tasks += 1
          s.cpuNs += m.executorCpuTime
          s.recordsRead += m.inputMetrics.recordsRead
          s.bytesRead += m.inputMetrics.bytesRead
          s.shuffleWritten += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq
}
