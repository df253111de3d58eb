package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Spans and Spark job counters for the traced run.
  *
  * A span is recorded around each call the benchmark makes into one of
  * the engine's layers (name, start, end, parent). The span id travels to
  * Spark as a thread-local job property, so the listener can attribute
  * every job to the span that launched it — including jobs started from
  * Spark's own helper threads, which inherit the caller's properties.
  * Everything stays in memory until [[write]].
  *
  * The untraced run uses [[Spans.Off]], which records nothing and
  * registers no listener.
  */
class Tracer(sc: SparkContext) extends Spans {
  import Tracer._

  private val nextId = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  private val spans = ArrayBuffer[Span]()
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val executions = new ConcurrentHashMap[Long, String]()
  private val epochNs = System.nanoTime()
  private val epochMs = System.currentTimeMillis()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val span = prop(SpanProperty).fold(0L)(_.toLong)
      val exec = prop("spark.sql.execution.id").fold(-1L)(_.toLong)
      // call site ("count at X.scala:N"): a SQL job's is its execution's
      // action (AQE runs shuffle stages from pool threads, whose own stacks
      // name no caller); a plain RDD job's is its result stage's name
      val site = Option(executions.get(exec)).getOrElse(
        if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
      jobs.put(e.jobId, Job(e.jobId, span, site, e.time, exec))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => executions.put(x.executionId, x.description)
      case _ => ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      Option(stageJob.get(info.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
        j.synchronized {
          j.stages += 1
          j.tasks += info.numTasks
          Option(info.taskMetrics).foreach { m =>
            j.runMs += m.executorRunTime
            j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
    }
  }
  sc.addSparkListener(listener)

  /** Run `body` inside a span named `name`, child of the thread's current
    * span. `storage` also records the change in persisted RDDs and their
    * stored bytes across the span (used on whole operations only: reading
    * storage state is not free). */
  def span[T](name: String, storage: Boolean = false)(body: => T): T = {
    val id = nextId.incrementAndGet()
    val parents = stack.get
    val rdds0 = if (storage) sc.getPersistentRDDs.size else 0
    val bytes0 = if (storage) storedBytes(sc) else 0L
    stack.set(id :: parents)
    sc.setLocalProperty(SpanProperty, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.set(parents)
      sc.setLocalProperty(SpanProperty, parents.headOption.map(_.toString).orNull)
      val s = Span(id, parents.headOption.getOrElse(0L), name,
        Thread.currentThread.getName, t0 - epochNs, t1 - epochNs)
      if (storage) {
        s.rddsLeaked = sc.getPersistentRDDs.size - rdds0
        s.bytesLeaked = storedBytes(sc) - bytes0
      }
      spans.synchronized { spans += s }
    }
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchShim.drainListeners(sc)

  def close(): Unit = sc.removeSparkListener(listener)

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)
  def allJobs: Seq[Job] = jobs.values.asScala.toSeq.sortBy(_.id)

  /** Spans and jobs as JSON lines (span times in ms since the tracer
    * started; job times in epoch ms, as Spark reports them). */
  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      allSpans.sortBy(_.startNs).foreach { s =>
        w.println(Json.write(Map("type" -> "span", "id" -> s.id,
          "parent" -> s.parent, "name" -> s.name, "thread" -> s.thread,
          "start_ms" -> s.startNs / 1e6, "end_ms" -> s.endNs / 1e6,
          "rdds_leaked" -> s.rddsLeaked, "bytes_leaked" -> s.bytesLeaked)))
      }
      allJobs.foreach { j =>
        w.println(Json.write(Map("type" -> "job", "id" -> j.id,
          "span" -> j.span, "sql_execution" -> j.exec, "call_site" -> j.site,
          "start_ms" -> (j.start - epochMs), "end_ms" -> (j.end - epochMs),
          "stages" -> j.stages, "tasks" -> j.tasks, "task_ms" -> j.runMs,
          "shuffle_read_bytes" -> j.shuffleRead,
          "shuffle_write_bytes" -> j.shuffleWrite, "spill_bytes" -> j.spill)))
      }
    } finally w.close()
  }
}

object Tracer {
  val SpanProperty = "perfbench.span"

  final case class Span(id: Long, parent: Long, name: String, thread: String,
                        startNs: Long, endNs: Long) {
    var rddsLeaked: Int = 0
    var bytesLeaked: Long = 0L
    def ms: Double = (endNs - startNs) / 1e6
  }

  final case class Job(id: Int, span: Long, site: String, start: Long, exec: Long) {
    var end: Long = start
    var stages = 0
    var tasks = 0L
    var runMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
  }

  /** Memory and disk bytes held by persisted RDD blocks. */
  def storedBytes(sc: SparkContext): Long =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
}

/** Where the workloads open spans; see [[Tracer]]. */
trait Spans {
  def span[T](name: String, storage: Boolean = false)(body: => T): T
}

object Spans {
  /** The untraced run: a span costs one by-name call and nothing else. */
  object Off extends Spans {
    def span[T](name: String, storage: Boolean = false)(body: => T): T = body
  }
}
