package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

/** One timed interval around a call into a layer. `op` names the operation
  * it belongs to (a generator tick, a micro-batch, a read or a query);
  * `parent` is the enclosing span's id, 0 at the top. Times are
  * `System.nanoTime`.
  */
final case class Span(id: Long, parent: Long, op: String, name: String,
                      start: Long, end: Long)

/** Records spans in memory and writes them when the run ends. A disabled
  * tracer only runs the body, so untraced runs pay nothing for it.
  *
  * The tracer also adds up the time spent on its own bookkeeping and on
  * the task ledger's (see [[charge]]): [[overheadNanos]] is what tracing
  * adds to a run.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val own = new AtomicLong(0)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[T](name: String, op: String)(body: => T): T =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      val id = ids.incrementAndGet()
      val outer = stack.get
      stack.set(id :: outer)
      val start = System.nanoTime()
      own.addAndGet(start - t0)
      try body
      finally {
        val end = System.nanoTime()
        spans.add(Span(id, outer.headOption.getOrElse(0L), op, name, start, end))
        stack.set(outer)
        own.addAndGet(System.nanoTime() - end)
      }
    }

  /** Adds a span measured elsewhere, e.g. a micro-batch phase taken from
    * its progress event; returns the new span's id.
    */
  def record(name: String, op: String, start: Long, end: Long,
             parent: Long = 0L): Long =
    if (!enabled) 0L
    else charge {
      val id = ids.incrementAndGet()
      spans.add(Span(id, parent, op, name, start, end))
      id
    }

  /** Runs tracing bookkeeping done outside a span, counting its time. */
  def charge[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally own.addAndGet(System.nanoTime() - t0)
  }

  def overheadNanos: Long = own.get

  def all: Seq[Span] = spans.asScala.toSeq

  /** Total self time per span name, in ms. */
  def selfMsByName: Map[String, Double] = {
    val spansNow = all
    val kids = spansNow.groupBy(_.parent)
    spansNow.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        Stats.selfTime(s.start, s.end,
          kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)))
      }.sum / 1e6
    }
  }

  /** Writes every span as one JSON object per line. */
  def write(path: Path): Unit = {
    val lines = all.sortBy(_.start).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":"${s.op}","name":"${s.name}",""" +
        s""""start_ns":${s.start},"end_ns":${s.end}}"""
    }
    Files.write(path, lines.asJava, StandardCharsets.UTF_8)
  }
}

/** Task metrics summed per operation tag. */
final class TaskTotals {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakExecMemBytes = 0L
  var inputBytes = 0L

  def +=(o: TaskTotals): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    peakExecMemBytes = math.max(peakExecMemBytes, o.peakExecMemBytes)
    inputBytes += o.inputBytes
  }
}

/** Spark's task metrics, tagged by the operation that submitted the job.
  * A job's tag is the thread-local property [[TaskLedger.OpKey]] of the
  * thread that submitted it; a streaming micro-batch that runs without one
  * is tagged `batch:<id>`. Streams started inside a query inherit the
  * query's tag, so an operator's drains count toward that operator.
  */
final class TaskLedger(tracer: Tracer) extends SparkListener {
  private val stageTag = TrieMap.empty[Int, String]
  private val totals = TrieMap.empty[String, TaskTotals]
  private val fenceJobs = TrieMap.empty[Int, String]
  private val fencesDone = TrieMap.empty[String, Unit]
  private val fenceCount = new AtomicLong(0)
  private val fenceLock = new Object

  private def tagOf(p: java.util.Properties): String =
    Option(p).flatMap(pp => Option(pp.getProperty(TaskLedger.OpKey)))
      .orElse(Option(p).flatMap(pp =>
        Option(pp.getProperty("streaming.sql.batchId")).map("batch:" + _)))
      .getOrElse("other")

  override def onJobStart(j: SparkListenerJobStart): Unit = tracer.charge {
    val tag = tagOf(j.properties)
    if (tag.startsWith("fence:")) fenceJobs.put(j.jobId, tag)
    else {
      j.stageIds.foreach(stageTag.put(_, tag))
      totals.getOrElseUpdate(tag, new TaskTotals).jobs += 1
    }
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = tracer.charge {
    stageTag.get(t.stageId).foreach { tag =>
      val m = t.taskMetrics
      val acc = totals.getOrElseUpdate(tag, new TaskTotals)
      acc.tasks += 1
      if (m != null) {
        acc.runMs += m.executorRunTime
        acc.gcMs += m.jvmGCTime
        acc.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        acc.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        acc.peakExecMemBytes = math.max(acc.peakExecMemBytes, m.peakExecutionMemory)
        acc.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit =
    fenceJobs.remove(j.jobId).foreach { tag =>
      fenceLock.synchronized {
        fencesDone.put(tag, ())
        fenceLock.notifyAll()
      }
    }

  /** Blocks until every event posted before this call has reached the
    * ledger: it runs a one-task job under a fresh tag and waits for that
    * job's end event, which the listener bus delivers after all earlier
    * ones.
    */
  def fence(sc: SparkContext): Unit = {
    val tag = s"fence:${fenceCount.incrementAndGet()}"
    TaskLedger.tagged(sc, tag)(sc.parallelize(Seq(1), 1).count())
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    fenceLock.synchronized {
      while (!fencesDone.contains(tag) && System.nanoTime() < deadline)
        fenceLock.wait(100)
    }
  }

  /** Totals over every tag that `keep` accepts. */
  def sum(keep: String => Boolean): TaskTotals = {
    val out = new TaskTotals
    totals.foreach { case (k, v) => if (keep(k)) out += v }
    out
  }
}

object TaskLedger {
  val OpKey = "perfbench.op"

  /** Runs `body` with every job it submits tagged `tag`. */
  def tagged[T](sc: SparkContext, tag: String)(body: => T): T = {
    val before = sc.getLocalProperty(OpKey)
    sc.setLocalProperty(OpKey, tag)
    try body finally sc.setLocalProperty(OpKey, before)
  }
}
