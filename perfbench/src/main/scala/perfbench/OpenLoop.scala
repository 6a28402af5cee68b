package perfbench

import java.time.Instant
import java.util.UUID
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.streaming.StreamAssembly

/** One generator tick: `n` orders appended as one MemoryStream offset. Times
  * are wall-clock ms (the clock progress events use); `lagMs` is how late
  * the append started against its due time.
  */
final case class Tick(step: String, offset: Long, n: Int, dueMs: Double,
                      appendMs: Double, lagMs: Double)

/** One committed micro-batch, from its progress event. */
final case class Batch(p: StreamingQueryProgress) {
  val startMs: Double = Instant.parse(p.timestamp).toEpochMilli.toDouble
  def phaseMs(k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
  val endMs: Double = startMs + phaseMs("triggerExecution")
  private def offset(s: String): Long =
    Option(s).filter(_.nonEmpty).map(_.trim.toLong).getOrElse(-1L)
  val fromOffset: Long = offset(p.sources.head.startOffset)
  val toOffset: Long = offset(p.sources.head.endOffset)
  val rows: Long = p.numInputRows
}

/** Collects the progress of one streaming query and lets a caller wait for
  * a committed offset. Always registered: freshness and backlog come from
  * these events in untraced runs too.
  */
final class ProgressLog extends StreamingQueryListener {
  @volatile private var target: UUID = _
  private val batches = ArrayBuffer.empty[Batch]
  private var committed = -1L
  @volatile private var failure: Option[String] = None

  def follow(id: UUID): Unit = synchronized {
    target = id; batches.clear(); committed = -1L; failure = None
  }

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (e.progress.id == target && e.progress.numInputRows > 0) synchronized {
      val b = Batch(e.progress)
      batches += b
      committed = math.max(committed, b.toOffset)
      notifyAll()
    }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    if (e.id == target) synchronized {
      failure = Some(e.exception.getOrElse("stream stopped"))
      notifyAll()
    }

  /** Waits until `offset` is committed; false on timeout or stream failure. */
  def awaitCommitted(offset: Long, timeoutMs: Long): Boolean = synchronized {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (committed < offset && failure.isEmpty && System.nanoTime() < deadline)
      wait(math.max(1L, (deadline - System.nanoTime()) / 1000000L))
    committed >= offset
  }

  def all: Seq[Batch] = synchronized(batches.toList)
  def failed: Option[String] = failure
}

/** Verdict inputs of one offered-load step. The backlog is sampled at each
  * batch end inside the step: orders of this step appended by then that no
  * committed batch covers.
  */
final case class StepRun(name: String, rate: Int, ticks: Seq[Tick],
                         freshnessMs: Seq[Double], backlogT: Seq[Double],
                         backlog: Seq[Double], drained: Boolean) {
  def offered: Long = ticks.map(_.n.toLong).sum
  /** Orders offered per second of the step, as the generator achieved it. */
  def achievedRate: Double =
    if (ticks.size < 2) 0.0
    else offered / ((ticks.last.appendMs - ticks.head.appendMs) / 1000.0 +
      OpenLoop.TickMs / 1000.0)
  def verdict: Stats.Step = Stats.Step(rate,
    if (drained) Stats.percentile(freshnessMs, 99) else Double.PositiveInfinity,
    Stats.backlogGrows(backlogT, backlog, rate))
}

/** The open-loop writer: one generator thread appends orders from a pool to
  * a MemoryStream every [[OpenLoop.TickMs]] on a fixed schedule that does not
  * slow when the engine does, and the stream runs the program's ingest and
  * hourly-partials sink with `Trigger.ProcessingTime(0)`.
  *
  * The offered sequence walks `order` (a seed-chosen permutation of the
  * pool) cyclically; `offeredCounts` keeps each pool entry's multiplicity
  * for the output check.
  */
final class OpenLoop(spark: SparkSession, pool: Array[String], order: Array[Int],
                     dir: String, progress: ProgressLog, tracer: Tracer) {
  // one source partition per core, like a Kafka topic partitioned to match
  // its consumer, so a micro-batch's parallelism does not depend on how
  // many ticks it happens to cover
  private val stream =
    MemoryStream[String](spark, spark.sparkContext.defaultParallelism)(Encoders.STRING)
  val partialsDir = s"$dir/partials"
  val query: StreamingQuery = {
    val q = tracer.span("streaming.start", "stream") {
      StreamAssembly.startHourlyPartialsSink(
        tracer.span("ingest.plan", "stream")(StreamAssembly.ingest(stream.toDF())),
        partialsDir, s"$dir/checkpoint", Trigger.ProcessingTime(0L))
    }
    progress.follow(q.id)
    q
  }
  val offeredCounts = new Array[Long](pool.length)
  private var cursor = 0L
  private var lastOffset = -1L
  val ticks = ArrayBuffer.empty[Tick]

  private def nextOrders(n: Int): Seq[String] = (0 until n).map { _ =>
    val i = order((cursor % order.length).toInt)
    cursor += 1
    offeredCounts(i) += 1
    pool(i)
  }

  /** Offers `rate` orders/s for `seconds` on the generator thread, then
    * waits up to `drainMs` for the stream to commit the last tick.
    */
  def step(name: String, rate: Int, seconds: Double, drainMs: Long): StepRun = {
    val perTick = math.max(1, math.round(rate * OpenLoop.TickMs / 1000.0).toInt)
    val nTicks = math.max(1, math.round(seconds * 1000 / OpenLoop.TickMs).toInt)
    val stepTicks = ArrayBuffer.empty[Tick]
    val gen = new Thread(() => {
      val t0Nano = System.nanoTime() + 20L * 1000000
      val t0Wall = System.currentTimeMillis() + 20.0
      def wall(nano: Long): Double = t0Wall + (nano - t0Nano) / 1e6
      var i = 0
      while (i < nTicks) {
        val due = t0Nano + (i * OpenLoop.TickMs * 1000000).toLong
        var now = System.nanoTime()
        while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
        val batch = nextOrders(perTick)
        val off = tracer.span("gen.tick", s"tick:$name:$i") {
          stream.addData(batch).json().trim.toLong
        }
        stepTicks += Tick(name, off, perTick, wall(due), wall(now), (now - due) / 1e6)
        lastOffset = off
        i += 1
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    ticks ++= stepTicks
    val drained = progress.awaitCommitted(lastOffset, drainMs)
    OpenLoop.evaluate(name, rate, stepTicks.toSeq,
      progress.all.map(b => (b.toOffset, b.endMs)), drained)
  }

  /** Appends `orders` as one offset and waits up to `timeoutMs` for the
    * stream to commit it. Returns the burst's tick.
    */
  def burst(name: String, orders: Int, timeoutMs: Long): Tick = {
    val batch = nextOrders(orders)
    val now = System.currentTimeMillis().toDouble
    lastOffset = stream.addData(batch).json().trim.toLong
    val t = Tick(name, lastOffset, orders, now, now, 0.0)
    ticks += t
    progress.awaitCommitted(lastOffset, timeoutMs)
    t
  }

  /** Waits until every offered tick is committed. */
  def drain(timeoutMs: Long): Boolean = progress.awaitCommitted(lastOffset, timeoutMs)

  def offeredJson: Seq[(String, Long)] =
    pool.indices.filter(offeredCounts(_) > 0).map(i => pool(i) -> offeredCounts(i))

  def stop(): Unit = query.stop()
}

object OpenLoop {
  val TickMs = 50.0

  /** Freshness of each tick (due time to the end of the first batch whose
    * committed offsets cover it; infinite if none did) and the backlog
    * sampled at each batch end within the step. `commits` holds each batch's (end offset, end
    * time in wall ms).
    */
  def evaluate(name: String, rate: Int, ticks: Seq[Tick], commits: Seq[(Long, Double)],
               drained: Boolean): StepRun = {
    val sorted = commits.sortBy(_._1)
    val fresh = ticks.map { t =>
      sorted.find(_._1 >= t.offset)
        .map(_._2 - t.dueMs).getOrElse(Double.PositiveInfinity)
    }
    val from = ticks.head.appendMs
    val inStep = sorted.filter { case (_, end) => end >= from && end <= ticks.last.appendMs }
    val backlog = inStep.map { case (off, end) =>
      ticks.filter(t => t.appendMs <= end && t.offset > off).map(_.n.toDouble).sum
    }
    StepRun(name, rate, ticks, fresh, inStep.map { case (_, end) => (end - from) / 1000.0 },
      backlog, drained)
  }
}
