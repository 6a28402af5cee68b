package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{Row, SparkSession}

import graft.{SparkEntry, Tables}
import graft.gen.SalesGen
import graft.ingest.Ingest
import graft.ops.Dedup
import graft.streaming.StreamAssembly

/** The benchmark JVM: runs one workload against the program's public entry
  * points and writes every measured number to `<work>/result.json`.
  *
  * Usage: `Main --workload <live_dashboard|operators> --seed <n>
  *   --seconds <s> --trace <0|1> --fixtures <dir> --work <dir>`
  */
object Main {
  val Cores = 4
  val Tiles = Seq("global_totals", "share_of_total", "revenue_by_type_desc",
    "hourly_trend", "rollup_hourly")
  /** The heavy-operator suite, one query per layer: dedup, the stateful
    * (stream-stream left outer join) and probe (stream-static join)
    * drains, the sales ETL, a star exchange, KnnGraph and IVF similarity.
    * Each costs mostly fixed per-job and per-micro-batch time, so the
    * suite runs on the small fixture, and it leaves out the slowest
    * queries of each layer (`graph_search_tower`, `ivfpq_probe_recall`)
    * to keep a run short. `stream_sessions_tws` is left out because its
    * RocksDB state store once aborted the JVM at shutdown
    * (`std::bad_alloc`) after a complete pass.
    */
  val Operators = Seq("dedup_simhash", "stream_join_left_outer",
    "stream_static_enrich", "sales_etl_pipeline", "q5_region_revenue",
    "knn_graph_build", "sim_ivf")
  val NominalRate = 1000
  val LadderRates = Seq(NominalRate, 4000, 8000, 16000, 32000, 64000)
  /** Distinct orders generated at set-up; the offered sequence cycles them. */
  val PoolSize = 10000
  /** Untimed warm-up of the writer and the reader together. A run that
    * starts timing sooner times the JIT: beside the reader, micro-batches
    * took about 620 ms in the stream's first 4 s and kept getting faster
    * until about 25 s in (360 ms at 8-16 s, 300-340 ms after). With a
    * 10 s warm-up, freshness p50 spread by 0.17 of its median over ten
    * runs; after a 16 s one it still fell by a sixth within the timed step.
    */
  val WarmupSeconds = 24.0
  /** Length of each ladder step above the nominal one: long enough for
    * the four or more batch ends a backlog trend needs at 4k orders/s.
    */
  val LadderStepSeconds = 2.0
  /** Warm-up of the one-core session that gives `streaming.c1_over_c4`. */
  val BaselineWarmupSeconds = 2.0
  /** Orders in one capacity burst, appended at once: a micro-batch of
    * about 0.7 s.
    */
  val BurstOrders = 64000
  /** Capacity bursts in a traced run: after the writer-alone nominal
    * step, after the 8k and 32k steps, and at the end to make up the
    * count when the ladder stops early.
    */
  val Bursts = 3
  /** The freshness tail reported end to end: p90. */
  val TailPercentile = 90.0
  /** Upper end of the dashboard reader's think time. Without it the
    * reader and the stream's back-to-back micro-batches, two closed loops
    * of similar period on the same four cores, settled into one of two
    * patterns per run: runs of one seed differed by a quarter in
    * freshness and a third in reads per second.
    */
  val ThinkMsMax = 200
  val Workloads = Seq("live_dashboard", "operators")

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, fixtures: String, work: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("fixtures"), need("work"))
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds > 0, "--seconds must be positive")
    a
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val run = new Run(a)
    val result = run.execute()
    Files.write(Paths.get(a.work, "result.json"),
      Json(result).getBytes(StandardCharsets.UTF_8))
  }
}

/** One dashboard read: call to rows collected, split into frame
  * construction, physical planning and execution.
  */
final case class Read(op: String, kind: String, start: Long, end: Long,
                      analyzeMs: Double, planMs: Double, execMs: Double, ok: Boolean) {
  def wallMs: Double = (end - start) / 1e6
}

/** Minimal JSON encoding for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}

final class Run(a: Main.Args) {
  import Main._

  private val rng = new scala.util.Random(a.seed)
  private val tracer = new Tracer(a.trace)
  private val ledger = new TaskLedger(tracer)
  private val progress = new ProgressLog
  private var spark: SparkSession = _
  private val work = Paths.get(a.work)
  private val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  private var attempted = 0L
  private var failedOps = 0L
  private val e2e = mutable.LinkedHashMap.empty[String, Double]
  private val layer = mutable.LinkedHashMap.empty[String, Double]
  private val report = mutable.LinkedHashMap.empty[String, (Double, String)]

  private def check(name: String, ok: Boolean, detail: String = ""): Unit = {
    checks += ((name, ok, detail))
    if (!ok) System.err.println(s"[perfbench] check failed: $name $detail")
  }

  private def shuffled[T](xs: Seq[T]): Seq[T] = rng.shuffle(xs)

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Set-up: the session plus the workload's input staging. */
  private def setup(stage: SparkSession => Unit): Unit = {
    spark = tracer.span("session.build", "setup")(Session.build(Cores))
    stage(spark)
    spark.streams.addListener(progress)
    if (a.trace) spark.sparkContext.addSparkListener(ledger)
  }

  /** Marks the first timed operation. `setup_s` runs from JVM start to
    * here, so it covers the session, input staging and the warm-up.
    */
  private def startMeasuring(): Unit = {
    e2e("setup_s") = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    System.err.println(f"[perfbench] set-up ${e2e("setup_s")}%.2f s")
  }

  private def pool(s: SparkSession): Array[String] =
    tracer.span("gen.pool", "setup") {
      SalesGen.ordersJson(s, PoolSize).collect().map(_.getString(0))
    }

  def execute(): Map[String, Any] = {
    val t0 = System.nanoTime()
    val invalid = a.workload match {
      case "live_dashboard" => liveDashboard()
      case "operators" => operators()
    }
    Session.stop(spark)
    if (a.trace) layer("trace.overhead_share") =
      tracer.overheadNanos.toDouble / (System.nanoTime() - t0)
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    layer("storage.scratch_mb_left") = dirBytes(tmp) / 1e6
    layer("process.peak_rss_mb") = peakRssMb()
    if (a.trace) tracer.write(work.resolve("spans.jsonl"))
    val failed = failedOps + checks.count(!_._2)
    val total = attempted + checks.size
    report("failed_share") = (failed.toDouble / math.max(1L, total), "ratio")
    report("setup_s") = (e2e("setup_s"), "s")
    report("peak_rss_mb") = (layer("process.peak_rss_mb"), "MB")
    report("scratch_mb_left") = (layer("storage.scratch_mb_left"), "MB")
    layer.get("gen.lag_p99_ms").foreach(v => report("gen_lag_p99_ms") = (v, "ms"))
    report.foreach { case (k, (v, u)) => println(f"$k%-26s $v%14.4f $u") }
    checks.foreach { case (n, ok, d) =>
      println(s"check ${if (ok) "pass" else "FAIL"} $n${if (d.isEmpty) "" else " " + d}")
    }
    println(s"settings ${Json(Session.settings(Cores).toMap)}")
    println("cache_policy operator memos cleared before each operators pass " +
      "(Dedup.clearMemo); StreamAssembly fixture staging and the JIT kept warm " +
      "from one untimed pass of the suite")
    Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "invalid" -> invalid.orNull,
      "correct" -> (failed == 0 && invalid.isEmpty),
      "attempted" -> total, "failed" -> failed,
      "wall_s" -> (System.nanoTime() - t0) / 1e9,
      "end_to_end" -> e2e, "per_layer" -> layer,
      "report" -> report.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "checks" -> checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "settings" -> Session.settings(Cores).toMap,
      "self_ms" -> (if (a.trace) tracer.selfMsByName else Map.empty))
  }

  // -------------------------------------------------------- live_dashboard

  private def newLoop(pool: Array[String], name: String): OpenLoop =
    new OpenLoop(spark, pool, shuffled(pool.indices).toArray,
      work.resolve(name).toString, progress, tracer)

  private def drainMs(stepSeconds: Double): Long =
    math.max(3000L, (stepSeconds * 1000).toLong)

  /** The open-loop writer at the nominal rate beside one closed-loop
    * reader: [[WarmupSeconds]] of both untimed, then the timed nominal
    * step. The traced run goes on with the writer alone ([[writerAlone]]).
    */
  private def liveDashboard(): Option[String] = {
    var orders: Array[String] = null
    setup(s => orders = pool(s))
    val warm = System.nanoTime()
    // the tiles' expected rows, captured once before any write
    val expected = Tiles.map(t => t -> SparkEntry.queries(t)(spark, a.fixtures).collect()).toMap
    val loop = newLoop(orders, "stream")
    val reader = new Reader(loop.partialsDir, expected)
    val readerThread = new Thread(() => reader.loop(), "perfbench-reader")
    readerThread.start()
    loop.step("warmup", NominalRate, WarmupSeconds, 10000)
    layer("gen.warmup_s") = ms(warm) / 1000
    startMeasuring()
    val timedFrom = System.nanoTime()
    val nominal = loop.step("nominal", NominalRate, a.seconds, drainMs(a.seconds))
    reader.stop = true
    readerThread.join()
    // every read is checked; only those started in the timed step are timed
    attempted += reader.done.size
    failedOps += reader.done.count(!_.ok)
    val reads = reader.done.toSeq.filter(_.start >= timedFrom)
    val lat = reads.map(r => if (r.ok) r.wallMs else Double.PositiveInfinity)
    e2e("latency_ms") = Stats.median(nominal.freshnessMs)
    e2e("latency_tail_ms") = Stats.percentile(nominal.freshnessMs, TailPercentile)
    val span = (reads.map(_.end).max - reads.map(_.start).min) / 1e9
    e2e("throughput_per_s") = reads.count(_.ok) / span
    report("freshness_p50_ms") = (e2e("latency_ms"), "ms")
    report("freshness_p90_ms") = (e2e("latency_tail_ms"), "ms")
    report("freshness_p99_ms") = (Stats.percentile(nominal.freshnessMs, 99), "ms")
    report("read_p50_ms") = (Stats.median(lat), "ms")
    report("read_p95_ms") = (Stats.percentile(lat, 95), "ms")
    report("reads_per_s") = (e2e("throughput_per_s"), "1/s")
    compactSamples ++= reads.filter(_.kind == "compact").map(_.wallMs)
    Tiles.foreach { t =>
      layer(s"ops.$t.ms_p50") = Stats.median(reads.filter(_.kind == t).map(_.wallMs))
    }
    layer("ops.read.analyze_ms_p50") = Stats.median(reads.map(_.analyzeMs))
    layer("ops.read.plan_ms_p50") = Stats.median(reads.map(_.planMs))
    layer("ops.read.exec_ms_p50") = Stats.median(reads.map(_.execMs))
    if (a.trace) {
      ledger.fence(spark.sparkContext)
      val timed = reads.map(_.op).toSet
      val t = ledger.sum(timed.contains)
      layer("ops.read.jobs") = t.jobs.toDouble
      layer("ops.read.tasks") = t.tasks.toDouble
      layer("ops.read.scan_mb") = t.inputBytes / 1e6
      layer("ops.read.task_busy_share") = t.runMs / (reads.map(_.wallMs).sum * Cores)
    }
    val ladder = if (a.trace) writerAlone(loop) else Nil
    val invalid = finishStream(loop, nominal, ladder)
    if (a.trace) {
      layer("ingest.parse_us_per_order") = parseUsPerOrder(orders)
      // before the one-core session's stream replaces the progress log
      val c4 = Stats.median(batchesOf(ladder.head).map(_.phaseMs("triggerExecution")))
      layer("streaming.c1_over_c4") = singleCoreBaseline(orders) / c4
    }
    invalid
  }

  /** The traced run's writes-only part, after the reader stops: the
    * nominal step without reads, then the doubling ladder, stopping at the
    * first failing step, with [[Bursts]] capacity bursts spread over it.
    * Returns the ladder's steps, the writer-alone nominal one first.
    */
  private def writerAlone(loop: OpenLoop): Seq[StepRun] = {
    val runs = mutable.ArrayBuffer.empty[StepRun]
    // the stream's capacity, whatever step the ladder stops at: bursts
    // committed as fast as the stream can, in orders per second of
    // micro-batch time
    val bursts = mutable.ArrayBuffer.empty[Double]
    def burst(): Unit = {
      loop.drain(60000)
      val t = loop.burst("burst", BurstOrders, 60000)
      val bs = progress.all.filter(_.toOffset >= t.offset)
      bursts += bs.map(_.rows).sum / (bs.map(_.phaseMs("triggerExecution")).sum / 1000)
    }
    val steps = Stats.ladder(LadderRates) { r =>
      val secs = if (r == NominalRate) a.seconds / 2 else LadderStepSeconds
      val s = loop.step(if (r == NominalRate) "alone" else s"r$r", r, secs, drainMs(secs))
      runs += s
      System.err.println(f"[perfbench] step ${s.name}: p99 ${s.verdict.freshnessP99Ms}%.0f ms, " +
        f"backlog slope ${Stats.slope(s.backlogT, s.backlog)}%.0f/s, " +
        s"${if (s.verdict.passes) "pass" else "fail"}")
      if (LadderRates.indexOf(r) % 2 == 0) burst()
      s.verdict
    }
    while (bursts.size < Bursts) burst()
    val best = Stats.sustained(steps).map(v => runs.find(_.rate == v.rate).get)
    layer("streaming.alone_freshness_p50_ms") = Stats.median(runs.head.freshnessMs)
    layer("streaming.capacity_orders_per_s") = Stats.median(bursts.toSeq)
    layer("streaming.sustained_orders_per_s") = best.map(_.achievedRate).getOrElse(0.0)
    layer("streaming.ladder_stop_rate") = steps.last.rate
    report("alone_freshness_p50_ms") = (layer("streaming.alone_freshness_p50_ms"), "ms")
    report("sustained_orders_per_s") = (layer("streaming.sustained_orders_per_s"), "orders/s")
    report("capacity_orders_per_s") = (layer("streaming.capacity_orders_per_s"), "orders/s")
    // a step the ladder never reached counts as wholly backlogged, so a
    // ladder that stops earlier cannot read as a smaller backlog
    LadderRates.filterNot(r => runs.exists(_.rate == r)).foreach { r =>
      layer(s"streaming.backlog_orders_max.$r") = r * LadderStepSeconds
    }
    runs.toSeq
  }

  private def batchesOf(s: StepRun): Seq[Batch] = {
    val (lo, hi) = (s.ticks.head.offset, s.ticks.last.offset)
    progress.all.filter(b => b.toOffset >= lo && b.fromOffset < hi)
  }

  /** Drains the stream, runs the output checks and fills the streaming,
    * generator and storage metrics: per-batch phases from the timed
    * `nominal` step, backlogs from the `ladder` steps. Returns why the run
    * is invalid, if it is.
    */
  private def finishStream(loop: OpenLoop, nominal: StepRun,
                           ladder: Seq[StepRun]): Option[String] = {
    val drained = loop.drain(60000)
    check("stream_drained", drained && progress.failed.isEmpty,
      progress.failed.getOrElse(""))
    val batches = progress.all
    attempted += batches.size
    val offered = loop.ticks.map(_.n.toLong).sum
    val committed = batches.map(_.rows).sum
    check("committed_equals_offered", committed == offered,
      s"committed $committed offered $offered")
    val compactT0 = System.nanoTime()
    val compacted = tracer.span("storage.compact", "check") {
      StreamAssembly.compactHourlyPartials(spark, loop.partialsDir).collect()
    }
    compactSamples += ms(compactT0)
    checkRollup(compacted, loop.offeredJson)
    loop.stop()

    ladder.foreach(s =>
      layer(s"streaming.backlog_orders_max.${s.rate}") = (0.0 +: s.backlog).max)
    val nb = batchesOf(nominal)
    def p50(k: String) = Stats.median(nb.map(_.phaseMs(k)))
    layer("streaming.batches") = batches.size
    layer("streaming.orders_per_batch_p50") = Stats.median(nb.map(_.rows.toDouble))
    layer("streaming.trigger_ms_p50") = p50("triggerExecution")
    layer("streaming.trigger_ms_p95") =
      Stats.percentile(nb.map(_.phaseMs("triggerExecution")), 95)
    layer("streaming.add_batch_ms_p50") = p50("addBatch")
    layer("streaming.get_batch_ms_p50") = p50("getBatch")
    layer("streaming.latest_offset_ms_p50") = p50("latestOffset")
    layer("streaming.query_planning_ms_p50") = p50("queryPlanning")
    layer("streaming.wal_commit_ms_p50") = p50("walCommit")
    layer("streaming.commit_offsets_ms_p50") = p50("commitOffsets")
    if (a.trace) {
      ledger.fence(spark.sparkContext)
      val ids = nb.map(b => s"batch:${b.p.batchId}").toSet
      val t = ledger.sum(ids)
      layer("streaming.jobs_per_batch") = t.jobs.toDouble / math.max(1, nb.size)
      layer("streaming.tasks_per_batch") = t.tasks.toDouble / math.max(1, nb.size)
      batches.foreach { b =>
        val start = toNano(b.startMs)
        val id = tracer.record("streaming.batch", s"batch:${b.p.batchId}", start,
          toNano(b.endMs))
        var at = start
        Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
          "commitOffsets").foreach { k =>
          val d = (b.phaseMs(k) * 1e6).toLong
          tracer.record(s"streaming.$k", s"batch:${b.p.batchId}", at, at + d, id)
          at += d
        }
      }
    }
    val files = listFiles(Paths.get(loop.partialsDir)).filter(_.toString.endsWith(".parquet"))
    layer("storage.partials_files") = files.size
    layer("storage.partials_mb") = files.map(Files.size).sum / 1e6
    layer("storage.files_per_batch") = files.size.toDouble / math.max(1, batches.size)
    layer("storage.compact_ms_p50") = Stats.median(compactSamples.toSeq)
    layer("storage.compact_ms_p95") = Stats.percentile(compactSamples.toSeq, 95)
    val measured = loop.ticks.toSeq.filter(t => t.step != "warmup" && t.step != "burst")
    val lagP99 = Stats.percentile(measured.map(_.lagMs), 99)
    layer("gen.lag_p99_ms") = lagP99
    layer("gen.orders_offered") = measured.map(_.n.toLong).sum.toDouble
    if (lagP99 > OpenLoop.TickMs)
      Some(f"generator ran late by $lagP99%.1f ms at p99 (one tick is ${OpenLoop.TickMs}%.0f ms)")
    else None
  }

  private val wallToNano: Double = System.nanoTime() - System.currentTimeMillis() * 1e6
  private def toNano(wallMs: Double): Long = (wallMs * 1e6 + wallToNano).toLong
  private val compactSamples = mutable.ArrayBuffer.empty[Double]

  /** Compacted partials against a batch rollup of exactly the offered
    * orders: counts and quantities exactly, revenue within 1e-6 relative.
    */
  private def checkRollup(compacted: Array[Row], offered: Seq[(String, Long)]): Unit = {
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    val raw = offered.toDF("value", "m")
      .select(explode(array_repeat(col("value"), col("m").cast("int"))).as("value"))
    val expected = Ingest.ingestSalesOrders(raw)
      .filter(col("order_status") === "completed")
      .groupBy(date_trunc("hour", col("order_timestamp")).as("hour"), col("category"))
      .agg(count(lit(1)).as("order_count"), sum("total_amount").as("total_revenue"),
        sum("quantity").as("total_quantity"))
      .collect()
    def key(r: Row) = (r.getAs[java.sql.Timestamp]("hour"), r.getAs[String]("category"))
    val got = compacted.map(r => key(r) -> r).toMap
    val bad = expected.filterNot { e =>
      got.get(key(e)).exists { g =>
        g.getAs[Long]("order_count") == e.getAs[Long]("order_count") &&
        g.getAs[Long]("total_quantity") == e.getAs[Long]("total_quantity") &&
        relClose(g.getAs[Double]("total_revenue"), e.getAs[Double]("total_revenue"), 1e-6)
      }
    }
    check("partials_equal_batch_rollup", bad.isEmpty && got.size == expected.length,
      s"${bad.length} of ${expected.length} groups differ, ${got.size} compacted")
  }

  private def relClose(x: Double, y: Double, tol: Double): Boolean =
    x == y || math.abs(x - y) <= tol * math.max(math.abs(x), math.abs(y))

  /** `Ingest.ingestSalesOrders` over the pool, read back from a JSON-lines
    * file, as a batch noop write; µs per order, median of three.
    */
  private def parseUsPerOrder(orders: Array[String]): Double = {
    val s = spark
    val file = work.resolve("pool.jsonl")
    Files.write(file, orders.toSeq.asJava, StandardCharsets.UTF_8)
    val raw = s.read.text(file.toString)
    val times = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      TaskLedger.tagged(s.sparkContext, "parse") {
        tracer.span("ingest.parse", "parse") {
          Ingest.ingestSalesOrders(raw).write.format("noop").mode("overwrite").save()
        }
      }
      (System.nanoTime() - t0) / 1e3 / orders.length
    }
    Stats.median(times)
  }

  /** The writer-alone nominal step's median trigger time on a one-core
    * session, after a short warm-up: the JVM is warm by then.
    */
  private def singleCoreBaseline(orders: Array[String]): Double = {
    Session.stop(spark)
    spark = Session.build(1)
    spark.streams.addListener(progress)
    spark.sparkContext.addSparkListener(ledger)
    val loop = newLoop(orders, "stream_c1")
    loop.step("warmup", NominalRate, BaselineWarmupSeconds, 10000)
    val s = loop.step("nominal_c1", NominalRate, a.seconds / 2, 10000)
    val t = Stats.median(batchesOf(s).map(_.phaseMs("triggerExecution")))
    loop.stop()
    t
  }

  /** One closed-loop client cycling the five tiles and a compaction of the
    * live partials, in a seed-chosen order per cycle, with a seeded think
    * time of 0 to [[Main.ThinkMsMax]] ms after each read.
    */
  final class Reader(partialsDir: String, expected: Map[String, Array[Row]]) {
    @volatile var stop = false
    val done = mutable.ArrayBuffer.empty[Read]
    private val kinds = Tiles :+ "compact"
    private val think = new scala.util.Random(a.seed + 1)

    def loop(): Unit = {
      // compaction needs the partials of at least one committed batch
      progress.awaitCommitted(0L, 60000)
      var i = 0
      while (!stop) {
        shuffled(kinds).iterator.takeWhile(_ => !stop).foreach { k =>
          done += one(i, k)
          i += 1
          Thread.sleep(think.nextInt(ThinkMsMax))
        }
      }
    }

    private def one(i: Int, kind: String): Read = {
      val op = s"read:$i:$kind"
      val t0 = System.nanoTime()
      var (t1, t2) = (t0, t0)
      val ok = try {
        TaskLedger.tagged(spark.sparkContext, op) {
          tracer.span("ops.read", op) {
            val df = tracer.span("ops.read.analyze", op) {
              if (kind == "compact") StreamAssembly.compactHourlyPartials(spark, partialsDir)
              else SparkEntry.queries(kind)(spark, a.fixtures)
            }
            t1 = System.nanoTime()
            tracer.span("ops.read.plan", op)(df.queryExecution.executedPlan)
            t2 = System.nanoTime()
            val rows = tracer.span("ops.read.exec", op)(df.collect())
            kind == "compact" && rows.nonEmpty ||
              expected.get(kind).exists(sameRows(rows, _))
          }
        }
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] read $kind failed: ${e.getMessage}")
          false
      }
      val t3 = System.nanoTime()
      if (!ok) System.err.println(s"[perfbench] read $kind returned wrong rows")
      Read(op, kind, t0, t3, (t1 - t0) / 1e6, (t2 - t1) / 1e6, (t3 - t2) / 1e6, ok)
    }
  }

  private def sameRows(got: Array[Row], want: Array[Row]): Boolean =
    got.length == want.length && got.zip(want).forall { case (g, w) =>
      g.length == w.length && (0 until g.length).forall { i =>
        (g.get(i), w.get(i)) match {
          case (x: Double, y: Double) => relClose(x, y, 1e-9)
          case (x, y) => x == y
        }
      }
    }

  // ------------------------------------------------------------- operators

  /** One client running the suite sequentially: one untimed pass, then
    * as many timed passes as fit in `--seconds` (at least one).
    */
  private def operators(): Option[String] = {
    setup(s => Tables.names.foreach(n => Tables.table(s, a.fixtures, n).schema))
    val hashes = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Int]]
    def pass(p: Int, queries: Seq[String]): Seq[(String, Double)] = {
      Dedup.clearMemo()
      shuffled(queries).map { q =>
        val op = s"query:$p:$q"
        val t0 = System.nanoTime()
        val rows = try {
          Some(TaskLedger.tagged(spark.sparkContext, op) {
            tracer.span("op.query", op)(SparkEntry.queries(q)(spark, a.fixtures).collect())
          })
        } catch {
          case e: Exception =>
            System.err.println(s"[perfbench] query $q failed: ${e.getMessage}")
            None
        }
        val secs = (System.nanoTime() - t0) / 1e9
        attempted += 1
        rows match {
          case Some(r) =>
            hashes.getOrElseUpdate(q, mutable.ArrayBuffer.empty) +=
              MurmurHash3.unorderedHash(r.toSeq.map(_.toString))
            q -> secs
          case None =>
            failedOps += 1
            q -> Double.PositiveInfinity
        }
      }
    }
    def logged(p: Int): Seq[(String, Double)] = {
      val r = pass(p, Operators)
      System.err.println(s"[perfbench] pass $p: " +
        r.map { case (q, s) => f"$q $s%.2f s" }.mkString(", "))
      r
    }
    val warm = System.nanoTime()
    // the untimed pass stages the streaming drains' fixture sources in
    // StreamAssembly's cache, which Dedup.clearMemo does not reach, and
    // takes every query's first-run (JIT) cost: a query's first run took
    // up to 2.2 times its second
    logged(0)
    layer("gen.warmup_s") = ms(warm) / 1000
    startMeasuring()
    val t0 = System.nanoTime()
    val passes = mutable.ArrayBuffer(logged(1))
    // another pass only when one as long as the last still fits
    while ((System.nanoTime() - t0) / 1e9 + passes.last.map(_._2).sum <= a.seconds)
      passes += logged(passes.size + 1)
    Operators.foreach { q =>
      val hs = hashes.getOrElse(q, mutable.ArrayBuffer.empty[Int])
      check(s"stable_result_$q", hs.distinct.size == 1,
        s"${hs.distinct.size} distinct result hashes in ${hs.size} runs")
    }
    // each query's median over the timed passes
    val perQuery = Operators.map(q =>
      q -> Stats.median(passes.toSeq.flatMap(_.collect { case (`q`, s) => s })))
    val suite = passes.map(_.map(_._2).sum)
    // the geometric mean weighs each query alike and, unlike a median of
    // a handful of unlike queries, does not jump from one query to another
    e2e("latency_ms") = Stats.geomean(perQuery.map(_._2 * 1000))
    e2e("latency_tail_ms") = perQuery.map(_._2 * 1000).max
    e2e("throughput_per_s") = passes.map(_.size).sum / suite.sum
    report("suite_s") = (Stats.median(suite.toSeq), "s")
    report("query_geomean_ms") = (e2e("latency_ms"), "ms")
    report("slowest_query_ms") = (e2e("latency_tail_ms"), "ms")
    report("timed_passes") = (passes.size.toDouble, "count")
    perQuery.foreach { case (q, s) => layer(s"op.$q.s") = s }
    if (a.trace) {
      ledger.fence(spark.sparkContext)
      Operators.foreach { q =>
        val t = ledger.sum(_ == s"query:1:$q")
        layer(s"op.$q.jobs") = t.jobs.toDouble
        layer(s"op.$q.tasks") = t.tasks.toDouble
        layer(s"op.$q.shuffle_mb") = t.shuffleWriteBytes / 1e6
      }
      val all = ledger.sum(_.startsWith("query:1:"))
      layer("op.spill_mb") = all.spillBytes / 1e6
      layer("op.peak_exec_mem_mb") = all.peakExecMemBytes / 1e6
      layer("op.gc_ms") = all.gcMs.toDouble
      layer("op.input_mb") = all.inputBytes / 1e6
      layer("op.task_busy_share") = all.runMs / (suite.head * 1000 * Cores)
    }
    None
  }

  // ----------------------------------------------------------------- utils

  private def listFiles(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).toList
      finally s.close()
    }

  private def dirBytes(p: Path): Long = listFiles(p).map(f =>
    try Files.size(f) catch { case _: java.io.IOException => 0L }).sum

  private def peakRssMb(): Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")),
      StandardCharsets.UTF_8)
    status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
  }
}
