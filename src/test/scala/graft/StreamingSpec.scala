package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.gen.SalesGen
import graft.streaming.StreamAssembly

/** Streaming semantics T1-T6 (SURVEY.md §2.9), broker-free via
  * MemoryStream. The governing property, both rollup paths: a streaming run
  * over the data in ANY micro-batch split equals the batch groupBy over the
  * union — which is exactly the reference's MV + SummingMergeTree contract
  * (per-block partials that fold to the same totals,
  * `clickhouse/init/01_init.sql:63-87`).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def jsonBatches(n: Long, splits: Int): Seq[Seq[String]] = {
    val all = SalesGen.ordersJson(spark, n).collect().map(_.getString(0)).toSeq
    all.grouped((all.size + splits - 1) / splits).toSeq
  }

  private def batchHourly(n: Long) =
    graft.ingest.Ingest.ingestSalesOrders(SalesGen.ordersJson(spark, n))
      .filter(col("order_status") === "completed")
      .groupBy(date_trunc("hour", col("order_timestamp")).as("hour"),
        col("category"))
      .agg(count(lit(1)).as("order_count"),
        round(sum("total_amount"), 2).as("total_revenue"),
        sum("quantity").as("total_quantity"))

  test("update-mode hourly rollup over 3 micro-batches == batch groupBy") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[String]
    val rollup = StreamAssembly.hourlyRollupStream(
      StreamAssembly.ingest(stream.toDF()))
    val q = rollup.writeStream
      .format("memory").queryName("hourly_state")
      .outputMode("complete")
      .start()
    try {
      jsonBatches(600, 3).foreach { b =>
        stream.addData(b)
        q.processAllAvailable()
      }
      val got = spark.table("hourly_state")
        .withColumn("total_revenue", round(col("total_revenue"), 2))
      val want = batchHourly(600)
      assert(got.count() === want.count())
      assert(got.exceptAll(want).count() === 0)
    } finally q.stop()
  }

  test("streaming dedup drops replayed and cross-batch duplicate orders") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[String]
    val deduped = StreamAssembly.dedupStream(
      StreamAssembly.ingest(stream.toDF()))
    val q = deduped.writeStream
      .format("memory").queryName("dedup_state")
      .outputMode("append")
      .start()
    try {
      val batches = jsonBatches(400, 2)
      // replay batch 0 in full, then batch 1 with batch 0's tail mixed in:
      // duplicates within AND across micro-batches
      Seq(batches(0), batches(0), batches(1) ++ batches(0).takeRight(50))
        .foreach { b => stream.addData(b); q.processAllAvailable() }
      val want = graft.ingest.Ingest
        .ingestSalesOrders(SalesGen.ordersJson(spark, 400))
        .dropDuplicates("order_id", "order_timestamp")
        .count()
      assert(spark.table("dedup_state").count() === want)
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark dedups retried orders whose " +
       "timestamps were restamped (key excludes event time)") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[String]
    val deduped = StreamAssembly.dedupWithinWatermarkStream(
      StreamAssembly.ingest(stream.toDF()))
    val q = deduped.writeStream
      .format("memory").queryName("dedup_wm_state")
      .outputMode("append")
      .start()
    try {
      val batches = jsonBatches(400, 2)
      // a producer retry restamps the timestamp: shift batch 0's tail by
      // a real +1s (parse the ISO instant, add a second) and replay it —
      // same order_id, different event time on EVERY replayed row (a
      // seconds-field rewrite would leave rows already at the target
      // value byte-identical). The (order_id, ts)-keyed dedupStream would
      // keep both; the within-watermark variant must not.
      val tsRe = """"order_timestamp":"([^"]+)"""".r
      val restamped = batches(0).takeRight(50).map { line =>
        tsRe.replaceAllIn(line, m => {
          val shifted = java.time.Instant.parse(m.group(1)).plusSeconds(1)
          val s = java.time.format.DateTimeFormatter
            .ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
            .withZone(java.time.ZoneOffset.UTC).format(shifted)
          s""""order_timestamp":"$s""""
        })
      }
      assert(batches(0).takeRight(50).zip(restamped)
        .forall { case (a, b) => a != b },
        "restamp must change every replayed row's event time")
      Seq(batches(0), restamped, batches(1))
        .foreach { b => stream.addData(b); q.processAllAvailable() }
      val want = graft.ingest.Ingest
        .ingestSalesOrders(SalesGen.ordersJson(spark, 400))
        .dropDuplicates("order_id")
        .count()
      assert(spark.table("dedup_wm_state").count() === want)
    } finally q.stop()
  }

  test("stream-static enrichment join == batch left join (stateless)") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq(("electronics", "high"), ("clothing", "mid"),
      ("books", "low")).toDF("category", "tier")
    val stream = MemoryStream[String]
    val enriched = StreamAssembly.enrichStream(
      StreamAssembly.ingest(stream.toDF()), dim)
    val q = enriched.writeStream
      .format("memory").queryName("enrich_state")
      .outputMode("append")
      .start()
    try {
      jsonBatches(300, 3).foreach { b =>
        stream.addData(b); q.processAllAvailable()
      }
      val o = graft.ingest.Ingest.ingestSalesOrders(SalesGen.ordersJson(spark, 300))
      // _ingested_at is wall-clock audit metadata — necessarily differs
      // between the streaming run and the batch recompute
      val want = o.join(dim, Seq("category"), "left_outer")
        .drop("_ingested_at")
      val got = spark.table("enrich_state").drop("_ingested_at")
      assert(got.count() === want.count())
      // every known category carries its tier; unknown categories survive
      assert(got.filter(col("category").isin("electronics", "clothing",
        "books") && col("tier").isNull).count() === 0)
      assert(got.exceptAll(want).count() === 0)
    } finally q.stop()
  }

  test("stream-stream interval join == batch self-join on the same orders") {
    implicit val sqlCtx = spark.sqlContext
    val sl = MemoryStream[String]
    val sr = MemoryStream[String]
    val joined = StreamAssembly.followupJoinStream(
      StreamAssembly.ingest(sl.toDF()), StreamAssembly.ingest(sr.toDF()))
    val q = joined.writeStream
      .format("memory").queryName("followup_state")
      .outputMode("append")
      .start()
    try {
      jsonBatches(300, 3).foreach { b =>
        sl.addData(b); sr.addData(b); q.processAllAvailable()
      }
      val o = graft.ingest.Ingest.ingestSalesOrders(SalesGen.ordersJson(spark, 300))
      val want = o.as("l").join(o.as("r"),
        col("l.customer_id") === col("r.customer_id") &&
          col("r.order_timestamp") > col("l.order_timestamp") &&
          col("r.order_timestamp") <=
            col("l.order_timestamp") + expr("INTERVAL 1 hour"))
        .count()
      assert(want > 0)  // fixture actually exercises the join
      assert(spark.table("followup_state").count() === want)
    } finally q.stop()
  }

  test("append-partials + compaction (SummingMergeTree mirror) == " +
       "update-mode state == batch") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[String]
    val outDir = Files.createTempDirectory("partials").toString
    val ckDir = Files.createTempDirectory("ck").toString
    val q = StreamAssembly.startHourlyPartialsSink(
      StreamAssembly.ingest(stream.toDF()), outDir, ckDir)
    try {
      jsonBatches(600, 4).foreach { b =>
        stream.addData(b)
        q.processAllAvailable()
      }
      // more than one partial row per key proves blocks really were split
      val partials = spark.read.parquet(outDir)
      assert(partials.count() >
        partials.select("hour", "category").distinct().count())
      // the reader's declared schema is the schema the writer produces,
      // and publishing leaves nothing staged behind
      assert(partials.schema === StreamAssembly.PartialsSchema)
      assert(Option(new java.io.File(outDir, "_staging").listFiles())
        .forall(_.isEmpty))
      val got = StreamAssembly.compactHourlyPartials(spark, outDir)
        .withColumn("total_revenue", round(col("total_revenue"), 2))
      val want = batchHourly(600)
      assert(got.count() === want.count())
      assert(got.exceptAll(want).count() === 0)
    } finally q.stop()
    // a sink that has committed nothing yet folds to no rows
    val empty = Files.createTempDirectory("partials_empty").toString
    assert(StreamAssembly.compactHourlyPartials(spark, empty).count() === 0)
  }

  test("partials sink replay after a lost commit replaces the batch's " +
       "files instead of duplicating them") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[String]
    val outDir = Files.createTempDirectory("partials_replay").toString
    val ckDir = Files.createTempDirectory("ck_replay").toString
    def start() = StreamAssembly.startHourlyPartialsSink(
      StreamAssembly.ingest(stream.toDF()), outDir, ckDir)
    val q = start()
    try jsonBatches(600, 3).foreach { b =>
      stream.addData(b)
      q.processAllAvailable()
    } finally q.stop()
    // the crash window: the sink holds the newest batch's partials, the
    // commit log does not, so a restart must run that batch again
    val commits = new java.io.File(ckDir, "commits")
    val newest = commits.list().filter(_.forall(_.isDigit)).map(_.toLong).max
    assert(newest === 2L)
    assert(new java.io.File(commits, s"$newest").delete())
    new java.io.File(commits, s".$newest.crc").delete()
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(q2.recentProgress.exists(_.batchId == newest),
        "the restart did not replay the uncommitted batch")
    } finally q2.stop()
    val got = StreamAssembly.compactHourlyPartials(spark, outDir)
      .withColumn("total_revenue", round(col("total_revenue"), 2))
    val want = batchHourly(600)
    assert(got.count() === want.count())
    assert(got.exceptAll(want).count() === 0)
    // one batch-<id>-<k> set per batch id: k runs 0..n-1 without gaps
    val Part = """batch-(\d+)-(\d+)\.parquet""".r
    val sets = new java.io.File(outDir).list().toSeq.collect {
      case Part(id, k) => (id.toLong, k.toInt)
    }.groupBy(_._1).map { case (id, ks) => id -> ks.map(_._2).sorted }
    assert(sets.keySet === Set(0L, 1L, 2L))
    sets.foreach { case (id, ks) =>
      assert(ks === ks.indices, s"batch $id has files $ks")
    }
  }

  test("late rows fold into their original hour (no-watermark mode)") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[String]
    val rollup = StreamAssembly.hourlyRollupStream(
      StreamAssembly.ingest(stream.toDF()), watermark = None)
    val q = rollup.writeStream
      .format("memory").queryName("late_state")
      .outputMode("complete")
      .start()
    try {
      def order(id: String, ts: String) =
        s"""{"order_id":"$id","category":"Home","order_status":"completed",
           |"quantity":1,"unit_price":10.0,"total_amount":10.0,
           |"order_timestamp":"$ts"}""".stripMargin.replace("\n", "")
      stream.addData(Seq(
        order("a", "2026-01-17T05:10:00Z"),
        order("b", "2026-01-17T09:00:00Z")))
      q.processAllAvailable()
      // a row arriving much later for the 05:00 hour
      stream.addData(Seq(order("c", "2026-01-17T05:59:59Z")))
      q.processAllAvailable()
      val five = spark.table("late_state")
        .filter(col("hour") === to_timestamp(lit("2026-01-17 05:00:00")))
        .head()
      assert(five.getAs[Long]("order_count") === 2)
      assert(five.getAs[Double]("total_revenue") === 20.0)
    } finally q.stop()
  }

  test("streaming dead-letter sink routes good rows and rejects separately") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[String]
    val outDir = Files.createTempDirectory("dlq_good").toString
    val deadDir = Files.createTempDirectory("dlq_dead").toString
    val ckDir = Files.createTempDirectory("dlq_ck").toString
    val q = StreamAssembly.startIngestWithDeadLetter(
      stream.toDF(), outDir, deadDir, ckDir)
    try {
      stream.addData(jsonBatches(40, 1).head ++ Seq("{oops", "garbage"))
      q.processAllAvailable()
      assert(spark.read.parquet(outDir).count() === 40)
      val dead = spark.read.parquet(deadDir).collect()
      assert(dead.map(_.getAs[String]("raw")).toSet === Set("{oops", "garbage"))
    } finally q.stop()
  }

  test("observe() ingest metrics report per-batch rows and revenue (A8)") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[String]
    @volatile var lastRows = -1L
    val observed = StreamAssembly.withIngestMetrics(
      StreamAssembly.ingest(stream.toDF()))
    val q = observed.writeStream
      .format("noop")
      .start()
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val m = e.progress.observedMetrics
        if (m.containsKey("ingest_metrics"))
          lastRows = m.get("ingest_metrics").getAs[Long]("rows")
      }
    }
    spark.streams.addListener(listener)
    try {
      stream.addData(jsonBatches(50, 1).head)
      q.processAllAvailable()
      // listener events are async; give the bus a moment
      var waited = 0
      while (lastRows < 0 && waited < 50) { Thread.sleep(100); waited += 1 }
      assert(lastRows === 50L)
    } finally { q.stop(); spark.streams.removeListener(listener) }
  }

  test("watermark horizon bounds the state store: dedup state rows stay " +
       "O(horizon window), not O(stream history)") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[String]
    val deduped = StreamAssembly.dedupWithinWatermarkStream(
      StreamAssembly.ingest(stream.toDF())) // 1-day horizon
    val q = deduped.writeStream
      .format("memory").queryName("dedup_state_bound")
      .outputMode("append")
      .start()
    try {
      // 4 batches of distinct orders, each batch restamped +2 days past
      // the previous — every batch's events are older than the NEXT
      // batch's watermark (max event time − 1 day), so eviction must
      // reclaim each batch's keys within one batch of ingesting the next
      val base = jsonBatches(400, 4)
      val batchSize = base.map(_.size).max
      val tsRe = """"order_timestamp":"([^"]+)"""".r
      val shifted = base.zipWithIndex.map { case (b, i) =>
        b.map(line => tsRe.replaceAllIn(line, m => {
          val t = java.time.Instant.parse(m.group(1))
            .plus(java.time.Duration.ofDays(2L * i))
          val s = java.time.format.DateTimeFormatter
            .ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'")
            .withZone(java.time.ZoneOffset.UTC).format(t)
          s""""order_timestamp":"$s""""
        }))
      }
      val perBatchState = shifted.map { b =>
        stream.addData(b); q.processAllAvailable()
        q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      }
      assert(perBatchState.forall(_ > 0), s"no state metrics: $perBatchState")
      // eviction lags one batch (the watermark used by batch b is
      // computed at the end of b−1), so the horizon bound is two
      // batches' keys — far below the 4-batch history a leaking store
      // would hold
      val total = shifted.map(_.size).sum
      assert(perBatchState.max <= 2L * batchSize,
        s"state exceeded the watermark-horizon bound: $perBatchState")
      assert(perBatchState.last < total,
        s"state grew with history: ${perBatchState.last} of $total")
      assert(spark.table("dedup_state_bound").count() === total)
    } finally q.stop()
  }
}
