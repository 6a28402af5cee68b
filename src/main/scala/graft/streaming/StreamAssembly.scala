package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

import graft.ingest.Ingest

/** Structured Streaming assembly of the reference's realtime pipeline
  * (SURVEY.md §2.9 T1-T8, §3 EP2): source → JSON ingest → windowed rollups
  * → sinks, as declarative streaming DataFrames.
  *
  * Source/transform/sink are deliberately decoupled `DataFrame`
  * combinators: the ingest and rollup stages are the SAME Column programs
  * the batch path uses ([[graft.ingest.Ingest]]), applied to a streaming
  * frame — Catalyst's IncrementalExecution turns them into per-micro-batch
  * incremental plans, which is exactly the reference's ClickHouse
  * materialized-view semantics (`clickhouse/init/01_init.sql:63-87`:
  * MV fires per insert block) with stronger delivery guarantees
  * (checkpointed offsets + idempotent sink ⇒ exactly-once, vs the
  * reference's at-least-once auto-commit, `kafka_to_clickhouse.py:56`).
  *
  * Tested broker-free via MemoryStream; the Kafka wiring compiles against
  * the DataSource V2 string API and activates when the
  * spark-sql-kafka connector jar is on the classpath.
  *
  * Sink-template note: the drain queries' per-batch `coalesce(1)` writes
  * are sized for their outputs (bounded per-batch partials/probe rows —
  * one small file per batch beats 32 tiny ones). A production sink
  * template drops the coalesce (let output parallelism follow data) and
  * schedules [[graft.storage.Storage.compactBatchSink]] to merge the
  * accreted `batch=<id>` trees by target file size.
  */
object StreamAssembly {

  /** Materialized drain-segment directories keyed by (context, sfDir,
    * drain kind, fleet expr, nFiles) — the r17 `insertSegTwin` lesson
    * applied to the drains themselves: the lifecycle serving family
    * re-paid overlapping drains per gated query (six queries drain the
    * IDENTICAL tombstone fixture; the graph/PQ/LSH serve pairs re-drain
    * the same ≡ 1 mod 4 insert fleet), yet each drain is deterministic
    * and slicing-invariant (the compaction/replay specs' standing
    * claim), so its finished segment tree is a pure function of the key
    * and can be shared across the family — zero hash changes by
    * construction. Crash-armed drains (crashAfterBatches > 0) bypass
    * the cache both ways: a crash gate must never serve, nor poison, a
    * memoized tree. Cleared with the frame memos between bench passes
    * ([[graft.ops.Memo.onClear]]), so both timed passes stay cold.
    */
  private val drainDirCache =
    scala.collection.concurrent.TrieMap
      .empty[(org.apache.spark.SparkContext, String, String, String, Int),
        String]
  graft.ops.Memo.onClear(() => drainDirCache.clear())

  private def memoDrain(spark: SparkSession, sfDir: String, kind: String,
                        fleet: org.apache.spark.sql.Column, nFiles: Int,
                        crashAfterBatches: Int)(run: => String): String =
    if (crashAfterBatches > 0) run
    else drainDirCache.synchronized {
      drainDirCache.getOrElseUpdate(
        (spark.sparkContext, sfDir, kind, fleet.toString, nFiles), run)
    }

  /** Drop the drain-directory and derived-beam memos — the compaction
    * specs call this after mutating a drained tree with
    * [[graft.storage.Storage.compactBatchSink]]: the post-compaction
    * re-read must be REAL (not a memo hit, which would make the
    * invariance claim vacuous), and later drains must never inherit a
    * compacted tree where they assert per-micro-batch file counts.
    */
  private[graft] def invalidateDrainMemos(): Unit = {
    drainDirCache.clear()
    accBeamCache.values.foreach(graft.ops.Memo.unpersistFrame)
    accBeamCache.clear()
  }

  /** S1 (`kafka_to_clickhouse.py:50-58`): Kafka source. Offsets live in
    * the checkpoint (not broker group auto-commit). `maxOffsetsPerTrigger`
    * plays the reference's `max_poll_records=500` role (T1).
    */
  def kafkaSource(spark: SparkSession, bootstrap: String,
                  topic: String = "sales_orders",
                  maxOffsetsPerTrigger: Long = 500): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .option("maxOffsetsPerTrigger", maxOffsetsPerTrigger)
      .load()

  /** Broker-free file source: JSON-lines files appearing under `path`,
    * whole file = one micro-batch of `value` strings (the shape Kafka
    * delivers).
    */
  def jsonFileSource(spark: SparkSession, path: String): DataFrame =
    spark.readStream.text(path).select(col("value"))

  /** EP2 ingest transform (P1-P5): value bytes/strings → typed, defaulted,
    * audited sales-order rows. Identical code to the batch path.
    */
  def ingest(raw: DataFrame): DataFrame = Ingest.ingestSalesOrders(raw)

  /** Streaming exact dedup: the first occurrence of each order natural key
    * wins; replays and cross-batch duplicates are dropped. The reference's
    * order_id is non-unique by accident (`sales_producer.py:89-93`) and its
    * at-least-once consumer re-inserts on crash — this operator is the
    * exactly-once-shaped fix, with state keyed by (order_id,
    * order_timestamp) and bounded by the watermark (T3/T4).
    */
  def dedupStream(orders: DataFrame,
                  watermark: Option[String] = Some("1 day")): DataFrame = {
    val wm = watermark.fold(orders)(orders.withWatermark("order_timestamp", _))
    wm.dropDuplicates("order_id", "order_timestamp")
  }

  /** Watermark-bounded dedup on the BUSINESS key alone
    * (`dropDuplicatesWithinWatermark`, SPARK-42931): unlike
    * [[dedupStream]], the event-time column is NOT part of the key, so a
    * retried order restamped with a slightly different timestamp (the
    * at-least-once producer reality, reference
    * `producers/sales_producer.py` retries=3) still dedups — while state
    * is evicted by watermark, bounded like any keyed state at scale.
    */
  def dedupWithinWatermarkStream(orders: DataFrame,
                                 watermark: String = "1 day"): DataFrame =
    orders.withWatermark("order_timestamp", watermark)
      .dropDuplicatesWithinWatermark("order_id")

  /** Stream-stream interval join: orders by the same customer within
    * `tol` of each other (follow-up purchases), both sides watermarked so
    * the join state is range-bounded and evicted as event time advances —
    * the streaming sibling of the batch range join
    * ([[graft.ops.RangeJoin]]). Inner join + both-side watermarks + a
    * bounded time condition is exactly the state-cleanup contract
    * Structured Streaming requires for stream-stream joins.
    */
  def followupJoinStream(left: DataFrame, right: DataFrame,
                         tol: String = "1 hour",
                         watermark: String = "1 day"): DataFrame = {
    val l = left.withWatermark("order_timestamp", watermark)
      .select(col("order_id").as("order_a"),
        col("customer_id").as("cust_a"),
        col("order_timestamp").as("ts_a"))
    val r = right.withWatermark("order_timestamp", watermark)
      .select(col("order_id").as("order_b"),
        col("customer_id").as("cust_b"),
        col("order_timestamp").as("ts_b"))
    l.join(r,
      col("cust_a") === col("cust_b") &&
        col("ts_b") > col("ts_a") &&
        col("ts_b") <= col("ts_a") + expr(s"INTERVAL $tol"))
      .select(col("order_a"), col("order_b"), col("cust_a").as("customer_id"))
  }

  /** Stream-static enrichment: the order stream joined against a STATIC
    * dimension frame (J1's streaming form). Stateless — unlike a
    * stream-stream join there is no join state at all; the static side is
    * broadcast and re-resolved per micro-batch, so a dim refresh (e.g. a
    * re-read parquet dim) is picked up at the next trigger. Left-outer so
    * unknown keys pass through (dead-letter policy belongs to ingest, not
    * enrichment).
    */
  def enrichStream(orders: DataFrame, dim: DataFrame,
                   key: String = "category"): DataFrame =
    orders.join(broadcast(dim), Seq(key), "left_outer")

  /** A1 streaming: hourly × category rollup over completed orders.
    * Update-mode state keeps exact per-key totals — the "eager exact"
    * superset of SummingMergeTree's eventual merge (SURVEY.md §2.4 A3
    * option (a)). Watermark bounds state (T3); the reference has NO
    * watermark (any hour can still receive rows), so `watermark = None`
    * reproduces it exactly at unbounded-state cost. Default 1 day admits
    * the producer's realistic lateness.
    */
  def hourlyRollupStream(orders: DataFrame,
                         watermark: Option[String] = Some("1 day")): DataFrame = {
    val wm = watermark.fold(orders)(orders.withWatermark("order_timestamp", _))
    wm.filter(col("order_status") === "completed")
      // group by the window STRUCT (not a pre-extracted field): Spark's
      // event-time metadata lives on the struct, and watermark-driven state
      // eviction needs to see it in the grouping key
      .groupBy(window(col("order_timestamp"), "1 hour"), col("category"))
      .agg(
        count(lit(1)).as("order_count"),
        sum("total_amount").as("total_revenue"),
        sum("quantity").as("total_quantity"))
      .select(col("window.start").as("hour"), col("category"),
        col("order_count"), col("total_revenue"), col("total_quantity"))
  }

  /** A2 streaming: daily × region rollup over completed orders. */
  def dailyRollupStream(orders: DataFrame,
                        watermark: Option[String] = Some("1 day")): DataFrame = {
    val wm = watermark.fold(orders)(orders.withWatermark("order_timestamp", _))
    wm.filter(col("order_status") === "completed")
      .groupBy(window(col("order_timestamp"), "1 day"), col("region"))
      .agg(
        count(lit(1)).as("order_count"),
        sum("total_amount").as("total_revenue"))
      .select(col("window.start").cast("date").as("date"), col("region"),
        col("order_count"), col("total_revenue"))
  }

  /** A8 (`sales_producer.py:172-188`, `kafka_to_clickhouse.py:131-149`):
    * running ingest metrics via `observe` — per-micro-batch row count,
    * revenue, and the count of rows whose order_id DEFAULTED to empty
    * (the P3 fallback — the consumer's per-batch error tally analogue).
    * Read from a `StreamingQueryListener`'s
    * `QueryProgressEvent.progress.observedMetrics`.
    */
  def withIngestMetrics(orders: DataFrame): DataFrame =
    orders.observe("ingest_metrics",
      count(lit(1)).as("rows"),
      sum("total_amount").as("revenue"),
      count(when(col("order_id") === "", 1)).as("empty_ids"))

  /** T1 (`kafka_to_clickhouse.py:32,182-185`): the reference flushes when
    * batch ≥500 rows OR ≥5 s elapsed. Structured Streaming's processing-
    * time trigger + maxOffsetsPerTrigger reproduce both bounds.
    */
  val defaultTrigger: Trigger = Trigger.ProcessingTime("5 seconds")

  /** Raw-table sink (S5 analogue): append micro-batches as yyyyMM-
    * partitioned parquet — the engine's MergeTree. Exactly-once:
    * checkpoint + deterministic file commit protocol.
    */
  def startRawSink(orders: DataFrame, outDir: String, checkpointDir: String,
                   trigger: Trigger = defaultTrigger): StreamingQuery =
    orders
      .withColumn("month",
        date_format(col("order_timestamp"), "yyyyMM").cast("int"))
      .writeStream
      .partitionBy("month")
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()

  /** A3 option (b) — the faithful SummingMergeTree mirror: each micro-batch
    * appends its block-local partial aggregate (what the ClickHouse MV
    * inserts per block, `01_init.sql:63-74`); readers fold partials with
    * [[compactHourlyPartials]] (what CK does lazily at merge/read time). No
    * streaming state at all — state lives in the storage layout, so this
    * scales to unbounded keys.
    *
    * Layout: FLAT. Each micro-batch writes its partials under the hidden
    * `<outDir>/_staging/batch=<id>`, then renames the part file(s) to
    * `<outDir>/batch-<id>-<k>.parquet`. A reader lists one directory and
    * never sees a half-written file (`_`-prefixed paths are hidden from
    * the file index). A per-batch `batch=<id>` tree would make every read
    * list one directory per micro-batch — past Spark's 32-path
    * `parallelPartitionDiscovery.threshold` a listing JOB that grows with
    * the stream's age. The finite drains below keep `batch=<id>`: they
    * stop at a handful of batches, under that threshold.
    *
    * Replay contract: a micro-batch retried after a crash between the
    * rename and the checkpoint commit first deletes every
    * `batch-<id>-*` file an earlier attempt left, so the replay REPLACES
    * the batch's partials instead of appending a duplicate set (which
    * would silently double the compacted totals on recovery).
    *
    * A directory holding both the flat files and `batch=<id>` trees
    * fails partition discovery: start this sink in a fresh directory.
    */
  def startHourlyPartialsSink(orders: DataFrame, outDir: String,
                              checkpointDir: String,
                              trigger: Trigger = defaultTrigger): StreamingQuery =
    orders.writeStream
      .outputMode("append")
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val staged = s"$outDir/_staging/batch=$batchId"
        batch.filter(col("order_status") === "completed")
          .groupBy(date_trunc("hour", col("order_timestamp")).as("hour"),
            col("category"))
          .agg(
            count(lit(1)).as("partial_count"),
            sum("total_amount").as("partial_revenue"),
            sum("quantity").as("partial_quantity"))
          .write.mode("overwrite").parquet(staged)
        publishStaged(batch.sparkSession, staged, outDir, batchId)
      }
      .start()

  /** Moves a staged micro-batch's part files to `<outDir>/batch-<id>-<k>
    * .parquet`, after deleting any `batch-<id>-*` file a prior attempt of
    * the same batch left, then drops the staging directory.
    */
  private def publishStaged(spark: SparkSession, staged: String,
                            outDir: String, batchId: Long): Unit = {
    import org.apache.hadoop.fs.Path
    val stage = new Path(staged)
    val out = new Path(outDir)
    val fs = stage.getFileSystem(spark.sessionState.newHadoopConf())
    fs.globStatus(new Path(out, s"batch-$batchId-*"))
      .foreach(st => fs.delete(st.getPath, false))
    fs.listStatus(stage).map(_.getPath)
      .filter(_.getName.startsWith("part-"))
      .sortBy(_.getName).zipWithIndex
      .foreach { case (part, k) =>
        val dst = new Path(out, s"batch-$batchId-$k.parquet")
        if (!fs.rename(part, dst))
          throw new java.io.IOException(s"cannot rename $part to $dst")
      }
    fs.delete(stage, true)
  }

  /** The declared schema of [[startHourlyPartialsSink]]'s files: the
    * reader passes it instead of inferring one, which would launch a
    * schema job per read.
    */
  val PartialsSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("hour", TimestampType),
      StructField("category", StringType),
      StructField("partial_count", LongType),
      StructField("partial_revenue", DoubleType),
      StructField("partial_quantity", LongType)))
  }

  /** T6 end-to-end: one streaming pass that routes parsed orders to the
    * partitioned raw store and malformed payloads to a dead-letter
    * directory (raw value + rejection time) — the quarantine the reference
    * lacks (it silently skips, `kafka_to_clickhouse.py:175-178`). Each
    * write lands in the batch's OWN batch=<id> dir with overwrite, so a
    * replay after a partial failure (good rows committed, dead-letter
    * write lost) rewrites both sides instead of double-appending the
    * good rows — per-batch idempotence, the strongest contract a
    * two-destination foreachBatch can give without a transactional sink.
    * The source micro-batch is persisted so the good/dead split reads it
    * once, not once per destination.
    */
  def startIngestWithDeadLetter(raw: DataFrame, outDir: String,
                                deadDir: String, checkpointDir: String,
                                trigger: Trigger = defaultTrigger): StreamingQuery =
    raw.writeStream
      .outputMode("append")
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.persist()
        try {
          val (good, dead) = Ingest.ingestWithDeadLetter(batch)
          // skip empty frames: an overwritten EMPTY batch dir would hold
          // no parquet footers and break schema discovery on read
          if (!good.isEmpty)
            good
              .withColumn("month",
                date_format(col("order_timestamp"), "yyyyMM").cast("int"))
              .write.mode("overwrite").partitionBy("month")
              .parquet(s"$outDir/batch=$batchId")
          if (!dead.isEmpty)
            dead.write.mode("overwrite").parquet(s"$deadDir/batch=$batchId")
        } finally { batch.unpersist(); () }
      }
      .start()

  /** Read side of the partials mirror: fold partial rows into final
    * totals — identical result to the update-mode state path (tested).
    * Reads [[startHourlyPartialsSink]]'s flat directory with the declared
    * [[PartialsSchema]]: one driver-side listing of one directory and no
    * schema job, at any stream age; an empty directory folds to no rows.
    */
  def compactHourlyPartials(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(PartialsSchema).parquet(dir)
      .groupBy("hour", "category")
      .agg(
        sum("partial_count").as("order_count"),
        sum("partial_revenue").as("total_revenue"),
        sum("partial_quantity").as("total_quantity"))

  /** The A3 partials path exercised END-TO-END at correctness scale, as an
    * oracle-checked query: the events table is re-staged as N parquet files,
    * streamed back one file per micro-batch (`Trigger.AvailableNow`), each
    * micro-batch appends its block-local partial aggregate (exactly what
    * [[startHourlyPartialsSink]] does for orders), and the result is the
    * read-side compaction of those partials. Deterministic regardless of
    * how rows land in micro-batches: counts are integers and revenue is
    * summed as DECIMAL(18,6) — additive and order-independent — so the
    * compacted totals equal the batch rollup bit-for-bit.
    */
  def streamPartialsHourly(spark: SparkSession, sfDir: String,
                           nFiles: Int = 4): DataFrame = {
    val src = stagedEvents(spark, sfDir, nFiles)
    val partialsDir = Drain.run(spark, "graft_stream_partials", Seq(src)) { d =>
      d.foreachBatch(d.open(src)) {
        _.filter(col("event_type") === "purchase")
          .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
          .agg(
            count(lit(1)).as("pc"),
            sum(col("value").cast("decimal(18,6)")).as("pv"))
      }
    }
    spark.read.parquet(partialsDir)
      .groupBy("hour", "event_type")
      .agg(
        sum("pc").as("order_count"),
        round(sum("pv").cast("double"), 2).as("total_revenue"))
      .orderBy("hour", "event_type")
  }

  /** The events table staged as `nFiles` files: the source shared by the
    * partials, trend, A/B, self-join and upsert drains.
    */
  private def stagedEvents(spark: SparkSession, sfDir: String,
                           nFiles: Int): Drain.Staged =
    Drain.stageWaves(spark, "events", sfDir, nFiles)(
      Seq(graft.Tables.events(spark, sfDir).repartition(nFiles)))

  /** The events table's columns `names`, typed as the staged sources
    * store them.
    */
  private def eventCols(spark: SparkSession, sfDir: String,
                        names: String*): DataFrame = {
    val types = Map("event_id" -> "long", "user_id" -> "long",
      "ts" -> "timestamp", "event_type" -> "string", "value" -> "double")
    graft.Tables.events(spark, sfDir)
      .select(names.map(c => col(c).cast(types(c)).as(c)): _*)
  }

  /** One far-future SENTINEL row in `events`' columns (ids −1, type
    * "sentinel", value 0) at 41 days plus `pastMs` after the newest
    * event: staged as the newest wave, its event time pushes a 40-day
    * watermark past every real window. One driver-side max action.
    */
  private def sentinelRow(events: DataFrame, pastMs: Long = 0L): DataFrame = {
    val maxTs = events.agg(max("ts")).first().getTimestamp(0)
    val at = Map[String, Column]("event_id" -> lit(-1L),
      "user_id" -> lit(-1L), "event_type" -> lit("sentinel"),
      "value" -> lit(0.0), "ts" -> lit(new java.sql.Timestamp(
        maxTs.getTime + 41L * 86400000L + pastMs)))
    events.sparkSession.range(1)
      .select(events.columns.toSeq.map(c => at(c).as(c)): _*).coalesce(1)
  }

  /** `frame` cut into `n` contiguous ts ranges, one file each, oldest
    * first, and its newest ts in ms. One driver-side min/max action.
    */
  private def timeChunks(frame: DataFrame,
                         n: Int): (Seq[DataFrame], Long) = {
    val mm = frame.agg(min("ts"), max("ts")).first()
    val (t0, t1) = (mm.getTimestamp(0).getTime, mm.getTimestamp(1).getTime)
    val step = (t1 - t0) / n + 1
    def at(i: Int) = lit(new java.sql.Timestamp(t0 + i.toLong * step))
    ((0 until n).map(i =>
      frame.filter(col("ts") >= at(i) && col("ts") < at(i + 1)).coalesce(1)),
      t1)
  }

  /** `table` rows matching `keep`, projected to `cols` and staged afresh
    * as `nFiles` files: the incoming half of a probe drain.
    */
  private def stageIncoming(spark: SparkSession, table: DataFrame,
                            keep: Column, nFiles: Int,
                            cols: String*): Drain.Staged =
    Drain.stage(spark, "incoming",
      table.filter(keep).select(cols.map(col): _*).repartition(nFiles))

  /** Streaming OLS — regression state as ADDITIVE partials (the
    * [[streamPartialsHourly]] family applied to
    * [[graft.ops.Analytics.linregValueTrend]]): each micro-batch
    * appends its five per-type sufficient statistics (n, Σx, Σy, Σxy,
    * Σx² in DECIMAL — order-free and additive), and the final
    * compaction folds them and solves the closed form. Because the
    * statistics are additive and the hour epoch is FROZEN from the
    * static table before the drain, the drained result is
    * bit-identical to the batch query regardless of how rows land in
    * micro-batches — the oracle IS the batch oracle. This is the
    * streaming shape of every "training dashboards want a live trend
    * line" deployment: per-batch work is one bounded partial
    * aggregate, state lives in the sink, no stream-side shuffle grows
    * with history.
    */
  def streamTrendPartials(spark: SparkSession, sfDir: String,
                          nFiles: Int = 4): DataFrame = {
    import graft.ops.Analytics
    val src = stagedEvents(spark, sfDir, nFiles)
    // freeze the epoch from the static table: the x projection must be
    // identical in every micro-batch for the partials to be additive
    val t0 = Analytics.linregEpoch(graft.Tables.events(spark, sfDir))
      .localCheckpoint(true)
    val partialsDir = Drain.run(spark, "graft_stream_trend", Seq(src)) { d =>
      d.foreachBatch(d.open(src))(Analytics.linregPartials(_, t0))
    }
    val folded = spark.read.parquet(partialsDir)
      .groupBy("event_type")
      .agg(sum("n").as("n"), sum("sx").as("sx"), sum("sy").as("sy"),
        sum("sxy").as("sxy"), sum("sxx").as("sxx"))
    Analytics.linregSolve(folded).orderBy("event_type")
  }

  /** Streaming PCA drift monitor — the online sibling that completes
    * the PCA tier (train: [[graft.ops.Similarity.pcaPower]] on the
    * even history half, frozen + memoized; serve: THIS): incoming
    * (odd) vectors are projected onto the broadcast top component —
    * p = Σ ⌊10⁶·xᵢ⌋·vᵢ, row-local integer arithmetic — and each
    * micro-batch appends its per-label (n, Σp) PARTIALS (the A3
    * additive discipline on the embedding tier: ≤ #labels rows per
    * batch at any volume). The final compaction folds the partials and
    * reports each label's incoming projection mean against the frozen
    * history mean — the "has the embedding distribution moved along
    * its own dominant axis" alarm an index deployment watches between
    * rebuilds. Projection sums are exact integers, means are
    * sign-split truncating divisions, the shift is a BIGINT subtract —
    * so the drained result is bit-identical to the batch replay under
    * any micro-batch slicing, and the oracle replays training +
    * projection wholesale.
    */
  def streamPcaDrift(spark: SparkSession, sfDir: String,
                     nFiles: Int = 3): DataFrame = {
    import graft.ops.Similarity
    val emb = graft.Tables.embeddings(spark, sfDir)
    val src = stageIncoming(spark, emb, col("vec_id") % 2 === 1, nFiles,
      "vec_id", "embedding", "label")
    // model + history stats on the OUTER session before the drain (the
    // stream_pq_probe lesson): the memoized component is shared with
    // any batch consumer and never retrained inside a micro-batch
    val model = Similarity.pcaDriftModel(spark, sfDir)
    val hist = Similarity.pcaProject(
        emb.filter(col("vec_id") % 2 === 0)
          .select(col("embedding"), col("label")), model)
      .groupBy("label")
      .agg(count(lit(1)).cast("decimal(38,0)").as("n_hist"),
        sum("p").as("sp_hist"))
      .localCheckpoint(true)
    val partialsDir = Drain.run(spark, "graft_pca_drift", Seq(src)) { d =>
      d.foreachBatch(d.open(src)) { batch =>
        Similarity.pcaProject(batch.select(col("embedding"),
            col("label")), model)
          .groupBy("label")
          .agg(count(lit(1)).cast("decimal(38,0)").as("n_in"),
            sum("p").as("sp_in"))
      }
    }
    def meanExpr(sp: String, n: String): String =
      s"""CASE WHEN $sp >= 0 THEN CAST($sp DIV $n AS BIGINT)
         ELSE -CAST((-$sp) DIV $n AS BIGINT) END"""
    spark.read.parquet(partialsDir)
      .groupBy("label")
      .agg(sum("n_in").as("n_in"), sum("sp_in").as("sp_in"))
      .join(hist, Seq("label"))
      .select(col("label"), col("n_in").cast("long").as("n_in"),
        expr(meanExpr("sp_in", "n_in")).as("mean_in"),
        col("n_hist").cast("long").as("n_hist"),
        expr(meanExpr("sp_hist", "n_hist")).as("mean_hist"))
      .withColumn("shift", col("mean_in") - col("mean_hist"))
      .orderBy("label")
  }

  /** Online experiment monitor — the sequential-testing dashboard shape
    * (each refresh recomputes the test on all data so far): per
    * micro-batch, the two arms' EVENT-grain sufficient statistics
    * (arm, n, Σcents, Σcents²) append as additive partials (≤ 2 rows
    * per batch at any volume); the final compaction folds them and
    * runs the SAME Welch solve as the batch test
    * ([[graft.ops.Analytics.welchSolve]]). Event grain — not the batch
    * test's per-user grain — because per-user totals are not additive
    * when one user's events straddle micro-batches; the event-grain
    * statistic is its own documented test (unit = event), and its
    * oracle replays exactly that. Drained result is bit-identical to
    * the batch replay under any micro-batch slicing.
    */
  def streamAbMonitor(spark: SparkSession, sfDir: String,
                      nFiles: Int = 4): DataFrame = {
    import graft.ops.Analytics
    val src = stagedEvents(spark, sfDir, nFiles)
    val partialsDir = Drain.run(spark, "graft_stream_ab", Seq(src)) { d =>
      d.foreachBatch(d.open(src)) {
        _.select(pmod(col("user_id"), lit(2)).cast("int").as("arm"),
            expr("CAST(FLOOR(value * 100) AS DECIMAL(38,0))").as("yc"))
          .groupBy("arm")
          .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
            sum("yc").as("s"), sum(expr("yc * yc")).as("q"))
      }
    }
    Analytics.welchSolve(spark.read.parquet(partialsDir)
      .groupBy("arm")
      .agg(sum("n").as("n"), sum("s").as("s"), sum("q").as("q")))
  }

  /** The stream-stream JOIN exercised end-to-end at correctness scale, as
    * an oracle-checked query (the join sibling of [[streamPartialsHourly]]):
    * the events table streams back one staged file per micro-batch, and the
    * stream inner-joins ITSELF — same user, a later event within `tolMin`
    * minutes (the followup-action shape of [[followupJoinStream]]) — with
    * each micro-batch's new pairs appended to a parquet sink and the final
    * per-(type,type) accounting read back from it.
    *
    * Correctness mode runs WITHOUT a watermark: an unwatermarked inner
    * stream-stream join buffers both sides indefinitely and therefore emits
    * EXACTLY the batch join result regardless of how rows land in
    * micro-batches — that unbounded state is the price of exactness, and
    * bounding it is precisely what [[followupJoinStream]]'s watermarked
    * variant demonstrates (state eviction at the cost of late-pair drops,
    * spec-tested). Symmetric-hash join state is keyed on user_id, so at
    * scale state ∝ active users in the retention horizon, not total rows.
    */
  def streamJoinFollowups(spark: SparkSession, sfDir: String,
                          nFiles: Int = 4, tolMin: Int = 30): DataFrame = {
    val src = stagedEvents(spark, sfDir, nFiles)
    val pairsDir = Drain.run(spark, "graft_stream_join", Seq(src)) { d =>
      // followup-PURCHASE pairs: the filter is pushed below the join, so
      // both state stores hold purchase rows only — at any scale the
      // dominant cost of a stream-stream join is state-store churn, and
      // pre-join filtering is the single biggest lever on it
      val stream = d.open(src).filter(col("event_type") === "purchase")
      val a = stream.select(col("event_id").as("event_a"),
        col("user_id").as("user_a"), col("ts").as("ts_a"),
        col("event_type").as("type_a"))
      val b = stream.select(col("event_id").as("event_b"),
        col("user_id").as("user_b"), col("ts").as("ts_b"),
        col("event_type").as("type_b"))
      d.foreachBatch(a.join(b,
        col("user_a") === col("user_b") &&
          col("ts_b") > col("ts_a") &&
          col("ts_b") <= col("ts_a") + expr(s"INTERVAL $tolMin MINUTES")))(
        _.select("type_a", "type_b", "user_a"))
    }
    spark.read.parquet(pairsDir)
      .groupBy("type_a", "type_b")
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct("user_a").as("n_users"))
      .orderBy("type_a", "type_b")
  }

  /** The WATERMARKED stream-stream join exercised end-to-end at
    * correctness scale, as an oracle-checked query — the state-EVICTING
    * sibling of [[streamJoinFollowups]] (which buys exactness with
    * unbounded state). Both join inputs carry a 2-hour watermark, so
    * Structured Streaming derives per-side state watermarks from the
    * bounded time condition and EVICTS buffered rows as event time
    * advances — state ∝ rows inside (watermark delay + tolerance), the
    * 100 TB posture for a stream-stream join.
    *
    * What makes the batch join SQL a true oracle for the evicting run:
    * the staging replays the events table in TIME ORDER (each chunk file
    * covers a contiguous ts range, stamped with strictly-increasing
    * mtimes so the file source drains them oldest-first). Then no input
    * row is ever late (a batch's rows are always ≥ the watermark, which
    * trails the previous chunks by 2 h), and correct eviction can only
    * drop state that no future in-watermark row can match (delay 2 h >
    * tolerance 30 min). So the streamed output must equal the batch join
    * EXACTLY — an eviction bug that drops still-needed state (or an
    * off-by-one in the derived state watermark) flips the driver's hash.
    * The unwatermarked sibling pins join semantics; this one pins the
    * eviction machinery.
    */
  def streamJoinFollowupsWatermarked(spark: SparkSession, sfDir: String,
                                     nChunks: Int = 4, tolMin: Int = 30,
                                     delay: String = "2 hours",
                                     crashAfterBatches: Int = 0): DataFrame = {
    // fixture SCAFFOLDING (memoized): time-range chunk files staged oldest
    // first — the one driver-side action (min/max ts) sizes the ranges
    val src = Drain.stageWaves(spark, "event_chunks", sfDir, nChunks)(
      timeChunks(graft.Tables.events(spark, sfDir), nChunks)._1)
    val pairsDir = Drain.run(spark, "graft_wm_join", Seq(src),
        crashAfterBatches = crashAfterBatches) { d =>
      // filter below the join: both state stores hold purchase rows only
      val stream = d.open(src).filter(col("event_type") === "purchase")
      val a = stream.select(col("event_id").as("event_a"),
          col("user_id").as("user_a"), col("ts").as("ts_a"),
          col("event_type").as("type_a"))
        .withWatermark("ts_a", delay)
      val b = stream.select(col("event_id").as("event_b"),
          col("user_id").as("user_b"), col("ts").as("ts_b"),
          col("event_type").as("type_b"))
        .withWatermark("ts_b", delay)
      d.foreachBatch(a.join(b,
        col("user_a") === col("user_b") &&
          col("ts_b") > col("ts_a") &&
          col("ts_b") <= col("ts_a") + expr(s"INTERVAL $tolMin MINUTES")))(
        _.select("type_a", "type_b", "user_a"))
    }
    spark.read.parquet(pairsDir)
      // bucketed accounting (16 user buckets) so the oracle pins pair
      // placement across the key space, not one corpus-wide row
      .groupBy(col("type_a"), col("type_b"),
        (col("user_a") % 16).cast("long").as("user_bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct("user_a").as("n_users"))
      .orderBy("type_a", "type_b", "user_bucket")
  }

  /** Followup-pair tolerance (minutes) shared by the stream-stream join
    * queries; interpolated into the left-outer oracle SQL so operator and
    * oracle cannot drift.
    */
  val JoinTolMin: Int = 30

  /** The stream-stream LEFT OUTER join exercised end-to-end as an
    * oracle-checked query — the null-emitting sibling of
    * [[streamJoinFollowupsWatermarked]]. Inner results stream out as
    * matches arrive; a left row with NO followup within the tolerance is
    * held in state and emitted with nulls only once the watermark proves
    * no matching right row can still arrive — the semantics a funnel
    * "purchased but never repurchased" stage needs from a stream.
    *
    * What makes the batch LEFT JOIN SQL a true oracle: (1) time-ordered
    * chunk staging (no row is ever late, eviction can only drop
    * unneeded state — the [[streamJoinFollowupsWatermarked]] argument);
    * (2) a far-future SENTINEL purchase (user −1, staged strictly
    * newest) pushes the final watermark past every left row's
    * `ts + tolerance` no-match deadline, so every pending null-emission
    * flushes before the AvailableNow drain stops. The sentinel itself
    * can match no real user and its own null row never fires (the
    * watermark never passes it) — the readback filters user −1 out
    * anyway. A join that emits a null row early (match still possible),
    * late (never), or drops one flips the driver's hash.
    */
  def streamJoinLeftOuter(spark: SparkSession, sfDir: String,
                          nChunks: Int = 4, tolMin: Int = JoinTolMin,
                          delay: String = "2 hours"): DataFrame = {
    val src = stagePurchaseChunksWithSentinel(
      spark, sfDir, nChunks, tolMin, delayMs = 2 * 3600000L)
    val pairsDir = Drain.run(spark, "graft_lo_join", Seq(src)) { d =>
      d.foreachBatch(purchaseFollowups(d.open(src), delay, tolMin,
        "leftOuter"))(_.select("user_a", "event_a", "event_b"))
    }
    spark.read.parquet(pairsDir)
      .filter(col("user_a") >= 0)
      .groupBy((col("user_a") % 16).cast("long").as("user_bucket"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("event_b")).as("n_matched"),
        sum(when(col("event_b").isNull, 1L).otherwise(0L)).as("n_unmatched"),
        countDistinct("user_a").as("n_users"))
      .orderBy("user_bucket")
  }

  /** The watermarked purchase self-join of the left-outer, left-semi and
    * full-outer drains: a later purchase by the same user within `tolMin`
    * minutes, joined `how`.
    */
  private def purchaseFollowups(stream: DataFrame, delay: String,
                                tolMin: Int, how: String): DataFrame = {
    val a = stream.select(col("event_id").as("event_a"),
        col("user_id").as("user_a"), col("ts").as("ts_a"))
      .withWatermark("ts_a", delay)
    val b = stream.select(col("event_id").as("event_b"),
        col("user_id").as("user_b"), col("ts").as("ts_b"))
      .withWatermark("ts_b", delay)
    a.join(b,
      col("user_a") === col("user_b") &&
        col("ts_b") > col("ts_a") &&
        col("ts_b") <= col("ts_a") + expr(s"INTERVAL $tolMin MINUTES"),
      how)
  }

  /** The stream-stream LEFT SEMI join exercised end-to-end — the
    * existence-test completion of the join-mode family (inner / evicting
    * inner / left outer / full outer elsewhere): emit each left purchase
    * AT MOST ONCE iff some followup purchase by the same user lands
    * within the tolerance. Semi state marks a left row matched on first
    * hit (later matches emit nothing — the dedup the EXISTS oracle
    * mirrors), and unmatched rows are silently discarded once the
    * watermark passes their match deadline. Shares
    * [[streamJoinLeftOuter]]'s staged fixture and exactness argument
    * (time-ordered chunks ⇒ nothing late; the sentinel flushes the final
    * state); the batch `WHERE EXISTS` is the exact oracle — a semi join
    * that emits a row twice, emits an unmatched row, or drops a matched
    * one flips the hash.
    */
  def streamJoinLeftSemi(spark: SparkSession, sfDir: String,
                         nChunks: Int = 4, tolMin: Int = JoinTolMin,
                         delay: String = "2 hours"): DataFrame = {
    val src = stagePurchaseChunksWithSentinel(
      spark, sfDir, nChunks, tolMin, delayMs = 2 * 3600000L)
    val keptDir = Drain.run(spark, "graft_semi_join", Seq(src)) { d =>
      d.foreachBatch(purchaseFollowups(d.open(src), delay, tolMin,
        "leftSemi"))(_.select("user_a", "event_a"))
    }
    spark.read.parquet(keptDir)
      .filter(col("user_a") >= 0)
      .groupBy((col("user_a") % 16).cast("long").as("user_bucket"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct("user_a").as("n_users"))
      .orderBy("user_bucket")
  }

  /** Fixture scaffolding for [[streamUnionSources]]: the events table
    * split by type into TWO independent staged sources (purchases vs
    * everything else — two topics, in transport terms), EACH with its own
    * far-future sentinel staged strictly newest. Both sources need a
    * sentinel because the engine's global watermark is the MINIMUM over
    * all watermark nodes: one source without a sentinel would hold the
    * global watermark at its last real event and no downstream window
    * could close — exactly the lagging-topic behavior the drain
    * demonstrates the engine handles.
    */
  private def stageSplitEventsSentinel(spark: SparkSession, sfDir: String,
                                       nFiles: Int): (Drain.Staged, Drain.Staged) = {
    lazy val events = eventCols(spark, sfDir,
      "event_id", "user_id", "ts", "event_type", "value")
    lazy val sentinel = sentinelRow(events)
    def stage(half: String, keep: Column) =
      Drain.stageWaves(spark, s"events_$half", sfDir, nFiles)(
        Seq(events.filter(keep).repartition(nFiles), sentinel))
    (stage("purchases", col("event_type") === "purchase"),
      stage("others", col("event_type") =!= "purchase"))
  }

  /** TWO independent streaming sources UNIONED into one windowed
    * aggregate — the multi-topic ingest topology (fan-in), and the
    * engine surface it uniquely exercises: the global watermark is the
    * MIN over both sources' watermark nodes, so a day window may close
    * only once BOTH sources have advanced past it. Each source streams
    * its own staged files ([[stageSplitEventsSentinel]]: purchases vs
    * the rest — disjoint, their union is exactly the events table) with
    * its own watermark; the union feeds one append-mode day × type
    * aggregate. The batch aggregate over the whole events table is the
    * exact oracle: a union that drops a source, double-reads one, or
    * closes windows on one source's watermark alone flips the hash.
    */
  def streamUnionSources(spark: SparkSession, sfDir: String,
                         nFiles: Int = 2): DataFrame = {
    val (srcA, srcB) = stageSplitEventsSentinel(spark, sfDir, nFiles)
    // a union batch is still one staged file per trigger, from either
    // half: the larger of the two halves' staged files sizes it
    val outDir = Drain.run(spark, "graft_union_out", Seq(srcA, srcB)) { d =>
      def source(s: Drain.Staged) = d.open(s).withWatermark("ts", "40 days")
      d.foreachBatch(source(srcA).unionByName(source(srcB))
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,6)")).as("sum_value"))) {
        _.select(col("window.start").as("day"), col("event_type"),
          col("n_events"), col("sum_value"))
      }
    }
    spark.read.parquet(outDir)
      .filter(col("event_type") =!= "sentinel")
      .select(col("day"), col("event_type"),
        col("n_events").cast("long").as("n_events"),
        round(col("sum_value").cast("double"), 2).as("total_value"))
      .orderBy("day", "event_type")
  }

  /** Fixture SCAFFOLDING for the left-outer join drain: PURCHASE events
    * re-staged as time-ordered chunk files (contiguous ts ranges,
    * strictly-increasing mtimes — the no-late-rows argument) plus one
    * far-future sentinel purchase (user −1) staged strictly newest, far
    * enough out (delay + tolerance + slack) that the final watermark
    * passes every real left row's no-match deadline. One driver-side
    * min/max action, once per (session, dir, chunks, tol).
    */
  private def stagePurchaseChunksWithSentinel(spark: SparkSession,
                                              sfDir: String, nChunks: Int,
                                              tolMin: Int,
                                              delayMs: Long): Drain.Staged =
    Drain.stageWaves(spark, "purchase_chunks", sfDir, nChunks, tolMin,
        delayMs) {
      val purchases = graft.Tables.events(spark, sfDir)
        .filter(col("event_type") === "purchase")
        .select(col("event_id").cast("long").as("event_id"),
          col("user_id").cast("long").as("user_id"),
          col("ts").cast("timestamp").as("ts"))
      val (chunks, t1) = timeChunks(purchases, nChunks)
      import spark.implicits._
      val sentinelTs = new java.sql.Timestamp(
        t1 + delayMs + tolMin * 60000L + 86400000L)
      chunks :+ Seq((-1L, -1L, sentinelTs)).toDF("event_id", "user_id", "ts")
        .coalesce(1)
    }

  /** The stream-stream FULL OUTER join exercised end-to-end — the
    * symmetric completion of the join-mode family ([[streamJoinFollowupsWatermarked]]
    * inner, [[streamJoinWatermarkEvicting]] evicting-inner,
    * [[streamJoinLeftOuter]] left): BOTH sides hold unmatched rows in
    * state and emit them with nulls only once the watermark proves no
    * partner can still arrive. A left row is "purchase with no followup
    * within the tolerance"; a right row is "purchase with no prior
    * purchase within the tolerance" — the two funnel edges a single
    * full-outer pass answers together. Shares the
    * [[stagePurchaseChunksWithSentinel]] fixture (time-ordered chunks ⇒
    * no late rows; the far-future sentinel pushes the final watermark
    * past every row's no-match deadline on BOTH sides, so every pending
    * null row flushes before the AvailableNow drain stops; the sentinel's
    * own rows never emit — the watermark never passes them — and are
    * filtered on readback regardless).
    */
  def streamJoinFullOuter(spark: SparkSession, sfDir: String,
                          nChunks: Int = 4, tolMin: Int = JoinTolMin,
                          delay: String = "2 hours"): DataFrame = {
    val src = stagePurchaseChunksWithSentinel(
      spark, sfDir, nChunks, tolMin, delayMs = 2 * 3600000L)
    val pairsDir = Drain.run(spark, "graft_fo_join", Seq(src)) { d =>
      d.foreachBatch(purchaseFollowups(d.open(src), delay, tolMin,
        "fullOuter"))(_.select("user_a", "event_a", "user_b", "event_b"))
    }
    spark.read.parquet(pairsDir)
      .filter(coalesce(col("user_a"), col("user_b")) >= 0)
      .groupBy((coalesce(col("user_a"), col("user_b")) % 16).cast("long")
        .as("user_bucket"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("event_a").isNotNull && col("event_b").isNotNull, 1L)
          .otherwise(0L)).as("n_matched"),
        sum(when(col("event_b").isNull, 1L).otherwise(0L))
          .as("n_no_followup"),
        sum(when(col("event_a").isNull, 1L).otherwise(0L))
          .as("n_no_prior"))
      .orderBy("user_bucket")
  }

  /** UPDATE-mode streaming aggregation with an UPSERT sink — the third
    * output mode exercised end-to-end (append: every other drain; update:
    * here; complete: intentionally absent — it rewrites the world each
    * batch and cannot scale). The running per-(day, event_type) totals
    * re-emit ONLY the keys each micro-batch changed
    * (`StateStoreSave(Update)`); the sink upserts them into a keyed store
    * the way a mutable serving table would (batch-stamped rows, idempotent
    * per-batch overwrite; read side resolves each key to its LATEST
    * version via one `max(struct(batch, …))` argmax — the
    * ReplacingMergeTree read discipline from [[graft.ops.Dedup.keepLatest]]).
    * Because a key's state accumulates monotonically and its state is
    * never evicted (no watermark here; deployments bound keys by windowing
    * them), its final emission carries its complete total, so the
    * upserted view must equal the batch aggregate bit-for-bit (counts are
    * integers; revenue sums as DECIMAL(18,6), additive and
    * order-independent). Emitting too few keys (a missed update), stale
    * values, or non-changed keys re-emitted with wrong values all flip
    * the hash.
    */
  def streamUpdateUpsert(spark: SparkSession, sfDir: String,
                         nFiles: Int = 4): DataFrame = {
    val src = stagedEvents(spark, sfDir, nFiles)
    // the batch=<id> dir doubles as the version stamp (partition
    // discovery surfaces it as the `batch` column on readback)
    val upsertDir = Drain.run(spark, "graft_upsert", Seq(src),
        outputMode = "update") { d =>
      d.foreachBatch(d.open(src)
        .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,6)")).as("sum_value")))(identity)
    }
    spark.read.parquet(upsertDir)
      .groupBy("day", "event_type")
      .agg(max(struct(col("batch"), col("n_events"), col("sum_value")))
        .as("latest"))
      .select(col("day"), col("event_type"),
        col("latest.n_events").as("n_events"),
        round(col("latest.sum_value").cast("double"), 2).as("total_value"))
      .orderBy("day", "event_type")
  }

  /** Fixture scaffolding for [[streamDedupWindow]]: every event delivered
    * TWICE ([[stageEventsWithReplay]]'s at-least-once shape) plus a
    * far-future sentinel event (event_id −1) staged strictly newest. The
    * sentinel pushes the final watermark past every real event's day
    * window, so the downstream APPEND-mode window aggregate closes and
    * emits every real window before the AvailableNow drain stops; staged
    * last, it also cannot advance the watermark before any replay arrives
    * (the dedup state sees both copies of every event first).
    */
  private def stageEventsReplaySentinel(spark: SparkSession, sfDir: String,
                                        nFiles: Int): Drain.Staged =
    Drain.stageWaves(spark, "events_replay_sentinel", sfDir, nFiles) {
      val events = eventCols(spark, sfDir, "event_id", "ts", "event_type",
        "value")
      Seq(events.repartition(nFiles), events.repartition(nFiles),
        sentinelRow(events))
    }

  /** TWO stateful operators CHAINED in one streaming query — the
    * multi-stateful pipeline (SPARK-42376) a real ingest topology needs:
    * at-least-once delivery (every event replayed across batches) →
    * `dropDuplicatesWithinWatermark` (exactly-once repair) → APPEND-mode
    * tumbling day-window aggregate, with the watermark propagated THROUGH
    * the dedup into the window operator. Each operator alone is covered
    * elsewhere ([[streamDedupReplay]], [[streamPartialsHourly]]); this
    * query gates their composition: the dedup must emit exactly-once rows
    * carrying event time the downstream agg can window, and the window
    * may only close once the watermark proves the deduped stream is
    * complete for that day. The 40-day delay exceeds the fixture's 30-day
    * span so no replay is dropped or evicted early; the staged sentinel
    * (strictly last) then pushes the watermark past every real window.
    * Batch `SELECT DISTINCT → GROUP BY day` is therefore the exact
    * oracle: a leaky dedup doubles counts, a broken chain emits partial
    * or duplicate windows — either flips the hash.
    */
  def streamDedupWindow(spark: SparkSession, sfDir: String,
                        nFiles: Int = 3): DataFrame = {
    val src = stageEventsReplaySentinel(spark, sfDir, nFiles)
    val outDir = Drain.run(spark, "graft_dedup_window", Seq(src)) { d =>
      d.foreachBatch(d.open(src)
        .withWatermark("ts", "40 days")
        .dropDuplicatesWithinWatermark("event_id")
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,6)")).as("sum_value"))) {
        _.select(col("window.start").as("day"), col("event_type"),
          col("n_events"), col("sum_value"))
      }
    }
    spark.read.parquet(outDir)
      .filter(col("event_type") =!= "sentinel")
      .groupBy("day", "event_type")
      .agg(sum("n_events").cast("long").as("n_events"),
        round(sum("sum_value").cast("double"), 2).as("total_value"))
      .orderBy("day", "event_type")
  }

  /** Fixture scaffolding shared by [[streamSlidingCounts]] and
    * [[streamStaticEnrich]]: the events table (WITH user_id, for the
    * dimension join) staged as N files plus a far-future sentinel event
    * (ids −1) staged strictly newest. The 41-day-out sentinel pushes the
    * final watermark (delay 40 days) past every real event's windows, so
    * every append-mode window downstream closes and emits before the
    * AvailableNow drain stops. Memoized per (session, dir, N).
    */
  private def stageUserEventsSentinel(spark: SparkSession, sfDir: String,
                                      nFiles: Int): Drain.Staged =
    Drain.stageWaves(spark, "user_events_sentinel", sfDir, nFiles) {
      val events = eventCols(spark, sfDir, "event_id", "user_id", "ts",
        "event_type", "value")
      Seq(events.repartition(nFiles), sentinelRow(events))
    }

  /** SLIDING event-time windows drained end-to-end — the overlap
    * completion of the window-shape family (T2 covers tumbling via
    * [[streamPartialsHourly]]; session windows via
    * [[streamSessionWindows]]): a 1-day window sliding every 6 hours
    * assigns each event to exactly size/slide = 4 overlapping windows,
    * and the append-mode aggregate may emit each window only once its
    * END passes the watermark. Spark aligns slide boundaries to absolute
    * epoch microseconds, so the batch oracle reconstructs the assignment
    * exactly: window starts are `floor(epoch_us/slide)·slide − k·slide`
    * for k < 4 — integer arithmetic, no float anywhere. The staged
    * sentinel ([[stageUserEventsSentinel]]) closes every real window
    * before the AvailableNow drain stops; its own far-future windows are
    * cut on readback by event_type.
    */
  def streamSlidingCounts(spark: SparkSession, sfDir: String,
                          nFiles: Int = 3): DataFrame = {
    val src = stageUserEventsSentinel(spark, sfDir, nFiles)
    val outDir = Drain.run(spark, "graft_sliding", Seq(src)) { d =>
      d.foreachBatch(d.open(src)
        .withWatermark("ts", "40 days")
        .groupBy(window(col("ts"), "1 day", "6 hours"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,6)")).as("sum_value"))) {
        _.select(col("window.start").as("win_start"),
          col("event_type"), col("n_events"), col("sum_value"))
      }
    }
    spark.read.parquet(outDir)
      .filter(col("event_type") =!= "sentinel")
      .select(col("win_start"), col("event_type"),
        col("n_events").cast("long").as("n_events"),
        round(col("sum_value").cast("double"), 2).as("total_value"))
      .orderBy("win_start", "event_type")
  }

  /** STREAM–STATIC dimension enrichment drained end-to-end — the most
    * common production topology (a fact stream broadcast-joined to a dim
    * table inside every micro-batch, then windowed): events stream →
    * inner join to the static customer dim on user_id = c_custkey →
    * day × market-segment aggregate. The static side is a per-batch
    * BROADCAST (stateless — no join state, unlike the stream-stream
    * family), so at scale the join costs one broadcast per micro-batch
    * and zero state-store entries; the watermark node sits on the stream
    * BEFORE the join, so the sentinel advances event time even though the
    * join drops it (user −1 matches no customer) — exactly how a real
    * deployment's heartbeat rows behave. Batch oracle: the same join +
    * aggregate over the events table.
    */
  def streamStaticEnrich(spark: SparkSession, sfDir: String,
                         nFiles: Int = 3): DataFrame = {
    val src = stageUserEventsSentinel(spark, sfDir, nFiles)
    val outDir = Drain.run(spark, "graft_enrich", Seq(src)) { d =>
      val dim = broadcast(graft.Tables.customer(d.session, sfDir)
        .select(col("c_custkey"), col("c_mktsegment")))
      d.foreachBatch(d.open(src)
        .withWatermark("ts", "40 days")
        .join(dim, col("user_id") === col("c_custkey"))
        .groupBy(window(col("ts"), "1 day"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,6)")).as("sum_value"))) {
        _.select(col("window.start").as("day"),
          col("c_mktsegment"), col("n_events"), col("sum_value"))
      }
    }
    spark.read.parquet(outDir)
      .select(col("day"), col("c_mktsegment"),
        col("n_events").cast("long").as("n_events"),
        round(col("sum_value").cast("double"), 2).as("total_value"))
      .orderBy("day", "c_mktsegment")
  }

  /** The Spark-4 `transformWithState` timer sessionizer exercised
    * END-TO-END at correctness scale, as an oracle-checked query (the
    * stateful-API sibling of [[streamPartialsHourly]]): the events table
    * re-staged as N parquet files streams back one file per micro-batch
    * through [[SessionizeTws.sessionize]], and the emitted sessions are
    * compared against the batch window-function sessionization SQL.
    *
    * Determinism despite arbitrary file/batch boundaries comes from two
    * choices: (1) the watermark delay (40 days) exceeds the fixture's full
    * 30-day time span, so no row is ever dropped as late no matter which
    * file it landed in — every event is "in-watermark" and the processor's
    * deferred, timer-gated emission guarantees output ≡ the batch global
    * sort; (2) a single far-future SENTINEL row (user −1, staged as the
    * strictly-newest file so the file source reads it last) pushes the
    * final watermark past every session's `last_ts + gap` close deadline,
    * firing all remaining timers before the AvailableNow drain stops. At
    * deployment scale the same operator runs with a tight watermark and
    * state ∝ active users; the wide watermark here is a fixture choice
    * that maximizes the late-data stress, not a semantic change.
    */
  def streamSessionsTws(spark: SparkSession, sfDir: String,
                        nFiles: Int = 4, gapMinutes: Int = 30,
                        crashAfterBatches: Int = 0): DataFrame = {
    val src = stageUserEventsWithSentinel(spark, sfDir, nFiles, gapMinutes)
    // transformWithState requires the RocksDB provider (also the store
    // we'd run at scale); it lives on the drain clone only
    val outDir = Drain.run(spark, "graft_stream_tws", Seq(src),
        extra = Map("spark.sql.streaming.stateStore.providerClass" ->
          ("org.apache.spark.sql.execution.streaming." +
            "state.RocksDBStateStoreProvider")),
        crashAfterBatches = crashAfterBatches) { d =>
      d.foreachBatch(SessionizeTws
        .sessionize(d.open(src), gapMinutes, watermark = "40 days")
        .toDF())(identity)
    }
    spark.read.parquet(outDir)
      .filter(col("user_id") >= 0)
      .select("user_id", "session_start", "n_events", "total_value")
      .orderBy("user_id", "session_start")
  }

  /** Fixture SCAFFOLDING shared by the stateful-session streaming queries
    * (memoized by Drain.stageWaves): the events table re-staged as N
    * (user_id, ts, value) parquet files plus one far-future SENTINEL row
    * (user −1) staged as the strictly-newest file, so the file source
    * reads it last and its event time pushes the final watermark past
    * every session's close deadline. The one driver-side action (max ts)
    * sizes the sentinel and runs once per (session, dir, N).
    */
  private def stageUserEventsWithSentinel(spark: SparkSession, sfDir: String,
                                          nFiles: Int,
                                          gapMinutes: Int): Drain.Staged =
    // gapMinutes shapes the staged SENTINEL timestamp, so it is part of
    // the memo key — a hit staged for a smaller gap could leave a larger
    // gap's final sessions unflushed
    Drain.stageWaves(spark, "session_events", sfDir, nFiles, gapMinutes) {
      val events = eventCols(spark, sfDir, "user_id", "ts", "value")
      Seq(events.repartition(nFiles),
        sentinelRow(events, pastMs = gapMinutes * 60000L))
    }

  /** The BUILT-IN `session_window` aggregate exercised in STREAMING mode
    * as an oracle-checked query — the engine-native sibling of
    * [[streamSessionsTws]] (same staged drain, same sentinel flush):
    * where the TWS processor hand-manages pending sessions and timers,
    * this is one `groupBy(user, session_window(ts, gap))` whose state
    * store MERGES overlapping [ts, ts+gap) windows per key and emits a
    * session only when the watermark passes its end. Batch and streaming
    * share the identical declarative form; the DuckDB oracle is the same
    * window-function SQL the batch `session_windows` query is checked
    * against — so Spark's native streaming session-merge machinery sits
    * behind the hash gate, alongside the custom-state implementation.
    */
  def streamSessionWindows(spark: SparkSession, sfDir: String,
                           nFiles: Int = 4,
                           gapMinutes: Int = 30,
                           crashAfterBatches: Int = 0,
                           partitions: Option[Int] = None): DataFrame = {
    val src = stageUserEventsWithSentinel(spark, sfDir, nFiles, gapMinutes)
    val outDir = Drain.run(spark, "graft_stream_sw", Seq(src),
        crashAfterBatches = crashAfterBatches, partitions = partitions) { d =>
      d.foreachBatch(d.open(src)
        .withWatermark("ts", "40 days")
        .groupBy(col("user_id"),
          session_window(col("ts"), s"$gapMinutes minutes").as("w"))
        .agg(count(lit(1)).as("n_events"),
          round(sum("value"), 2).as("total_value"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("w.end").as("session_end"), col("n_events"),
          col("total_value")))(identity)
    }
    spark.read.parquet(outDir)
      .filter(col("user_id") >= 0)
      // explicit projection drops the batch=<id> partition column
      .select("user_id", "session_start", "session_end", "n_events",
        "total_value")
      .orderBy("user_id", "session_start")
  }

  /** Per-type session gaps for [[streamSessionsDynamicGap]] — hoisted so
    * the operator and its oracle SQL interpolate the SAME constants. A
    * purchase keeps its session alive longer than a browse event. */
  val DynGapPurchaseMin: Int = 45
  val DynGapDefaultMin: Int = 30

  /** Session windows with a DYNAMIC, per-event gap — the
    * `session_window(ts, gapExpr)` engine surface ([[streamSessionWindows]]
    * covers the fixed-gap form): each event extends its session by a gap
    * chosen from its own attributes (purchases hold sessions open
    * [[DynGapPurchaseMin]] minutes, everything else
    * [[DynGapDefaultMin]]), so the session end is the running MAX of
    * per-event deadlines, not last-event + constant. The batch oracle
    * replays exactly that contract: a session breaks where an event's
    * time reaches the running max of all previous `ts + gap(event)` in
    * the user's timeline (same `>=` boundary the fixed-gap oracle pins).
    * Same staged fixture + sentinel-flush exactness argument as the
    * other session drains.
    */
  def streamSessionsDynamicGap(spark: SparkSession, sfDir: String,
                               nFiles: Int = 3): DataFrame = {
    val src = stageUserEventsSentinel(spark, sfDir, nFiles)
    val outDir = Drain.run(spark, "graft_dyn_gap", Seq(src)) { d =>
      val gap = when(col("event_type") === "purchase",
        lit(s"$DynGapPurchaseMin minutes"))
        .otherwise(lit(s"$DynGapDefaultMin minutes"))
      d.foreachBatch(d.open(src)
        .withWatermark("ts", "40 days")
        .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,6)")).as("sum_value"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("n_events"),
          round(col("sum_value").cast("double"), 2).as("total_value")))(
        identity)
    }
    spark.read.parquet(outDir)
      .filter(col("user_id") >= 0)
      .select("user_id", "session_start", "n_events", "total_value")
      .orderBy("user_id", "session_start")
  }

  /** Fixture scaffolding for [[streamDedupReplay]]: the events table
    * staged as `nFiles` parquet files and then the SAME rows staged AGAIN
    * as `nFiles` strictly-newer files — an at-least-once transport's
    * crash-replay, which the reference's consumer genuinely produces
    * (`consumers/kafka_to_clickhouse.py` re-polls uncommitted offsets
    * after a crash and re-inserts). Every row therefore arrives exactly
    * twice, in different micro-batches.
    */
  private def stageEventsWithReplay(spark: SparkSession, sfDir: String,
                                    nFiles: Int): Drain.Staged =
    Drain.stageWaves(spark, "events_replay", sfDir, nFiles) {
      val events = eventCols(spark, sfDir, "event_id", "ts", "event_type",
        "value")
      Seq(events.repartition(nFiles), events.repartition(nFiles))
    }

  /** Streaming exact-once dedup as an ORACLE-CHECKED query: the staged
    * stream delivers every event TWICE (cross-batch replay, the
    * at-least-once failure mode), `dropDuplicatesWithinWatermark` on the
    * business key drops the replays, and the drained output aggregates to
    * per-type counts and revenue. The DuckDB oracle is the same aggregate
    * over the UNduplicated events table — a failed or leaky dedup would
    * exactly double every count, so the hash gate pins the
    * watermark-bounded dedup state machine (T4's exactly-once shape) to
    * values, upgrading it from spec-only coverage. The 40-day watermark
    * delay exceeds the fixture's 30-day span, so no replay is ever
    * late-dropped and no state is evicted before its replay arrives —
    * dedup semantics, not timing, decide the answer. At scale the same
    * query runs with a realistic delay (state is evicted as the watermark
    * advances; a replay storm is always near-tail by construction).
    */
  def streamDedupReplay(spark: SparkSession, sfDir: String,
                        nFiles: Int = 3): DataFrame = {
    val src = stageEventsWithReplay(spark, sfDir, nFiles)
    val outDir = Drain.run(spark, "graft_stream_dedup", Seq(src)) { d =>
      d.foreachBatch(d.open(src)
        .withWatermark("ts", "40 days")
        .dropDuplicatesWithinWatermark("event_id"))(identity)
    }
    spark.read.parquet(outDir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(18,6)")).cast("double"), 2)
          .as("total_value"))
      .orderBy("event_type")
  }

  /** Fixture scaffolding for [[streamLateDrop]]: the events table minus
    * its globally-OLDEST event (min (ts, event_id) — a deterministic
    * choice both engines can name in SQL) staged as `nFiles`
    * TIME-ORDERED chunk files (chunk k+1's event times all follow chunk
    * k's, so the REAL watermark delay never makes an on-time row late —
    * the round-robin staging the no-late fixtures use would mass-drop
    * here); then that oldest event staged as a strictly-newer file (it
    * arrives AFTER the watermark has advanced ~29 days past its event
    * time); then the far-future sentinel staged newest of all (flushes
    * every pending window before Trigger.AvailableNow stops).
    */
  private def stageEventsWithLateStraggler(spark: SparkSession, sfDir: String,
                                           nFiles: Int): Drain.Staged =
    Drain.stageWaves(spark, "events_late", sfDir, nFiles) {
      import org.apache.spark.sql.expressions.Window
      val events = eventCols(spark, sfDir, "event_id", "ts", "event_type",
        "value")
      // min(struct(ts, event_id)): same deterministic oldest event as a
      // global ORDER BY ... LIMIT 1, via one aggregate instead of a sort
      val oldest = events
        .agg(min(struct(col("ts"), col("event_id"))).as("m"))
        .select(col("m.event_id")).first().getLong(0)
      val sentinel = sentinelRow(events)
      // fixture scaffolding only: the global ntile runs once over the
      // staged fixture, never inside a registered query plan
      val chunked = events.filter(col("event_id") =!= oldest)
        .withColumn("chunk", ntile(nFiles).over(
          Window.orderBy(col("ts"), col("event_id"))))
      (1 to nFiles).map(c =>
        chunked.filter(col("chunk") === c).drop("chunk").coalesce(1)) ++
        Seq(events.filter(col("event_id") === oldest).coalesce(1), sentinel)
    }

  /** Watermark LATE-DATA DROP as an oracle-checked query (T3's other
    * half): an hourly×type windowed aggregate with a 1-day watermark
    * delay drains a staged stream whose globally-oldest event arrives
    * LAST (after the watermark has advanced ~29 days beyond its event
    * time) — the row must be discarded, and every other row must not be.
    * The DuckDB oracle aggregates the events table EXCLUDING exactly that
    * event (`min (ts, event_id)` names it deterministically), so the hash
    * gate pins both drop and no-drop sides of the watermark contract to
    * values. The sentinel-flush and in-watermark-merge siblings
    * ([[streamSessionsTws]], [[streamDedupReplay]]) pin the opposite
    * regime (nothing late, nothing dropped); together the two regimes
    * bracket T3. The sentinel's own far-future window is cut by the
    * `hour <= max real hour` filter on the drained output.
    */
  def streamLateDrop(spark: SparkSession, sfDir: String,
                     nFiles: Int = 3): DataFrame = {
    val src = stageEventsWithLateStraggler(spark, sfDir, nFiles)
    val maxHour = graft.Tables.events(spark, sfDir)
      .agg(date_trunc("hour", max(col("ts").cast("timestamp"))))
      .first().getTimestamp(0)
    val outDir = Drain.run(spark, "graft_stream_late", Seq(src)) { d =>
      d.foreachBatch(d.open(src)
        .withWatermark("ts", "1 day")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value").cast("decimal(18,6)")).cast("double"), 2)
            .as("total_value"))
        .select(col("window.start").as("hour"), col("event_type"),
          col("n_events"), col("total_value")))(identity)
    }
    spark.read.parquet(outDir)
      .filter(col("hour") <= lit(maxHour))
      .select("hour", "event_type", "n_events", "total_value")
      .orderBy("hour", "event_type")
  }

  /** ONLINE near-dup PROBE drained end-to-end — the continuous-ingest
    * dedup topology a production corpus pipeline runs (new documents
    * checked against the already-curated corpus BEFORE admission): the
    * odd-doc_id half of `documents` re-staged as N parquet files streams
    * back one file per micro-batch; each batch MinHash-bands the
    * incoming docs row-locally (the same `minhash_sig` codegen kernel
    * and r=2/b=6 scheme as `dedup_minhash`) and probes them against the
    * STATIC banded index of the even half via a per-batch broadcast
    * join, reporting per incoming doc how many index docs share ≥1 band
    * (and the first such match). The probe is STATELESS — no watermark,
    * no state store, no sentinel: each incoming doc is scored exactly
    * once regardless of file/batch boundaries, so the drained output is
    * batch-boundary-independent by construction and the batch oracle is
    * the same band join between the two halves.
    *
    * Scale shape: index build is one banding pass over the corpus half
    * (amortized across all batches — here computed once and reused by
    * every micro-batch); per batch the incoming docs are row-local
    * signature work plus a band-keyed join. At 100 TB the index side is
    * a bucketed table joined on (band, bsig) instead of a broadcast —
    * the topology is unchanged.
    */
  def streamDedupProbe(spark: SparkSession, sfDir: String,
                       nFiles: Int = 3): DataFrame = {
    val src = stageIncoming(spark, graft.Tables.documents(spark, sfDir),
      col("doc_id") % 2 === 1, nFiles, "doc_id", "text")
    val outDir = Drain.run(spark, "graft_dedup_probe", Seq(src)) { d =>
      graft.functions.GraftFunctions.register(d.session)
      def bandsOf(docs: DataFrame): DataFrame =
        graft.ops.Dedup.bandedSignatures(
          docs.select(col("doc_id"),
              graft.ops.Dedup.shingleCol(col("text")).as("ss"))
            .withColumn("n", size(col("ss"))),
          k = 12, rowsPerBand = 2)
      val index = bandsOf(graft.Tables.documents(d.session, sfDir)
          .filter(col("doc_id") % 2 === 0))
        .select(col("doc_id").as("index_doc"), col("band"), col("bsig"))
      d.foreachBatch(d.open(src)) {
        bandsOf(_)
          .join(broadcast(index), Seq("band", "bsig"))
          .groupBy("doc_id")
          .agg(countDistinct(col("index_doc")).as("n_index_matches"),
            min(col("index_doc")).as("first_match"))
      }
    }
    spark.read.parquet(outDir)
      .select(col("doc_id"), col("n_index_matches"), col("first_match"))
      .orderBy("doc_id")
  }

  /** INCREMENTAL exact-substring probe drained end-to-end — the
    * daily-ingest shape of [[graft.ops.Dedup.exactSubstringSpans]] (Lee
    * et al. ExactSubstr against a HISTORICAL corpus instead of
    * batch-vs-itself): the odd-doc_id half of `documents` streams back
    * one file per micro-batch as "today's crawl"; the even half is the
    * static history, collapsed once into its distinct k-gram inverted
    * index. Per batch, each incoming doc's k-gram windows are probed
    * against the index (gram-keyed left-semi join — the index streams
    * through the shuffle, never broadcast, since it is corpus-sized),
    * covered token positions union via the bounded ×k explode +
    * per-doc distinct, and every ≥k-token incoming doc reports its
    * (n_tok, n_dup_tok) memorization-risk pair, zero for clean docs.
    *
    * Stateless per batch — a doc's coverage depends only on the static
    * index, so the result is batch-boundary-independent and the batch
    * odd-vs-even probe is the oracle. All-integer gate.
    *
    * Scale shape: the history index is built ONCE (at 100 TB: bucketed
    * by gram on disk, so each micro-batch's probe co-locates without
    * re-shuffling the index); per-batch work is proportional to the
    * batch's gram count, never to history size.
    */
  def streamSubstrProbe(spark: SparkSession, sfDir: String,
                        nFiles: Int = 3,
                        k: Int = graft.ops.Dedup.SpanK): DataFrame = {
    val src = stageIncoming(spark, graft.Tables.documents(spark, sfDir),
      col("doc_id") % 2 === 1, nFiles, "doc_id", "text")
    val outDir = Drain.run(spark, "graft_substr_probe", Seq(src)) { d =>
      def gramsOf(docs: DataFrame): DataFrame =
        docs.withColumn("ws", split(col("text"), " "))
          .filter(size(col("ws")) >= k)
          .select(col("doc_id"), size(col("ws")).cast("long").as("n_tok"),
            explode(expr(
              s"""transform(sequence(1, size(ws) - ${k - 1}),
                 |  i -> struct(i AS start,
                 |              array_join(slice(ws, i, $k), ' ') AS gram))"""
                .stripMargin)).as("g"))
          .select(col("doc_id"), col("n_tok"),
            col("g.start").as("start"), col("g.gram").as("gram"))
      // the static history index: distinct k-grams of the even half,
      // materialized once and reused by every micro-batch
      val index = gramsOf(graft.Tables.documents(d.session, sfDir)
          .filter(col("doc_id") % 2 === 0))
        .select("gram").distinct()
        .localCheckpoint(true)
      d.foreachBatch(d.open(src)) { batch =>
        val g = gramsOf(batch)
        val docs = batch.withColumn("ws", split(col("text"), " "))
          .filter(size(col("ws")) >= k)
          .select(col("doc_id"), size(col("ws")).cast("long").as("n_tok"))
        val dup = g.join(index, Seq("gram"), "left_semi")
          .select(col("doc_id"),
            explode(sequence(col("start"), col("start") + lit(k - 1)))
              .as("p"))
          .distinct()
          .groupBy("doc_id").agg(count(lit(1)).as("n_dup_tok"))
        docs.join(dup, Seq("doc_id"), "left_outer")
          .select(col("doc_id"), col("n_tok"),
            coalesce(col("n_dup_tok"), lit(0L)).as("n_dup_tok"))
      }
    }
    spark.read.parquet(outDir)
      .select(col("doc_id"), col("n_tok"), col("n_dup_tok"))
      .orderBy("doc_id")
  }

  /** STREAMING quality-gate funnel drained end-to-end — the
    * continuous-ingest shape of
    * [[graft.ops.TextAnalysis.qualityFilterFunnel]] (a crawl pipeline
    * quality-gates documents as they arrive, not in a nightly batch):
    * the odd-doc_id half of `documents` streams back one file per
    * micro-batch as "today's crawl"; each batch runs the SAME per-doc
    * first-failing-gate attribution (every gate is doc-local — a
    * verdict depends only on the doc's own text, never on batch
    * context) and appends its PARTIAL 1-row funnel aggregate; readback
    * folds the partials componentwise — the additive-partials
    * discipline (A3) applied to the curation tier — and presents the
    * identical 6-row funnel. Stateless per batch ⇒
    * batch-boundary-independent; the batch funnel over the same half is
    * the oracle (shared SQL builder, one WHERE apart).
    *
    * Scale shape: per-batch cost is proportional to the batch (row-local
    * gates + one batch-local doc-keyed gram aggregate); the persistent
    * state is SIX COUNTERS per batch file — nothing grows with corpus
    * size, and compaction of the partial files is [[graft.storage
    * .Storage.compactBatchSink]]'s job.
    */
  def streamQualityGate(spark: SparkSession, sfDir: String,
                        nFiles: Int = 3): DataFrame = {
    val src = stageIncoming(spark, graft.Tables.documents(spark, sfDir),
      col("doc_id") % 2 === 1, nFiles, "doc_id", "text", "n_chars")
    val outDir = Drain.run(spark, "graft_quality_gate", Seq(src)) { d =>
      // register the word_ngrams kernel BEFORE the stream starts: each
      // micro-batch runs on a session clone whose function registry is
      // copied at clone time
      graft.functions.GraftFunctions.register(d.session)
      d.foreachBatch(d.open(src)) { batch =>
        graft.ops.TextAnalysis.funnelAggregate(
          graft.ops.TextAnalysis.funnelFirstFail(batch.sparkSession, batch))
      }
    }
    val folded = spark.read.parquet(outDir).agg(
      sum("total").as("total"), sum("k1").as("k1"), sum("k2").as("k2"),
      sum("k3").as("k3"), sum("k4").as("k4"), sum("k5").as("k5"),
      sum("survivor_tokens").as("survivor_tokens"))
      .na.fill(0L)
    graft.ops.TextAnalysis.funnelPresent(folded)
  }

  /** ONLINE perceptual-image probe drained end-to-end — the multimodal
    * fingerprint joins the probe family (dedup/substr/ANN/quality/BM25/
    * KL all have online siblings; this is the image one): the odd image
    * half (image docs are doc_id % 3 = 0; odd half ⇔ doc_id % 6 = 3)
    * streams back one file per micro-batch; each batch runs the FULL
    * codec path per row ([[graft.multimodal.Multimodal.dhashOfId]] —
    * encode → real BMP decode → 8×8 grid → gradient signs, the same
    * kernel the batch fingerprint maps) and probes the 56-bit hash
    * against the STATIC byte-banded index of the even half
    * (Hamming ≤ 6 exact by the 7-band pigeonhole), reporting per
    * incoming image its index-match count, first match, and closest
    * Hamming distance. Stateless ⇒ batch-boundary-independent; the
    * batch odd-vs-even brute-force (oracle recomputes every sampled
    * pixel arithmetically) is the gate.
    *
    * Scale shape: index built once (banded, broadcast here; bucketed
    * by (band, byte) at scale); per-batch work is the batch's own
    * decode cost plus a band-keyed join — never index-sized.
    */
  def streamImageProbe(spark: SparkSession, sfDir: String,
                       nFiles: Int = 3): DataFrame = {
    val mm = graft.multimodal.Multimodal
    val h = mm.DhashMaxHamming
    val src = stageIncoming(spark, graft.Tables.documents(spark, sfDir),
      col("doc_id") % 6 === 3, nFiles, "doc_id")
    val outDir = Drain.run(spark, "graft_image_probe", Seq(src)) { d =>
      // static banded index from the even image half, built once — over
      // DISTINCT fingerprints with multiplicity, not per-doc rows: a
      // dup-dense corpus (the sf1 replicate has 10 exact twins per
      // image, and the gradient fixtures mostly share ONE fingerprint)
      // would otherwise make the probe join |incoming|·|index| inside
      // the hot bucket (measured 166 s at sf1; 4.4 s after). Results
      // are identical: matches per fingerprint × its doc multiplicity.
      val bandedIdx = mm.imageDhash(d.session, sfDir)
        .filter(col("doc_id") % 6 === 0)
        .groupBy(col("dhash").as("idx_hash"))
        .agg(count(lit(1)).cast("long").as("idx_mult"),
          min("doc_id").cast("long").as("idx_min_doc"))
        .select(col("idx_hash"), col("idx_mult"), col("idx_min_doc"),
          explode(sequence(lit(0), lit(6))).as("bandidx"))
        .withColumn("bandval", expr("(idx_hash >> (bandidx * 8)) & 255"))
        .localCheckpoint(true)
      d.foreachBatch(d.open(src)) { batch =>
        import batch.sparkSession.implicits._
        // fully-qualified module access inside the lambda: a captured
        // `val` alias of the object would ship the module reference
        // into the task closure (Task not serializable)
        val probes = batch.select(col("doc_id")).as[Long]
          .mapPartitions(_.map(d =>
            (d, graft.multimodal.Multimodal.dhashOfId(d))))
          .toDF("doc_id", "dhash")
        probes
          .select(col("doc_id"), col("dhash"),
            explode(sequence(lit(0), lit(6))).as("bandidx"))
          .withColumn("bandval", expr("(dhash >> (bandidx * 8)) & 255"))
          .join(broadcast(bandedIdx), Seq("bandidx", "bandval"))
          .filter(expr(s"bit_count(dhash ^ idx_hash) <= $h"))
          // one row per matched FINGERPRINT (the band join can agree
          // on several bands), then fold multiplicities
          .groupBy("doc_id", "idx_hash")
          .agg(first("idx_mult").as("m"), first("idx_min_doc").as("d"),
            min(expr("bit_count(dhash ^ idx_hash)")).as("hm"))
          .groupBy("doc_id")
          .agg(sum("m").cast("long").as("n_index_matches"),
            min("d").cast("long").as("first_match"),
            min("hm").cast("long").as("min_hamming"))
      }
    }
    spark.read.parquet(outDir)
      .select("doc_id", "n_index_matches", "first_match", "min_hamming")
      .orderBy("doc_id")
  }

  /** ONLINE BM25 scoring drained end-to-end — the retrieval sibling of
    * [[streamDedupProbe]] (continuous ingest scored against a FROZEN
    * retrieval model, the topical-slice admission gate of a crawl
    * pipeline): the odd-doc_id half of `documents` streams back one
    * file per micro-batch; the even half is the static history whose
    * [[graft.ops.Retrieval.bm25Model]] (per-term micro-nat idf + the
    * 1-row corpus stats) is computed ONCE and reused by every batch.
    * Per batch, incoming docs score via the identical quantized-BM25
    * integer arithmetic ([[graft.ops.Retrieval.bm25ScoreAgainst]] —
    * one definition serves the batch query and this probe), each doc's
    * length coming from its own rows and the normalizer from the
    * frozen model. Stateless — a doc's score depends only on the
    * static model, so the drained output is batch-boundary-independent
    * and the batch odd-scored-against-even replay is the oracle.
    *
    * Scale shape: the model is |Q|+1 broadcast rows at any history
    * size; per-batch work is the batch's own token scan plus a
    * broadcast semi-join on the query terms — never proportional to
    * history.
    */
  def streamBm25Probe(spark: SparkSession, sfDir: String,
                      nFiles: Int = 3): DataFrame = {
    val src = stageIncoming(spark, graft.Tables.documents(spark, sfDir),
      col("doc_id") % 2 === 1, nFiles, "doc_id", "source", "text")
    val outDir = Drain.run(spark, "graft_bm25_probe", Seq(src)) { d =>
      // frozen model from the even-half history, materialized once
      val (idf0, corpus0) = graft.ops.Retrieval.bm25Model(
        graft.Tables.documents(d.session, sfDir)
          .filter(col("doc_id") % 2 === 0))
      val idf = idf0.localCheckpoint(true)
      val corpus = corpus0.localCheckpoint(true)
      d.foreachBatch(d.open(src))(
        graft.ops.Retrieval.bm25ScoreAgainst(_, idf, corpus))
    }
    spark.read.parquet(outDir)
      .select("doc_id", "source", "n_terms_hit", "score_micro")
      .orderBy("doc_id")
  }

  /** ONLINE corpus-drift alarm drained end-to-end — the streaming
    * sibling of [[graft.ops.CorpusStats.klSourceDrift]] (is today's
    * crawl drifting away from the training corpus? — the DoReMi-style
    * divergence, monitored continuously): the odd-doc_id half of
    * `documents` streams back one file per micro-batch; each batch
    * emits its (source, bucket) token counts under the shared 64-bucket
    * md5 model — PURE ADDITIVE PARTIALS (the A3 SummingMergeTree
    * discipline on the info-theory tier), so the readback fold is one
    * componentwise sum and the drained totals are batch-boundary-
    * independent by construction. The presentation then computes each
    * incoming source's smoothed KL against the FROZEN even-half history
    * distribution via [[graft.ops.CorpusStats.klAgainstHistory]] — one
    * scoring definition shared with the batch tier, PortableLn floored
    * to micro-nats, the unnormalized-integer contract.
    *
    * Scale shape: per-batch state is ≤ S·64 counter rows regardless of
    * batch size; the KL arithmetic runs once at read time over an
    * S·64-row frame. Nothing ever holds corpus-sized streaming state.
    */
  def streamKlProbe(spark: SparkSession, sfDir: String,
                    nFiles: Int = 3): DataFrame = {
    val nB = graft.ops.CorpusStats.KlBuckets
    val src = stageIncoming(spark, graft.Tables.documents(spark, sfDir),
      col("doc_id") % 2 === 1, nFiles, "doc_id", "source", "text")
    val outDir = Drain.run(spark, "graft_kl_probe", Seq(src)) { d =>
      d.foreachBatch(d.open(src))(graft.ops.CorpusStats.tokenBucketCounts)
    }
    val incoming = spark.read.parquet(outDir)
      .groupBy("source", "b").agg(sum("c").cast("long").as("c"))
    val hist0 = graft.ops.CorpusStats.tokenBucketCounts(
        graft.Tables.documents(spark, sfDir)
          .filter(col("doc_id") % 2 === 0))
      .groupBy("b").agg(sum("c").cast("long").as("ch"))
    val hist = spark.range(nB).select(col("id").as("b"))
      .join(hist0, Seq("b"), "left_outer")
      .na.fill(0L, Seq("ch"))
    graft.ops.CorpusStats.klAgainstHistory(incoming, hist)
  }

  /** ONLINE ANN probe drained end-to-end — the similarity-search sibling
    * of [[streamDedupProbe]] (continuous retrieval against a curated
    * vector index: RAG ingestion, online contamination screening): the
    * odd-vec_id half of `embeddings` streams back one file per
    * micro-batch; the even half is the STATIC IVF index (first 16 even
    * vectors as coarse centroids — the `sim_ivf` cell scheme — each
    * index vector argmax-assigned once). Per batch, incoming vectors
    * rank the centroids (bounded 16-row frame per query), probe the top
    * `nProbe` cells, and take the exact-cosine top-1 among the cells'
    * index vectors via a shuffle-free `max(struct)` argmax. Stateless —
    * batch-boundary-independent by construction, so the batch IVF probe
    * over the two halves is the oracle; cosines hash bit-identically via
    * the `vec_dot` fold precedent.
    *
    * Scale shape: centroids broadcast once per batch; the cell probe is
    * a (cell)-keyed join against the index (bucketed by cell at 100 TB);
    * per-query work is bounded by nProbe cell sizes — never the corpus.
    */
  def streamAnnProbe(spark: SparkSession, sfDir: String, nFiles: Int = 3,
                     nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    import graft.ops.Similarity.norm2
    val src = stageIncoming(spark, graft.Tables.embeddings(spark, sfDir),
      col("vec_id") % 2 === 1, nFiles, "vec_id", "embedding")
    val outDir = Drain.run(spark, "graft_ann_probe", Seq(src)) { d =>
      // one-time static side, shared with the batch recall audit
      val (cents, assigned) =
        graft.ops.Similarity.annProbeIndex(d.session, sfDir, nCells)
      d.foreachBatch(d.open(src)) { batch =>
        val q = batch.select(col("vec_id").as("q_id"),
          col("embedding").as("q_emb"),
          norm2(col("embedding")).as("q_nrm"))
        graft.ops.Similarity.ivfProbeTop1(q, cents, assigned, nProbe)
      }
    }
    spark.read.parquet(outDir)
      .select(col("vec_id"), col("match_id"), col("cosine"))
      .orderBy("vec_id")
  }

  /** The ONLINE graph-descent probe — [[streamAnnProbe]]'s graph-index
    * sibling, completing the serving story for the third ANN family:
    * the static side builds the NN-descent graph over the frozen EVEN
    * half ONCE ([[graft.ops.KnnGraph.probeGraph]] — Memo-checkpointed,
    * context-keyed, shared with the batch `graph_search` consumers),
    * and each micro-batch of incoming (odd) vectors greedy-descends it:
    * fixed entry vertex, [[graft.ops.KnnGraph.SearchHops]] hops of
    * neighbor expansion + exact rescoring, beam-bounded frontier. Per
    * query per hop the work is beam·k slim rows — the index is NEVER
    * scanned, the serving profile a graph index exists to provide.
    * Stateless ⇒ batch-boundary-independent; the batch greedy descent
    * over the same two halves IS the oracle.
    */
  def streamGraphProbe(spark: SparkSession, sfDir: String,
                       nFiles: Int = 3): DataFrame = {
    import graft.ops.KnnGraph
    val src = stageIncoming(spark, graft.Tables.embeddings(spark, sfDir),
      col("vec_id") % 2 === 1, nFiles, "vec_id", "embedding")
    // static side on the OUTER session (the stream_pq_probe lesson):
    // the graph memo is context-keyed, so batch consumers share it
    val edges = KnnGraph.servingGraph(spark, sfDir)
      .select(col("src"), col("dst"))
    val idx = graft.Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") % 2 === 0)
      .select(col("vec_id"), col("embedding"))
    val outDir = Drain.run(spark, "graft_graph_probe", Seq(src)) { d =>
      val idxS = greedyIndex(d, idx)
      d.foreachBatch(d.open(src)) { batch =>
        KnnGraph.greedySearch(greedyQueries(batch), idxS, edges)
          .filter(col("rn") === 1)
          .select(col("q_id").as("vec_id"), col("v").as("match_id"),
            floor(col("dist") * lit(1e6)).cast("long").as("dist_u"))
      }
    }
    spark.read.parquet(outDir)
      .select(col("vec_id"), col("match_id"), col("dist_u"))
      .orderBy("vec_id")
  }

  /** The graph drains' index side on the drain session, materialized
    * once: (vec_id, embedding, sq) with `vec_dot` registered.
    */
  private def greedyIndex(d: Drain, idx: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(d.session)
    idx.select(col("vec_id"), col("embedding"),
      graft.ops.Similarity.dot(col("embedding"), col("embedding")).as("sq"))
      .localCheckpoint(true)
  }

  /** A micro-batch of (vec_id, embedding) as greedy-descent queries. */
  private def greedyQueries(batch: DataFrame): DataFrame =
    batch.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
      graft.ops.Similarity.dot(col("embedding"), col("embedding")).as("q_sq"))

  /** The graph-index WRITE path — [[streamPqIndexAppend]]'s sibling on
    * the graph family (NSW insertion, Malkov et al.: a new point's
    * edges are the M best vertices its own search finds): each
    * micro-batch of incoming (odd) vectors greedy-descends the FROZEN
    * even-half serving graph and appends its final beam — exactly the
    * new vertex's neighbor list — as per-batch `batch=<id>` edge
    * segments. Base-graph edges are immutable here (the frozen-model
    * discipline of the PQ write path; a real deployment folds segments
    * into the base on the next rebuild — the same compaction story as
    * [[graft.storage.Storage.compactBatchSink]]). Stateless ⇒ the batch
    * descent over the same halves IS the oracle, and the drained edge
    * list is bit-identical under any micro-batch slicing.
    */
  def streamGraphInsert(spark: SparkSession, sfDir: String,
                        nFiles: Int = 3,
                        crashAfterBatches: Int = 0): DataFrame = {
    val outDir = drainGraphInserts(spark, sfDir, col("vec_id") % 2 === 1,
      nFiles, crashAfterBatches)
    spark.read.parquet(outDir)
      .select(col("vec_id"), col("rank"), col("nbr"), col("dist_u"))
      .orderBy("vec_id", "rank")
  }

  /** The insert drain shared by [[streamGraphInsert]] (gate = the
    * segment rows) and [[streamGraphServeAccreted]] (gate = queries
    * SERVED from them): vectors matching `fleet` stream in one file per
    * micro-batch, greedy-descend the frozen even-half serving graph,
    * and append their [[graft.ops.KnnGraph.InsertFanout]] best beam
    * rows as idempotent `batch=<id>` edge segments. Returns the segment
    * directory.
    */
  private[graft] def drainGraphInserts(spark: SparkSession, sfDir: String,
                                fleet: org.apache.spark.sql.Column,
                                nFiles: Int,
                                crashAfterBatches: Int): String =
    memoDrain(spark, sfDir, "graph-insert", fleet, nFiles,
        crashAfterBatches) {
    import graft.ops.KnnGraph
    val src = stageIncoming(spark, graft.Tables.embeddings(spark, sfDir),
      fleet, nFiles, "vec_id", "embedding")
    val edges = KnnGraph.servingGraph(spark, sfDir)
      .select(col("src"), col("dst"))
    val idx = graft.Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") % 2 === 0)
      .select(col("vec_id"), col("embedding"))
    Drain.run(spark, "graft_graph_insert", Seq(src),
        crashAfterBatches = crashAfterBatches) { d =>
      val idxS = greedyIndex(d, idx)
      d.foreachBatch(d.open(src)) { batch =>
        KnnGraph.greedySearch(greedyQueries(batch), idxS, edges)
          .filter(col("rn") <= KnnGraph.InsertFanout)
          .select(col("q_id").as("vec_id"),
            col("rn").cast("long").as("rank"), col("v").as("nbr"),
            floor(col("dist") * lit(1e6)).cast("long").as("dist_u"))
      }
    }
  }

  /** SERVING FROM THE ACCRETED GRAPH INDEX — the read side the write
    * path exists for, and the MergeTree read contract ("a SELECT sees
    * the union of parts", `clickhouse/init/01_init.sql:27-31`) applied
    * to the index tier: queries answered BETWEEN rebuilds must see the
    * frozen base graph ∪ everything the insert drain has appended.
    * One quarter of the vectors (vec_id ≡ 1 mod 4) stream in as NSW
    * inserts against the frozen even-half graph; the drained
    * `batch=<id>` segments are then READ BACK and composed into the
    * accreted edge set ([[graft.ops.KnnGraph.accretedEdges]] — forward
    * beam edges ∪ k-bounded derived back-links, which is what makes a
    * fresh vector ROUTABLE before any rebuild); finally the query fleet
    * (vec_id ≡ 3 mod 4) greedy-descends the accreted graph over the
    * accreted population (even ∪ inserted), so a query whose true
    * neighbor arrived after the last rebuild can actually return it.
    * Stateless ⇒ a batch replay of insert-then-serve IS the oracle, and
    * the result is invariant under micro-batch slicing AND under
    * segment compaction ([[graft.storage.Storage.compactBatchSink]] —
    * the invariance spec's claim).
    */
  def streamGraphServeAccreted(spark: SparkSession, sfDir: String,
                               nFiles: Int = 3): DataFrame = {
    val segDir = drainGraphInserts(spark, sfDir, col("vec_id") % 4 === 1,
      nFiles, crashAfterBatches = 0)
    serveAccretedGraph(spark, sfDir, segDir)
  }

  /** The batch read side of [[streamGraphServeAccreted]], split out so
    * the compaction-invariance spec can re-serve from the SAME segment
    * directory after [[graft.storage.Storage.compactBatchSink]].
    */
  private[graft] def serveAccretedGraph(spark: SparkSession, sfDir: String,
                                        segDir: String): DataFrame =
    drainedAccBeam(spark, sfDir, segDir)
      .filter(col("rn") === 1)
      .select(col("q_id").as("vec_id"), col("v").as("match_id"),
        floor(col("dist") * lit(1e6)).cast("long").as("dist_u"))
      .orderBy("vec_id")

  /** Memoized descent beams over DRAINED accreted graphs, keyed by
    * segment directory: with the drains themselves memoized, the
    * accreted serve and the full-CRUD serve read the SAME segment tree
    * and their descents are identical — the full-CRUD read only
    * differs by the late tombstone mask on the final beam, so the two
    * gates share one descent.
    */
  private val accBeamCache =
    graft.ops.Memo.registry[(org.apache.spark.SparkContext, String, String)]

  /** The ≡ 3 mod 4 query fleet's hier-entry descent over the accreted
    * graph composed from `segDir`'s drained insert segments.
    *
    * r17: production reads enter through the hierarchical upper layer
    * (per-query entries near the query's neighborhood) instead of the
    * flat min-id entries — the hop budget stops growing ~log n at scale.
    */
  private def drainedAccBeam(spark: SparkSession, sfDir: String,
                             segDir: String): DataFrame =
    accBeamCache.synchronized {
      accBeamCache.getOrElseUpdate(
        (spark.sparkContext, sfDir, segDir), {
          import graft.ops.{KnnGraph, Similarity}
          graft.functions.GraftFunctions.register(spark)
          val seg = spark.read.parquet(segDir)
            .select(col("vec_id"), col("nbr"), col("dist_u"))
          val acc = KnnGraph.accretedEdges(
            KnnGraph.servingGraph(spark, sfDir), seg)
          val aidx = graft.Tables.embeddings(spark, sfDir)
            .filter(col("vec_id") % 2 === 0 || col("vec_id") % 4 === 1)
            .select(col("vec_id"), col("embedding"),
              Similarity.dot(col("embedding"), col("embedding")).as("sq"))
          KnnGraph.greedySearchFrom(KnnGraph.q3Fleet(spark, sfDir), aidx,
              acc, KnnGraph.hierEntriesQ3(spark, sfDir))
        })
    }

  /** The ONLINE IVF-PQ probe — [[streamAnnProbe]]'s compressed sibling,
    * completing the online probe family with the production memory AND
    * compute profile: the static side trains the coarse quantizer and
    * the residual PQ codebook on the EVEN index half
    * ([[graft.ops.Similarity.ivfpqProbeModel]] — the literal IVFADC
    * build) and codes the index to 8 bytes/vector + a cell id ONCE;
    * each micro-batch of incoming (odd) vectors ranks the 16 broadcast
    * centroids, forms per-probed-cell residual distance tables, and
    * ADC-scores ONLY the probed cells' codes through the cell-keyed
    * broadcast join of [[graft.ops.Similarity.adcScoresCell]]. Raw
    * index embeddings are never touched after the build, and per-probe
    * compute is O(index · nProbe / nCells) instead of the full-index
    * scan the flat-PQ probe paid (the r12 scale flag this restructure
    * closes). Per-probe top-1 (match id + residual-ADC distance)
    * appended per batch; every double is the same left-to-right fold
    * the oracle replays, so the drained frame hashes bit-identically.
    */
  def streamPqProbe(spark: SparkSession, sfDir: String,
                    nFiles: Int = 3): DataFrame = {
    import graft.ops.Similarity
    val src = stageIncoming(spark, graft.Tables.embeddings(spark, sfDir),
      col("vec_id") % 2 === 1, nFiles, "vec_id", "embedding")
    // static: centroid axis + residual codebook + 8-byte-and-a-cell
    // index codes. Built on the OUTER session BEFORE the drain clone —
    // the model memo is context-keyed and the checkpointed blocks are
    // session-portable, so the build runs under the full shuffle conf
    // and is shared with the batch ivfpq_* consumers instead of being
    // retrained inside every drain (the r13 2× regression)
    val (centsS, cbS, codesD) = Similarity.ivfpqProbeModel(spark, sfDir)
    val codes = codesD
      .select(col("vec_id").as("m_id"), col("cell"), col("s"), col("cid"))
    val outDir = Drain.run(spark, "graft_pq_probe", Seq(src)) { d =>
      graft.functions.GraftFunctions.register(d.session)
      d.foreachBatch(d.open(src)) { batch =>
        val qtab = Similarity.cellResidualTables(
          batch.select(col("vec_id").as("q_id"), col("embedding")),
          centsS, cbS)
        Similarity.adcScoresCell(codes, qtab)
          .groupBy("q_id")
          .agg(min(struct(col("adc"), col("m_id"))).as("best"))
          .select(col("q_id"), col("best.m_id").as("match_id"),
            col("best.adc").as("adc_dist"))
      }
    }
    spark.read.parquet(outDir)
      .select(col("q_id").as("vec_id"), col("match_id"), col("adc_dist"))
      .orderBy("vec_id")
  }

  /** STREAMING INDEX MAINTENANCE — the WRITE path that completes the
    * vector-index lifecycle (build: [[graft.ops.Similarity
    * .ivfpqProbeModel]]; serve: [[streamPqProbe]]; maintain: THIS):
    * new vectors arrive in micro-batches and are coded against the
    * FROZEN model — nearest coarse cell, residual, per-subspace
    * nearest residual codeword ([[graft.ops.Similarity.ivfpqCode]]) —
    * and each batch appends its 4-int-per-subspace code rows as a new
    * index segment (what a production vector store calls a segment
    * flush; compaction is the same additive fold the SummingMergeTree
    * sinks already model). Coding is row-local given the two model
    * broadcasts, so the drained index is batch-boundary-independent
    * and a vector coded online is bit-identical to a batch rebuild's
    * row. Oracle replays training + the same assignment folds; the
    * gate hashes the full appended (vec_id, cell, s, cid) frame.
    */
  def streamPqIndexAppend(spark: SparkSession, sfDir: String,
                          nFiles: Int = 3,
                          crashAfterBatches: Int = 0): DataFrame = {
    val outDir = drainPqAppends(spark, sfDir, col("vec_id") % 2 === 1,
      nFiles, crashAfterBatches)
    spark.read.parquet(outDir)
      .select(col("vec_id"), col("cell"), col("s").cast("long").as("s"),
        col("cid"))
      .orderBy("vec_id", "s")
  }

  /** The code-append drain shared by [[streamPqIndexAppend]] (gate =
    * the appended code rows) and [[streamPqServeAccreted]] (gate =
    * queries SERVED from base ∪ segments): vectors matching `fleet`
    * are coded row-locally against the frozen even-half IVFADC model
    * and appended as idempotent `batch=<id>` trees. Returns the
    * segment directory.
    */
  private[graft] def drainPqAppends(spark: SparkSession, sfDir: String,
                             fleet: org.apache.spark.sql.Column,
                             nFiles: Int,
                             crashAfterBatches: Int): String =
    memoDrain(spark, sfDir, "pq-append", fleet, nFiles,
        crashAfterBatches) {
    import graft.ops.Similarity
    val src = stageIncoming(spark, graft.Tables.embeddings(spark, sfDir),
      fleet, nFiles, "vec_id", "embedding")
    // frozen model, built/reused on the outer session (context-keyed
    // memo — shared with the probe drain and the batch consumers)
    val (centsS, cbS, _) = Similarity.ivfpqProbeModel(spark, sfDir)
    Drain.run(spark, "graft_pq_append", Seq(src),
        crashAfterBatches = crashAfterBatches) { d =>
      graft.functions.GraftFunctions.register(d.session)
      d.foreachBatch(d.open(src))(Similarity.ivfpqCode(_, centsS, cbS))
    }
  }

  /** SERVING FROM THE ACCRETED PQ INDEX — [[streamGraphServeAccreted]]'s
    * sibling on the compressed family, closing the same lifecycle gap:
    * one quarter of the vectors (vec_id ≡ 1 mod 4) stream in and are
    * coded against the FROZEN even-half IVFADC model into `batch=<id>`
    * trees; the segments are then READ BACK, unioned with the base
    * even-half codes, and the query fleet (vec_id ≡ 3 mod 4) probes the
    * accreted index — per-query residual distance tables against the
    * frozen centroids/codebook, cell-keyed ADC over base ∪ appended
    * codes, top-1 per probe. Coding is row-local and ADC is a pure
    * function of (code row, query table), so the union is order- and
    * batch-boundary-independent: the oracle replays training + coding +
    * the 8-term ADC chain over the combined population, and compaction
    * of the segment tree cannot change a single row (the invariance
    * spec's claim).
    */
  def streamPqServeAccreted(spark: SparkSession, sfDir: String,
                            nFiles: Int = 3): DataFrame = {
    val segDir = drainPqAppends(spark, sfDir, col("vec_id") % 4 === 1,
      nFiles, crashAfterBatches = 0)
    serveAccretedPq(spark, sfDir, segDir)
  }

  /** The batch read side of [[streamPqServeAccreted]], split out for
    * the compaction-invariance spec.
    */
  private[graft] def serveAccretedPq(spark: SparkSession, sfDir: String,
                                     segDir: String): DataFrame = {
    import graft.ops.Similarity
    graft.functions.GraftFunctions.register(spark)
    val (centsS, cbS, codesEven) = Similarity.ivfpqProbeModel(spark, sfDir)
    val segCodes = spark.read.parquet(segDir)
      .select(col("vec_id").as("m_id"), col("cell"),
        col("s").cast("int").as("s"), col("cid"))
    val codes = codesEven
      .select(col("vec_id").as("m_id"), col("cell"),
        col("s").cast("int").as("s"), col("cid"))
      .union(segCodes)
    val qs = graft.Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") % 4 === 3)
      .select(col("vec_id").as("q_id"), col("embedding"))
    val qtab = Similarity.cellResidualTables(qs, centsS, cbS)
    // corpus-proportional fleet: salt-keyed block join, never a
    // broadcast of the query tables (the ivfpq_probe_recall posture)
    Similarity.adcScoresCell(codes, qtab, boundedQueries = false)
      .groupBy("q_id")
      .agg(min(struct(col("adc"), col("m_id"))).as("best"))
      .select(col("q_id").as("vec_id"), col("best.m_id").as("match_id"),
        col("best.adc").as("adc_dist"))
      .orderBy("vec_id")
  }

  /** The DELETE write path — tombstone segments, the missing CRUD
    * letter of the index lifecycle (insert: [[streamGraphInsert]] /
    * [[streamPqIndexAppend]]; read: the accreted serves; fold:
    * [[graft.ops.KnnGraph.warmRebuildOf]]): delete requests for index
    * vectors arrive in micro-batches (the CDC shape) and each batch
    * appends its ids as an idempotent `batch=<id>` tombstone segment —
    * deletes are DATA, exactly ClickHouse's lightweight DELETE
    * (`_row_exists` mask rows written beside the parts, applied at
    * SELECT, folded out at the next merge) and Iceberg/Lucene delete
    * files. Nothing in the base index is touched at delete time, so
    * the path is O(deletes), never O(index). Returns the segment dir.
    */
  private[graft] def drainTombstones(spark: SparkSession, sfDir: String,
                                     deleted: org.apache.spark.sql.Column,
                                     nFiles: Int,
                                     crashAfterBatches: Int): String =
    memoDrain(spark, sfDir, "tombstone", deleted, nFiles,
        crashAfterBatches) {
    val src = stageIncoming(spark, graft.Tables.embeddings(spark, sfDir),
      deleted, nFiles, "vec_id")
    Drain.run(spark, "graft_tombstones", Seq(src),
        crashAfterBatches = crashAfterBatches) { d =>
      d.foreachBatch(d.open(src))(_.select(col("vec_id")))
    }
  }

  /** Tombstoned vec_ids ∧ even — the delete fixture shared by both
    * masked-serving gates: one quarter of the even-half base index
    * (vec_id ≡ 6 mod 8) is deleted.
    */
  private[graft] def tombstoneFixture: org.apache.spark.sql.Column =
    col("vec_id") % 2 === 0 && col("vec_id") % 8 === 6

  /** SERVING THE GRAPH INDEX UNDER A DELETE MASK — the read side of
    * [[drainTombstones]] on the graph family: the query fleet
    * (vec_id ≡ 3 mod 4) greedy-descends the frozen even-half graph
    * UNCHANGED — tombstoned vertices still ROUTE, exactly as Lucene's
    * deleted docs stay in the postings lists and ClickHouse's masked
    * rows stay in the part until a merge rewrites it; ripping vertices
    * out of a navigable graph at delete time would disconnect regions
    * and is precisely what production graph indexes (FAISS/HNSW
    * tombstoning) avoid — and the MASK applies at result time: the
    * final beam anti-joins the read-back tombstone segments and the
    * best LIVE beam member answers the query. A query whose entire
    * beam is tombstoned drops out (both engines identically) — the
    * operational signal that the physical fold
    * ([[graft.ops.KnnGraph.knnGraphRebuildDeleted]]) is due.
    */
  def streamGraphServeDeleted(spark: SparkSession, sfDir: String,
                              nFiles: Int = 3): DataFrame = {
    val tombDir = drainTombstones(spark, sfDir, tombstoneFixture,
      nFiles, crashAfterBatches = 0)
    serveDeletedGraph(spark, sfDir, tombDir)
  }

  /** The batch read side of [[streamGraphServeDeleted]], split out for
    * the compaction-invariance spec (re-served from the SAME tombstone
    * directory after [[graft.storage.Storage.compactBatchSink]]).
    */
  private[graft] def serveDeletedGraph(spark: SparkSession, sfDir: String,
                                       tombDir: String): DataFrame = {
    import graft.ops.{KnnGraph, Similarity}
    graft.functions.GraftFunctions.register(spark)
    val idx = graft.Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") % 2 === 0)
      .select(col("vec_id"), col("embedding"),
        Similarity.dot(col("embedding"), col("embedding")).as("sq"))
    serveGraphMasked(spark, sfDir, tombDir, idx,
      KnnGraph.servingGraph(spark, sfDir))
  }

  /** The masked graph-serving tail shared by the delete-only and
    * full-CRUD read paths — the ≡ 3 mod 4 query fleet descends `edges`
    * over `idx` (tombstones still routing), the read-back tombstone
    * set anti-joins the final beam, the best live member answers. ONE
    * definition, so a change to the mask join or the tie-break cannot
    * diverge between the serving siblings the specs compare. Since
    * r17 the descent enters through the hierarchical upper layer
    * ([[graft.ops.KnnGraph.hierEntries]]) — per-query entries; a
    * tombstoned ENTRY still routes (it is masked only at result time,
    * exactly like any other beam member).
    */
  private def serveGraphMasked(spark: SparkSession, sfDir: String,
                               tombDir: String, idx: DataFrame,
                               edges: DataFrame): DataFrame = {
    import graft.ops.KnnGraph
    maskedBest(spark, tombDir,
      KnnGraph.greedySearchFrom(KnnGraph.q3Fleet(spark, sfDir), idx, edges,
        KnnGraph.hierEntriesQ3(spark, sfDir)))
  }

  /** The masked result tail shared by the delete-only and full-CRUD
    * graph reads: the read-back tombstone set anti-joins the final
    * beam, the best live member answers.
    */
  private def maskedBest(spark: SparkSession, tombDir: String,
                         beam: DataFrame): DataFrame = {
    val tomb = spark.read.parquet(tombDir).select(col("vec_id").as("t_id"))
    beam
      .join(broadcast(tomb), col("v") === col("t_id"), "left_anti")
      .groupBy("q_id")
      .agg(min(struct(col("dist"), col("v"))).as("best"))
      .select(col("q_id").as("vec_id"), col("best.v").as("match_id"),
        floor(col("best.dist") * lit(1e6)).cast("long").as("dist_u"))
      .orderBy("vec_id")
  }

  /** SERVING THE PQ INDEX UNDER A DELETE MASK —
    * [[streamGraphServeDeleted]]'s sibling on the compressed family:
    * tombstones drain as `batch=<id>` segments, and the query fleet
    * (vec_id ≡ 3 mod 4) ADC-scores the frozen even-half codes with the
    * read-back tombstone set anti-joined off the code rows BEFORE the
    * scoring join — the mask applies at scan, so deleted vectors cost
    * nothing per query (the `_row_exists` pushdown posture; on the
    * code family masking before or after scoring is provably identical
    * because ADC is a pure per-row function, which is why this family
    * masks early while the graph family must mask late). Top-1 live
    * code row per probe.
    */
  def streamPqServeDeleted(spark: SparkSession, sfDir: String,
                           nFiles: Int = 3): DataFrame = {
    val tombDir = drainTombstones(spark, sfDir, tombstoneFixture,
      nFiles, crashAfterBatches = 0)
    serveDeletedPq(spark, sfDir, tombDir)
  }

  /** The batch read side of [[streamPqServeDeleted]], split out for
    * the compaction-invariance spec.
    */
  private[graft] def serveDeletedPq(spark: SparkSession, sfDir: String,
                                    tombDir: String): DataFrame =
    servePqMasked(spark, sfDir, tombDir, segDir = None)

  /** The masked ADC serving tail shared by the delete-only and
    * full-CRUD read paths: tombstones anti-joined off the base even
    * codes AT SCAN (per-row-pure ADC makes early ≡ late), optional
    * insert-segment codes unioned in, ≡ 3 mod 4 fleet scored, top-1
    * live code row per probe. One definition for the mask and the
    * tie-break, shared by both serving siblings.
    */
  private def servePqMasked(spark: SparkSession, sfDir: String,
                            tombDir: String,
                            segDir: Option[String]): DataFrame = {
    import graft.ops.Similarity
    graft.functions.GraftFunctions.register(spark)
    val tomb = spark.read.parquet(tombDir).select(col("vec_id").as("t_id"))
    val (centsS, cbS, codesEven) = Similarity.ivfpqProbeModel(spark, sfDir)
    val baseCodes = codesEven
      .join(broadcast(tomb), col("vec_id") === col("t_id"), "left_anti")
      .select(col("vec_id").as("m_id"), col("cell"),
        col("s").cast("int").as("s"), col("cid"))
    val codes = segDir.fold(baseCodes) { dir =>
      baseCodes.union(spark.read.parquet(dir)
        .select(col("vec_id").as("m_id"), col("cell"),
          col("s").cast("int").as("s"), col("cid")))
    }
    val qs = graft.Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") % 4 === 3)
      .select(col("vec_id").as("q_id"), col("embedding"))
    val qtab = Similarity.cellResidualTables(qs, centsS, cbS)
    Similarity.adcScoresCell(codes, qtab, boundedQueries = false)
      .groupBy("q_id")
      .agg(min(struct(col("adc"), col("m_id"))).as("best"))
      .select(col("q_id").as("vec_id"), col("best.m_id").as("match_id"),
        col("best.adc").as("adc_dist"))
      .orderBy("vec_id")
  }

  /** THE FULL-CRUD READ PATH on the graph family — reads see base ∪
    * inserts ∖ deletes, the complete MergeTree read contract with
    * mutations in flight (`clickhouse/init/01_init.sql:27-31` parts
    * union + the lightweight-DELETE mask, composed): the insert fleet
    * (vec_id ≡ 1 mod 4) drains NSW edge segments, the delete stream
    * drains tombstones for a quarter of the base (vec_id ≡ 6 mod 8),
    * and the query fleet (≡ 3 mod 4) descends the ACCRETED graph over
    * the accreted population — tombstoned vertices still routing — with
    * the mask applied to the final beam. This is the state a real index
    * is in ALL the time between folds: both pending letters visible to
    * every read, neither yet folded. The combined fold
    * ([[graft.ops.KnnGraph.knnGraphWarmRebuildLive]]) is what retires
    * both.
    */
  def streamGraphServeFull(spark: SparkSession, sfDir: String,
                           nFiles: Int = 3): DataFrame = {
    val segDir = drainGraphInserts(spark, sfDir, col("vec_id") % 4 === 1,
      nFiles, crashAfterBatches = 0)
    val tombDir = drainTombstones(spark, sfDir, tombstoneFixture,
      nFiles, crashAfterBatches = 0)
    serveFullGraph(spark, sfDir, segDir, tombDir)
  }

  /** The batch read side of [[streamGraphServeFull]], split out for the
    * compaction-invariance spec.
    */
  private[graft] def serveFullGraph(spark: SparkSession, sfDir: String,
                                    segDir: String,
                                    tombDir: String): DataFrame =
    // the same memoized descent as the accreted serve — the full-CRUD
    // read is that beam with the tombstone mask applied late
    maskedBest(spark, tombDir, drainedAccBeam(spark, sfDir, segDir))

  /** THE FULL-CRUD READ PATH on the PQ family —
    * [[streamGraphServeFull]]'s compressed sibling: queries ADC-score
    * (base codes ∖ tombstones) ∪ appended segment codes. The mask
    * applies at scan (per-row-pure ADC — the early≡late equivalence the
    * delete spec proves), so a deleted vector costs nothing and an
    * inserted one is served the moment its segment lands.
    */
  def streamPqServeFull(spark: SparkSession, sfDir: String,
                        nFiles: Int = 3): DataFrame = {
    val segDir = drainPqAppends(spark, sfDir, col("vec_id") % 4 === 1,
      nFiles, crashAfterBatches = 0)
    val tombDir = drainTombstones(spark, sfDir, tombstoneFixture,
      nFiles, crashAfterBatches = 0)
    serveFullPq(spark, sfDir, segDir, tombDir)
  }

  /** The batch read side of [[streamPqServeFull]]. */
  private[graft] def serveFullPq(spark: SparkSession, sfDir: String,
                                 segDir: String,
                                 tombDir: String): DataFrame =
    servePqMasked(spark, sfDir, tombDir, Some(segDir))

  /** Production banding geometry of the LSH index lifecycle — 7 bands
    * of 8 bits (256 buckets/band, 56 hyperplanes), the
    * [[graft.ops.Dedup.embeddingNearDupsLshCapped]] scheme — one
    * constant pair binds the append drain, accreted serving, and both
    * oracles.
    */
  private[graft] val LshIndexBandBits = 8
  private[graft] val LshIndexBands = 7

  /** The LSH-index WRITE path — the third ANN family's streaming
    * maintenance, completing lifecycle symmetry with
    * [[streamPqIndexAppend]] (codes) and [[streamGraphInsert]]
    * (edges): each micro-batch of incoming vectors is SIGNED row-
    * locally against the frozen hyperplane set (the md5-derived ±1
    * planes of [[graft.ops.Similarity.lshSignature]] — the "model" is
    * a pure deterministic function, so unlike the PQ/graph families
    * there is nothing to train, broadcast, or refresh) and appends its
    * (vec_id, sig) rows as idempotent `batch=<id>` trees. The LSH
    * family is the one whose index is PURELY ADDITIVE: serving is a
    * bucket equi-join over the union of signature rows, so the fold is
    * exactly [[graft.storage.Storage.compactBatchSink]] — no warm
    * rebuild, no model churn, which is why production systems reach
    * for LSH when ingest dominates.
    */
  def streamLshIndexAppend(spark: SparkSession, sfDir: String,
                           nFiles: Int = 3,
                           crashAfterBatches: Int = 0): DataFrame = {
    val outDir = drainLshAppends(spark, sfDir, col("vec_id") % 2 === 1,
      nFiles, crashAfterBatches)
    spark.read.parquet(outDir)
      .select(col("vec_id"), col("sig"))
      .orderBy("vec_id")
  }

  /** The signature-append drain shared by [[streamLshIndexAppend]]
    * (gate = the appended rows) and [[streamLshServeAccreted]] (gate =
    * queries served from base ∪ segments). Returns the segment dir.
    */
  private[graft] def drainLshAppends(spark: SparkSession, sfDir: String,
                                     fleet: org.apache.spark.sql.Column,
                                     nFiles: Int,
                                     crashAfterBatches: Int): String =
    memoDrain(spark, sfDir, "lsh-append", fleet, nFiles,
        crashAfterBatches) {
    import graft.ops.Similarity
    val src = stageIncoming(spark, graft.Tables.embeddings(spark, sfDir),
      fleet, nFiles, "vec_id", "embedding")
    Drain.run(spark, "graft_lsh_append", Seq(src),
        crashAfterBatches = crashAfterBatches) { d =>
      graft.functions.GraftFunctions.register(d.session)
      d.foreachBatch(d.open(src)) {
        _.select(col("vec_id"),
          Similarity.lshSignature(col("embedding"), dim = 64,
            nPlanes = LshIndexBandBits * LshIndexBands).as("sig"))
      }
    }
  }

  /** SERVING FROM THE ACCRETED LSH INDEX — the bucket-join serving the
    * [[graft.ops.Similarity.annTopK]] scaladoc promises ("in a real
    * index the band keys are bucket LOOKUPS"), run over base ∪
    * segments: one quarter of the vectors (vec_id ≡ 1 mod 4) stream in
    * and append signature segments; the query fleet (≡ 3 mod 4) bands
    * its own signatures and candidates come from the (band, bucket)
    * equi-join against the accreted signature set — never a scan of
    * the index — with overfull buckets (> [[graft.ops.Dedup
    * .LshBucketCap]]) skipped, the capped production discipline.
    * Candidates re-rank by exact cosine; top-1 live answer per query
    * (queries whose bands all miss drop out, both engines
    * identically). Because signatures are pure row-local functions of
    * the frozen planes, an inserted vector is findable the moment its
    * segment lands — the LSH family needs no back-link machinery and
    * no warm fold, the structural payoff this gate exhibits.
    */
  def streamLshServeAccreted(spark: SparkSession, sfDir: String,
                             nFiles: Int = 3): DataFrame = {
    val segDir = drainLshAppends(spark, sfDir, col("vec_id") % 4 === 1,
      nFiles, crashAfterBatches = 0)
    serveAccretedLsh(spark, sfDir, segDir)
  }

  /** The batch read side of [[streamLshServeAccreted]], split out for
    * the compaction-invariance spec.
    */
  private[graft] def serveAccretedLsh(spark: SparkSession, sfDir: String,
                                      segDir: String): DataFrame =
    serveLshMasked(spark, sfDir, Some(segDir), tombDir = None)

  /** THE DELETE LETTER ON THE LSH FAMILY — the asymmetry the r16
    * verdict flagged (graph and PQ both had delete-masked serving;
    * LSH had append-only): tombstones drain as `batch=<id>` segments
    * ([[drainTombstones]] — deletes are data, the CK lightweight-
    * DELETE shape), and the query fleet (vec_id ≡ 3 mod 4) serves
    * from the base signature set with the read-back tombstone ids
    * anti-joined AT SCAN. Signatures are per-row pure, so the PQ
    * scan-side discipline transfers directly — with ONE honest
    * difference, unlike ADC: the bucket CAP makes early and late
    * masks inequivalent on this family (a bucket pushed over
    * [[graft.ops.Dedup.LshBucketCap]] by deleted members would be
    * skipped under a late mask but served under the scan mask). The
    * scan mask is the production semantics — bucket sizes are a
    * property of the LIVE index — and both engines replay exactly it.
    */
  def streamLshServeDeleted(spark: SparkSession, sfDir: String,
                            nFiles: Int = 3): DataFrame = {
    val tombDir = drainTombstones(spark, sfDir, tombstoneFixture,
      nFiles, crashAfterBatches = 0)
    serveDeletedLsh(spark, sfDir, tombDir)
  }

  /** The batch read side of [[streamLshServeDeleted]], split out for
    * the compaction-invariance spec.
    */
  private[graft] def serveDeletedLsh(spark: SparkSession, sfDir: String,
                                     tombDir: String): DataFrame =
    serveLshMasked(spark, sfDir, segDir = None, tombDir = Some(tombDir))

  /** THE FULL-CRUD READ PATH on the LSH family — reads see
    * (base ∖ deletes) ∪ appended signature segments, completing
    * three-family lifecycle symmetry ([[streamGraphServeFull]] /
    * [[streamPqServeFull]]): the insert fleet (vec_id ≡ 1 mod 4)
    * drains signature segments, the delete stream drains tombstones
    * for a quarter of the base (vec_id ≡ 6 mod 8), and the query
    * fleet (≡ 3 mod 4) bucket-joins the live accreted signature set —
    * the mask at scan, segments unioned in, bucket caps over the live
    * population.
    */
  def streamLshServeFull(spark: SparkSession, sfDir: String,
                         nFiles: Int = 3): DataFrame = {
    val segDir = drainLshAppends(spark, sfDir, col("vec_id") % 4 === 1,
      nFiles, crashAfterBatches = 0)
    val tombDir = drainTombstones(spark, sfDir, tombstoneFixture,
      nFiles, crashAfterBatches = 0)
    serveFullLsh(spark, sfDir, segDir, tombDir)
  }

  /** The batch read side of [[streamLshServeFull]]. */
  private[graft] def serveFullLsh(spark: SparkSession, sfDir: String,
                                  segDir: String,
                                  tombDir: String): DataFrame =
    serveLshMasked(spark, sfDir, Some(segDir), Some(tombDir))

  /** The ONE LSH serving tail behind all four gates (accreted /
    * deleted / full / the spec's base-only control): even-half base
    * signatures, tombstones anti-joined at scan when a delete letter
    * is pending, segment signatures unioned in when inserts are
    * pending, then banding → live bucket caps → (band, bucket)
    * equi-join candidates → exact-cosine top-1 per query. One
    * definition, so the mask join, the cap, and the tie-break cannot
    * diverge between the serving siblings the specs compare.
    */
  private[graft] def serveLshMasked(spark: SparkSession, sfDir: String,
                                    segDir: Option[String],
                                    tombDir: Option[String]): DataFrame = {
    import graft.ops.{Dedup, Similarity}
    graft.functions.GraftFunctions.register(spark)
    val bb = LshIndexBandBits
    val nb = LshIndexBands
    val mask = (1L << bb) - 1
    val emb = graft.Tables.embeddings(spark, sfDir)
    val baseSigs0 = emb.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id"),
        Similarity.lshSignature(col("embedding"), dim = 64,
          nPlanes = bb * nb).as("sig"))
    val baseSigs = tombDir.fold(baseSigs0) { dir =>
      val tomb = spark.read.parquet(dir).select(col("vec_id").as("t_id"))
      baseSigs0.join(broadcast(tomb), col("vec_id") === col("t_id"),
        "left_anti")
    }
    val allSigs = segDir.fold(baseSigs) { dir =>
      baseSigs.unionByName(
        spark.read.parquet(dir).select(col("vec_id"), col("sig")))
    }
    val banded = allSigs
      .select(col("vec_id"), col("sig"),
        explode(sequence(lit(0), lit(nb - 1))).as("band"))
      .withColumn("bucket", expr(s"(sig >> (band * $bb)) & $mask"))
      .select("vec_id", "band", "bucket")
    val sizes = banded.groupBy("band", "bucket")
      .agg(count(lit(1)).as("bn"))
      .filter(col("bn") <= Dedup.LshBucketCap)
    val kept = banded.join(broadcast(sizes.select("band", "bucket")),
      Seq("band", "bucket"))
    val qs = emb.filter(col("vec_id") % 4 === 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        Similarity.norm2(col("embedding")).as("q_nrm"),
        Similarity.lshSignature(col("embedding"), dim = 64,
          nPlanes = bb * nb).as("q_sig"))
    val qBanded = qs
      .select(col("q_id"), col("q_sig"),
        explode(sequence(lit(0), lit(nb - 1))).as("band"))
      .withColumn("bucket", expr(s"(q_sig >> (band * $bb)) & $mask"))
      .select("q_id", "band", "bucket")
    val cand = qBanded.join(kept, Seq("band", "bucket"))
      .select(col("q_id"), col("vec_id").as("m_id"))
      .distinct()
    val msl = emb.select(col("vec_id").as("m_id"),
      col("embedding").as("m_emb"), Similarity.norm2(col("embedding")).as("m_nrm"))
    cand
      .join(msl, "m_id")
      .join(qs.select(col("q_id"), col("q_emb"), col("q_nrm")), "q_id")
      .select(col("q_id"), col("m_id"),
        (Similarity.dot(col("q_emb"), col("m_emb")) /
          (col("q_nrm") * col("m_nrm"))).as("cosine"))
      .groupBy("q_id")
      .agg(max(struct(col("cosine"), (-col("m_id")).as("nm"))).as("best"))
      .select(col("q_id").as("vec_id"), (-col("best.nm")).as("match_id"),
        col("best.cosine").as("cosine"))
      .orderBy("vec_id")
  }

  /** STREAMED MISRA-GRIES PARTIALS — deterministic heavy hitters over
    * a stream with bounded state, the candidate-set counterpart of
    * [[streamCmsPartials]] (CMS answers "how heavy", this answers
    * "which are heavy" EXACTLY): each micro-batch runs the k-counter
    * MG sketch over its own tokens and appends the surviving (token,
    * count) counters as a `batch=<id>` partial — at most k rows per
    * batch regardless of batch size. The read side unions the partial
    * KEY SETS (the pigeonhole argument makes this a guaranteed
    * superset of every globally-heavy token: global share > 1/k forces
    * batch share > 1/k in at least one batch, where MG-k must retain
    * it), recounts ONLY the candidates exactly, and applies the
    * integer threshold — so the OUTPUT is deterministic and equal to
    * the batch two-pass [[graft.ops.HeavyHitters.heavyHitterTokens]]
    * even though intermediate sketch contents are batch-order
    * dependent. That split — order-dependent bounded state, exact
    * deterministic answer — is precisely how a 1000-executor
    * heavy-hitter job ships per-shard summaries.
    */
  def streamMgPartials(spark: SparkSession, sfDir: String,
                       nFiles: Int = 3,
                       thresholdPerMille: Long = 34L,
                       k: Int = 64): DataFrame = {
    import graft.ops.HeavyHitters
    // the batch twin's guard: the pigeonhole superset argument needs
    // k >= 1000/threshold, or a heavy token can be evicted from EVERY
    // per-batch sketch and silently vanish from the candidate union
    require(k >= (1000L + thresholdPerMille - 1) / thresholdPerMille,
      "MG guarantee needs k >= 1000/thresholdPerMille")
    val src = stageIncoming(spark, graft.Tables.documents(spark, sfDir),
      col("doc_id") % 2 === 1, nFiles, "doc_id", "text")
    val outDir = Drain.run(spark, "graft_mg_partials", Seq(src)) { d =>
      import d.session.implicits._
      d.foreachBatch(d.open(src)) {
        _.select(explode(split(col("text"), " ")).as("w"))
          .as[String]
          .groupByKey(_ => 0)
          .agg(new HeavyHitters.MisraGries(k).toColumn.name("mg"))
          .flatMap { case (_, m) => m.toSeq }
          .toDF("w", "c")
      }
    }
    // read side: candidate keys ∪ over partials, exact recount, threshold
    val cand = spark.read.parquet(outDir).select("w").distinct()
    val toks = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 2 === 1)
      .select(explode(split(col("text"), " ")).as("w"))
    val total = toks.groupBy().agg(count(lit(1)).as("total"))
    toks.join(broadcast(cand), Seq("w"), "left_semi")
      .groupBy("w").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(total))
      .filter(col("n") * 1000L >= col("total") * thresholdPerMille)
      .select(col("w").as("token"), col("n"),
        (col("n").cast("double") / col("total")).as("share"))
      .orderBy(desc("n"), asc("token"))
  }

  /** STREAMED COUNT-MIN PARTIALS — the mergeable-sketch aggregation
    * pattern at micro-batch granularity (Agarwal et al., "Mergeable
    * Summaries": sketch each shard, ship the sketches, ADD them): each
    * micro-batch of incoming (odd) docs builds its own d×w count-min
    * grid ([[graft.ops.HeavyHitters.cmsOf]] — bounded rows per batch
    * regardless of batch size) and appends it as an idempotent
    * `batch=<id>` partial; the read side merges partials by plain
    * per-cell SUM — CMS's linearity, the property that lets 1000
    * executors sketch independently and a coordinator fold the grids —
    * and point-queries the merged grid for the odd half's exact top
    * tokens. Because addition commutes, the merged grid is bit-equal
    * to the single-pass batch grid under ANY micro-batch slicing
    * (asserted in spec), so the batch replay IS the oracle.
    */
  def streamCmsPartials(spark: SparkSession, sfDir: String,
                        nFiles: Int = 3, topN: Int = 50): DataFrame = {
    import graft.ops.HeavyHitters
    val src = stageIncoming(spark, graft.Tables.documents(spark, sfDir),
      col("doc_id") % 2 === 1, nFiles, "doc_id", "text")
    val outDir = Drain.run(spark, "graft_cms_partials", Seq(src)) { d =>
      d.foreachBatch(d.open(src)) { batch =>
        HeavyHitters.cmsOf(
          batch.select(explode(split(col("text"), " ")).as("w")))
      }
    }
    serveCmsMerged(spark, sfDir, outDir, topN)
  }

  /** The merge-and-query read side of [[streamCmsPartials]], split out
    * for the slicing-invariance spec: per-cell SUM over the partial
    * grids, then point estimates for the odd half's exact top tokens.
    */
  private[graft] def serveCmsMerged(spark: SparkSession, sfDir: String,
                                    partialsDir: String,
                                    topN: Int): DataFrame = {
    import graft.ops.HeavyHitters
    val merged = spark.read.parquet(partialsDir)
      .groupBy("i", "pos")
      .agg(sum(col("cnt")).as("cnt"))
    val exact = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 2 === 1)
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w").as("token"))
      .agg(count(lit(1)).as("exact"))
      .orderBy(desc("exact"), asc("token"))
      .limit(topN)
    HeavyHitters.cmsEstimate(exact, merged)
      .join(exact, "token")
      .select(col("token"), col("exact"), col("cms_est"),
        (col("cms_est") - col("exact")).as("overestimate"))
      .orderBy(desc("exact"), asc("token"))
  }

  /** STREAMED BOTTOM-K SAMPLE PARTIALS — the fixed-size uniform sample
    * as a bounded mergeable structure (the order-statistics sibling of
    * [[streamCmsPartials]]'s linear grid and [[streamMgPartials]]'s
    * candidate counters): each micro-batch keeps only its k
    * minimum-priority rows, priority = the md5 draw on doc_id both
    * engines replay, and appends them as a `batch=<id>` partial — at
    * most k rows per batch at ANY batch size. The read side unions the
    * partials and re-takes the global bottom-k, which equals the
    * bottom-k of the whole stream EXACTLY under any slicing
    * (bottom-k(A∪B) = bottom-k(bottom-k(A) ∪ bottom-k(B)) — the
    * mergeability CMS gets from linearity, order statistics give for
    * free), so the plain ORDER BY md5 LIMIT k over the staged half IS
    * the oracle. This is how a fixed-size uniform corpus sample ships
    * at 100 TB: every executor keeps k rows, a coordinator folds k·p
    * rows — unlike the Bernoulli samplers ([[graft.ops.TrainingSets
    * .stratifiedSample]] et al.) whose output grows with the corpus
    * and whose rate needs retuning at every scale-up.
    */
  def streamSamplePartials(spark: SparkSession, sfDir: String,
                           nFiles: Int = 3, k: Int = 200): DataFrame =
    serveSampleMerged(spark, drainSamplePartials(spark, sfDir, nFiles, k), k)

  /** The drain side of [[streamSamplePartials]], split out so the spec
    * can read the partial segments: returns the partials directory. */
  private[graft] def drainSamplePartials(spark: SparkSession, sfDir: String,
                                         nFiles: Int, k: Int): String = {
    val src = stageIncoming(spark, graft.Tables.documents(spark, sfDir),
      col("doc_id") % 2 === 1, nFiles, "doc_id", "source")
    Drain.run(spark, "graft_sample_partials", Seq(src)) { d =>
      d.foreachBatch(d.open(src)) {
        _.select(col("doc_id"), col("source"),
            md5(concat(lit("smp"), col("doc_id").cast("string"))).as("prio"))
          .orderBy("prio").limit(k)
      }
    }
  }

  /** The merge-and-serve read side of [[streamSamplePartials]], split
    * out for the slicing-invariance spec: global bottom-k over the
    * ≤ k·batches partial rows.
    */
  private[graft] def serveSampleMerged(spark: SparkSession,
                                       partialsDir: String,
                                       k: Int): DataFrame =
    spark.read.parquet(partialsDir)
      .orderBy("prio").limit(k)
      .select("doc_id", "source", "prio")
      .orderBy("prio")

  /** ONLINE BLOOM MEMBERSHIP FILTER — the at-ingest decontamination /
    * dedup gate every large crawl pipeline runs (GPT-3 appendix C's
    * n-gram overlap rule, executed through the only structure that
    * holds the historical shingle set at 100 TB: an m-bit Bloom
    * filter): the static side builds the filter over the EVEN-doc
    * half's distinct 8-gram shingles ONCE ([[graft.ops.TrainingSets
    * .bloomModel]] — the distinct bit-position set, ≤ m rows at ANY
    * corpus size, the context-keyed-memo discipline); odd docs stream
    * back one file per micro-batch and each batch shingles row-locally
    * and probes its k md5 positions against the broadcast filter. Per
    * incoming doc the append carries (n_shingles, n_hit_shingles,
    * flagged) — no false negatives by construction, false positives
    * priced by the batch `bloom_contamination` audit. Everything is
    * doc-local given the filter broadcast, so the drained frame is
    * batch-boundary-independent and the batch replay IS the oracle.
    */
  def streamBloomProbe(spark: SparkSession, sfDir: String,
                       nFiles: Int = 3): DataFrame = {
    import graft.ops.TrainingSets
    val src = stageIncoming(spark, graft.Tables.documents(spark, sfDir),
      col("doc_id") % 2 === 1, nFiles, "doc_id", "text")
    // frozen filter, built/reused on the outer session
    val positions = TrainingSets.bloomModel(spark, sfDir)
    val outDir = Drain.run(spark, "graft_bloom_probe", Seq(src)) { d =>
      graft.functions.GraftFunctions.register(d.session)
      d.foreachBatch(d.open(src))(TrainingSets.bloomVerdict(_, positions))
    }
    spark.read.parquet(outDir)
      .select(col("doc_id"), col("n_shingles"), col("n_hit_shingles"),
        col("flagged"))
      .orderBy("doc_id")
  }

  /** ONLINE CLASSIFIER FILTER drained end-to-end — the trained-model
    * serving stage of the curation tier (a crawl pipeline classifies
    * documents AS THEY ARRIVE against a model trained on the
    * historical corpus; CCNet's fastText language filter run at
    * ingest): the static side trains the multinomial-NB language-ID
    * model on the EVEN-doc_id half ([[graft.ops.TrainingSets
    * .nbModel]] "even" — Laplace-smoothed priors + hashed-bucket
    * micro-nat likelihoods, the batch `nb_langid_classifier`'s exact
    * arithmetic) ONCE on the outer session (context-keyed memo, the
    * ivfpq-model discipline); the odd half streams back one file per
    * micro-batch and each batch argmax-classifies its docs against
    * the broadcast model ([[graft.ops.TrainingSets.nbScore]] —
    * integer-exact scores, ties to the first class). Per incoming doc
    * the append carries (doc_id, true_lang, pred_lang); scoring is
    * doc-local given the model broadcast, so the drained frame is
    * batch-boundary-independent and bit-identical to a batch rescore.
    *
    * Scale shape: the model is classes × [[graft.ops.TrainingSets
    * .NbBuckets]] rows at ANY corpus size (hashing-trick bound) — the
    * broadcast never grows; per-batch work is one token aggregate of
    * the batch plus bounded-fan-out broadcast joins. Nothing is
    * stateful across batches.
    */
  def streamNbProbe(spark: SparkSession, sfDir: String,
                    nFiles: Int = 3): DataFrame = {
    import graft.ops.TrainingSets
    val src = stageIncoming(spark, graft.Tables.documents(spark, sfDir),
      col("doc_id") % 2 === 1, nFiles, "doc_id", "lang", "text")
    // frozen model, built/reused on the outer session (context-keyed
    // memo — retraining inside the drain was the r13 stream_pq_probe
    // regression; same fix applied from the start here)
    val model = TrainingSets.nbModel(spark, sfDir, "even")
    val outDir = Drain.run(spark, "graft_nb_probe", Seq(src)) { d =>
      graft.functions.GraftFunctions.register(d.session)
      d.foreachBatch(d.open(src))(TrainingSets.nbScore(_, model))
    }
    spark.read.parquet(outDir)
      .select(col("doc_id"), col("true_lang"), col("pred_lang"))
      .orderBy("doc_id")
  }

  /** ONLINE EMBEDDING CLASSIFIER drained end-to-end — the serving
    * sibling of the batch Rocchio classifier ([[graft.ops.Similarity
    * .centroidClassifier]]), completing the trained-model probe family
    * across both modalities (tokens: [[streamNbProbe]]; vectors:
    * this): the static side trains per-label centroids on the
    * even-vec_id historical half ONCE on the outer session
    * ([[graft.ops.Similarity.centroidModel]], context-keyed memo);
    * the odd half streams back one file per micro-batch and each
    * batch argmax-classifies its vectors against the labels-sized
    * broadcast (exact integer dots, one sqrt + one IEEE division —
    * the batch classifier's arithmetic verbatim). Scoring is
    * vector-local given the model, so the drained frame is
    * batch-boundary-independent and bit-identical to a batch rescore
    * — which is exactly what the DuckDB oracle replays.
    *
    * Scale shape: the model is one row per label at ANY corpus size;
    * per-batch work is one map-side argmax over the batch. Nothing is
    * stateful across batches.
    */
  def streamCentroidProbe(spark: SparkSession, sfDir: String,
                          nFiles: Int = 3): DataFrame = {
    import graft.ops.Similarity
    val src = stageIncoming(spark, graft.Tables.embeddings(spark, sfDir),
      col("vec_id") % 2 === 1, nFiles, "vec_id", "label", "embedding")
    // frozen model, built/reused on the outer session (context-keyed
    // memo — the streamNbProbe discipline)
    val model = Similarity.centroidModel(spark, sfDir)
    val outDir = Drain.run(spark, "graft_cent_probe", Seq(src)) { d =>
      graft.functions.GraftFunctions.register(d.session)
      d.foreachBatch(d.open(src))(Similarity.centroidScore(_, model))
    }
    spark.read.parquet(outDir)
      .select(col("vec_id"), col("true_label"), col("pred_label"))
      .orderBy("vec_id")
  }

  /** The COMPOSED ONLINE CURATION PIPELINE drained end-to-end — the
    * full arrival-time decision chain a production crawl ingest runs
    * per document, in one drain: (1) the Gopher quality-gate funnel
    * ([[graft.ops.TextAnalysis.funnelFirstFail]] — row-local exact
    * integer gates, first-failing-stage attribution), (2) an exact-
    * duplicate probe against the md5 content index of the even-doc_id
    * historical corpus, (3) the trained language filter (the
    * [[streamNbProbe]] model — argmax class must agree with the doc's
    * claimed lang, the CCNet LID-agreement drop rule). Each incoming
    * (odd) doc gets ONE verdict — gate1..gate5 | duplicate |
    * lang_mismatch | kept, in that precedence — appended per batch.
    * All three stages are doc-local given the two static broadcasts
    * (hash index, NB model), so the drained verdicts are
    * batch-boundary-independent and replay exactly as a batch query
    * (the oracle stitches the same three shared CTE stacks).
    *
    * Scale shape: statics built ONCE on the outer session (the NB
    * model is the context-keyed memo shared with [[streamNbProbe]];
    * the content index is one distinct digest per historical doc —
    * at 100 TB that join runs hash-partitioned instead of broadcast,
    * same semantics). Per-batch cost is the batch's own tokens;
    * nothing stateful across batches.
    */
  def streamCurationVerdict(spark: SparkSession, sfDir: String,
                            nFiles: Int = 3): DataFrame = {
    import graft.ops.{TextAnalysis, TrainingSets}
    val src = stageIncoming(spark, graft.Tables.documents(spark, sfDir),
      col("doc_id") % 2 === 1, nFiles, "doc_id", "lang", "text", "n_chars")
    // statics on the outer session: the historical content-hash index
    // (materialized once) and the even-trained NB model (shared memo)
    val dupIdx = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 2 === 0)
      .select(md5(col("text")).as("h")).distinct()
      .localCheckpoint(true)
    val model = TrainingSets.nbModel(spark, sfDir, "even")
    val outDir = Drain.run(spark, "graft_curation_verdict", Seq(src)) { d =>
      graft.functions.GraftFunctions.register(d.session)
      d.foreachBatch(d.open(src)) { batch =>
        val ff = TextAnalysis.funnelFirstFail(batch.sparkSession, batch)
          .select(col("doc_id"), col("first_fail"))
        val dup = batch.withColumn("h", md5(col("text")))
          .join(broadcast(dupIdx), Seq("h"), "left_semi")
          .select(col("doc_id"), lit(true).as("is_dup"))
        val pred = TrainingSets.nbScore(batch, model)
        ff.join(dup, Seq("doc_id"), "left_outer")
          .join(pred, Seq("doc_id"))
          .select(col("doc_id"),
            when(col("first_fail") > 0,
              concat(lit("gate"), col("first_fail")))
              .when(coalesce(col("is_dup"), lit(false)), "duplicate")
              .when(col("pred_lang") =!= col("true_lang"),
                "lang_mismatch")
              .otherwise("kept").as("verdict"))
      }
    }
    spark.read.parquet(outDir)
      .select(col("doc_id"), col("verdict"))
      .orderBy("doc_id")
  }

  /** STREAMING MULTIMODAL INGEST drained end-to-end — the continuous
    * media-ingest topology (new binary assets decoded and profiled as
    * they arrive): doc ids stream one file per micro-batch; each batch
    * encodes the REAL payload (BMP/WAV/AVI by id), sniffs + format-walks
    * it back ([[graft.multimodal.Multimodal.decodeOne]] — the same
    * codecs the batch queries gate), and appends a per-batch PARTIAL
    * decode rollup. The readback folds partials with a plain sum — the
    * SummingMergeTree discipline ([[startHourlyPartialsSink]]) applied
    * to the multimodal tier, so NO streaming state exists at any corpus
    * size and the drained totals are batch-boundary-independent by
    * additivity. Oracle: identical to `mm_decode_stats` (same totals,
    * same contract).
    */
  def streamMediaDecode(spark: SparkSession, sfDir: String,
                        nFiles: Int = 3): DataFrame = {
    val src = Drain.stage(spark, "incoming", graft.Tables.documents(spark,
      sfDir).select(col("doc_id")).repartition(nFiles))
    val outDir = Drain.run(spark, "graft_media_stream", Seq(src)) { d =>
      d.foreachBatch(d.open(src)) { batch =>
        import batch.sparkSession.implicits._
        batch.select(col("doc_id")).as[Long]
          .mapPartitions(_.flatMap { docId =>
            graft.multimodal.Multimodal
              .decodeOne(graft.multimodal.Multimodal.encodeOne(docId))
              .map(_.copy(doc_id = docId))
          })
          .groupBy("media_type")
          .agg(count(lit(1)).as("n"),
            sum("width").as("sum_width"),
            sum("height").as("sum_height"),
            sum("channels").as("sum_channels"),
            sum("duration_ms").as("sum_duration_ms"),
            sum("body_len").as("sum_body_len"))
      }
    }
    spark.read.parquet(outDir)
      .groupBy("media_type")
      .agg(sum("n").as("n"),
        sum("sum_width").as("sum_width"),
        sum("sum_height").as("sum_height"),
        sum("sum_channels").as("sum_channels"),
        sum("sum_duration_ms").as("sum_duration_ms"),
        sum("sum_body_len").as("sum_body_len"))
      .orderBy("media_type")
  }

  /** S3 (`sales_producer.py:160-165`): orders → JSON → Kafka sink
    * (connector jar required at runtime).
    */
  def toKafkaSink(orders: DataFrame, bootstrap: String,
                  topic: String = "sales_orders",
                  checkpointDir: String): DataStreamWriter[Row] =
    orders
      .select(to_json(struct(col("*"))).as("value"))
      .writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("topic", topic)
      .option("checkpointLocation", checkpointDir)
}
