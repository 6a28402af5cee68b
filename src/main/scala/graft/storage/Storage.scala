package graft.storage

import java.time.{Instant, LocalDate, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The engine's at-rest layout for the raw orders table — the Spark-native
  * equivalent of the reference's MergeTree declaration
  * (`clickhouse/init/01_init.sql:27-31`):
  *
  *   - `PARTITION BY toYYYYMM(order_timestamp)` → hive-style `month=yyyyMM`
  *     parquet partitions; Catalyst prunes them on read (time-ranged
  *     queries never list, let alone read, out-of-range months);
  *   - `ORDER BY (order_timestamp, order_id)` + index_granularity → rows
  *     sorted within each written file, so parquet row-group min/max stats
  *     are tight and predicate pushdown skips granules the same way CK's
  *     sparse primary index does;
  *   - `TTL order_timestamp + INTERVAL 365 DAY` → [[applyRetention]], a
  *     metadata-only partition drop (no row scan — deleting a month is one
  *     directory remove, exactly CK's partition-level TTL fast path).
  *
  * At 100 TB: monthly partitions keep file listing bounded; within a month,
  * writes shard by input parallelism; sortWithinPartitions costs one local
  * sort, no shuffle.
  */
object Storage {

  private val MonthFmt = DateTimeFormatter.ofPattern("yyyyMM")

  /** Append a batch of order rows in the canonical layout. `month` is an
    * int yyyyMM — the same value domain as ClickHouse's `toYYYYMM`
    * (UInt32), and what hive partition type inference yields on read.
    */
  def writeRaw(orders: DataFrame, path: String): Unit =
    orders
      .withColumn("month",
        date_format(col("order_timestamp"), "yyyyMM").cast("int"))
      // leading with the partition column matters: the dynamic-partition
      // writer requires task rows ordered by partition cols and would
      // otherwise inject its own UNSTABLE sort by month, destroying the
      // (ts, id) order; with month first, our ordering satisfies the
      // requirement and the writer adds no sort
      .sortWithinPartitions("month", "order_timestamp", "order_id")
      .write
      .mode("append")
      .partitionBy("month")
      .parquet(path)

  /** Every file under `p`, or `p` itself when it is a file, walked with
    * `listStatus`. Unlike `listFiles` it loads no permissions, which the
    * local file system reads by running `ls` once per file.
    */
  def leafFiles(fs: FileSystem, p: Path): Seq[FileStatus] = {
    def walk(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(walk)
      else Seq(st)
    walk(fs.getFileStatus(p))
  }

  /** Read the raw table; `month` comes back as a partition column usable in
    * pruning predicates.
    */
  def readRaw(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** TTL retention (`01_init.sql:30`): drop whole month partitions whose
    * LAST instant is older than `retainDays` before `now`. Partition-level
    * semantics (CK's `ttl_only_drop_parts` posture): a month is dropped only
    * when every possible row in it has expired. Returns the dropped month
    * ids.
    */
  def applyRetention(spark: SparkSession, path: String, retainDays: Int,
                     now: Instant): Seq[String] = {
    val cutoffDate = LocalDate.ofInstant(now, ZoneOffset.UTC).minusDays(retainDays)
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Nil
    val dropped = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("month="))
      .filter { s =>
        val month = s.getPath.getName.stripPrefix("month=")
        val firstOfMonth = LocalDate.parse(month + "01",
          DateTimeFormatter.ofPattern("yyyyMMdd"))
        // last instant of the month must be expired
        firstOfMonth.plusMonths(1).minusDays(1).isBefore(cutoffDate)
      }
    dropped.foreach(s => fs.delete(s.getPath, true))
    dropped.map(_.getPath.getName.stripPrefix("month="))
  }

  /** Month id for an instant (UTC) — the partition a row lands in. */
  def monthOf(ts: Instant): String =
    LocalDate.ofInstant(ts, ZoneOffset.UTC).format(MonthFmt)

  /** Small-file compaction for one month partition — the maintenance op
    * every streaming-append layout needs (each micro-batch lands its own
    * files; CK runs background merges for the same reason,
    * `01_init.sql:27-31`). Reads ONLY the target partition (pruned scan),
    * rewrites it as `targetFiles` sorted files, and swaps it atomically
    * via dynamic partition overwrite — other months are never listed,
    * read, or touched. At 100 TB this runs per-partition on whatever
    * cadence write amplification warrants; cost is one local sort, no
    * shuffle beyond the coalesce.
    */
  /** Bit-spread for Z-value interleaving: the low 16 bits of `c` spaced
    * out to even positions (classic magic-mask doubling — 5 shift/mask
    * steps, all codegen'd integer ops).
    */
  private def spread16(c: Column): Column = {
    def step(x: Column, shift: Int, mask: Long): Column =
      (x.bitwiseOR(shiftleft(x, shift))).bitwiseAND(lit(mask))
    val x0 = c.bitwiseAND(lit(0xFFFFL))
    val x1 = step(x0, 8, 0x00FF00FFL)
    val x2 = step(x1, 4, 0x0F0F0F0FL)
    val x3 = step(x2, 2, 0x33333333L)
    step(x3, 1, 0x55555555L)
  }

  /** Z-order (Morton) value of two columns, each min/max-normalized to a
    * 16-bit domain via the broadcast `stats` row (`a_min/a_max/b_min/
    * b_max`). Interleaving the bits makes ranges of the z-value small
    * hyper-rectangles in (a, b) space — the multi-dimensional
    * generalization of the MergeTree compound sort key ([[writeRaw]]):
    * a single-column sort gives perfect skipping on the leading key and
    * none on the second, the z-curve gives ~sqrt skipping on BOTH.
    */
  def zvalue(a: Column, b: Column, stats: Column): Column = {
    def norm(c: Column, lo: Column, hi: Column): Column =
      when(hi > lo, ((c - lo) * lit(65535.0) / (hi - lo)).cast("long"))
        .otherwise(lit(0L))
    shiftleft(spread16(norm(a, stats("a_min"), stats("a_max"))), 1)
      .bitwiseOR(spread16(norm(b, stats("b_min"), stats("b_max"))))
  }

  /** Write `df` clustered on the z-curve of two numeric columns:
    * range-partition by z-value into `nFiles` files, sort within each —
    * so every file owns a compact z-range = a small rectangle in both
    * dimensions, and parquet footer min/max stats prune scans filtered on
    * EITHER column. At 100 TB this is the layout for tables queried along
    * two independent axes (user and time, key and date); the one-row
    * stats aggregate is a broadcast, the range partitioning is the only
    * shuffle, and the local sort is spill-safe.
    */
  def zorderWrite(df: DataFrame, colA: String, colB: String, path: String,
                  nFiles: Int): Unit = {
    val stats = df.agg(
      min(col(colA).cast("double")).as("a_min"),
      max(col(colA).cast("double")).as("a_max"),
      min(col(colB).cast("double")).as("b_min"),
      max(col(colB).cast("double")).as("b_max"))
      .select(struct(col("a_min"), col("a_max"), col("b_min"), col("b_max"))
        .as("__zorder_stats"))
    val z = zvalue(col(colA).cast("double"), col(colB).cast("double"),
      col("__zorder_stats"))
    // dunder-prefixed internal names: a user column literally named "s" or
    // "z" must survive the write unscathed
    df.crossJoin(broadcast(stats))
      .withColumn("__zorder_z", z)
      .drop("__zorder_stats")
      .repartitionByRange(nFiles, col("__zorder_z"))
      .sortWithinPartitions("__zorder_z")
      .drop("__zorder_z")
      .write.mode("overwrite").parquet(path)
  }

  /** OPTIMIZE pass for a micro-batch sink directory — the file-level
    * analogue of ClickHouse's background part merge, and the follow-on
    * the streaming `foreachBatch` sinks need at scale: a long-running
    * drain accretes one `batch=<id>` directory of small files per
    * micro-batch, and this pass merges them into ≈`targetFileBytes`
    * parquet files (count = ceil(current bytes / target), so the
    * output file count tracks data volume, not batch count).
    *
    * The `batch` provenance column is dropped — post-merge, batches are
    * indistinguishable, exactly as merged MergeTree parts are. The swap
    * is two directory renames (write to a hidden sibling, swap, drop
    * the old tree): crash-safe in the sense that either tree is always
    * complete, but NOT transactional for concurrent readers during the
    * instant between renames — a production deployment fronts this
    * with the epoch-manifest commit protocol the DSV2 sink
    * ([[graft.sources]] GraftLog) already implements, or a table
    * format's atomic metadata swap.
    *
    * Returns (filesBefore, filesAfter, rows).
    */
  def compactBatchSink(spark: SparkSession, path: String,
                       targetFileBytes: Long = 128L * 1024 * 1024)
      : (Long, Long, Long) = {
    val src = new Path(path)
    val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var nBefore = 0L
    var totalBytes = 0L
    val it = fs.listFiles(src, true)
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) {
        nBefore += 1
        totalBytes += f.getLen
      }
    }
    val nFiles = math.max(1L,
      (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
    val tmp = new Path(src.getParent, s".${src.getName}__compact_tmp")
    val old = new Path(src.getParent, s".${src.getName}__compact_old")
    fs.delete(tmp, true); fs.delete(old, true) // stale leftovers
    val df = spark.read.parquet(path)
    val rows = df.count()
    df.drop("batch", "segment")
      .repartition(nFiles)
      .write.mode("overwrite").parquet(tmp.toString)
    if (!fs.rename(src, old))
      throw new java.io.IOException(s"compaction swap failed for $path")
    if (!fs.rename(tmp, src)) {
      // roll the original tree back so the sink directory is never left
      // missing — "either tree is always complete" must hold for readers
      fs.rename(old, src)
      throw new java.io.IOException(s"compaction swap failed for $path")
    }
    fs.delete(old, true)
    var nAfter = 0L
    val it2 = fs.listFiles(src, true)
    while (it2.hasNext) {
      if (it2.next().getPath.getName.endsWith(".parquet")) nAfter += 1
    }
    (nBefore, nAfter, rows)
  }

  /** Retention for `batch=<id>` / `segment=<id>` sink trees — the
    * expiry half of the segment lifecycle ([[compactBatchSink]] is the
    * fold half; CK's TTL drops whole parts the same way,
    * `01_init.sql:30`): drop every segment directory whose batch id is
    * below `minBatchId`. Micro-batch ids are monotone in event time for
    * an append drain, so an id horizon IS a time horizon — and like
    * [[applyRetention]] the drop is metadata-only (one directory remove
    * per expired segment, no row ever scanned). Returns the dropped
    * ids, ascending.
    */
  def applySegmentRetention(spark: SparkSession, path: String,
                            minBatchId: Long): Seq[Long] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Nil
    val dropped = fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .flatMap { s =>
        val n = s.getPath.getName
        val id = n.split('=') match {
          case Array("batch" | "segment", v) => v.toLongOption
          case _ => None
        }
        id.filter(_ < minBatchId).map((_, s.getPath))
      }
      .sortBy(_._1)
    dropped.foreach { case (_, p) => fs.delete(p, true) }
    dropped.map(_._1)
  }

  /** INDEX-MODEL PERSISTENCE — the MergeTree durability contract
    * (`clickhouse/init/01_init.sql:27-31`: tables, including the
    * index-bearing state, survive restarts) applied to the engine's
    * ANN model artifacts: a production index is built ONCE, written,
    * and served from the loaded artifact — not rebuilt per session
    * (the repo's Memo tier is a per-process cache, not durability).
    * One named artifact = one parquet tree under `root/<name>` plus a
    * `_manifest.json` recording row count and schema; [[loadIndex]]
    * re-reads the tree and REFUSES a mismatched manifest (a truncated
    * copy or a schema-drifted writer must fail loudly, not serve
    * silently wrong answers). Model frames are slim (edge lists,
    * centroids, codebooks, code rows) and parquet round-trips
    * long/double/float columns bit-exactly, so a serve from the
    * loaded artifact is bit-identical to one from the in-session
    * build — the claim Round18Spec proves by killing the memo tier
    * and comparing.
    */
  def writeIndex(df: DataFrame, root: String, name: String): Unit = {
    val dir = s"$root/$name"
    df.write.mode("overwrite").parquet(dir)
    val spark = df.sparkSession
    val back = spark.read.parquet(dir)
    val rows = back.count()
    val schema = back.schema.map(f =>
      s"${f.name}:${f.dataType.simpleString}").mkString(",")
    val manifest = s"""{"rows": $rows, "schema": "$schema"}"""
    val p = new Path(dir, "_manifest.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(manifest.getBytes("UTF-8")) finally out.close()
  }

  def loadIndex(spark: SparkSession, root: String, name: String): DataFrame = {
    val dir = s"$root/$name"
    val df = spark.read.parquet(dir)
    val p = new Path(dir, "_manifest.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"index artifact $dir has no manifest")
    val in = fs.open(p)
    val manifest =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val rows = df.count()
    val schema = df.schema.map(f =>
      s"${f.name}:${f.dataType.simpleString}").mkString(",")
    val expected = s"""{"rows": $rows, "schema": "$schema"}"""
    require(manifest == expected,
      s"index artifact $dir fails manifest check:\n  stored   $manifest" +
        s"\n  observed $expected")
    df
  }

  def compactMonth(spark: SparkSession, path: String, month: Int,
                   targetFiles: Int = 1): Unit = {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try {
      spark.read.parquet(path)
        .filter(col("month") === month)
        .repartition(targetFiles)
        .sortWithinPartitions("month", "order_timestamp", "order_id")
        .write
        .mode("overwrite")
        .partitionBy("month")
        .parquet(path)
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
