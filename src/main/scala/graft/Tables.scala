package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Uniform access to the driver-provided parquet tables
  * (`/root/testdata/sf*`; see TESTDATA.md / FIXTURES.md §B).
  */
object Tables {

  /** Inferred parquet schemas keyed by (session, path, listing signature:
    * every file's path, length and mtime). Inference launches a one-task
    * footer job, which every dashboard read paid once per table it
    * scans. A rewritten table changes its signature and is inferred
    * afresh. Cleared by [[graft.ops.Memo.clearAll]], so a bench pass that
    * clears the memos reads cold.
    */
  private val schemaMemo = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, Seq[(String, Long, Long)]), StructType]
  graft.ops.Memo.onClear(() => schemaMemo.clear())

  private def listingSignature(spark: SparkSession,
                               path: String): Seq[(String, Long, Long)] = {
    val p = new org.apache.hadoop.fs.Path(path)
    graft.storage.Storage.leafFiles(
      p.getFileSystem(spark.sessionState.newHadoopConf()), p)
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
      .sorted
  }

  /** Reads `<sfDir>/<name>.parquet` with its schema resolved once per
    * session and listing signature (see [[schemaMemo]]) and passed to
    * `spark.read.schema`, so a repeated read launches only its own jobs.
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // Older fixture generations wrote events.ts as parquet TIMESTAMP(NANOS),
    // which the Spark reader rejects ([PARQUET_TYPE_ILLEGAL]) unless read as
    // LONG; newer generations write TIMESTAMP(MICROS) without a timezone,
    // which reads as TIMESTAMP_NTZ. Normalize both to session-TZ TimestampType
    // (every entry point pins spark.sql.session.timeZone=UTC, so the NTZ→LTZ
    // cast is instant-preserving and matches the old nanos-epoch semantics).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$sfDir/$name.parquet"
    val schema = schemaMemo.getOrElseUpdate(
      (spark, path, listingSignature(spark, path)),
      spark.read.parquet(path).schema)
    val df = spark.read.schema(schema).parquet(path)
    if (name == "events") df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // nanos since epoch → TimestampType (µs). `div` keeps integer math.
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    } else df
  }

  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Undo the fixture's single-split artifact for compute-heavy map-side
    * stages. Each testdata table is ONE parquet file with ONE row group,
    * and Spark parallelizes parquet scans only at row-group boundaries —
    * so without an explicit spread, every row-local transform chained on a
    * scan (shingling, per-shingle digests, JSON encode/decode, vector
    * folds) executes as a single task no matter how many cores exist
    * (measured 4× on the embedding near-dup sweep at local[32]).
    *
    * Use ONLY in operators whose dominant cost is row-local compute, not
    * before plain aggregates: partial aggregation belongs BEFORE the
    * exchange (map-side combine), and a production multi-split scan makes
    * this a redundant narrow-ish shuffle.
    */
  def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Register every testdata table as a temp view, enabling the ad-hoc
    * `spark.sql` surface (the reference's Metabase/EP3 query path and its
    * declared-but-missing query CLI — SURVEY.md §0).
    */
  def registerAll(s: SparkSession, d: String): Unit =
    names.foreach(n => table(s, d, n).createOrReplaceTempView(n))

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = table(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
