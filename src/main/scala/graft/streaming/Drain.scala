package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import org.apache.spark.sql.types.StructType

/** One finite streaming drain: a staged file source read back one file
  * per micro-batch under `Trigger.AvailableNow`, each micro-batch's
  * projection written as its own `batch=<id>` tree — the batch query plus
  * a trigger (the Structured Streaming paper's framing). A drain states
  * only its query, its per-batch projection and its read-back; [[run]]
  * owns everything else: the scratch directories, the cloned session
  * sized by [[partitionsFor]], opening each staged source, the output
  * mode, the trigger, the checkpoint, the per-batch write and the
  * injected-crash recovery gate.
  */
final class Drain private (val session: SparkSession) {

  /** `src` as a streaming frame on the drain session, one staged file per
    * micro-batch, read with the schema it was written with.
    */
  def open(src: Drain.Staged): DataFrame =
    session.readStream.schema(src.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(src.dir)

  /** The drain's plan: `stream` runs to completion, and each micro-batch
    * writes `perBatch(batch)`.
    */
  def foreachBatch(stream: DataFrame)(
      perBatch: DataFrame => DataFrame): Drain.Plan =
    Drain.Plan(stream, perBatch)
}

object Drain {

  /** A staged source directory and the schema its files were written with. */
  final case class Staged(dir: String, schema: StructType)

  final case class Plan(stream: DataFrame, perBatch: DataFrame => DataFrame)

  /** Staged fixture sources keyed by (session, fixture name, every
    * parameter that shapes the files). Fixture scaffolding, not drain
    * work: in a deployment the source already exists. Not enrolled in
    * [[graft.ops.Memo.clearAll]], so a bench pass times the drain, not
    * the staging; the stream, its checkpoint and its output run fresh on
    * every call.
    */
  private[graft] val stagedSources =
    scala.collection.concurrent.TrieMap
      .empty[(SparkSession, String, Seq[Any]), Staged]

  /** `waves` written in order into one directory, memoized per (session,
    * `fixture`, `params`); `params` must name every parameter that shapes
    * the files. Each wave's new files are stamped strictly later than
    * every file of the waves before it, so the file source (which orders
    * files by modification time) reads the waves in order: a replay copy
    * after its originals, a far-future sentinel after every real row.
    * Each wave carries its own file shaping (`repartition`/`coalesce`).
    */
  def stageWaves(spark: SparkSession, fixture: String, params: Any*)(
      waves: => Seq[DataFrame]): Staged =
    stagedSources.getOrElseUpdate((spark, fixture, params),
      writeWaves(spark, fixture, waves))

  /** `frame` staged into a fresh directory on every call — the source of
    * a drain whose input is re-staged per run.
    */
  def stage(spark: SparkSession, fixture: String, frame: DataFrame): Staged =
    writeWaves(spark, fixture, Seq(frame))

  private def writeWaves(spark: SparkSession, fixture: String,
                         waves: Seq[DataFrame]): Staged = {
    val dir = java.nio.file.Files
      .createTempDirectory(s"graft_${fixture}_src").toString
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    def files() = fs.listStatus(path)
      .filter(_.getPath.getName.endsWith(".parquet"))
    waves.zipWithIndex.foreach { case (wave, k) =>
      val before = files()
      wave.write.mode("append").parquet(dir)
      if (k > 0) {
        // setTimes throws on failure: a silently unstamped wave could tie
        // with or precede real rows and be dropped by the watermark
        val stamp =
          before.map(_.getModificationTime).foldLeft(0L)(math.max) + 60000L
        val seen = before.map(_.getPath).toSet
        files().map(_.getPath).filterNot(seen)
          .foreach(fs.setTimes(_, stamp, -1L))
      }
    }
    Staged(dir, waves.head.schema)
  }

  /** Streaming-state parallelism for the drains — SCALE-AWARE: state-store
    * instances (and their per-micro-batch commits) scale with shuffle
    * partitions × stateful-operator sides, so the partition count tracks
    * per-batch VOLUME, never the host's core count. One micro-batch = one
    * staged file, so the sizing input is the largest staged file: one
    * state partition per [[TargetBatchBytes]] of micro-batch input, floor
    * 1, capped at the session's default parallelism. At fixture scale
    * every staged file is a few KB, so the derived value is 1, and the
    * results are partition-count invariant (pinned by the drain spec).
    */
  private[graft] val TargetBatchBytes: Long = 64L << 20

  /** The largest `.parquet` file under `dir` (0 when `dir` does not
    * exist), walked through Hadoop so it sizes a staged source on any
    * file system. The bytes are ON-DISK (compressed parquet): one state
    * partition's in-memory micro-batch is [[TargetBatchBytes]] times the
    * staged data's compression ratio.
    */
  private[graft] def maxStagedFileBytes(spark: SparkSession,
                                        dir: String): Long = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) 0L
    else graft.storage.Storage.leafFiles(fs, p)
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map(_.getLen).foldLeft(0L)(math.max)
  }

  /** Sized from the largest staged file across `srcDirs` (a drain that
    * streams several staged sources takes each trigger's file from any
    * of them); no known source dir derives 1.
    */
  private[graft] def partitionsFor(spark: SparkSession,
                                   srcDirs: String*): Int = {
    val dirs = srcDirs.filter(_ != null)
    if (dirs.isEmpty) 1
    else math.max(1L, math.min(
      spark.sparkContext.defaultParallelism.toLong,
      (dirs.map(maxStagedFileBytes(spark, _)).max +
        TargetBatchBytes - 1) / TargetBatchBytes)).toInt
  }

  /** Injected mid-drain crash for the checkpoint-recovery gates: armed
    * once, [[maybeCrash]] throws from foreachBatch AFTER the micro-batch's
    * sink write but BEFORE its checkpoint commit — the harshest failure
    * window (the sink holds the batch's output, the commit log doesn't
    * know). A restart from the same checkpoint must replay that batch;
    * exactly-once then rests on the per-batch `batch=<id>` overwrite
    * layout replacing, not duplicating, the replayed output.
    */
  private final class CrashArm(afterBatches: Int) {
    private val armed =
      new java.util.concurrent.atomic.AtomicBoolean(afterBatches > 0)
    def maybeCrash(batchId: Long): Unit =
      if (batchId + 1 >= afterBatches && armed.compareAndSet(true, false))
        throw new RuntimeException(
          s"graft injected crash after batch $batchId sink write")
    def fired: Boolean = afterBatches > 0 && !armed.get
  }

  /** Runs one drain and returns its output directory (`<out>/batch=<id>`
    * per micro-batch, read back with partition discovery).
    *
    * The plan is built on a CLONED session (`newSession()`: shared
    * SparkContext and caches, isolated SQLConf) carrying the drain confs —
    * `partitions` shuffle partitions (derived by [[partitionsFor]] from
    * `sources` when not given) plus `extra` (e.g. the RocksDB state-store
    * provider) — so batch queries planned concurrently on `spark` never
    * see them. The plan must build its frames from [[Drain.session]].
    *
    * `crashAfterBatches` > 0 injects a crash after that many micro-batch
    * writes: the first attempt dies, the second resumes from the SAME
    * checkpoint and state store and must drain to the batch-identical
    * result — the recovery contract of the reference's consumer loop
    * (`consumers/kafka_to_clickhouse.py:127-129`) upgraded to
    * exactly-once. A crash point the drain never reaches fails loudly.
    */
  def run(spark: SparkSession, name: String, sources: Seq[Staged],
          outputMode: String = "append",
          extra: Map[String, String] = Map.empty,
          crashAfterBatches: Int = 0,
          partitions: Option[Int] = None)(plan: Drain => Plan): String = {
    val tmp = java.nio.file.Files.createTempDirectory(name).toString
    val out = s"$tmp/out"
    val ds = spark.newSession()
    ds.conf.set("spark.sql.shuffle.partitions", partitions
      .getOrElse(partitionsFor(spark, sources.map(_.dir): _*)).toString)
    extra.foreach { case (k, v) => ds.conf.set(k, v) }
    val p = plan(new Drain(ds))
    val arm = new CrashArm(crashAfterBatches)
    def attempt(): Unit =
      p.stream.writeStream
        .outputMode(outputMode)
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", s"$tmp/ckpt")
        .foreachBatch { (batch: DataFrame, id: Long) =>
          // one small file per micro-batch, in the batch's OWN dir with
          // overwrite: a batch replayed after a crash between this write
          // and the checkpoint commit REPLACES its rows
          p.perBatch(batch).coalesce(1)
            .write.mode("overwrite").parquet(s"$out/batch=$id")
          arm.maybeCrash(id)
        }
        .start()
        .awaitTermination()
    if (crashAfterBatches > 0) {
      try attempt()
      catch { case e: StreamingQueryException if injected(e) => () }
      require(arm.fired,
        s"injected crash after $crashAfterBatches batches never fired " +
          "(fewer micro-batches than the crash point?)")
    }
    attempt()
    out
  }

  /** Bounded cause walk (no recursion): a cycle in an exotic exception
    * chain must not stack-overflow inside the handler and mask the
    * original failure.
    */
  private def injected(t0: Throwable): Boolean = {
    var t = t0
    var depth = 0
    while (t != null && depth < 20) {
      if (Option(t.getMessage).exists(_.contains("graft injected crash")))
        return true
      t = t.getCause
      depth += 1
    }
    false
  }
}
