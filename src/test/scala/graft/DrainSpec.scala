package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.ops.Memo
import graft.streaming.{Drain, StreamAssembly}

/** The finite-drain skeleton: scale-aware state partitions passed per
  * call, result invariance under the partition count, wave ordering of
  * the staged sources, and which memos a bench pass clears.
  */
class DrainSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("drain partitions derive from staged batch volume: floor 1 at " +
       "fixture scale, ∝ bytes at volume, capped at parallelism") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_r19_drainparts").toString
    // a tiny staged file -> floor 1 (today's fixture posture)
    spark.range(10).write.mode("overwrite").parquet(dir)
    assert(Drain.partitionsFor(spark, dir) === 1)
    // no source dir known -> floor 1
    assert(Drain.partitionsFor(spark, null) === 1)
    // the derivation itself: one partition per target, rounded up,
    // capped at the session's default parallelism
    val target = Drain.TargetBatchBytes
    val par = spark.sparkContext.defaultParallelism
    def derived(bytes: Long): Long =
      math.max(1L, math.min(par.toLong, (bytes + target - 1) / target))
    assert(derived(1L) === 1L)
    assert(derived(target) === 1L)
    assert(derived(target + 1) === math.min(par.toLong, 2L))
    assert(derived(target * 1000) === par.toLong)
    // a count passed to the drain overrides the derivation (used below)
    val src = Drain.stage(spark, "drainparts", spark.range(10).toDF())
    var seen = ""
    Drain.run(spark, "graft_drainparts", Seq(src), partitions = Some(7)) { d =>
      d.foreachBatch(d.open(src)) { batch =>
        seen = batch.sparkSession.conf.get("spark.sql.shuffle.partitions")
        batch
      }
    }
    assert(seen === "7")
  }

  test("a stateful drain's result is state-partition-count invariant " +
       "(1 / 2 / 8) — the contract that makes the scale-aware default " +
       "safe") {
    def runAt(n: Int): Seq[org.apache.spark.sql.Row] =
      StreamAssembly.streamSessionWindows(spark, sf, partitions = Some(n))
        .collect().toSeq
    val at1 = runAt(1)
    assert(at1.nonEmpty)
    assert(runAt(2) === at1)
    assert(runAt(8) === at1)
  }

  test("stageWaves gives every file of wave k+1 a strictly later " +
       "modification time than every file of wave k") {
    import spark.implicits._
    val waves = (0 until 3).map(k =>
      spark.range(40).select(lit(k).as("wave"), col("id")).repartition(3))
    val src = Drain.stageWaves(spark, "drainspec_waves", 3)(waves)
    assert(src.schema === waves.head.schema)
    val waveOf = spark.read.parquet(src.dir)
      .select(input_file_name(), col("wave")).distinct().as[(String, Int)]
      .collect().map { case (f, k) => new Path(f).getName -> k }.toMap
    val path = new Path(src.dir)
    val mtimes = path.getFileSystem(spark.sessionState.newHadoopConf())
      .listStatus(path).filter(_.getPath.getName.endsWith(".parquet"))
      .toSeq.groupBy(st => waveOf(st.getPath.getName))
      .map { case (k, sts) => k -> sts.map(_.getModificationTime) }
    assert(mtimes.keySet === Set(0, 1, 2))
    assert(mtimes.values.forall(_.size == 3))
    (0 until 2).foreach(k => assert(mtimes(k).max < mtimes(k + 1).min))
  }

  test("the staged-source memo survives Memo.clearAll and the " +
       "drain-directory memo does not") {
    def listing(dir: String) = {
      val p = new Path(dir)
      p.getFileSystem(spark.sessionState.newHadoopConf()).listStatus(p)
        .map(st => st.getPath.getName -> st.getModificationTime).toSet
    }
    val first = StreamAssembly.streamStaticEnrich(spark, sf).collect().toSeq
    val staged = Drain.stagedSources.toMap
    val files = staged.values.map(s => s.dir -> listing(s.dir)).toMap
    Memo.clearAll()
    assert(StreamAssembly.streamStaticEnrich(spark, sf).collect().toSeq ===
      first)
    assert(Drain.stagedSources.toMap === staged)
    assert(staged.values.map(s => s.dir -> listing(s.dir)).toMap === files)

    def tombstones() = StreamAssembly.drainTombstones(spark, sf,
      StreamAssembly.tombstoneFixture, nFiles = 3, crashAfterBatches = 0)
    val drained = tombstones()
    assert(tombstones() === drained)
    Memo.clearAll()
    val redrained = tombstones()
    assert(redrained !== drained)
    def ids(dir: String) =
      spark.read.parquet(dir).select("vec_id").as(
        org.apache.spark.sql.Encoders.scalaLong).collect().sorted.toSeq
    assert(ids(redrained) === ids(drained))
  }
}
