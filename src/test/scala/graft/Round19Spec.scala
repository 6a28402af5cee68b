package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{KnnGraph, Memo, Similarity}
import graft.streaming.StreamAssembly

/** Round-19 closures (optimization round 2):
  *
  *  - scale-aware drain parallelism: the derived state-partition count
  *    follows staged micro-batch volume (floor 1, parallelism cap, env
  *    override), and a stateful drain's RESULT is invariant under the
  *    partition count — the contract that makes the knob safe to derive;
  *  - the restructured greedy descent (dedup by (q_id, v) aggregate
  *    riding hop 1's q_id clustering instead of a per-hop explicit
  *    repartition) keeps the whole descent's scheduled-job count flat —
  *    the r19 job-count optimization pinned as a ceiling.
  */
class Round19Spec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("drain partitions derive from staged batch volume: floor 1 at " +
       "fixture scale, ∝ bytes at volume, capped at parallelism") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_r19_drainparts").toString
    // a tiny staged file -> floor 1 (today's fixture posture)
    spark.range(10).write.mode("overwrite").parquet(dir)
    assert(StreamAssembly.drainPartitionsFor(spark, dir) === 1)
    // no source dir known -> floor 1
    assert(StreamAssembly.drainPartitionsFor(spark, null) === 1)
    // the derivation itself: one partition per target, rounded up,
    // capped at the session's default parallelism
    val target = StreamAssembly.DrainTargetBatchBytes
    val par = spark.sparkContext.defaultParallelism
    def derived(bytes: Long): Long =
      math.max(1L, math.min(par.toLong, (bytes + target - 1) / target))
    assert(derived(1L) === 1L)
    assert(derived(target) === 1L)
    assert(derived(target + 1) === math.min(par.toLong, 2L))
    assert(derived(target * 1000) === par.toLong)
    // the spec hook overrides the derivation (used below)
    StreamAssembly.drainPartitionsForTest = Some(7)
    try assert(StreamAssembly.drainPartitionsFor(spark, dir) === 7)
    finally StreamAssembly.drainPartitionsForTest = None
  }

  test("a stateful drain's result is state-partition-count invariant " +
       "(1 / 2 / 8) — the contract that makes the scale-aware default " +
       "safe") {
    def runAt(n: Int): Seq[org.apache.spark.sql.Row] = {
      StreamAssembly.drainPartitionsForTest = Some(n)
      try StreamAssembly.streamSessionWindows(spark, sf).collect().toSeq
      finally StreamAssembly.drainPartitionsForTest = None
    }
    val at1 = runAt(1)
    assert(at1.nonEmpty)
    assert(runAt(2) === at1)
    assert(runAt(8) === at1)
  }

  test("the full greedy descent schedules a bounded job count — the " +
       "hop-clustering reuse pin (one aggregate exchange + one window " +
       "exchange for the whole descent, not one repartition per hop)") {
    graft.functions.GraftFunctions.register(spark)
    Memo.clearAll()
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"),
        Similarity.dot(col("embedding"), col("embedding")).as("sq"))
    val idx = e.filter(col("vec_id") % 2 === 0)
    val qs = e.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("sq").as("q_sq"))
    val edges = KnnGraph.servingGraph(spark, sf)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      jobs.set(0)
      val beam = KnnGraph.greedySearch(qs, idx, edges)
      beam.write.format("noop").mode("overwrite").save()
      // listener events are async; wait until the bus has delivered
      // every event posted so far
      org.apache.spark.ListenerBusBridge.drain(spark.sparkContext)
      val n = jobs.get()
      // r18 (per-hop repartition): ~19 jobs; r19 (shared clustering):
      // 13 measured (broadcast materializations + hop-1's two
      // exchanges + checkpoint + noop re-read). The ceiling leaves AQE
      // slack but fails on a per-hop exchange regression
      // (SearchHops+1 scores × ≥1 job each would blow straight past
      // it).
      assert(n > 0 && n <= 14,
        s"descent scheduled $n jobs — per-hop exchanges are back?")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
