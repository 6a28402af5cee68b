package graft

import org.apache.spark.sql.functions._

import graft.ops.{KnnGraph, Memo, Similarity}

/** Round-19 closures (optimization round 2):
  *
  *  - the restructured greedy descent (dedup by (q_id, v) aggregate
  *    riding hop 1's q_id clustering instead of a per-hop explicit
  *    repartition) keeps the whole descent's scheduled-job count flat —
  *    the r19 job-count optimization pinned as a ceiling.
  */
class Round19Spec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

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
