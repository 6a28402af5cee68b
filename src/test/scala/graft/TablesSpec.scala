package graft

import java.nio.file.Files

import org.apache.spark.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.ops.Memo

/** `Tables.table` resolves a table's parquet schema once per session and
  * file listing: a repeated read launches no schema-inference job, a
  * rewritten table is inferred afresh, and `Memo.clearAll` drops the memo.
  */
class TablesSpec extends SparkSpec {

  private def jobsDuring(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    ListenerBusBridge.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      body
      ListenerBusBridge.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    n.get()
  }

  test("a table's schema is inferred once per session and listing; " +
       "Memo.clearAll makes the next read infer again") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_tables_events").toString
    Seq((1L, java.sql.Timestamp.valueOf("2026-01-17 05:10:00")))
      .toDF("event_id", "ts").write.parquet(s"$dir/events.parquet")
    Memo.clearAll()
    assert(jobsDuring(Tables.events(spark, dir)) === 1)
    assert(jobsDuring(Tables.events(spark, dir)) === 0)
    Memo.clearAll()
    assert(jobsDuring(Tables.events(spark, dir)) === 1)
  }

  test("a rewritten table file is read with its new schema") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_tables_memo").toString
    val path = s"$dir/t.parquet"
    Seq((1L, "a")).toDF("id", "s").write.parquet(path)
    assert(Tables.table(spark, dir, "t").columns.toSeq === Seq("id", "s"))
    Seq((2L, "b", 3.5)).toDF("id", "s", "x")
      .write.mode("overwrite").parquet(path)
    val t = Tables.table(spark, dir, "t")
    assert(t.columns.toSeq === Seq("id", "s", "x"))
    assert(t.as[(Long, String, Double)].collect().toSeq === Seq((2L, "b", 3.5)))
  }
}
