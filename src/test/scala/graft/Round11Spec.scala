package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.ops.CorpusStats

/** Round-11 additions: batched BPE training (the production-vocabulary
  * path) — equivalence with the sequential loop at batchSize=1,
  * non-interaction of each round's batch, and the job-count scaling that
  * motivates batching (O(rounds) job waves, not O(merges)).
  */
class Round11Spec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("batched BPE with batchSize=1 reproduces the sequential merge " +
       "table exactly") {
    val seq = CorpusStats.bpeTrainMerges(spark, sf, rounds = 8)
      .select("rank", "pair", "n").collect().map(_.toSeq)
    val bat = CorpusStats.bpeTrainMergesBatched(spark, sf,
        rounds = 8, batchSize = 1)
      .select("rank", "pair", "n").collect().map(_.toSeq)
    assert(bat.toSeq === seq.toSeq)
  }

  test("batched BPE rounds are non-interacting and round-start-counted") {
    val rows = CorpusStats.bpeTrainMergesBatched(spark, sf,
        rounds = 3, batchSize = 6)
      .collect()
    assert(rows.nonEmpty)
    rows.groupBy(_.getAs[Long]("round")).foreach { case (round, rs) =>
      // within a round: pairwise-disjoint symbols (the batching contract)
      val syms = rs.flatMap(_.getAs[String]("pair").split(" "))
      assert(syms.length === syms.distinct.length,
        s"round $round shares a symbol: ${syms.mkString(",")}")
      // and no pair's symbol equals an EARLIER pick's merged token — the
      // fold would otherwise merge occurrences created mid-round,
      // breaking the round-start count freeze
      val ordered = rs.sortBy(_.getAs[Long]("rank"))
        .map(_.getAs[String]("pair").split(" "))
      ordered.zipWithIndex.foreach { case (p, i) =>
        val earlierConcats = ordered.take(i).map(_.mkString).toSet
        assert(!p.exists(earlierConcats),
          s"round $round pair ${p.mkString(" ")} uses an earlier concat")
      }
      // counts are round-start frozen → ranked non-increasing in-round
      val ns = rs.sortBy(_.getAs[Long]("rank")).map(_.getAs[Long]("n")).toSeq
      assert(ns === ns.sorted.reverse, s"round $round counts: $ns")
    }
    // global ranks dense across rounds
    val ranks = rows.map(_.getAs[Long]("rank")).sorted.toSeq
    assert(ranks === (1L to ranks.length))
  }

  test("batched BPE launches O(rounds) job waves, not O(merges): " +
       "batching at least halves jobs-per-merge vs sequential") {
    def countJobs(body: => Unit): Int = {
      val n = new java.util.concurrent.atomic.AtomicInteger(0)
      val l = new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit =
          n.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(l)
      try {
        body
        // listener events are async; wait until the bus has delivered
        // every event posted so far
        org.apache.spark.ListenerBusBridge.drain(spark.sparkContext)
      } finally spark.sparkContext.removeSparkListener(l)
      n.get()
    }
    graft.ops.Memo.clearAll()
    val seqJobs = countJobs {
      CorpusStats.bpeTrainMerges(spark, sf, rounds = 6).write
        .format("noop").mode("overwrite").save()
    }
    graft.ops.Memo.clearAll()
    var batMerges = 0L
    val batJobs = countJobs {
      val df = CorpusStats.bpeTrainMergesBatched(spark, sf,
        rounds = 1, batchSize = 6)
      batMerges = df.count()
    }
    assert(batMerges >= 4, s"batch under-filled: $batMerges of 6")
    // 6 sequential merges vs one 6-merge round: the batched path must
    // cost at most half the jobs per merge (it is ~1 round's constant)
    assert(batJobs * 2 <= seqJobs,
      s"batched $batJobs jobs for $batMerges merges vs sequential $seqJobs")
  }

  test("batched BPE counts are TRUE round-start counts: an in-test " +
       "reference tokenizer replays every round's corpus state") {
    import org.apache.spark.sql.Row
    val rows = CorpusStats.bpeTrainMergesBatched(spark, sf,
        rounds = 3, batchSize = 5)
      .collect().sortBy(_.getAs[Long]("rank"))
    assert(rows.nonEmpty)
    // reference corpus state: word -> (symbols, occurrence count)
    var words: Map[Vector[String], Long] = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy("w").agg(count(lit(1)).as("cnt")).collect()
      .map(r => r.getString(0).toVector.map(_.toString) -> r.getLong(1))
      .toMap
    def pairCount(l: String, r: String): Long =
      words.iterator.map { case (syms, cnt) =>
        cnt * syms.indices.dropRight(1)
          .count(i => syms(i) == l && syms(i + 1) == r)
      }.sum
    // greedy non-overlapping left-to-right merge, the replace() semantics
    def applyMerge(syms: Vector[String], l: String, r: String): Vector[String] = {
      val out = Vector.newBuilder[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
          out += (l + r); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.result()
    }
    rows.groupBy(_.getAs[Long]("round")).toSeq.sortBy(_._1).foreach {
      case (_, rs: Array[Row]) =>
        val picks = rs.sortBy(_.getAs[Long]("rank"))
        // every reported n must equal the count in the CURRENT (round-
        // start) corpus state — for every pick in the batch, not just
        // the first: the freeze contract
        picks.foreach { p =>
          val Array(l, r) = p.getAs[String]("pair").split(" ")
          assert(p.getAs[Long]("n") === pairCount(l, r),
            s"pair ($l,$r) count not frozen at round start")
        }
        // then fold the whole batch in rank order, as the engine does
        picks.foreach { p =>
          val Array(l, r) = p.getAs[String]("pair").split(" ")
          words = words.toSeq.map { case (syms, cnt) =>
            applyMerge(syms, l, r) -> cnt
          }.groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2).sum }
        }
    }
  }

  test("dHash band join finds exactly the brute-force Hamming-≤6 pairs") {
    import graft.multimodal.Multimodal
    val fp = Multimodal.imageDhash(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    // brute force over the spec corpus (images only, small)
    val brute = for {
      (a, ha) <- fp; (b, hb) <- fp if a < b
      hm = java.lang.Long.bitCount(ha ^ hb) if hm <= 6
    } yield (a % 10, hm)
    val expected = brute.groupBy(_._1).map { case (bkt, ps) =>
      (bkt, ps.length.toLong, ps.count(_._2 == 0).toLong,
        ps.map(_._2.toLong).sum, ps.map(_._2).max)
    }.toSeq.sortBy(_._1)
    val got = Multimodal.imageNearDups(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getInt(4))).toSeq
    assert(got === expected)
    // and the fixture genuinely exercises the near-dup tier
    assert(brute.nonEmpty)
  }

  test("streaming substring probe equals the batch odd-vs-even probe " +
       "and reconciles with the batch self-dedup's coverage discipline") {
    import graft.ops.Dedup
    val k = Dedup.SpanK
    val streamed = graft.streaming.StreamAssembly
      .streamSubstrProbe(spark, sf, nFiles = 4).collect()
    // batch recompute: odd docs' k-gram windows vs even docs' gram set
    def toks(parity: Int) = Tables.documents(spark, sf)
      .filter(col("doc_id") % 2 === parity)
      .withColumn("ws", split(col("text"), " "))
      .filter(size(col("ws")) >= k)
    val hist = toks(0).select(explode(expr(
        s"transform(sequence(1, size(ws) - ${k - 1})," +
          s" i -> array_join(slice(ws, i, $k), ' '))")).as("gram"))
      .distinct()
    val incoming = toks(1).select(col("doc_id"),
      size(col("ws")).cast("long").as("n_tok"), col("ws"))
    val cov = incoming.select(col("doc_id"), explode(expr(
        s"""transform(sequence(1, size(ws) - ${k - 1}),
           |  i -> struct(i AS start,
           |              array_join(slice(ws, i, $k), ' ') AS gram))"""
          .stripMargin)).as("g"))
      .select(col("doc_id"), col("g.start").as("start"), col("g.gram").as("gram"))
      .join(hist, Seq("gram"), "left_semi")
      .select(col("doc_id"),
        explode(sequence(col("start"), col("start") + lit(k - 1))).as("p"))
      .distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup_tok"))
    val batch = incoming.drop("ws")
      .join(cov, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tok"),
        coalesce(col("n_dup_tok"), lit(0L)).as("n_dup_tok"))
      .orderBy("doc_id").collect()
    assert(streamed.map(_.toSeq).toSeq === batch.map(_.toSeq).toSeq)
    // coverage sanity: every per-doc dup count is bounded by its tokens
    streamed.foreach { r =>
      assert(r.getAs[Long]("n_dup_tok") <= r.getAs[Long]("n_tok"))
    }
  }

  test("ScaleUp replication keeps mod-derived distributions copy-" +
       "invariant and foreign keys aligned") {
    val dest = java.nio.file.Files
      .createTempDirectory("scaleup").toString + "/sf"
    graft.tools.ScaleUp.run(spark, sf, dest, factor = 2)
    def t(n: String) = spark.read.parquet(s"$dest/$n.parquet")
    def src(n: String) = spark.read.parquet(s"$sf/$n.parquet")
    // volumes ×2 for facts, dims untouched
    assert(t("lineitem").count() === 2 * src("lineitem").count())
    assert(t("documents").count() === 2 * src("documents").count())
    assert(t("nation").count() === src("nation").count())
    // the media-type split (doc_id % 3) is exactly doubled per class
    val byType = t("documents")
      .groupBy((col("doc_id") % 3).as("m")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val srcByType = src("documents")
      .groupBy((col("doc_id") % 3).as("m")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byType === srcByType.map { case (k, v) => k -> 2 * v })
    // FK alignment: no orphans in either direction of the star
    assert(t("orders").join(t("customer"),
      col("o_custkey") === col("c_custkey"), "left_anti").count() === 0)
    assert(t("lineitem").join(t("orders"),
      col("l_orderkey") === col("o_orderkey"), "left_anti").count() === 0)
    // copies are disjoint: key count exactly doubles
    assert(t("orders").select("o_orderkey").distinct().count() ===
      2 * src("orders").select("o_orderkey").distinct().count())
  }
}
