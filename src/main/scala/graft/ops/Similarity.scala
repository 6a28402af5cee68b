package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.GraftFunctions

/** Similarity search over the `embeddings` table (ARRAY<FLOAT>, dim 64).
  *
  * Brute-force cosine top-k is the correctness baseline (one pass over the
  * corpus per query vector — at cluster scale a broadcast of the query
  * side); the random-hyperplane LSH variant is the scale path (bucketed
  * shuffle join instead of full cross product).
  *
  * Numeric determinism: dot products fold left-to-right in DOUBLE over
  * float→double casts — the same operation order as DuckDB's list_sum, so
  * scores are bit-identical across engines, no rounding needed.
  *
  * The folds run as the native codegen expressions `vec_dot`/`vec_norm`
  * ([[graft.functions.DotProduct]]/[[graft.functions.NormL2]]): the HOF
  * formulation (`aggregate(zip_with(…))`) is interpreted with per-element
  * boxing and measured ~30 s on the sf0.1 near-dup sweep; the codegen loop
  * stays inside whole-stage codegen.
  */
object Similarity {

  /** Sequential-fold dot product, in double (codegen expression). */
  def dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  /** L2 norm, same fold discipline (codegen expression). */
  def norm2(a: Column): Column = call_function("vec_norm", a)

  /** Brute-force cosine top-k against the embedding of `queryId`. The query
    * row is a 1-row broadcast; the scan is a single projection+filter over
    * the corpus followed by TakeOrderedAndProject — no shuffle of the
    * corpus, scales linearly and parallelizes perfectly.
    */
  def bruteForceTopK(spark: SparkSession, sfDir: String, queryId: Long = 0L,
                     k: Int = 10): DataFrame = {
    GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, sfDir)
    val q = e.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"), norm2(col("embedding")).as("q_nrm"))
    e.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        (dot(col("embedding"), col("q_emb")) /
          (norm2(col("embedding")) * col("q_nrm"))).as("cosine"))
      .orderBy(desc("cosine"), asc("vec_id"))
      .limit(k)
  }

  /** Random-hyperplane LSH signature: `nPlanes` hyperplanes with ±1
    * components derived deterministically from md5(plane, dim) parity —
    * reproducible anywhere, no RNG state. Vectors agreeing on the signature
    * land in the same bucket.
    */
  def lshSignature(emb: Column, dim: Int, nPlanes: Int): Column =
    call_function("vec_lsh_sig", emb, lit(nPlanes))

  /** IVF (inverted-file) ANN top-k — the cell-probing scale path: the
    * corpus is coarse-quantized into `nCells` cells (assignment = argmax
    * cosine against the centroid set, ties to the lowest centroid id); a
    * query probes only the `nProbe` cells nearest its vector and ranks
    * candidates by exact cosine.
    *
    * Centroids here are seed vectors (the first `nCells` vec_ids) rather
    * than k-means output: assignment stays a pure deterministic function
    * of the input (k-means iteration order isn't engine-portable), which
    * is what makes the query oracle-checkable. At cluster scale the
    * centroid set is a broadcast (nCells rows), assignment is one
    * scan + map-side partial argmax — the shuffle carries one row per
    * vector — and the probe is a cell-key equi-join: the corpus is never
    * cross-joined. Swapping in offline-trained centroids changes recall,
    * not the plan.
    */
  def ivfTopK(spark: SparkSession, sfDir: String, queryId: Long = 0L,
              k: Int = 10, nCells: Int = 16, nProbe: Int = 4): DataFrame = {
    GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"), col("embedding"),
        norm2(col("embedding")).as("nrm"))
    val cents = e.filter(col("vec_id") < nCells)
      .select(col("vec_id").as("cid"), col("embedding").as("c_emb"),
        col("nrm").as("c_nrm"))
    val scored = e.crossJoin(broadcast(cents))
      .withColumn("ccos",
        dot(col("embedding"), col("c_emb")) / (col("nrm") * col("c_nrm")))
    // argmax over the centroid axis via max(struct): compares ccos first,
    // then -cid — identical selection to ORDER BY ccos DESC, cid ASC
    val assigned = scored.groupBy("vec_id")
      .agg(max(struct(col("ccos"), (-col("cid")).as("ncid"))).as("best"),
        first("label").as("label"), first("embedding").as("embedding"),
        first("nrm").as("nrm"))
      .select(col("vec_id"), (-col("best.ncid")).as("cell"),
        col("label"), col("embedding"), col("nrm"))
    val qCells = scored.filter(col("vec_id") === queryId)
      .orderBy(desc("ccos"), asc("cid"))
      .limit(nProbe)
      .select(col("cid").as("probe_cell"))
    val q = e.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    assigned.filter(col("vec_id") =!= queryId)
      .join(broadcast(qCells), col("cell") === col("probe_cell"), "left_semi")
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("label"),
        (dot(col("embedding"), col("q_emb")) /
          (col("nrm") * col("q_nrm"))).as("cosine"))
      .orderBy(desc("cosine"), asc("vec_id"))
      .limit(k)
  }

  /** ANN top-k via banded LSH: candidates = vectors agreeing with the
    * query on at least one of `nBands` bands of `bandBits` hyperplane
    * bits, ranked by exact cosine. The (b, L) calculus matches
    * [[graft.ops.Dedup.embeddingNearDupsLsh]]: this corpus's nearest
    * neighbours sit at cosine 0.28–0.4 (per-plane disagreement ≈ 0.4),
    * where the former 8-plane Hamming-1 probe recalled ~10% of the true
    * top-k — banding b=3, L=21 over 63 planes lifts per-neighbour
    * inclusion to 1-(1-0.6³)²¹ ≈ 0.99 (recall vs brute force asserted in
    * the spec suite). In a real index the 21 band keys are bucket
    * LOOKUPS; over the fixture corpus the same predicate runs as a scan
    * filter against the broadcast query row.
    */
  def annTopK(spark: SparkSession, sfDir: String, queryId: Long = 0L,
              k: Int = 10, bandBits: Int = 3, nBands: Int = 21): DataFrame = {
    GraftFunctions.register(spark)
    val nPlanes = bandBits * nBands
    require(nPlanes <= 64, "signature is one 64-bit word")
    val mask = (1L << bandBits) - 1
    val e = Tables.embeddings(spark, sfDir)
      .withColumn("sig", lshSignature(col("embedding"), dim = 64, nPlanes = nPlanes))
    val q = e.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"), norm2(col("embedding")).as("q_nrm"),
        col("sig").as("q_sig"))
    val anyBandAgrees = (0 until nBands).map(j =>
        shiftright(col("sig").bitwiseXOR(col("q_sig")), j * bandBits)
          .bitwiseAND(mask) === 0)
      .reduce(_ || _)
    e.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .filter(anyBandAgrees)
      .select(col("vec_id"), col("label"),
        (dot(col("embedding"), col("q_emb")) /
          (norm2(col("embedding")) * col("q_nrm"))).as("cosine"))
      .orderBy(desc("cosine"), asc("vec_id"))
      .limit(k)
  }

  /** Semantic train/test leakage — decontamination by embedding similarity
    * rather than n-gram overlap (the "semantic dedup" complement of
    * [[graft.ops.TrainingSets.contaminationCheck]]): a held-out vector is
    * leaked if some training vector sits within cosine ≥ `threshold`.
    * Split is the same deterministic md5-bucket coin as the text split
    * ([[TrainingSets.bucket100]], 80/20 on vec_id). The probe is the exact
    * broadcast scan with the SMALL (held-out, 20%) side broadcast and the
    * train side streaming — the side that grows with the corpus is never
    * shipped; at index scale the identical predicate runs through the
    * banded LSH machinery of [[graft.ops.Dedup.embeddingNearDupsLsh]]
    * (same signature scheme, train side bucketed) — the plan swap changes
    * recall, not semantics. Reported per label: held-out count and how
    * many leak.
    */
  def embeddingContamination(spark: SparkSession, sfDir: String,
                             threshold: Double = 0.4): DataFrame = {
    GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"), col("embedding"),
        norm2(col("embedding")).as("nrm"),
        TrainingSets.bucket100(col("vec_id")).as("bk"))
    val train = e.filter(col("bk") < 80)
      .select(col("embedding").as("t_emb"), col("nrm").as("t_nrm"))
    val test = e.filter(col("bk") >= 80)
    val testSlim = test.select(col("vec_id").as("t_id"),
      col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    // single-file corpus → one input split; spread the streamed train side
    // so the O(train×test) dot products use every core (no-op at real
    // scale), and broadcast the held-out slice (the bounded side)
    val leaked = train.repartition(spark.sparkContext.defaultParallelism)
      .join(broadcast(testSlim),
        dot(col("t_emb"), col("q_emb")) /
          (col("t_nrm") * col("q_nrm")) >= threshold)
      .select(col("t_id").as("vec_id")).distinct()
      .withColumn("hit", lit(1L))
    test.join(leaked, Seq("vec_id"), "left_outer")
      .groupBy("label")
      .agg(count(lit(1)).as("n_test"),
        sum(coalesce(col("hit"), lit(0L))).cast("long").as("n_leaked"))
      .orderBy("label")
  }

  /** Lloyd's k-means over the embedding corpus — the offline trainer for
    * the [[ivfTopK]] coarse quantizer (reference's ANN role; clustering is
    * standard IVF index construction, public knowledge e.g. the FAISS
    * IVF-train step). Two assignment rounds with one centroid update in
    * between, seeded from the first `k` vec_ids; returns per-cluster size
    * and within-cluster sum of squared distances (the k-means objective).
    *
    * Engine-portable determinism (what makes an ITERATIVE float algorithm
    * oracle-checkable at all):
    *   - distances use the expansion ‖x‖² + ‖c‖² − 2·x·c where each term is
    *     a left-to-right double fold (`vec_dot` ≡ DuckDB `list_sum`) — same
    *     operation order, bit-identical scores;
    *   - argmin ties break to the lowest centroid id via `min(struct)`;
    *   - the centroid update and the WCSS report sum in DECIMAL, which is
    *     exact and associative — float sums depend on partition merge
    *     order, decimal sums cannot, so the result is independent of
    *     parallelism (the property that keeps a 1000-executor run and the
    *     single-threaded oracle byte-identical).
    *
    * Scale shape: centroids are a k-row broadcast; assignment is one scan
    * with a map-side partial `min(struct)` (the shuffle carries one row per
    * vector); the update is a posexplode + (cluster, dim) partial-agg —
    * k·dim result rows. No step materializes a pairwise matrix, so the
    * plan is the one you'd run at 100 TB (more Lloyd rounds = repeat the
    * same two exchanges).
    */
  /** Cluster count shared by [[kmeansClusters]] and its registered DuckDB
    * oracle (SparkEntry interpolates this constant into the SQL) — a
    * parameter here with a hardcoded oracle let the two silently drift.
    */
  val KmeansK: Int = 8

  /** The 2-round Lloyd assignment underlying [[kmeansClusters]] (and
    * [[semDedup]]): (vec_id, cid, dist, embedding) after seed-assign →
    * decimal-exact centroid update → re-assign. Factored out so the
    * SemDeDup pruner runs on the SAME deterministic clustering the
    * kmeans gate pins.
    */
  private[ops] def kmeansAssign(spark: SparkSession,
                                sfDir: String): DataFrame =
    kmeansModel(spark, sfDir)._2

  /** [[kmeansAssign]] with the final centroid table alongside —
    * (cents(cid, cemb, csq), assigned) — so audits that need both the
    * assignment and the centroids ([[clusterQuality]]) run on the SAME
    * deterministic clustering.
    */
  private[ops] def kmeansModel(spark: SparkSession,
                               sfDir: String): (DataFrame, DataFrame) = {
    val k = KmeansK
    GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"),
        dot(col("embedding"), col("embedding")).as("sq"))
    val c0 = e.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("embedding").as("cemb"),
        col("sq").as("csq"))
    // one Lloyd assignment: argmin over the broadcast centroid axis
    def assign(cents: DataFrame): DataFrame =
      e.crossJoin(broadcast(cents))
        .withColumn("dist",
          col("sq") + col("csq") - lit(2.0) * dot(col("embedding"), col("cemb")))
        .groupBy("vec_id")
        .agg(min(struct(col("dist"), col("cid"))).as("best"),
          first("embedding").as("embedding"))
        .select(col("vec_id"), col("best.cid").as("cid"),
          col("best.dist").as("dist"), col("embedding"))
    val a1 = assign(c0)
    // centroid update: exact decimal mean per (cluster, dim) — order-free
    val m1 = a1.select(col("cid"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("cid", "pos")
      .agg((sum(col("v").cast("double").cast("decimal(30,15)")).cast("double") /
        count(lit(1))).as("comp"))
    val c1 = m1.groupBy("cid")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("comp")))),
        x => x.getField("comp")).as("cemb"))
      .withColumn("csq", dot(col("cemb"), col("cemb")))
    (c1, assign(c1))
  }

  def kmeansClusters(spark: SparkSession, sfDir: String): DataFrame = {
    kmeansAssign(spark, sfDir)
      .groupBy("cid")
      // sum of decimal(30,12) → decimal(38,12), exact in both engines.
      // The REPORT is quantized to 6 places (decimal round = HALF_UP in
      // both Spark and DuckDB for positive values, verified) because the
      // per-row `dist` is a double BEFORE the decimal cast: an oracle
      // engine folding `list_sum` in a different order can move the sum by
      // ~1 ulp, which a full-scale decimal hash would surface. 6 decimal
      // digits sit far above double noise and far below the signal.
      // Round-then-upcast — a direct decimal downcast would truncate in
      // DuckDB but round in Spark.
      .agg(count(lit(1)).as("n"),
        round(sum(col("dist").cast("decimal(30,12)")), 6)
          .cast("decimal(38,6)").as("wcss"))
      .select(col("cid").as("cluster"), col("n"), col("wcss"))
      .orderBy("cluster")
  }

  /** Davies–Bouldin clustering-quality audit over the SAME 2-round
    * Lloyd clustering the kmeans gate pins (Davies & Bouldin 1979,
    * "A Cluster Separation Measure" — public method): per cluster i,
    * scatter Sᵢ = mean squared member–centroid distance, and the DB
    * component maxⱼ≠ᵢ (Sᵢ+Sⱼ)/M²ᵢⱼ where M²ᵢⱼ is the squared centroid
    * separation — high components flag cluster pairs that should merge
    * (the k-selection signal of a production clustering loop, e.g.
    * sizing SemDeDup's k). Reported per cluster with the worst
    * partner; the global DB index is the mean of the k components.
    *
    * Float discipline: the per-row dist and the centroid separations
    * are the bit-identical doubles every kmeans surface replays; both
    * are floored to BIGINT micro-units AT SOURCE (the dsir/bm25
    * pattern), after which scatter (integer DIV mean), ratio (ppm via
    * DECIMAL(38,0) cross-multiply) and argmax are exact integer ops.
    *
    * Scale shape: one corpus pass (the assignment) + a k-sized
    * centroid frame; all pairwise work is k² rows. The corpus never
    * appears in a pair frame.
    */
  def clusterQuality(spark: SparkSession, sfDir: String): DataFrame = {
    val (c1, a2) = kmeansModel(spark, sfDir)
    val per = a2
      .withColumn("d2u", floor(col("dist") * lit(1e6)).cast("long"))
      .groupBy("cid")
      .agg(count(lit(1)).as("n"), sum("d2u").as("sd"))
      .withColumn("scatter_u", expr("sd DIV n"))
      .select(col("cid"), col("n"), col("scatter_u"))
    val cc = c1.select(col("cid"), col("cemb"), col("csq"))
    val pairs = cc.as("a").crossJoin(broadcast(cc.as("b")))
      .filter(col("a.cid") =!= col("b.cid"))
      .select(col("a.cid").as("cid"), col("b.cid").as("partner"),
        floor((col("a.csq") + col("b.csq") -
          lit(2.0) * dot(col("a.cemb"), col("b.cemb"))) * lit(1e6))
          .cast("long").as("m2u"))
    pairs
      .join(broadcast(per.select(col("cid").as("partner"),
        col("scatter_u").as("s_b"))), Seq("partner"))
      .join(broadcast(per.select(col("cid"), col("n"),
        col("scatter_u").as("s_a"))), Seq("cid"))
      // NULL-guarded like linregSolve: coincident Lloyd centroids
      // (empty/duplicate cluster) make m2u 0 or −1, where Spark's
      // non-ANSI DIV yields NULL but DuckDB's // raises — and a
      // negative denominator would break the nonneg-DIV discipline
      .withColumn("ratio_ppm", expr(
        """CASE WHEN m2u <= 0 THEN NULL
          ELSE CAST(CAST(s_a + s_b AS DECIMAL(38,0)) * 1000000
            DIV m2u AS BIGINT) END"""))
      .groupBy(col("cid"), col("n"), col("s_a"))
      .agg(max(struct(col("ratio_ppm"), col("partner"))).as("best"))
      .select(col("cid").as("cluster"), col("n"),
        col("s_a").as("scatter_u"), col("best.partner").as("worst_partner"),
        col("best.ratio_ppm").as("db_ratio_ppm"))
      .orderBy("cluster")
  }

  /** Point-level clustering audit: the silhouette coefficient
    * (Rousseeuw 1987 — public method) with MEAN SQUARED distances,
    * which makes the naive O(n²) pair enumeration collapse to O(n·k)
    * via per-cluster sufficient statistics — for any point x and
    * cluster B, Σ_{y∈B}|x−y|² = n_B|x|² − 2·x·S_B + Q_B, so three
    * broadcast numbers per cluster (count, component-sum vector S,
    * squared-norm sum Q) replace every pairwise distance. THE
    * pattern that survives 100 TB: the corpus is scanned once and
    * never appears in a pair frame.
    *
    * Per point: a = mean sq-dist to own cluster (n−1 denominator,
    * singleton clusters excluded per the standard), b = min over
    * other clusters of the mean sq-dist, s = (b−a)/max(a,b).
    * Reported per cluster: n, Σs (integer ppm), min/max s.
    *
    * Float discipline: S and Q accumulate in DECIMAL (order-free)
    * and every per-(point, cluster) mean floors to BIGINT
    * micro-units at source (the ivfpq_distortion fix — micro-floors
    * absorb the decimal→double rounding asymmetry); the silhouette
    * ratio is then a sign-split nonnegative integer DIV (signed
    * division semantics differ across engines) and the rollup sums
    * exact BIGINTs.
    */
  def silhouetteSq(spark: SparkSession, sfDir: String): DataFrame = {
    val (_, a2) = kmeansModel(spark, sfDir)
    val withSq = a2.select(col("vec_id"), col("cid"), col("embedding"))
      .withColumn("sq", dot(col("embedding"), col("embedding")))
    val svec = withSq
      .select(col("cid"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("cid", "pos")
      .agg(sum(col("v").cast("double").cast("decimal(30,15)"))
        .cast("double").as("sv"))
      .groupBy("cid")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("sv")))),
        x => x.getField("sv")).as("svec"))
    val stats = withSq.groupBy("cid")
      .agg(count(lit(1)).as("cn"),
        sum(col("sq").cast("decimal(30,12)")).cast("double").as("qsum"))
      .join(svec, "cid")
      .select(col("cid").as("bcid"), col("cn"), col("qsum"), col("svec"))
    val du = withSq
      .crossJoin(broadcast(stats))
      .withColumn("den",
        when(col("cid") === col("bcid"), col("cn") - 1).otherwise(col("cn")))
      .filter(col("den") > 0)
      .withColumn("du", floor(
        ((col("cn").cast("double") * col("sq") -
          lit(2.0) * dot(col("embedding"), col("svec")) + col("qsum")) /
          col("den").cast("double")) * lit(1e6)).cast("long"))
    du.groupBy("vec_id", "cid")
      .agg(max(when(col("cid") === col("bcid"), col("du"))).as("a_u"),
        min(when(col("cid") =!= col("bcid"), col("du"))).as("b_u"))
      .filter(col("a_u").isNotNull)
      .withColumn("s_ppm",
        when(greatest(col("a_u"), col("b_u")) <= 0, lit(0L))
          .when(col("b_u") >= col("a_u"),
            expr("(b_u - a_u) * 1000000 DIV greatest(a_u, b_u)"))
          .otherwise(-expr("(a_u - b_u) * 1000000 DIV greatest(a_u, b_u)")))
      .groupBy(col("cid").as("cluster"))
      .agg(count(lit(1)).as("n"), sum("s_ppm").as("sum_s_ppm"),
        min("s_ppm").as("min_s_ppm"), max("s_ppm").as("max_s_ppm"))
      .orderBy("cluster")
  }

  /** Power-iteration rounds shared by the operator and its oracle —
    * interpolated into both so they cannot drift.
    */
  val PcaRounds: Int = 8

  /** Top principal component of the embedding corpus by power
    * iteration over the exact integer Gram matrix — the
    * dimensionality-reduction primitive of an embedding pipeline
    * (which axes carry the variance; PCA-whitening's first step),
    * with the ENTIRE chain hash-exact:
    *
    *  1. quantize: x = ⌊10⁶·component⌋ (one IEEE multiply — exact);
    *  2. center about the sign-split-floored integer per-dim mean;
    *  3. Gram: G[i][j] = Σ c_i·c_j in DECIMAL(38,0) — d² = 4096
    *     cells, accumulated by a flat-map + partial aggregate (the
    *     shuffle carries ≤ 4096 rows PER PARTITION regardless of
    *     corpus size; the d²·n multiply cost is the exact-Gram price
    *     and is embarrassingly parallel);
    *  4. [[PcaRounds]] power-iteration rounds on the 4096-row G:
    *     w = G·v, then v ← sign·⌊10⁶·|w|/max|w|⌋ — the max-abs
    *     normalization replaces the usual (non-portable) L2 sqrt, so
    *     every iterate is an exact integer both engines agree on.
    *
    * Reported per dimension: the loading in ppm of the max-abs
    * component, plus the dominant eigenvalue's share of total
    * variance (max|G·v| DIV trace(G) — both in identical units, so
    * the ratio is scale-free and BIGINT-safe at any corpus size).
    * G is eagerly checkpointed once (4096 rows) so the corpus is
    * scanned exactly once; each 64-row iterate checkpoints eagerly
    * (the BPE training-loop discipline) to keep the lineage flat.
    */
  def pcaPowerComponent(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val (vRow, g) = pcaPower(spark, e)
    // one more matrix-vector inside the 1-row frame: |G·v|∞ — identical
    // exact-decimal products/sums as the row-frame join formulation
    val mf = vRow.select(expr(
      s"""aggregate(transform(gm, row ->
            aggregate(zip_with(row, varr, (gg, vj) -> gg * vj),
              CAST(0 AS DECIMAL(38,0)), (acc, t) -> acc + t)),
          CAST(0 AS DECIMAL(38,0)),
          (acc, x) -> CASE WHEN abs(x) > acc THEN abs(x) ELSE acc END)""")
      .as("m"))
    val tr = g.filter(col("i") === col("j")).agg(sum("g").as("t"))
    vRow.select(posexplode(col("varr")).as(Seq("i", "v")))
      .crossJoin(broadcast(mf)).crossJoin(broadcast(tr))
      .select(col("i").cast("long").as("dim"),
        col("v").cast("long").as("loading_ppm"),
        expr("CAST(m DIV t AS BIGINT)").as("var_explained_ppm"))
      .orderBy("dim")
  }

  /** The power-iteration core of [[pcaPowerComponent]], reusable over
    * any (vec_id, embedding) frame (the streaming drift probe trains
    * it on the even history half). Returns the final iterate as ONE
    * row (gm: the 64×64 Gram matrix, varr: the 64 components in exact
    * ppm-of-max integers) and the checkpointed 4096-row Gram frame.
    */
  private[graft] def pcaPower(spark: SparkSession,
                              e: DataFrame): (DataFrame, DataFrame) = {
    val x = e.select(col("vec_id"),
      posexplode(col("embedding")).as(Seq("i", "f")))
      .select(col("vec_id"), col("i"),
        expr("CAST(FLOOR(CAST(f AS DOUBLE) * 1e6) AS DECIMAL(38,0))")
          .as("xq"))
    val mu = x.groupBy("i")
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"), sum("xq").as("s"))
      .select(col("i"),
        expr("""CASE WHEN s >= 0 THEN CAST(s DIV n AS DECIMAL(38,0))
          ELSE -CAST((-s) DIV n AS DECIMAL(38,0)) END""").as("mu"))
    val muArr = mu
      .groupBy()
      .agg(transform(array_sort(collect_list(struct(col("i"), col("mu")))),
        s => s.getField("mu")).as("muv"))
    val cent = e.crossJoin(broadcast(muArr))
      .select(expr("""transform(embedding, (f, k) ->
        CAST(FLOOR(CAST(f AS DOUBLE) * 1e6) AS DECIMAL(38,0))
          - element_at(muv, k + 1))""").as("c"))
    val g = Memo.scratchCheckpoint(cent
      .select(posexplode(col("c")).as(Seq("i", "ci")), col("c"))
      .select(col("i"), col("ci"), posexplode(col("c")).as(Seq("j", "cj")))
      .groupBy("i", "j")
      .agg(sum(expr("ci * cj")).as("g")))
    // r18: the iterate is 64 decimals and G is 64×64 — per-iteration
    // Spark machinery (a join, two aggregations, a broadcast and a
    // checkpoint: ~5 scheduled jobs × PcaRounds) dwarfed the arithmetic.
    // Collapse the state into ONE row (gm: i-sorted array of j-sorted
    // Gram rows; varr: the iterate) and run every round as a row-local
    // array projection — the whole power iteration is one short linear
    // plan with zero per-round exchanges. Products, sums, the |·|∞
    // normalizer and the DIV quantization are the same exact DECIMAL
    // operations in the same order, so the iterates are bit-identical
    // (exact integer arithmetic is associative — the property that
    // already made the groupBy formulation order-free).
    val gRow = g
      .groupBy("i")
      .agg(transform(array_sort(collect_list(struct(col("j"), col("g")))),
        x => x.getField("g")).as("grow"))
      .groupBy()
      .agg(transform(array_sort(collect_list(struct(col("i"), col("grow")))),
        x => x.getField("grow")).as("gm"))
    var vRow = gRow.select(col("gm"),
      expr("transform(sequence(0, 63), k -> CAST(1000000 AS DECIMAL(38,0)))")
        .as("varr"))
    for (_ <- 1 to PcaRounds) {
      vRow = vRow
        .select(col("gm"), expr(
          """transform(gm, row ->
               aggregate(zip_with(row, varr, (gg, vj) -> gg * vj),
                 CAST(0 AS DECIMAL(38,0)), (acc, t) -> acc + t))""")
          .as("warr"))
        .select(col("gm"), col("warr"), expr(
          """aggregate(warr, CAST(0 AS DECIMAL(38,0)),
               (acc, x) -> CASE WHEN abs(x) > acc THEN abs(x) ELSE acc END)""")
          .as("m"))
        .select(col("gm"), expr(
          """transform(warr, w -> CASE WHEN w >= 0
               THEN CAST(w * 1000000 DIV m AS DECIMAL(38,0))
               ELSE -CAST((-w) * 1000000 DIV m AS DECIMAL(38,0)) END)""")
          .as("varr"))
    }
    (Memo.scratchCheckpoint(vRow), g)
  }

  private val pcaDriftCache = Memo.registry[(SparkSession, String)]

  /** Frozen history-half (even vec_id) top principal component as a
    * 1-row array frame — the model the streaming drift probe projects
    * against. Memoized per (session, dir) and checkpointed: 64 ppm
    * integers, broadcast to every consumer.
    */
  private[graft] def pcaDriftModel(spark: SparkSession,
                                   sfDir: String): DataFrame =
    pcaDriftCache.getOrElseUpdate((spark, sfDir), {
      val even = Tables.embeddings(spark, sfDir)
        .filter(col("vec_id") % 2 === 0)
        .select(col("vec_id"), col("embedding"))
      val (vRow, _) = pcaPower(spark, even)
      vRow.select(col("varr").as("vv"))
        .localCheckpoint(true)
    })

  /** Row-local exact projection of `embedding` onto the broadcast
    * model: p = Σ ⌊10⁶·xᵢ⌋·vᵢ — integer arithmetic end to end, so
    * per-batch (label, n, Σp) partials are ADDITIVE and the drained
    * drift fold is batch-boundary-independent.
    */
  private[graft] def pcaProject(df: DataFrame,
                                model: DataFrame): DataFrame =
    df.crossJoin(broadcast(model))
      .withColumn("p", expr("""aggregate(zip_with(embedding, vv,
        (x, vi) -> CAST(FLOOR(CAST(x AS DOUBLE) * 1e6)
          AS DECIMAL(38,0)) * vi),
        CAST(0 AS DECIMAL(38,0)), (acc, t) -> acc + t)"""))
      .drop("vv")

  /** Truncation widths audited by [[mrlTruncationRecall]] — shared with
    * the oracle so operator and replay cannot drift.
    */
  val MrlWidths: Seq[Int] = Seq(8, 16, 32, 64)

  /** Matryoshka-style truncation-recall audit (Kusupati et al. 2022,
    * "Matryoshka Representation Learning" — public method): for each
    * prefix width p ∈ [[MrlWidths]], every sampled query's top-1 by
    * cosine over the FIRST p dimensions is compared against its full-
    * width exact top-1 — the "how many dimensions does retrieval
    * actually need" curve that prices storing truncated vectors (the
    * cheapest index-compression lever, ahead of PQ).
    *
    * Audit semantics follow the recall-audit family: queries are the
    * md5-coin 20% stratum of the odd half (sampled queries, NEVER a
    * sampled index), the index is the full even half, and the pair
    * frame is the salt-keyed block join with no corpus-sized broadcast
    * ([[annProbeRecallSampled]]'s plan). All four widths are scored on
    * ONE pass over the pair frame (four prefix folds per pair, then an
    * unpivot), so the brute-force cost is paid once, not per width.
    * Counts are exact (prefix cosines are bit-identical doubles: the
    * same left-to-right fold both engines, one multiply, one divide);
    * recall is an integer-ppm floor.
    */
  def mrlTruncationRecall(spark: SparkSession, sfDir: String,
                          pct: Int = 20): DataFrame = {
    GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, sfDir)
    def withNorms(df: DataFrame, p: String): DataFrame =
      MrlWidths.foldLeft(df)((d, w) =>
        d.withColumn(s"${p}n$w", norm2(slice(col(s"${p}emb"), 1, w))))
    val qs = withNorms(
      e.filter(col("vec_id") % 2 === 1)
        .filter(TrainingSets.bucket100(col("vec_id")) < pct)
        .select(col("vec_id").as("q_id"), col("embedding").as("qemb")), "q")
    val idx = withNorms(
      e.filter(col("vec_id") % 2 === 0)
        .select(col("vec_id").as("m_id"), col("embedding").as("memb")), "m")
    val pairs = qs.withColumn("blk",
        explode(sequence(lit(0), lit(BlockCrossSalt - 1))))
      .join(idx.withColumn("blk",
        pmod(col("m_id"), lit(BlockCrossSalt)).cast("int"))
        .hint("shuffle_hash"), "blk")
    val withCos = MrlWidths.foldLeft(pairs)((d, w) =>
      d.withColumn(s"cos$w",
        dot(slice(col("qemb"), 1, w), slice(col("memb"), 1, w)) /
          (col(s"qn$w") * col(s"mn$w"))))
    val top = withCos
      .selectExpr("q_id", "m_id",
        s"stack(${MrlWidths.size}, " + MrlWidths.map(w =>
          s"CAST($w AS BIGINT), cos$w").mkString(", ") +
          ") AS (width, cos)")
      .groupBy("q_id", "width")
      .agg(max(struct(col("cos"), (-col("m_id")).as("nid"))).as("best"))
      .select(col("q_id"), col("width"), (-col("best.nid")).as("match_id"))
      .localCheckpoint(true) // the pair brute force is paid exactly once
    val fullW = top.filter(col("width") === MrlWidths.max)
      .select(col("q_id"), col("match_id").as("full_id"))
    top.join(fullW, "q_id")
      .groupBy("width")
      .agg(count(lit(1)).as("n_queries"),
        sum(when(col("match_id") === col("full_id"), 1L).otherwise(0L))
          .as("n_top1_match"))
      .withColumn("recall_ppm",
        expr("n_top1_match * 1000000 DIV n_queries"))
      .orderBy("width")
  }

  /** The streaming ANN probe's STATIC side, shared with the batch recall
    * audit ([[annProbeRecall]]) and [[graft.streaming.StreamAssembly
    * .streamAnnProbe]]: the even-vec_id index half with norms, the first
    * `nCells` even vectors as coarse centroids, and every index vector
    * argmax-assigned to its cell (shuffle-free `max(struct)`).
    * Returns (cents, assigned).
    */
  private[graft] def annProbeIndex(spark: SparkSession, sfDir: String,
                                   nCells: Int = 16): (DataFrame, DataFrame) = {
    GraftFunctions.register(spark)
    val idx = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") % 2 === 0)
      .select(col("vec_id"), col("embedding"),
        norm2(col("embedding")).as("nrm"))
    val cents = idx.filter(col("vec_id") < nCells * 2)
      .select(col("vec_id").as("cid"), col("embedding").as("c_emb"),
        col("nrm").as("c_nrm"))
    val assigned = idx.crossJoin(broadcast(cents))
      .withColumn("ccos",
        dot(col("embedding"), col("c_emb")) / (col("nrm") * col("c_nrm")))
      .groupBy("vec_id")
      .agg(max(struct(col("ccos"), (-col("cid")).as("ncid"))).as("best"),
        first("embedding").as("embedding"), first("nrm").as("nrm"))
      .select(col("vec_id").as("m_id"), (-col("best.ncid")).as("cell"),
        col("embedding").as("m_emb"), col("nrm").as("m_nrm"))
    (cents, assigned)
  }

  /** One IVF probe pass: queries `(q_id, q_emb, q_nrm)` rank the
    * broadcast centroids (bounded per-query frame), probe their top
    * `nProbe` cells, and take the exact-cosine top-1 among those cells'
    * index vectors via a shuffle-free argmax.
    * Returns (vec_id, match_id, cosine).
    */
  private[graft] def ivfProbeTop1(q: DataFrame, cents: DataFrame,
                                  assigned: DataFrame,
                                  nProbe: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qCells = q.crossJoin(broadcast(cents))
      .withColumn("ccos", dot(col("q_emb"), col("c_emb")) /
        (col("q_nrm") * col("c_nrm")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("ccos"), asc("cid"))))
      .filter(col("rn") <= nProbe)
      .select(col("q_id"), col("q_emb"), col("q_nrm"),
        col("cid").as("probe_cell"))
    qCells
      .join(assigned, col("cell") === col("probe_cell"))
      .withColumn("cosine", dot(col("q_emb"), col("m_emb")) /
        (col("q_nrm") * col("m_nrm")))
      .groupBy("q_id")
      .agg(max(struct(col("cosine"), (-col("m_id")).as("nid"))).as("best"))
      .select(col("q_id").as("vec_id"), (-col("best.nid")).as("match_id"),
        col("best.cosine").as("cosine"))
  }

  /** Corpus-level recall audit for the online ANN probe: EVERY incoming
    * (odd) vector's IVF top-1 compared against its brute-force exact
    * top-1 over the even index half — the probe-quality number an online
    * retrieval deployment is tuned by (the `ivf_recall` audit measures
    * one query; this measures the fleet). Reported: exact top-1 hits,
    * misses, and near-misses (probe result within 0.01 cosine of the
    * exact optimum — the distance-ratio view standard ANN evaluation
    * pairs with recall@1, since on weakly-clustered vectors a "miss" is
    * usually a near-tie). Counts only — the float compare runs on
    * bit-identical doubles, so the gate is exact. The brute force is the
    * audit's honest cost (like the recall-audit trilogy, documented
    * sampled-stratum at scale); the probe side reuses the exact pipeline
    * the streaming query drains.
    */
  def annProbeRecall(spark: SparkSession, sfDir: String): DataFrame =
    annProbeRecallStratum(spark, sfDir, None)

  /** The 100 TB execution of [[annProbeRecall]]: the SAME audit over a
    * deterministic md5-coin stratum of the query fleet (default 20%),
    * against the FULL index — recall estimates need sampled queries,
    * never a sampled index (a thinned index changes the answer being
    * audited). The coin is the [[TrainingSets.stratifiedSample]] idiom:
    * row-local, engine-portable, and stable across runs/partitionings,
    * so the stratum is a pure function of vec_id and the oracle samples
    * identically. Brute-force cost drops to pct% of the fleet audit —
    * this is the executable form of what the audit trilogy's scaladocs
    * previously only documented.
    */
  def annProbeRecallSampled(spark: SparkSession, sfDir: String,
                            pct: Int = 20): DataFrame =
    annProbeRecallStratum(spark, sfDir, Some(pct))

  private def annProbeRecallStratum(spark: SparkSession, sfDir: String,
                                    pct: Option[Int]): DataFrame = {
    val (cents, assigned) = annProbeIndex(spark, sfDir)
    val qs0 = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") % 2 === 1)
    val qs = pct.fold(qs0)(p =>
        qs0.filter(TrainingSets.bucket100(col("vec_id")) < p))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        norm2(col("embedding")).as("q_nrm"))
    val ivf = ivfProbeTop1(qs, cents, assigned)
      .select(col("vec_id").as("q_id"), col("match_id").as("ivf_id"),
        col("cosine").as("ivf_cos"))
    // fleet × full index ground truth: salt-keyed block join, no
    // broadcast hint on the corpus-sized index side (see adcScores);
    // shuffle_hash keeps the 32-key join out of sort-merge (a
    // low-cardinality SMJ buffers the whole per-key group)
    val bf = qs.withColumn("blk",
        explode(sequence(lit(0), lit(BlockCrossSalt - 1))))
      .join(assigned.select(col("m_id"), col("m_emb"), col("m_nrm"))
        .withColumn("blk",
          pmod(col("m_id"), lit(BlockCrossSalt)).cast("int"))
        .hint("shuffle_hash"), "blk")
      .withColumn("cosine", dot(col("q_emb"), col("m_emb")) /
        (col("q_nrm") * col("m_nrm")))
      .groupBy("q_id")
      .agg(max(struct(col("cosine"), (-col("m_id")).as("nid"))).as("best"))
      .select(col("q_id"), (-col("best.nid")).as("bf_id"),
        col("best.cosine").as("bf_cos"))
    ivf.join(bf, Seq("q_id"))
      .agg(count(lit(1)).as("n_queries"),
        sum(when(col("ivf_id") === col("bf_id"), 1L).otherwise(0L))
          .as("n_top1_match"),
        sum(when(col("ivf_id") =!= col("bf_id"), 1L).otherwise(0L))
          .as("n_missed"),
        sum(when(col("bf_cos") - col("ivf_cos") <= lit(0.01), 1L)
          .otherwise(0L)).as("n_within_1pt"))
  }

  /** FILTERED vector search audit — the metadata-predicate ANN mode
    * every production vector store ships (filter + probe: only index
    * vectors satisfying the predicate may match; here the predicate is
    * label equality with the query — the "nearest within category"
    * case). The audit measures what filtering does to an IVF probe:
    * each sampled query's top-1 AMONG SAME-LABEL vectors inside its
    * probed cells vs the exact same-label brute-force top-1, plus
    * `n_empty_probe` — queries whose probed cells contain NO
    * same-label vector at all (the filtered-search failure mode that
    * motivates raising nProbe or label-partitioning the index; with 10
    * labels and 4/16 cells probed it is structurally nonzero).
    * Stratum/index roles, the salt-keyed exact side, and the cosine
    * folds are [[annProbeRecallSampled]]'s; the filter is one equality
    * predicate pushed into both sides, counts are exact integers.
    */
  def annFilteredRecall(spark: SparkSession, sfDir: String,
                        pct: Int = 20): DataFrame = {
    val (cents, assigned) = annProbeIndex(spark, sfDir)
    val labels = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("m_id"), col("label").as("m_label"))
    // labels is corpus-cardinality — never broadcastable at index scale,
    // so pin the shuffle join explicitly: the assigned side reuses its
    // groupBy partitioning on m_id, only the slim label projection
    // shuffles. Without the hint the planner flips this join on cached-
    // leaf size estimates (memory-pressure-dependent under a full suite
    // run), which also flipped the pinned exchange count.
    val idxL = assigned.join(labels.hint("shuffle_hash"), "m_id")
    val qs = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") % 2 === 1)
      .filter(TrainingSets.bucket100(col("vec_id")) < pct)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        norm2(col("embedding")).as("q_nrm"), col("label").as("q_label"))
    import org.apache.spark.sql.expressions.Window
    val qCells = qs.crossJoin(broadcast(cents))
      .withColumn("ccos", dot(col("q_emb"), col("c_emb")) /
        (col("q_nrm") * col("c_nrm")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("q_id").orderBy(desc("ccos"), asc("cid"))))
      .filter(col("rn") <= 4)
      .select(col("q_id"), col("q_emb"), col("q_nrm"), col("q_label"),
        col("cid").as("probe_cell"))
    val ivf = qCells
      .join(idxL, col("cell") === col("probe_cell") &&
        col("m_label") === col("q_label"))
      .withColumn("cosine", dot(col("q_emb"), col("m_emb")) /
        (col("q_nrm") * col("m_nrm")))
      .groupBy("q_id")
      .agg(max(struct(col("cosine"), (-col("m_id")).as("nid"))).as("best"))
      .select(col("q_id"), (-col("best.nid")).as("ivf_id"))
    val bf = qs.withColumn("blk",
        explode(sequence(lit(0), lit(BlockCrossSalt - 1))))
      .join(idxL.select(col("m_id"), col("m_emb"), col("m_nrm"),
          col("m_label"))
        .withColumn("blk",
          pmod(col("m_id"), lit(BlockCrossSalt)).cast("int"))
        .hint("shuffle_hash"), "blk")
      .filter(col("m_label") === col("q_label"))
      .withColumn("cosine", dot(col("q_emb"), col("m_emb")) /
        (col("q_nrm") * col("m_nrm")))
      .groupBy("q_id")
      .agg(max(struct(col("cosine"), (-col("m_id")).as("nid"))).as("best"))
      .select(col("q_id"), (-col("best.nid")).as("bf_id"))
    bf.join(ivf, Seq("q_id"), "left_outer")
      .agg(count(lit(1)).as("n_queries"),
        sum(when(col("ivf_id").isNull, 1L).otherwise(0L))
          .as("n_empty_probe"),
        sum(when(col("ivf_id") === col("bf_id"), 1L).otherwise(0L))
          .as("n_top1_match"))
      .withColumn("recall_ppm",
        expr("n_top1_match * 1000000 DIV n_queries"))
  }

  /** Hybrid retrieval — the two-stage sparse→dense search every modern
    * retrieval pipeline runs (BM25/n-gram candidates reranked by embedding
    * similarity; public knowledge, e.g. the standard retrieve-then-rerank
    * architecture): stage 1 generates candidates as documents sharing ≥1
    * 3-gram shingle with the query document (set-overlap, the sparse
    * signal); stage 2 reranks candidates by exact embedding cosine and
    * keeps the top-k.
    *
    * Scale shape: the query's shingle set is a tiny broadcast, so
    * candidate generation is a map-side semi-join over the corpus shingle
    * stream (one aggregate exchange for the per-candidate overlap count);
    * the rerank joins the SMALL candidate id set (broadcast) against the
    * embedding table and ends in TakeOrderedAndProject. The corpus is
    * never pairwise-joined and embeddings are only read for candidates —
    * at index scale stage 1 is an inverted-list lookup and stage 2 an ANN
    * probe ([[annTopK]]), same split of roles.
    */
  def hybridSearch(spark: SparkSession, sfDir: String, queryId: Long = 7L,
                   k: Int = 10): DataFrame = {
    GraftFunctions.register(spark)
    val sh = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        explode(Dedup.shingleCol(col("text"))).as("s"))
    val qSh = sh.filter(col("doc_id") === queryId).select(col("s"))
    val cands = sh.filter(col("doc_id") =!= queryId)
      .join(broadcast(qSh), Seq("s"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"), norm2(col("embedding")).as("nrm"))
    val q = e.filter(col("vec_id") === queryId)
      .select(col("embedding").as("qemb"), col("nrm").as("qnrm"))
    e.join(broadcast(cands), e("vec_id") === cands("doc_id"))
      .crossJoin(broadcast(q))
      .select(col("doc_id"), col("n_shared"),
        (dot(col("embedding"), col("qemb")) /
          (col("nrm") * col("qnrm"))).as("cosine"))
      .orderBy(desc("cosine"), asc("doc_id"))
      .limit(k)
  }

  /** Symmetric int8 quantization of the embedding column with
    * reconstruction-error accounting — the storage-compression step of a
    * vector index build (8× smaller than float32, the standard ANN-index
    * memory trade; public knowledge, e.g. the FAISS SQ8 design). Per
    * vector: scale = 127/max|v|, qᵢ = ⌊vᵢ·scale + 0.5⌋ (floor-based
    * round-half-up — `round()` ties break differently across engines,
    * floor on identical doubles cannot), and MSE against the
    * dequantized vector.
    *
    * Row-local — a scan, not a job: no shuffle, scales embarrassingly.
    * The fold sums run left-to-right in double (same order as DuckDB's
    * list_sum → bit-identical, no rounding needed). HOFs here are
    * interpreted, but the op is O(dim) per row with no data movement —
    * at index-build scale the natural extension is a codegen kernel like
    * [[graft.functions.DotProduct]].
    */
  def embeddingQuantize(spark: SparkSession, sfDir: String): DataFrame = {
    val v = Tables.embeddings(spark, sfDir)
      .withColumn("max_abs",
        array_max(transform(col("embedding"), x => abs(x.cast("double")))))
    val scale = lit(127.0) / col("max_abs")
    val q = transform(col("embedding"),
      x => floor(x.cast("double") * scale + lit(0.5)).cast("long"))
    val err = zip_with(col("embedding"), col("qv"), (a, b) => {
      val d = a.cast("double") - (b.cast("double") * col("max_abs")) / lit(127.0)
      d * d
    })
    v.withColumn("qv", q)
      .select(col("vec_id"), col("label"), col("max_abs"),
        aggregate(col("qv"), lit(0L), (acc, x) => acc + abs(x))
          .as("sum_q_abs"),
        (aggregate(err, lit(0.0), (acc, x) => acc + x) /
          size(col("embedding"))).as("mse"))
      .orderBy("vec_id")
  }

  /** Per-DIMENSION embedding health stats — the feature audit an index
    * build runs before trusting a vector column (dead dimensions, stuck
    * ranges, variance profile; the "embedding drift/health check" of
    * production vector pipelines): for every dimension, the count, sum,
    * sum-of-squares, zero count, and min/max of the int8-QUANTIZED
    * values under the SAME per-vector symmetric scheme as
    * [[embeddingQuantize]] (scale = 127/max|v|, floor-half-up), so every
    * reported statistic is exact integer arithmetic — a dead dim shows
    * n_zero = n, a saturated dim |min/max| = 127, and the integer
    * variance numerator n·Σq² − (Σq)² reads straight off the row.
    *
    * Scale shape: posexplode is row-local; the ONE shuffle groups by
    * dimension index — cardinality = the embedding width (64 here, a few
    * k for production models), with map-side partial aggregation, so the
    * stats job is a scan + one bounded-key aggregate at any corpus size.
    */
  def embeddingDimStats(spark: SparkSession, sfDir: String): DataFrame = {
    val v = Tables.embeddings(spark, sfDir)
      .withColumn("max_abs",
        array_max(transform(col("embedding"), x => abs(x.cast("double")))))
      .withColumn("scale", lit(127.0) / col("max_abs"))
    v.select(col("vec_id"), col("scale"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .select(col("dim").cast("long").as("dim"),
        floor(col("x").cast("double") * col("scale") + lit(0.5))
          .cast("long").as("qx"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n_vecs"),
        sum("qx").cast("long").as("sum_q"),
        sum(col("qx") * col("qx")).cast("long").as("sum_q2"),
        sum(when(col("qx") === 0L, 1L).otherwise(0L)).as("n_zero"),
        min("qx").as("min_q"), max("qx").as("max_q"))
      .withColumn("var_num",
        (col("n_vecs") * col("sum_q2") - col("sum_q") * col("sum_q"))
          .cast("long"))
      .orderBy("dim")
  }

  /** IVF top-k recall against the brute-force ground truth — completing
    * the approximation-audit trilogy ([[graft.ops.Dedup.minhashRecallEval]]
    * for Jaccard banding, [[graft.ops.Dedup.lshRecallEval]] for
    * hyperplane banding, this for cell probing): |IVF∩BF| over the same
    * (queryId, k), with recall as integer ppm. Both top-k sets are
    * deterministic (exact-cosine scores, vec_id tiebreak), so the
    * overlap is a pure function of the corpus and the gate is
    * integer-exact. The nProbe/nCells trade this measures is THE tuning
    * loop of a production IVF deployment.
    */
  def ivfRecall(spark: SparkSession, sfDir: String, queryId: Long = 0L,
                k: Int = 10): DataFrame = {
    val bf = bruteForceTopK(spark, sfDir, queryId, k).select("vec_id")
    val ivf = ivfTopK(spark, sfDir, queryId, k).select("vec_id")
    ivf.join(bf, Seq("vec_id"), "left_semi")
      .agg(count(lit(1)).as("n_overlap"))
      .select(lit(k.toLong).as("k"), col("n_overlap"),
        expr(s"n_overlap * 1000000 div $k").as("recall_ppm"))
  }

  /** Embedding-space label purity: each vector's 1-nearest-neighbor (by
    * cosine over the int8-QUANTIZED vectors, self excluded) and the
    * per-label count of neighbors that agree — the standard embedding
    * quality audit before trusting vectors for dedup/curation (a noisy
    * space shows low 1-NN purity). All similarity arithmetic is exact:
    * integer dot `d` and integer norm² `n`, ranked by the cosine-monotone
    * key sign(d)·d²/n — d² and n are exact BIGINTs below 2⁵³, so the ONE
    * double division is a single IEEE op both engines evaluate
    * identically (no fold-order exposure, unlike a float dot), with
    * vec_id as the deterministic tiebreak.
    *
    * Scale posture: the candidate generator here is the labeled
    * small-corpus brute force (broadcast nested loop, like
    * [[bruteForceTopK]]); at index scale the same scoring runs over
    * LSH-band candidates (`vec_lsh_sig`, the [[annTopK]] path) — the
    * ranking key and the purity aggregate are unchanged.
    */
  def knnLabelPurity(spark: SparkSession, sfDir: String): DataFrame =
    knnLabelPurityStratum(spark, sfDir, None)

  /** [[knnLabelPurity]] executed the way the scaladoc's "sampled
    * stratum at production" note prescribes: anchors restricted to a
    * deterministic md5-coin stratum (default 20%), neighbors drawn
    * from the FULL corpus — purity is a per-anchor property, so a
    * query-side sample estimates it unbiasedly while cutting the
    * pairwise compute to pct%. Same row-local portable coin as
    * [[TrainingSets.stratifiedSample]].
    */
  def knnLabelPuritySampled(spark: SparkSession, sfDir: String,
                            pct: Int = 20): DataFrame =
    knnLabelPurityStratum(spark, sfDir, Some(pct))

  private def knnLabelPurityStratum(spark: SparkSession, sfDir: String,
                                    pct: Option[Int]): DataFrame = {
    GraftFunctions.register(spark)
    // qv stays array<double> so the hot pairwise dot runs through the
    // codegen'd vec_dot kernel (26 s → 2.5 s at sf0.1 vs interpreted
    // zip_with/aggregate HOFs); components are small INTEGERS carried in
    // doubles, and every product/sum stays < 2⁵³, so double accumulation
    // is exact regardless of order — the cast to long loses nothing
    val base = Tables.embeddings(spark, sfDir)
      .withColumn("max_abs",
        array_max(transform(col("embedding"), x => abs(x.cast("double")))))
      .withColumn("qv", transform(col("embedding"),
        x => floor(x.cast("double") * (lit(127.0) / col("max_abs")) +
          lit(0.5)).cast("double")))
      .withColumn("nq", dot(col("qv"), col("qv")).cast("long"))
    val anchors = pct.fold(base)(p =>
      base.filter(TrainingSets.bucket100(col("vec_id")) < p))
    val a = anchors.select(col("vec_id").as("a_id"),
      col("label").as("a_label"), col("qv").as("a_qv"))
    val b = base.select(col("vec_id").as("b_id"),
      col("label").as("b_label"), col("qv").as("b_qv"),
      col("nq").as("b_nq"))
    // argmax as a partial-aggregating max(struct(score, -b_id, payload)):
    // the O(n·candidates) pair frame combines map-side above the broadcast
    // join and NEVER shuffles — only per-anchor partials move (a
    // row_number window here would shuffle and sort every pair row).
    // -b_id makes the lexicographic struct order break score ties on the
    // LOWEST neighbor id; b_id is unique so b_label is pure payload.
    a.join(broadcast(b), col("a_id") =!= col("b_id"))
      .withColumn("d", dot(col("a_qv"), col("b_qv")).cast("long"))
      .withColumn("score",
        when(col("d") >= 0,
          (col("d") * col("d")).cast("double") / col("b_nq").cast("double"))
          .otherwise(-(col("d") * col("d")).cast("double") /
            col("b_nq").cast("double")))
      .groupBy(col("a_id"), col("a_label"))
      .agg(max(struct(col("score"), (-col("b_id")).as("neg_bid"),
        col("b_label").as("b_label"))).as("best"))
      .groupBy(col("a_label").as("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("a_label") === col("best.b_label"), lit(1L))
          .otherwise(lit(0L))).cast("long").as("n_nn_match"))
      .orderBy("label")
  }

  /** Inter-label affinity matrix over the quantized embedding space: the
    * element-wise integer SUM vector per label (the unnormalized
    * centroid) and the pairwise dot products between those sums — high
    * off-diagonal affinity relative to the diagonals flags label pairs
    * whose embedding clusters overlap (merge candidates / labeling noise).
    * Sums of int8 components and their products stay far below 2⁶³, so
    * every cell is an exact BIGINT and the gate is float-free.
    *
    * Plan shape: ONE posexplode + (label, dim)-keyed partial aggregate
    * over the corpus — the same map-side-combining shuffle as the k-means
    * centroid update — then all pairwise work happens on the
    * (labels × dims)-sized frame (640 rows here; ≤ k·dim always), joined
    * to itself on the dim key with the label-pair aggregate on top. The
    * corpus is touched exactly once regardless of k.
    */
  def labelCentroidAffinity(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.embeddings(spark, sfDir)
      .withColumn("max_abs",
        array_max(transform(col("embedding"), x => abs(x.cast("double")))))
      .withColumn("qv", transform(col("embedding"),
        x => floor(x.cast("double") * (lit(127.0) / col("max_abs")) +
          lit(0.5)).cast("long")))
    val x = base
      .select(col("label"), posexplode(col("qv")).as(Seq("pos", "v")))
      .groupBy("label", "pos")
      .agg(sum("v").as("s"))
    val n = base.groupBy("label").agg(count(lit(1)).as("n"))
    x.as("a")
      .join(broadcast(x.as("b")),
        col("a.pos") === col("b.pos") && col("a.label") <= col("b.label"))
      .groupBy(col("a.label").as("label_a"), col("b.label").as("label_b"))
      .agg(sum(col("a.s") * col("b.s")).cast("long").as("dot_q"))
      .join(broadcast(n).withColumnRenamed("label", "label_a")
        .withColumnRenamed("n", "n_a"), Seq("label_a"))
      .join(broadcast(n).withColumnRenamed("label", "label_b")
        .withColumnRenamed("n", "n_b"), Seq("label_b"))
      .select(col("label_a"), col("label_b"), col("n_a").cast("long"),
        col("n_b").cast("long"), col("dot_q"))
      .orderBy("label_a", "label_b")
  }

  /** Rocchio nearest-centroid classifier over the embedding modality —
    * the embedding-space sibling of the token-space NB classifiers
    * ([[graft.ops.TrainingSets]]' langid/quality stages): train a
    * per-label centroid on the deterministic 80% md5-coin split, then
    * argmax-classify every HELD-OUT vector by cosine to the centroids
    * and report the confusion matrix. This is the fineweb-edu-style
    * embedding quality/domain classifier of an LLM curation stack,
    * expressed as two corpus scans.
    *
    * Float discipline (the hash gate): vectors are int8-quantized
    * ([[knnLabelPurity]]'s idiom), the per-(label, dim) component sum
    * `s` is an exact BIGINT, and cos(v, s/n) = dot(v,s)/(|v|·|s|) makes
    * the train count CANCEL — so the rank key is dot(qv,cv)/sqrt(|cv|²)
    * where numerator and radicand are exact integers (< 2⁵³, any fold
    * order) and the only float steps are ONE correctly-rounded sqrt and
    * ONE IEEE division — engine-identical, no decimal→double exposure.
    * Ties break on the lexicographically largest label via the
    * max(struct) argmax (the [[knnLabelPurity]] partial-agg shape:
    * per-vector partials combine map-side above the broadcast centroid
    * axis; the held-out×labels frame never shuffles).
    *
    * Scale posture: training is one posexplode + (label, dim)-keyed
    * partial aggregate (the k-means centroid-update shuffle); serving
    * is a map-side argmax against a labels×dims broadcast — both are
    * single corpus passes, so the plan is the 100 TB shape as-is.
    */
  def centroidClassifier(spark: SparkSession, sfDir: String): DataFrame = {
    GraftFunctions.register(spark)
    val base = centroidQuantized(Tables.embeddings(spark, sfDir))
    val coin = TrainingSets.bucket100(col("vec_id")) < 80
    // lazy model plan — train + score fuse into one Catalyst plan (the
    // nbLangidClassifier finding: a materialized memo only adds
    // barriers for a single-consumer model; the streaming probe, which
    // reuses its model across micro-batches, takes [[centroidModel]])
    centroidScore(base.filter(!coin), centroidModelFrom(base.filter(coin)))
      .groupBy(col("true_label"), col("pred_label"))
      .agg(count(lit(1)).as("n"))
      .orderBy("true_label", "pred_label")
  }

  /** Int8 quantization shared by every centroid-classifier consumer —
    * [[knnLabelPurity]]'s idiom, kept in doubles so the hot dot runs
    * through the codegen'd `vec_dot` kernel on exact integers.
    */
  private def centroidQuantized(df: DataFrame): DataFrame =
    df.withColumn("max_abs",
        array_max(transform(col("embedding"), x => abs(x.cast("double")))))
      .withColumn("qv", transform(col("embedding"),
        x => floor(x.cast("double") * (lit(127.0) / col("max_abs")) +
          lit(0.5)).cast("double")))

  /** Per-label unnormalized centroid (exact BIGINT component sums, as
    * doubles for the kernel) + its exact squared norm, over a (label,
    * qv) training frame. labels×dims rows in, labels rows out.
    */
  private def centroidModelFrom(train: DataFrame): DataFrame =
    train.select(col("label"), posexplode(col("qv")).as(Seq("pos", "v")))
      .groupBy("label", "pos")
      .agg(sum(col("v").cast("long")).as("s"))
      .groupBy("label")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("s")))),
        x => x.getField("s").cast("double")).as("cv"))
      .withColumn("m", dot(col("cv"), col("cv")))
      .select(col("label").as("clabel"), col("cv"), col("m"))

  /** Argmax-classify (vec_id, label, embedding) rows against a trained
    * centroid model: rank key dot(qv,cv)/sqrt(m) (exact integers, one
    * sqrt + one division), ties to the largest label. Row-local given
    * the labels-sized broadcast — per-vector partials combine map-side
    * and nothing shuffles but the argmax partials.
    */
  private[graft] def centroidScore(batch: DataFrame,
                                   cent: DataFrame): DataFrame =
    centroidQuantized(batch)
      .select(col("vec_id"), col("label").as("true_label"), col("qv"))
      .crossJoin(broadcast(cent))
      .withColumn("score", dot(col("qv"), col("cv")) / sqrt(col("m")))
      .groupBy("vec_id", "true_label")
      .agg(max(struct(col("score"), col("clabel").as("plabel"))).as("best"))
      .select(col("vec_id"), col("true_label"),
        col("best.plabel").as("pred_label"))

  /** The even-vec_id-half centroid model, memoized per (SparkContext,
    * dir) — the [[ivfpqModel]]/nbModel discipline: the online probe's
    * static side is trained ONCE on the outer session and every
    * cloned per-drain session serves the materialized labels-sized
    * frame instead of retraining per micro-batch.
    */
  private val centCache =
    Memo.registry[(org.apache.spark.SparkContext, String)]

  private[graft] def centroidModel(spark: SparkSession,
                                   sfDir: String): DataFrame =
    centCache.synchronized {
      centCache.getOrElseUpdate((spark.sparkContext, sfDir), {
        GraftFunctions.register(spark)
        centroidModelFrom(centroidQuantized(
          Tables.embeddings(spark, sfDir)
            .filter(col("vec_id") % 2 === 0)))
          .localCheckpoint(true)
      })
    }

  /** Cosine threshold for [[semDedup]] — hoisted so operator and oracle
    * interpolate the SAME literal (the [[KmeansK]] discipline). */
  val SemDedupTau: Double = 0.4

  /** SemDeDup — semantic deduplication via clustered embeddings (Abbas
    * et al. 2023, "SemDeDup: Data-efficient learning at web-scale through
    * semantic deduplication", arXiv:2303.09540 — public method): k-means
    * the embedding space, then prune near-duplicates WITHIN each cluster
    * only — the clustering is what makes semantic dedup tractable at
    * scale, shrinking the O(n²) cosine matrix to Σ|cluster|², with
    * cross-cluster pairs forfeited by design (the paper's trade). The
    * keep rule is deterministic: a vector is dropped iff some
    * lower-vec_id vector in the SAME cluster has cosine ≥
    * [[SemDedupTau]] with it (keep-first, the common implementation of
    * the paper's keep-one-representative step). Reported per cluster:
    * size, dropped, kept.
    *
    * Why this hash-gates: the clustering is [[kmeansAssign]]'s
    * engine-portable 2-round Lloyd (bit-identical argmin, decimal
    * centroid means), and the cosine is the same left-to-right `vec_dot`
    * fold both engines evaluate bit-identically (the
    * `dedup_embedding_cosine` precedent).
    *
    * Scale shape: one broadcast-assign scan, one (cid)-keyed self-join
    * whose quadratic work is bounded by the largest cluster (k chosen so
    * clusters fit; the paper runs k ≈ √n), one distinct + count. At
    * 100 TB the same plan holds — no global pair frame ever exists.
    */
  /** The SemDeDup DROP SET — (d_cid, d_vec) pairs where d_vec is pruned
    * because a lower-vec_id same-cluster vector is cosine-≥τ with it.
    * Shared by [[semDedup]]'s per-cluster report and the composed
    * curation pipeline ([[graft.ops.TrainingSets
    * .curationPipelineSemantic]]). `dropped` derives from `v`, so a
    * direct self-join on shared column refs is ambiguous
    * ([AMBIGUOUS_SELF_JOIN]); the join keys are renamed so downstream
    * conditions mention only unambiguous names.
    */
  private[graft] def semDedupDropped(v: DataFrame): DataFrame = {
    val a = v.select(col("cid"), col("vec_id").as("vec_a"),
      col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
    val b = v.select(col("cid"), col("vec_id").as("vec_b"),
      col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
    a.join(b, Seq("cid"))
      .filter(col("vec_a") < col("vec_b") &&
        dot(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b"))
          >= lit(SemDedupTau))
      .select(col("cid").as("d_cid"), col("vec_b").as("d_vec")).distinct()
  }

  /** The clustered-vector frame [[semDedupDropped]] consumes: 2-round
    * Lloyd assignment + L2 norm per vector.
    */
  private[graft] def semDedupVectors(spark: SparkSession,
                                     sfDir: String): DataFrame =
    kmeansAssign(spark, sfDir)
      .withColumn("nrm", sqrt(dot(col("embedding"), col("embedding"))))
      .select(col("cid"), col("vec_id"), col("embedding"), col("nrm"))

  def semDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val v = semDedupVectors(spark, sfDir)
    val dropped = semDedupDropped(v).withColumn("is_dup", lit(1L))
    v.join(dropped,
        col("cid") === col("d_cid") && col("vec_id") === col("d_vec"),
        "left")
      .groupBy(col("cid").as("cluster"))
      .agg(count(lit(1)).as("n"),
        sum(coalesce(col("is_dup"), lit(0L))).as("n_dropped"),
        (count(lit(1)) - sum(coalesce(col("is_dup"), lit(0L))))
          .as("n_kept"))
      .orderBy("cluster")
  }

  /** Target dimensionality for [[embeddingJlDistortion]]. */
  val JlDims: Int = 16

  /** Johnson–Lindenstrauss projection audit: project every embedding
    * 64 → [[JlDims]] with the ±1 md5-parity sign matrix (the
    * `vec_rp` codegen kernel — same matrix scheme and shared sign
    * cache as `vec_lsh_sig`), then measure how much pairwise cosine
    * moves on the adjacent-vec_id probe stratum (a deterministic
    * bounded pair set — the evaluation stratum pattern of
    * `knn_label_purity`; at production scale any documented stratum
    * works, the audit's cost is |stratum|·dim). Reported as a
    * 0.05-wide distortion-band histogram — the go/no-go an index build
    * consults before dropping to the cheaper dimensionality.
    *
    * Determinism: projections and cosines are dim-ordered double folds
    * (bit-identical to the oracle's list_sum), sqrt is correctly
    * rounded, and the band id `floor((cos16 − cos64)·20)` floors
    * identical doubles — so the histogram is exact in both engines.
    *
    * Scale shape: projection is row-local codegen; the pair stratum is
    * one self-equi-join on vec_id+1 (shuffle on the join key only);
    * the histogram is a band-count aggregate. Never all-pairs.
    */
  def embeddingJlDistortion(spark: SparkSession, sfDir: String): DataFrame = {
    GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"),
        call_function("vec_rp", col("embedding"), lit(JlDims)).as("proj"))
    val a = e.select(col("vec_id"), col("embedding").as("ea"),
      col("proj").as("pa"))
    val b = e.select((col("vec_id") - 1L).as("vec_id"),
      col("embedding").as("eb"), col("proj").as("pb"))
    a.join(b, Seq("vec_id"))
      .select(col("vec_id"),
        (dot(col("ea"), col("eb")) /
          (norm2(col("ea")) * norm2(col("eb")))).as("cos64"),
        (dot(col("pa"), col("pb")) /
          (norm2(col("pa")) * norm2(col("pb")))).as("cos16"))
      .select(col("vec_id"),
        floor((col("cos16") - col("cos64")) * lit(20.0)).cast("long")
          .as("band"))
      .groupBy("band")
      .agg(count(lit(1)).as("n_pairs"),
        min("vec_id").cast("long").as("first_pair"),
        max("vec_id").cast("long").as("last_pair"))
      .orderBy("band")
  }

  /** Product-quantization geometry (Jégou et al. 2011, the IVF-PQ
    * compression path every production vector index runs): the 64-dim
    * embedding splits into [[PqSubspaces]] contiguous 8-dim subspaces,
    * each quantized independently to one of [[PqCentroids]] codewords —
    * 8 bytes per vector instead of 256, with search via asymmetric
    * distance (ADC): the query precomputes one 16-entry distance table
    * per subspace and every candidate's distance is 8 table lookups.
    */
  val PqSubspaces: Int = 8
  val PqSubDim: Int = 8
  val PqCentroids: Int = 16

  /** The trained PQ model: sub-vector frame, refined codebook, and the
    * slim (vec_id, subspace, codeword) code frame every PQ query
    * builds on. Training is one per-subspace Lloyd round from the
    * fixed-seed start (subspace s's seed codewords are the first
    * [[PqCentroids]] vectors' s-th sub-vectors, the `sim_ivf` scheme;
    * the refinement mean is [[kmeansAssign]]'s decimal-exact
    * discipline, so centroids are order- and partitioning-independent
    * and the oracle reproduces them bit-for-bit).
    *
    * Exactness: sub-vector L2 uses the decomposition
    * ‖x−c‖² = x·x − 2·x·c + c·c with every dot a [[dot]] sequential
    * fold — the oracle computes the SAME expression, so distances are
    * bit-identical; argmin ties break to the lowest codeword id.
    *
    * Scale shape: the codebook is 128 sub-vectors broadcast to every
    * task; assignment is one map-side pass over the corpus (explode ×8
    * subspaces, broadcast join, partial-agg argmin); the training mean
    * is one (s, cid, pos)-keyed aggregate of codebook-sized output —
    * no corpus shuffle wider than the argmin combine, 8 bytes/vector
    * of downstream state.
    */
  private def pqModel(spark: SparkSession,
                      sfDir: String): (DataFrame, DataFrame, DataFrame) =
    ivfpqMemo(spark, sfDir, "flatpq") {
      // r18: the flat-PQ model had NO memo — every consumer query
      // (codes stats, distortion, top-k, both recall audits, the
      // persist gate) re-ran the one-round training inside its own
      // plan. Same build-once/serve-many discipline as the IVF-PQ
      // models; the memoized "cents" slot carries the sub-vector frame.
      GraftFunctions.register(spark)
      val sub = pqSubVectors(Tables.embeddings(spark, sfDir))
      val (cb1, codes) = pqTrain(sub, col("vec_id") < PqCentroids)
      (sub, cb1, codes)
    }

  /** The sub-vector split frame (vec_id, s, sv) PQ operates on. */
  private[graft] def pqSubVectors(e: DataFrame): DataFrame =
    e.select(col("vec_id"),
        explode(sequence(lit(0), lit(PqSubspaces - 1))).as("s"),
        col("embedding"))
      .withColumn("sv", expr(s"slice(embedding, s * $PqSubDim + 1, $PqSubDim)"))
      .select(col("vec_id"), col("s"), col("sv"))

  /** One-round PQ training on `sub` from the seed codewords selected by
    * `seedPred`: seed argmin, decimal-exact per-(subspace, codeword,
    * dim) mean, final argmin against the refined codebook. Returns
    * (refined codebook (s, cid, cv), codes (vec_id, s, cid, dist)) —
    * dist is the assigned reconstruction error, the distortion audit's
    * raw material.
    */
  private[graft] def pqTrain(sub: DataFrame,
                             seedPred: Column): (DataFrame, DataFrame) = {
    def assign(cb: DataFrame): DataFrame =
      sub.join(broadcast(cb), "s")
        .withColumn("dist",
          dot(col("sv"), col("sv")) - lit(2.0) * dot(col("sv"), col("cv")) +
            dot(col("cv"), col("cv")))
        .groupBy(col("vec_id"), col("s"))
        .agg(min(struct(col("dist"), col("cid"))).as("best"))
        .select(col("vec_id"), col("s"),
          col("best.cid").cast("long").as("cid"), col("best.dist").as("dist"))
    val cb0 = sub.filter(seedPred)
      .select(col("s"), col("vec_id").as("cid"), col("sv").as("cv"))
    val a0 = assign(cb0)
    // one Lloyd refinement: exact decimal mean per (subspace, codeword,
    // dim) — a codeword that drew no members in round 0 drops out on
    // both sides identically
    val m1 = sub.join(a0.drop("dist"), Seq("vec_id", "s"))
      .select(col("s"), col("cid"), posexplode(col("sv")).as(Seq("pos", "v")))
      .groupBy("s", "cid", "pos")
      .agg((sum(col("v").cast("double").cast("decimal(30,15)")).cast("double") /
        count(lit(1))).as("comp"))
    // r18: materialize the refined codebook before the final assign —
    // the codes frame (and every later checkpoint of a consumer tuple)
    // otherwise re-executes the whole mean-update subtree per reference
    val cb1 = m1.groupBy("s", "cid")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("comp")))),
        x => x.getField("comp")).as("cv"))
    val cb1c = Memo.scratchCheckpoint(cb1)
    (cb1c, assign(cb1c))
  }

  /** Per-vector PQ code assignment against the trained codebook. */
  def pqCodes(spark: SparkSession, sfDir: String): DataFrame =
    pqModel(spark, sfDir)._3.select("vec_id", "s", "cid")

  /** The ADC scoring kernel shared by [[pqAnnTopK]], [[pqProbeRecall]]
    * and the streaming probe: codes pivot to ONE row per index vector
    * (8 codeword columns), each query's per-subspace distance tables
    * become 8 broadcast (codeword → distance) maps, and a candidate's
    * approximate distance is 8 map lookups summed LEFT-TO-RIGHT — the
    * literal ADC structure, one row per (query, candidate), NO
    * intermediate (q, m, s) explosion and no (q, m) re-grouping
    * shuffle (the first cut joined codes to the table on (s, codeword)
    * and re-grouped — |q|·|index|·8 shuffled rows, which is exactly
    * the kind of hidden corpus-scale exchange the plan pins exist to
    * catch). Distance values and summation order are unchanged, so
    * results are bit-identical to the join formulation.
    * `codes` is (m_id, s, cid); `qtab` is (q_id, s, cid, qd).
    * Returns (q_id, m_id, adc).
    *
    * `boundedQueries` gates the broadcast hint: true only when the
    * query side is a bounded batch (one ad-hoc query, a streaming
    * micro-batch) — a pinned broadcast hint is never demoted by Spark,
    * so a corpus-proportional query fleet (the recall audits) must NOT
    * take it. The unbounded path runs the same cross product as a
    * salt-keyed equi-join instead: every code row gets
    * salt = m_id mod S, the query tables replicate ×S, and each
    * reducer scores (codes/S × fleet) — a distributed block
    * nested-loop with no driver-side collect and no CartesianProduct
    * node, which is exactly what a brute-force fleet audit should
    * compile to.
    */
  private[graft] def adcScores(codes: DataFrame, qtab: DataFrame,
                               boundedQueries: Boolean = true): DataFrame = {
    val wideCols = (0 until PqSubspaces).map(i =>
      max(when(col("s") === i, col("cid"))).as(s"c$i"))
    val codesWide = codes.groupBy("m_id").agg(wideCols.head, wideCols.tail: _*)
    val tabCols = (0 until PqSubspaces).map(i =>
      map_from_entries(array_sort(collect_list(
        when(col("s") === i, struct(col("cid"), col("qd"))))))
        .as(s"t$i"))
    val qTables = qtab.groupBy("q_id").agg(tabCols.head, tabCols.tail: _*)
    // r19 (§2.3 shuffle fewer bytes): the block join replicates the
    // SLIM side (codes: m_id + 8 ints, ~50 B/row) across the salt
    // blocks and ships each FAT per-query distance-table row (8 maps
    // of up-to-128 entries, KBs/row) exactly once — r18 replicated
    // the tables ×32 (measured 28 MB shuffled on pq_probe_recall for
    // a 1 MB-scale input). Every (code, query) pair still meets
    // exactly once (codes carry ALL salts, a query exactly one), so
    // rows and values are bit-identical; the salt is a hash of q_id
    // (an id-parity-blind spread — the fleet ids are all odd, so a
    // plain mod would fill only half the blocks).
    val scored =
      if (boundedQueries) codesWide.crossJoin(broadcast(qTables))
      else codesWide
        .withColumn("blk", explode(sequence(lit(0), lit(BlockCrossSalt - 1))))
        .hint("shuffle_hash") // 32-key join: keep out of sort-merge
        .join(qTables.withColumn("blk",
          pmod(xxhash64(col("q_id")), lit(BlockCrossSalt)).cast("int")),
          "blk")
    scored.select(col("q_id"), col("m_id"),
      (0 until PqSubspaces).map(i =>
        element_at(col(s"t$i"), col(s"c$i"))).reduce(_ + _).as("adc"))
  }

  /** Reducer fan-out for the salt-keyed block joins the unbounded
    * audits compile to ([[adcScores]], the brute-force ground-truth
    * sides): one stage's worth of parallel blocks.
    */
  val BlockCrossSalt: Int = 32

  /** PQ reconstruction distortion per subspace — the compression-loss
    * report that sits next to [[pqRecall]] in an index build sign-off
    * (which subspace's codebook under-fits shows here first): vector
    * count and the exact-decimal sum of assigned ‖x−c‖² per subspace,
    * through [[kmeansClusters]]' wcss quantization discipline
    * (round(decimal-sum, 6) — the per-row dist is an IEEE-identical
    * double on both sides, the decimal fold is order-free).
    */
  def pqDistortion(spark: SparkSession, sfDir: String): DataFrame =
    pqModel(spark, sfDir)._3
      .groupBy(col("s").cast("long").as("subspace"))
      .agg(count(lit(1)).as("n_vectors"),
        round(sum(col("dist").cast("decimal(30,12)")), 6)
          .cast("decimal(38,6)").as("distortion"))
      .orderBy("subspace")

  /** PQ codebook utilization — the index-build health report (a dead or
    * overloaded codeword per subspace means the codebook mis-fits the
    * corpus): per (subspace, codeword) vector count plus the lowest
    * assigned vec_id as a deterministic witness. All-BIGINT gate.
    */
  def pqCodeStats(spark: SparkSession, sfDir: String): DataFrame =
    pqCodes(spark, sfDir)
      .groupBy(col("s").cast("long").as("subspace"), col("cid"))
      .agg(count(lit(1)).as("n_vectors"),
        min("vec_id").cast("long").as("first_vec"))
      .orderBy("subspace", "cid")

  /** ADC top-k: the query embedding (vec 0) precomputes its per-subspace
    * distance table to all [[PqCentroids]] codewords (128 doubles,
    * broadcast), every candidate's approximate distance is the sum of 8
    * table entries selected by its code. The per-candidate sum is 8
    * conditional-aggregate columns added LEFT-TO-RIGHT (qd0 + qd1 + …),
    * not a SUM aggregate — aggregation order over a group is not
    * deterministic, a column chain is, and the oracle adds in the same
    * order, so the ADC doubles hash bit-identically.
    *
    * Scale shape: candidates never touch raw embeddings — the search
    * reads the 8-byte codes and one broadcast table; at index scale this
    * sits behind an IVF cell probe ([[ivfTopK]]) exactly as in IVF-PQ.
    */
  def pqAnnTopK(spark: SparkSession, sfDir: String, queryId: Long = 0L,
                k: Int = 10): DataFrame = {
    val (sub, cb, codes) = pqModel(spark, sfDir)
    val q = sub.filter(col("vec_id") === queryId)
      .select(col("s"), col("sv").as("qv"))
    val qtab = cb.join(q, "s")
      .select(lit(queryId).as("q_id"), col("s"), col("cid"),
        (dot(col("qv"), col("qv")) - lit(2.0) * dot(col("qv"), col("cv")) +
          dot(col("cv"), col("cv"))).as("qd"))
    adcScores(codes.filter(col("vec_id") =!= queryId)
        .select(col("vec_id").as("m_id"), col("s"), col("cid")), qtab)
      .select(col("m_id").as("vec_id"), col("adc").as("adc_dist"))
      .orderBy(asc("adc_dist"), asc("vec_id"))
      .limit(k)
  }

  /** Fleet-level IVF-PQ recall — [[annProbeRecall]]'s discipline applied
    * to the compressed index: EVERY odd vector's ADC top-1 over the
    * even-half coded index (codebook trained on the index half only,
    * exactly [[graft.streaming.StreamAssembly.streamPqProbe]]'s static
    * side) compared against its exact-L2 top-1 over the same index.
    * The number that decides whether 8-byte codes can serve this corpus
    * online. All-BIGINT gate; the exact side is the honest brute force
    * (sampled-stratum at production via the md5 coin, the
    * [[annProbeRecallSampled]] pattern).
    */
  def pqProbeRecall(spark: SparkSession, sfDir: String): DataFrame =
    pqProbeRecallStratum(spark, sfDir, None)

  /** [[pqProbeRecall]] on the md5-coin 20% probe stratum — the
    * production execution (the [[annProbeRecallSampled]] pattern):
    * codebook, coded index and the exact-L2 ground-truth pool stay the
    * FULL even half; only the probe fleet samples, so both the ADC and
    * brute-force sides drop to stratum cost and the match-rate estimate
    * stays unbiased. The oracle samples identically.
    */
  def pqProbeRecallSampled(spark: SparkSession, sfDir: String,
                           pct: Int = 20): DataFrame =
    pqProbeRecallStratum(spark, sfDir, Some(pct))

  private def pqProbeRecallStratum(spark: SparkSession, sfDir: String,
                                   pct: Option[Int]): DataFrame = {
    GraftFunctions.register(spark)
    val even = Tables.embeddings(spark, sfDir).filter(col("vec_id") % 2 === 0)
    val odd0 = Tables.embeddings(spark, sfDir).filter(col("vec_id") % 2 === 1)
    val odd = pct.fold(odd0)(p =>
      odd0.filter(TrainingSets.bucket100(col("vec_id")) < p))
    val (cb, codesD) = pqTrain(pqSubVectors(even), col("vec_id") < 32)
    val codes = codesD.select(col("vec_id").as("m_id"), col("s"), col("cid"))
    val qtab = cb.join(pqSubVectors(odd)
        .select(col("vec_id").as("q_id"), col("s"), col("sv").as("qv")), "s")
      .select(col("q_id"), col("s"), col("cid"),
        (dot(col("qv"), col("qv")) - lit(2.0) * dot(col("qv"), col("cv")) +
          dot(col("cv"), col("cv"))).as("qd"))
    val adc1 = adcScores(codes, qtab, boundedQueries = false)
      .groupBy("q_id")
      .agg(min(struct(col("adc"), col("m_id"))).as("best"))
      .select(col("q_id"), col("best.m_id").as("adc_id"))
    // ground truth: fleet × full index — the memoized family-wide
    // exact frame (see [[exactOddEvenTop1]]; same salt-keyed block
    // join, same op order, so the shared leaf is bit-exact here too)
    val bf1 = exactOddEvenTop1(spark, sfDir, pct)
    adc1.join(bf1, Seq("q_id"))
      .agg(count(lit(1)).as("n_queries"),
        sum(when(col("adc_id") === col("bf_id"), 1L).otherwise(0L))
          .as("n_top1_match"),
        sum(when(col("adc_id") =!= col("bf_id"), 1L).otherwise(0L))
          .as("n_missed"))
  }

  /** PQ approximation audit — ADC top-k vs the exact L2 top-k (same
    * x·x − 2·x·q + q·q decomposition over the full 64 dims), overlap
    * as exact ppm: the recall number that decides whether 8 bytes per
    * vector is enough codebook for this corpus (the ivf_recall /
    * mm_ann_recall pattern). Ground truth is the honest brute force —
    * at production scale it runs on the md5-coin stratum exactly like
    * [[annProbeRecallSampled]].
    */
  def pqRecall(spark: SparkSession, sfDir: String, queryId: Long = 0L,
               k: Int = 10): DataFrame = {
    GraftFunctions.register(spark)
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val q = e.filter(col("vec_id") === queryId)
      .select(col("embedding").as("qe"))
    val exact = e.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        (dot(col("embedding"), col("embedding")) -
          lit(2.0) * dot(col("embedding"), col("qe")) +
          dot(col("qe"), col("qe"))).as("d"))
      .orderBy(asc("d"), asc("vec_id")).limit(k)
      .select("vec_id")
    val adc = pqAnnTopK(spark, sfDir, queryId, k).select("vec_id")
    adc.join(exact, Seq("vec_id"), "left_semi")
      .agg(count(lit(1)).as("n_overlap"))
      .select(lit(k.toLong).as("k"), col("n_overlap"),
        expr(s"n_overlap * 1000000 div $k").as("recall_ppm"))
  }

  // ------------------------------------------------------------------
  // Composed IVF-PQ (IVFADC, Jégou et al. 2011 §IV) — the executable
  // production path the flat-PQ tier's scaladoc only pointed at: a
  // trained coarse quantizer partitions the index into cells, every
  // vector is PQ-coded on its RESIDUAL against its cell centroid (the
  // actual IVFADC encoding — residual energy is what's left after the
  // coarse quantizer, so the same 8-byte budget spends its codewords on
  // a much smaller signal), and a query ADC-scans ONLY the codes of its
  // `nProbe` nearest cells. Search cost per query drops from O(index)
  // to O(index · nProbe / nCells); memory stays 8 bytes/vector plus one
  // broadcast codebook + centroid table.
  // ------------------------------------------------------------------

  /** Coarse cell count / probed cells per query. 16/4 keeps every
    * constant oracle-replayable at spec scale; at index scale these are
    * the standard sqrt(n)-ish tuning knobs and nothing in the plan
    * shape changes. Env-overridable (GRAFT_IVFPQ_CELLS /
    * GRAFT_IVFPQ_PROBE) so the SAME code and oracle SQL gate at
    * production geometry (nCells ≈ √n, e.g. 140/12 at the 20k-vector
    * sf1f fixture) — the oracle interpolates these constants at
    * object init, so one JVM run can never see drifted values.
    */
  val IvfPqCells: Int = graft.EnvKnobs.posInt("GRAFT_IVFPQ_CELLS", 16)
  val IvfPqProbe: Int = graft.EnvKnobs.posInt("GRAFT_IVFPQ_PROBE", 4)

  /** One-Lloyd-round coarse quantizer over `e0` (vec_id, embedding):
    * seeds are the rows matching `seedPred` (the fixed-seed scheme of
    * [[kmeansAssign]]), refined once with the decimal-exact per-(cell,
    * dim) mean, then every vector argmin-assigned to its final cell.
    * Returns (cents(cid, cemb, csq), assigned(vec_id, cell, residual))
    * where residual = embedding − cemb(cell) — a double array built
    * from lossless float→double widening and exact IEEE subtraction,
    * so the oracle replays it bit-for-bit.
    *
    * Scale shape: both assignment rounds are one map-side pass against
    * the broadcast centroid axis (argmin partial-agg combine); the
    * refinement mean is a centroid-sized aggregate. An index BUILD
    * materializes (cents, codebook, codes) once and serves them to
    * every probe — exactly what [[graft.streaming.StreamAssembly
    * .streamPqProbe]] does with its localCheckpoint'd static side.
    */
  private[graft] def coarseQuantize(e0: DataFrame,
                                    seedPred: Column): (DataFrame, DataFrame) = {
    val e = e0.select(col("vec_id"), col("embedding"),
      dot(col("embedding"), col("embedding")).as("sq"))
    def assign(cents: DataFrame): DataFrame =
      e.crossJoin(broadcast(cents))
        .withColumn("dist",
          col("sq") + col("csq") - lit(2.0) * dot(col("embedding"), col("cemb")))
        .groupBy("vec_id")
        .agg(min(struct(col("dist"), col("cid"))).as("best"),
          first("embedding").as("embedding"))
        .select(col("vec_id"), col("best.cid").as("cell"), col("embedding"))
    val c0 = e.filter(seedPred)
      .select(col("vec_id").as("cid"), col("embedding").as("cemb"),
        col("sq").as("csq"))
    val a0 = assign(c0)
    val m1 = a0.select(col("cell").as("cid"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("cid", "pos")
      .agg((sum(col("v").cast("double").cast("decimal(30,15)")).cast("double") /
        count(lit(1))).as("comp"))
    val c1 = m1.groupBy("cid")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("comp")))),
        x => x.getField("comp")).as("cemb"))
      .withColumn("csq", dot(col("cemb"), col("cemb")))
    val assigned = assign(c1)
      .join(broadcast(c1.select(col("cid").as("cell"), col("cemb"))), "cell")
      .select(col("vec_id"), col("cell"),
        zip_with(col("embedding"), col("cemb"),
          (a, b) => a.cast("double") - b).as("residual"))
    (c1, assigned)
  }

  /** Memoized IVF-PQ index builds, keyed (SparkContext, dir,
    * variant:part) — the index-build-once/serve-many shape of a real
    * deployment: the trained centroid axis, residual codebook and
    * coded index are materialized via localCheckpoint, so every
    * consumer (top-k, the audits, each micro-batch of the online
    * probe) plans against slim RDD leaves instead of replaying the
    * two-stage training DAG per consumer (which multiplied the plan's
    * exchange count ~10×). Keyed on the CONTEXT, not the session:
    * localCheckpoint blocks live in the shared SparkContext, so the
    * cloned per-drain sessions ([[graft.streaming.Drain.run]]'s
    * clone) reuse the model instead of retraining it per drain
    * (the r13 2× stream_pq_probe regression) and no dead session keys
    * accumulate. Registered with [[Memo]] so the bench's clearAll
    * keeps cold timings honest.
    */
  private val ivfpqCache =
    Memo.registry[(org.apache.spark.SparkContext, String, String)]

  /** Exact-L2 ground-truth frames shared by the probe/rerank recall
    * audits, keyed (context, dir, stratum) — see the bf1 comment in
    * [[ivfpqProbeRecallStratum]].
    */
  private val bfCache =
    Memo.registry[(org.apache.spark.SparkContext, String, String)]

  /** The odd-fleet × even-index exact top-1 (salt-keyed block join,
    * argmin over the x·x − 2·x·y + y·y double fold), memoized per
    * (context, dir, stratum) — the ONE brute-force ground truth the
    * whole flat-PQ + IVF-PQ audit family prices against
    * (`pq_probe_recall`, `ivfpq_probe_recall`, `ivfpq_rerank_recall`
    * and their sampled strata): r18 had the IVF-PQ pair sharing it
    * while the flat-PQ audit re-ran the identical fleet×index
    * quadratic per query (guide §5 caching-for-reuse; the frames are
    * column-for-column and op-order identical, so the shared leaf is
    * bit-exact for every consumer). The checkpointed result is
    * fleet-sized (2 longs/row).
    */
  private def exactOddEvenTop1(spark: SparkSession, sfDir: String,
                               pct: Option[Int]): DataFrame =
    bfCache.synchronized {
      val key = (spark.sparkContext, sfDir, s"bf:${pct.getOrElse(100)}")
      bfCache.getOrElseUpdate(key, {
        val even = Tables.embeddings(spark, sfDir)
          .filter(col("vec_id") % 2 === 0)
        val odd0 = Tables.embeddings(spark, sfDir)
          .filter(col("vec_id") % 2 === 1)
        val odd = pct.fold(odd0)(p =>
          odd0.filter(TrainingSets.bucket100(col("vec_id")) < p))
        odd.select(col("vec_id").as("q_id"), col("embedding").as("qe"))
          .withColumn("blk",
            explode(sequence(lit(0), lit(BlockCrossSalt - 1))))
          .join(even.select(col("vec_id").as("b_id"),
              col("embedding").as("be"))
            .withColumn("blk",
              pmod(col("b_id"), lit(BlockCrossSalt)).cast("int"))
            .hint("shuffle_hash"), "blk")
          .withColumn("d",
            dot(col("qe"), col("qe")) - lit(2.0) * dot(col("qe"), col("be")) +
              dot(col("be"), col("be")))
          .groupBy("q_id")
          .agg(min(struct(col("d"), col("b_id"))).as("best"))
          .select(col("q_id"), col("best.b_id").as("bf_id"))
          .localCheckpoint(true)
      })
    }

  private def ivfpqMemo(spark: SparkSession, sfDir: String, tag: String)(
      build: => (DataFrame, DataFrame, DataFrame)): (DataFrame, DataFrame, DataFrame) =
    ivfpqCache.synchronized {
      val keys = Seq("cents", "cb", "codes")
        .map(p => (spark.sparkContext, sfDir, s"$tag:$p"))
      if (!keys.forall(ivfpqCache.contains)) {
        val (cents, cb, codes) = build
        ivfpqCache.put(keys(0), cents.localCheckpoint(true))
        ivfpqCache.put(keys(1), cb.localCheckpoint(true))
        ivfpqCache.put(keys(2), codes.localCheckpoint(true))
      }
      (ivfpqCache(keys(0)), ivfpqCache(keys(1)), ivfpqCache(keys(2)))
    }

  /** The trained IVF-PQ index over the FULL corpus: coarse centroids,
    * residual codebook (PQ trained on residuals — [[pqTrain]]'s
    * decimal-exact Lloyd discipline, seeds = the first [[PqCentroids]]
    * vectors' residual sub-vectors) and the coded index
    * (vec_id, s, cid, dist, cell). The cell join is the only
    * corpus-keyed shuffle and carries 8 int rows per vector.
    */
  private[graft] def ivfpqModel(spark: SparkSession,
                                sfDir: String): (DataFrame, DataFrame, DataFrame) =
    ivfpqMemo(spark, sfDir, "full") {
      GraftFunctions.register(spark)
      val e = Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding"))
      val (cents, assigned0) = coarseQuantize(e, col("vec_id") < IvfPqCells)
      // r18: materialize the coarse assignment once — the codebook and
      // codes checkpoints otherwise each re-run the two-round coarse
      // Lloyd subtree
      val assigned = Memo.scratchCheckpoint(assigned0)
      val rsub = pqSubVectors(
        assigned.select(col("vec_id"), col("residual").as("embedding")))
      val (cb, codesD) = pqTrain(rsub, col("vec_id") < PqCentroids)
      val codes = codesD.join(assigned.select(col("vec_id"), col("cell")),
        "vec_id")
      (cents, cb, codes)
    }

  /** The even-half IVF-PQ index the online probe family serves from
    * (streamPqProbe's static side, the fleet recall audit's index):
    * coarse seeds = the first [[IvfPqCells]] even vectors, residual
    * codebook seeds = the first [[PqCentroids]] even vectors.
    */
  private[graft] def ivfpqProbeModel(spark: SparkSession,
                                     sfDir: String): (DataFrame, DataFrame, DataFrame) =
    ivfpqMemo(spark, sfDir, "even") {
      GraftFunctions.register(spark)
      val even = Tables.embeddings(spark, sfDir)
        .filter(col("vec_id") % 2 === 0)
        .select(col("vec_id"), col("embedding"))
      val (cents, assigned0) = coarseQuantize(even, col("vec_id") < 2L * IvfPqCells)
      val assigned = Memo.scratchCheckpoint(assigned0)
      val rsub = pqSubVectors(
        assigned.select(col("vec_id"), col("residual").as("embedding")))
      val (cb, codesD) = pqTrain(rsub, col("vec_id") < 2L * PqCentroids)
      val codes = codesD.join(assigned.select(col("vec_id"), col("cell")),
        "vec_id")
      (cents, cb, codes)
    }

  /** Per-query, per-probed-cell ADC distance tables: each query ranks
    * the broadcast centroids (bounded per-query frame), keeps its top
    * `nProbe` cells, forms the cell RESIDUAL q − c(cell), and
    * precomputes that residual's distance to all [[PqCentroids]]
    * residual codewords per subspace — ‖r_s − cv‖² through the same
    * x·x − 2·x·c + c·c fold as training, so the oracle's doubles are
    * bit-identical. Returns (q_id, cell, s, cid, qd):
    * nProbe · 8 · 16 slim rows per query.
    */
  private[graft] def cellResidualTables(q: DataFrame, cents: DataFrame,
                                        cb: DataFrame,
                                        nProbe: Int = IvfPqProbe): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qCells = q
      .select(col("q_id"), col("embedding"),
        dot(col("embedding"), col("embedding")).as("sq"))
      .crossJoin(broadcast(cents))
      .withColumn("dist",
        col("sq") + col("csq") - lit(2.0) * dot(col("embedding"), col("cemb")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("q_id").orderBy(asc("dist"), asc("cid"))))
      .filter(col("rn") <= nProbe)
      .select(col("q_id"), col("cid").as("cell"),
        zip_with(col("embedding"), col("cemb"),
          (a, b) => a.cast("double") - b).as("qres"))
    qCells
      .select(col("q_id"), col("cell"),
        explode(sequence(lit(0), lit(PqSubspaces - 1))).as("s"), col("qres"))
      .withColumn("rv", expr(s"slice(qres, s * $PqSubDim + 1, $PqSubDim)"))
      .join(broadcast(cb), "s")
      .select(col("q_id"), col("cell"), col("s"), col("cid"),
        (dot(col("rv"), col("rv")) - lit(2.0) * dot(col("rv"), col("cv")) +
          dot(col("cv"), col("cv"))).as("qd"))
  }

  /** [[adcScores]] with the IVF cell key: the code frame carries each
    * vector's cell, the query tables are keyed (q_id, cell), and the
    * join ON cell is what restricts candidates to the probed cells'
    * codes — the IVFADC search loop as one equi-join. Bounded query
    * fleets broadcast their tables (map-side, no shuffle of the
    * codes); unbounded audit fleets run the salt-spread variant so a
    * 16-cell key space still fans out across a stage of reducers.
    */
  private[graft] def adcScoresCell(codes: DataFrame, qtab: DataFrame,
                                   boundedQueries: Boolean = true): DataFrame = {
    val wideCols = (0 until PqSubspaces).map(i =>
      max(when(col("s") === i, col("cid"))).as(s"c$i"))
    val codesWide = codes.groupBy("m_id", "cell")
      .agg(wideCols.head, wideCols.tail: _*)
    val tabCols = (0 until PqSubspaces).map(i =>
      map_from_entries(array_sort(collect_list(
        when(col("s") === i, struct(col("cid"), col("qd"))))))
        .as(s"t$i"))
    val qTables = qtab.groupBy("q_id", "cell").agg(tabCols.head, tabCols.tail: _*)
    // r19 (§2.3): replicate the slim code rows across the salt blocks,
    // ship each fat per-(query, cell) table row once — see the
    // [[adcScores]] comment; identical pair coverage per shared cell.
    val scored =
      if (boundedQueries) codesWide.join(broadcast(qTables), Seq("cell"))
      else codesWide
        .withColumn("blk", explode(sequence(lit(0), lit(BlockCrossSalt - 1))))
        .hint("shuffle_hash") // low-cardinality key: no sort-merge
        .join(qTables.withColumn("blk",
          pmod(xxhash64(col("q_id")), lit(BlockCrossSalt)).cast("int")),
          Seq("cell", "blk"))
    scored.select(col("q_id"), col("m_id"),
      (0 until PqSubspaces).map(i =>
        element_at(col(s"t$i"), col(s"c$i"))).reduce(_ + _).as("adc"))
  }

  /** IVF-PQ top-k — the full composed search: probe [[IvfPqProbe]] of
    * [[IvfPqCells]] cells, ADC-score ONLY those cells' 8-byte residual
    * codes, take the k best. The candidate frame is
    * O(index · nProbe / nCells) instead of [[pqAnnTopK]]'s full-index
    * scan, which is the entire point of the composition.
    */
  def ivfpqTopK(spark: SparkSession, sfDir: String, queryId: Long = 0L,
                k: Int = 10): DataFrame = {
    val (cents, cb, codes) = ivfpqModel(spark, sfDir)
    val q = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") === queryId)
      .select(col("vec_id").as("q_id"), col("embedding"))
    val qtab = cellResidualTables(q, cents, cb)
    adcScoresCell(codes.filter(col("vec_id") =!= queryId)
        .select(col("vec_id").as("m_id"), col("cell"), col("s"), col("cid")),
        qtab)
      .select(col("m_id").as("vec_id"), col("adc").as("adc_dist"))
      .orderBy(asc("adc_dist"), asc("vec_id"))
      .limit(k)
  }

  /** BUILD → WRITE → LOAD → SERVE for the IVFADC family — the
    * compressed sibling of [[graft.ops.KnnGraph.graphIndexPersistServe]]
    * (one durability gate per index family, the [[graft.storage.Storage
    * .writeIndex]] MergeTree contract): the trained even-half model's
    * three artifacts — coarse centroids, residual codebook, coded
    * index (8 ints + a cell per vector; the training-time `dist`
    * column is distortion bookkeeping, not model state, and is NOT
    * persisted) — are written, manifest-checked back in, and the
    * md5-coin stratum of the odd fleet runs the standard cell-probed
    * ADC top-1 ENTIRELY from the loaded frames. Every model column is
    * long/double/float-array, which parquet round-trips bit-exactly,
    * so the serve is bit-identical to the in-session probe —
    * Round18Spec proves it with the memo tier killed.
    */
  def pqIndexPersistServe(spark: SparkSession, sfDir: String,
                          pct: Int = 20): DataFrame = {
    val (cents, cb, codes) = ivfpqProbeModel(spark, sfDir)
    val root = java.nio.file.Files
      .createTempDirectory("graft_pq_index").toString
    graft.storage.Storage.writeIndex(cents, root, "centroids")
    graft.storage.Storage.writeIndex(cb, root, "codebook")
    graft.storage.Storage.writeIndex(
      codes.select(col("vec_id"), col("cell"), col("s"), col("cid")),
      root, "codes")
    servePqFromArtifacts(spark, sfDir, root, pct)
  }

  /** The serve-from-loaded-artifacts probe, split out for the spec's
    * fresh-session (memo-killed) bit-identity check.
    */
  private[graft] def servePqFromArtifacts(spark: SparkSession,
                                          sfDir: String, root: String,
                                          pct: Int): DataFrame = {
    GraftFunctions.register(spark)
    val cents = graft.storage.Storage.loadIndex(spark, root, "centroids")
    val cb = graft.storage.Storage.loadIndex(spark, root, "codebook")
    val codes = graft.storage.Storage.loadIndex(spark, root, "codes")
      .select(col("vec_id").as("m_id"), col("cell"), col("s"), col("cid"))
    val qs = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") % 2 === 1)
      .filter(TrainingSets.bucket100(col("vec_id")) < pct)
      .select(col("vec_id").as("q_id"), col("embedding"))
    val qtab = cellResidualTables(qs, cents, cb)
    adcScoresCell(codes, qtab)
      .groupBy("q_id")
      .agg(min(struct(col("adc"), col("m_id"))).as("best"))
      .select(col("q_id").as("vec_id"), col("best.m_id").as("match_id"),
        col("best.adc").as("adc_dist"))
      .orderBy("vec_id")
  }

  /** Code a batch of vectors against a FROZEN IVF-PQ model — the index
    * WRITE path (the maintenance side [[graft.streaming.StreamAssembly
    * .streamPqIndexAppend]] drains): nearest-cell argmin against the
    * broadcast centroid axis, residual against that cell's centroid,
    * per-subspace nearest residual codeword from the broadcast
    * codebook. Entirely row-local given the two broadcasts (the only
    * exchanges are the two argmin partial-agg combines), so coding is
    * batch-boundary independent by construction. Every fold is the
    * exact expression the training side computes ([[coarseQuantize]]'s
    * assignment, [[pqTrain]]'s distance), so a vector coded online
    * gets the identical (cell, codeword) row it would get in a batch
    * rebuild. Returns (vec_id, cell, s, cid).
    */
  private[graft] def ivfpqCode(vecs: DataFrame, cents: DataFrame,
                               cb: DataFrame): DataFrame = {
    val assigned = vecs
      .select(col("vec_id"), col("embedding"),
        dot(col("embedding"), col("embedding")).as("sq"))
      .crossJoin(broadcast(cents))
      .withColumn("dist",
        col("sq") + col("csq") - lit(2.0) * dot(col("embedding"), col("cemb")))
      .groupBy("vec_id")
      .agg(min(struct(col("dist"), col("cid"))).as("best"),
        first("embedding").as("embedding"))
      .select(col("vec_id"), col("best.cid").as("cell"), col("embedding"))
      .join(broadcast(cents.select(col("cid").as("cell"), col("cemb"))),
        "cell")
      .select(col("vec_id"), col("cell"),
        zip_with(col("embedding"), col("cemb"),
          (a, b) => a.cast("double") - b).as("embedding"))
    assigned
      .select(col("vec_id"), col("cell"),
        explode(sequence(lit(0), lit(PqSubspaces - 1))).as("s"),
        col("embedding"))
      .withColumn("sv",
        expr(s"slice(embedding, s * $PqSubDim + 1, $PqSubDim)"))
      .join(broadcast(cb), "s")
      .withColumn("dist",
        dot(col("sv"), col("sv")) - lit(2.0) * dot(col("sv"), col("cv")) +
          dot(col("cv"), col("cv")))
      .groupBy(col("vec_id"), col("cell"), col("s"))
      .agg(min(struct(col("dist"), col("cid"))).as("best"))
      .select(col("vec_id"), col("cell"), col("s"),
        col("best.cid").cast("long").as("cid"))
  }

  /** PQ WARM REFRESH — the fold on the compressed family (the graph
    * family's sibling is [[graft.ops.KnnGraph.warmRebuildOf]]): one
    * decimal-exact Lloyd refresh of the FROZEN coarse axis over the
    * merged (base ∪ inserted) population, then a full re-code against
    * the refreshed centroids with the residual codebook KEPT — the
    * standard production refresh: the codebook is a property of
    * residual geometry and drifts slowly, the coarse axis is what new
    * data bends. Reports exact integer churn — vectors that changed
    * cells, per-subspace code changes — the numbers that tell an
    * operator whether the full codebook retrain is due. At 100 TB the
    * refresh is one assignment pass + one coding pass, both row-local
    * against broadcast models (centroid frame and codebook are
    * model-bounded), plus one cell-keyed decimal-mean aggregate.
    */
  /** One Lloyd refresh step over `vecs` (vec_id, embedding) from the
    * frozen axis `cents`: returns (old assignment (vec_id, cell,
    * embedding), refreshed centroids (cid, cemb, csq) as decimal-exact
    * per-(cell, dim) means of the assigned members). Split out so the
    * spec can assert Lloyd monotonicity (a mean step never increases
    * the total coarse distortion it was averaged over).
    */
  private[graft] def refreshCentroids(vecs: DataFrame, cents: DataFrame)
      : (DataFrame, DataFrame) = {
    // old assignment under the frozen axis (even rows replay the model
    // build's own assignment; inserted rows the write path's)
    val a0 = vecs
      .select(col("vec_id"), col("embedding"),
        dot(col("embedding"), col("embedding")).as("sq"))
      .crossJoin(broadcast(cents))
      .withColumn("dist",
        col("sq") + col("csq") - lit(2.0) * dot(col("embedding"), col("cemb")))
      .groupBy("vec_id")
      .agg(min(struct(col("dist"), col("cid"))).as("best"),
        first("embedding").as("embedding"))
      .select(col("vec_id"), col("best.cid").as("cell"), col("embedding"))
      .localCheckpoint(true)
    // the refreshed centroid = decimal-exact per-(cell, dim) mean of
    // the merged members (the coarseQuantize discipline)
    val m1 = a0.select(col("cell").as("cid"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("cid", "pos")
      .agg((sum(col("v").cast("double").cast("decimal(30,15)")).cast("double") /
        count(lit(1))).as("comp"))
    val cents2 = m1.groupBy("cid")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("comp")))),
        x => x.getField("comp")).as("cemb"))
      .withColumn("csq", dot(col("cemb"), col("cemb")))
      .localCheckpoint(true)
    (a0, cents2)
  }

  def ivfpqWarmRefresh(spark: SparkSession, sfDir: String): DataFrame = {
    GraftFunctions.register(spark)
    val (cents, cb, codesEven) = ivfpqProbeModel(spark, sfDir)
    val e2 = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") % 2 === 0 || col("vec_id") % 4 === 1)
      .select(col("vec_id"), col("embedding"))
    val inserted = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") % 4 === 1)
      .select(col("vec_id"), col("embedding"))
    val (a0, cents2) = refreshCentroids(e2, cents)
    val codes2 = ivfpqCode(e2, cents2, cb).localCheckpoint(true)
    val oldCodes = codesEven
      .select(col("vec_id"), col("s").cast("int").as("s"),
        col("cid").as("cid_old"))
      .union(ivfpqCode(inserted, cents, cb)
        .select(col("vec_id"), col("s").cast("int").as("s"),
          col("cid").as("cid_old")))
    val moved = codes2.select(col("vec_id"), col("cell")).distinct()
      .join(a0.select(col("vec_id"), col("cell").as("cell0")), "vec_id")
      .filter(col("cell") =!= col("cell0"))
      .agg(count(lit(1)).as("n_cell_moved"))
    codes2
      .select(col("vec_id"), col("s").cast("int").as("s"),
        col("cid").as("cid_new"))
      .join(oldCodes, Seq("vec_id", "s"))
      .groupBy(col("s").cast("long").as("s"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(when(col("cid_new") =!= col("cid_old"), 1L).otherwise(0L))
          .as("n_code_changed"))
      .crossJoin(broadcast(moved))
      .orderBy("s")
  }

  /** IVF-PQ search with the exact re-rank stage (IVFADC+R, Jégou et
    * al. 2011 §VII — the production serving shape): ADC over the
    * probed cells keeps the top `r` candidates, ONLY those `r` rows
    * join back to the raw corpus for exact L2, and the final top-k is
    * exact-ordered. Per query the raw-vector traffic is r rows
    * (broadcast candidate semi-join against the scan — map-side), so
    * the compressed index still does all the winnowing; the re-rank
    * recovers the ADC compression loss inside the probed cells.
    * Output distances are pure raw-float folds (no centroid chain), so
    * the gate hashes them directly.
    */
  def ivfpqRerankTopK(spark: SparkSession, sfDir: String,
                      queryId: Long = 0L, k: Int = 10,
                      r: Int = IvfPqRerankR): DataFrame = {
    val (cents, cb, codes) = ivfpqModel(spark, sfDir)
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val q = e.filter(col("vec_id") === queryId)
      .select(col("vec_id").as("q_id"), col("embedding"))
    val qtab = cellResidualTables(q, cents, cb)
    val cand = adcScoresCell(
        codes.filter(col("vec_id") =!= queryId)
          .select(col("vec_id").as("m_id"), col("cell"), col("s"), col("cid")),
        qtab)
      .orderBy(asc("adc"), asc("m_id")).limit(r)
      .select("m_id")
    e.select(col("vec_id").as("m_id"), col("embedding").as("be"))
      .join(broadcast(cand), "m_id")
      .crossJoin(broadcast(q.select(col("embedding").as("qe"))))
      .select(col("m_id").as("vec_id"),
        (dot(col("qe"), col("qe")) - lit(2.0) * dot(col("qe"), col("be")) +
          dot(col("be"), col("be"))).as("exact_dist"))
      .orderBy(asc("exact_dist"), asc("vec_id"))
      .limit(k)
  }

  /** Coarse-index health report: per-cell vector count + lowest member
    * id — the cell-balance number that decides nProbe (a starved or
    * overloaded cell means the coarse quantizer mis-fits). All-BIGINT.
    */
  def ivfpqCellStats(spark: SparkSession, sfDir: String): DataFrame =
    ivfpqModel(spark, sfDir)._3
      .filter(col("s") === 0) // one row per vector from the coded index
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vectors"),
        min("vec_id").cast("long").as("first_vec"))
      .orderBy("cell")

  /** Residual-coding distortion per subspace — [[pqDistortion]]'s
    * sibling on the IVF-PQ index. Residuals carry only what the coarse
    * quantizer left behind, so the same 16-codeword budget fits a much
    * smaller signal: this report against pq_distortion's is the
    * measured argument for residual coding (Jégou et al.'s IVFADC-vs-
    * ADC comparison as two gated rows).
    *
    * Gate discipline: each per-(vector, subspace) `dist` is floored to
    * BIGINT micro-units AT THE SOURCE and the sum is pure integer
    * arithmetic — unlike the flat sibling, the residual chain passes
    * through the coarse centroid's decimal(30,15)→DOUBLE conversion,
    * where Spark's BigDecimal rounds once but DuckDB's int128-scaled
    * decimal can double-round: a 1-ulp centroid component shifts every
    * downstream dist by ulps, which a raw decimal sum of doubles
    * faithfully hashes apart (the r13 red gate). Micro-flooring
    * absorbs ulp-scale divergence; ranks were never affected
    * (ivfpq_topk / ivfpq_cell_stats stayed green throughout).
    */
  def ivfpqDistortion(spark: SparkSession, sfDir: String): DataFrame =
    ivfpqModel(spark, sfDir)._3
      .groupBy(col("s").cast("long").as("subspace"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(floor(col("dist") * lit(1e6)).cast("long")).as("distortion_micro"))
      .orderBy("subspace")

  /** Fleet recall of the COMPOSED path: every odd vector probes the
    * even-half IVF-PQ index (nProbe cells, residual ADC) and its top-1
    * is compared against the exact-L2 top-1 over the FULL even half.
    * Also reported: how often the exact top-1's cell was among the
    * probed cells — the coarse quantizer's recall ceiling, which
    * separates IVF loss from PQ loss in one row (the number that tells
    * an index operator whether to raise nProbe or retrain the
    * codebook). A query whose probed cells hold no index vectors
    * counts as a miss on both engines (LEFT join, null-safe compare).
    */
  def ivfpqProbeRecall(spark: SparkSession, sfDir: String): DataFrame =
    ivfpqProbeRecallStratum(spark, sfDir, None)

  /** [[ivfpqProbeRecall]] on the md5-coin 20% probe stratum — the
    * production execution ([[annProbeRecallSampled]]'s pattern: sampled
    * fleet, never a sampled index).
    */
  def ivfpqProbeRecallSampled(spark: SparkSession, sfDir: String,
                              pct: Int = 20): DataFrame =
    ivfpqProbeRecallStratum(spark, sfDir, Some(pct))

  /** Candidates kept for the exact re-rank stage (IVFADC+R, Jégou et
    * al. 2011 §VII): ADC orders the probed cells' codes, the top R
    * survivors are re-scored with EXACT L2 against their raw vectors.
    * R bounds the raw-vector reads per query — the serving trade-off
    * knob between ADC's compression loss and exact-scan cost.
    */
  val IvfPqRerankR: Int = 50

  /** [[ivfpqProbeRecall]] with the re-rank stage in the loop: per
    * probe, ADC keeps its top [[IvfPqRerankR]] candidates and only
    * those R rows join back to raw embeddings for an exact-L2 argmin.
    * Against the probe audit this prices exactly what re-ranking buys:
    * n_top1_match should approach n_bf_in_probed (the IVF ceiling),
    * because within the probed cells the only remaining loss is a true
    * neighbor falling off the ADC top-R.
    */
  def ivfpqRerankRecall(spark: SparkSession, sfDir: String): DataFrame =
    ivfpqProbeRecallStratum(spark, sfDir, None, rerank = Some(IvfPqRerankR))

  /** [[ivfpqRerankRecall]] on the md5-coin 20% stratum. */
  def ivfpqRerankRecallSampled(spark: SparkSession, sfDir: String,
                               pct: Int = 20): DataFrame =
    ivfpqProbeRecallStratum(spark, sfDir, Some(pct),
      rerank = Some(IvfPqRerankR))

  private def ivfpqProbeRecallStratum(spark: SparkSession, sfDir: String,
                                      pct: Option[Int],
                                      rerank: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (cents, cb, codes) = ivfpqProbeModel(spark, sfDir)
    val even = Tables.embeddings(spark, sfDir).filter(col("vec_id") % 2 === 0)
    val odd0 = Tables.embeddings(spark, sfDir).filter(col("vec_id") % 2 === 1)
    val odd = pct.fold(odd0)(p =>
      odd0.filter(TrainingSets.bucket100(col("vec_id")) < p))
    val qtab = cellResidualTables(
      odd.select(col("vec_id").as("q_id"), col("embedding")), cents, cb)
    val scored = adcScoresCell(
      codes.select(col("vec_id").as("m_id"), col("cell"), col("s"),
        col("cid")),
      qtab, boundedQueries = false)
    val adc1 = rerank match {
      case None =>
        scored.groupBy("q_id")
          .agg(min(struct(col("adc"), col("m_id"))).as("best"))
          .select(col("q_id"), col("best.m_id").as("adc_id"))
      case Some(r) =>
        // IVFADC+R: only the ADC top-R rows per query touch raw
        // vectors again — fleet·R slim rows against two embedding
        // equi-joins, never the index
        val cand = scored
          .withColumn("rn", row_number().over(
            Window.partitionBy("q_id").orderBy(asc("adc"), asc("m_id"))))
          .filter(col("rn") <= r)
          .select("q_id", "m_id")
        cand
          .join(even.select(col("vec_id").as("m_id"),
            col("embedding").as("be")), "m_id")
          .join(odd.select(col("vec_id").as("q_id"),
            col("embedding").as("qe")), "q_id")
          .withColumn("d",
            dot(col("qe"), col("qe")) - lit(2.0) * dot(col("qe"), col("be")) +
              dot(col("be"), col("be")))
          .groupBy("q_id")
          .agg(min(struct(col("d"), col("m_id"))).as("best"))
          .select(col("q_id"), col("best.m_id").as("adc_id"))
    }
    // exact ground truth: fleet × full index, salt-keyed block join —
    // the memoized family-wide frame (see [[exactOddEvenTop1]])
    val bf1 = exactOddEvenTop1(spark, sfDir, pct)
    // the IVF ceiling: was the exact winner's cell probed at all?
    val bfCell = bf1.join(
      codes.select(col("vec_id").as("bf_id"), col("cell")).distinct(), "bf_id")
    val probed = qtab.select(col("q_id"), col("cell")).distinct()
    val inProbed = bfCell.join(probed, Seq("q_id", "cell"), "left_semi")
      .select(col("q_id"), lit(1L).as("bf_probed"))
    bf1.join(adc1, Seq("q_id"), "left")
      .join(inProbed, Seq("q_id"), "left")
      .agg(count(lit(1)).as("n_queries"),
        sum(when(col("adc_id").isNotNull && col("adc_id") === col("bf_id"),
          1L).otherwise(0L)).as("n_top1_match"),
        sum(when(col("adc_id").isNull || col("adc_id") =!= col("bf_id"),
          1L).otherwise(0L)).as("n_missed"),
        sum(coalesce(col("bf_probed"), lit(0L))).as("n_bf_in_probed"))
  }
}
