package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor similarity search over the `embeddings`
  * table (`ArrayType(FloatType)`, dim 64) — SURVEY.md §7.5 extension tier.
  *
  * Numeric determinism contract: the dot product is a strict LEFT FOLD in
  * array order (`aggregate(zip_with(...))`), each element cast
  * float→double (exact) before multiplying. The DuckDB oracle folds the
  * same way (`list_reduce(list_prepend(0.0, list_transform(list_zip(...`),
  * so cosine scores are bit-identical across engines — rank order and
  * rounded outputs cannot diverge. (A groupBy-sum over exploded positions
  * would sum in partition order and be nondeterministic at the last ulp.)
  *
  * Scale posture: brute-force top-k is the correctness baseline (and the
  * right plan when the query set is small: broadcast queries, one pass
  * over the corpus, TakeOrdered per query). The sign-LSH bucketed variant
  * is the 100 TB path: candidates drop ~2^bits-fold and the join is a
  * shuffle on a 1-byte key; recall is tunable via multi-probe (flip one
  * bit) — not needed at test scale.
  */
object SimilarityOps {

  /** The IVF default operating point, chosen from the MEASURED
    * recall/cost curve (measured round 7; see git history — sf0.1,
    * 2000 vectors, ⌈√n⌉ = 45 cells, recall@3 over 64 queries vs brute
    * force):
    *
    *   nProbe          1     2     4     8     12    16
    *   recall (sf0.1)  .714  .755  .792  .870  .911  .932
    *   recall (sf0.01) .479  .552  .615  .750  .859  .953
    *
    * nProbe = 16 is the first point at recall ≥ 0.9 at BOTH test SFs
    * (the r6 default of 2 silently lost a quarter of true neighbors).
    * Search cost at test scale is flat (fixed overhead dominates); at
    * scale, candidate volume is nProbe/√n of the corpus — the probed
    * FRACTION shrinks as the corpus grows, so a recall-calibrated
    * probe count is the right default, not a cost ceiling. The DuckDB
    * twins interpolate this constant (ExtOracleSql.simIvfTopK /
    * simRecall), so engine and oracle move together. These embeddings
    * are near-isotropic — IVF's worst case; clustered real-world
    * embeddings reach the same recall at lower nProbe, never higher. */
  val DefaultNProbe: Int = 16

  def embeddings(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.ArrayDotProduct.register(spark)
    graft.functions.ArraySquaredDistance.register(spark)
    spark.read.parquet(s"$dir/embeddings.parquet")
  }

  /** Strict left-fold dot product of two array<float> columns, in doubles.
    * `array_dot` is the codegen'd [[graft.functions.ArrayDotProduct]] —
    * bit-identical to the HOF formulation
    * `aggregate(zip_with(a, b, (x,y) -> CAST(x AS DOUBLE)*CAST(y AS DOUBLE)),
    * 0d, (acc,v) -> acc+v)` it replaced (same left-fold order), ~10× faster
    * on the all-pairs workloads because the loop stays inside
    * whole-stage codegen. */
  def dotExpr(a: String, b: String): String = s"array_dot($a, $b)"

  /** Cosine from precomputed norms (norms are per-vector, computed once). */
  def cosExpr(a: String, b: String, na: String, nb: String): String =
    s"${dotExpr(a, b)} / ($na * $nb)"

  def withNorm(e: DataFrame): DataFrame =
    e.withColumn("norm", expr(s"sqrt(${dotExpr("embedding", "embedding")})"))

  /** Sign-LSH bucket: 8 axis-aligned hyperplanes (sign of the first 8
    * components) → bucket ∈ [0, 256). Deterministic, engine-portable, and
    * a genuine random-hyperplane LSH for isotropic embeddings. */
  val bucketExpr: String = (0 until 8)
    .map(d => s"CASE WHEN element_at(embedding, ${d + 1}) > 0 THEN ${1 << d} ELSE 0 END")
    .mkString(" + ")

  def withNormAndBucket(e: DataFrame): DataFrame =
    withNorm(e).withColumn("bucket", expr(bucketExpr))

  /** Per-group top-k over a scored candidate frame via the bounded
    * [[graft.functions.TopK]] aggregate: an O(k) heap per group instead
    * of the row_number window's twin full sorts of the candidate join
    * output (see TopK's scaladoc for the exact plan comparison).
    * Ordering is (score desc, neighbor id asc) — `-id` inside the
    * descending struct ordering — identical rows to the window
    * formulation, deterministic because scores are bit-identical
    * doubles. `carry` are group-constant columns (bucket/cell) kept
    * through the aggregate. */
  private[graft] def topKPerGroup(scored: DataFrame, group: Column, carry: Seq[(String, Column)],
      score: Column, id: Column, k: Int): DataFrame = {
    // the ordering struct carries only (score, -id): the id is
    // recovered by re-negating the tie-break, not shuffled twice
    val tk = graft.functions.TopK.topKBy(
      struct(score.as("s"), (-id).as("t")), k)
    scored.groupBy(group.as("query_id") +: carry.map { case (n, c) => c.as(n) }: _*)
      .agg(tk.as("tk"))
      .select(col("query_id") +: carry.map { case (n, _) => col(n) } :+
        posexplode(sort_array(col("tk"), asc = false)): _*)
      .select(col("query_id") +: carry.map { case (n, _) => col(n) } :+
        (col("pos") + 1).cast("int").as("rank") :+
        (-col("col.t")).as("neighbor_id") :+ col("col.s").as("score"): _*)
  }

  /** Brute-force cosine top-k: every query vector (vec_id < nQueries)
    * against the full corpus. Queries are broadcast (small side by
    * construction); the corpus is scanned once; per-query top-k is the
    * bounded aggregate (partial top-k combines map-side inside the scan
    * stage — no candidate shuffle). Ties broken by neighbor id —
    * fully deterministic because scores are bit-identical. */
  def bruteForceTopK(spark: SparkSession, dir: String, k: Int = 5,
      nQueries: Int = 8): DataFrame = {
    val e = withNorm(embeddings(spark, dir))
    val q = e.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"), col("norm").as("qn"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos", expr(cosExpr("qv", "embedding", "qn", "norm")))
    topKPerGroup(scored, col("query_id"), Seq.empty, col("cos"), col("vec_id"), k)
      .orderBy("query_id", "rank")
  }

  /** FILTERED vector search — top-k UNDER A PREDICATE (here: the
    * query's own label — "similar items in the same category"), the
    * operation every vector deployment discovers it needs the day a
    * metadata filter arrives. The filter applies BEFORE scoring
    * (pre-filtering): post-filtering a plain top-k silently returns
    * < k (or zero) rows when the predicate is selective — the classic
    * filtered-ANN bug this operator's semantics exclude by
    * construction. Shape: identical to [[bruteForceTopK]] with the
    * predicate fused into the candidate join — the filter PRUNES work
    * instead of adding a stage; an IVF variant would carry the same
    * predicate into the probed cells. */
  def filteredTopK(spark: SparkSession, dir: String, k: Int = 3,
      nQueries: Int = 8): DataFrame = {
    val e = withNorm(embeddings(spark, dir))
    val q = e.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("embedding").as("qv"), col("norm").as("qn"))
    val scored = e.join(broadcast(q),
        col("vec_id") =!= col("query_id") && col("label") === col("qlabel"))
      .withColumn("cos", expr(cosExpr("qv", "embedding", "qn", "norm")))
    topKPerGroup(scored, col("query_id"), Seq("label" -> col("qlabel")),
      col("cos"), col("vec_id"), k)
      .select("query_id", "label", "rank", "neighbor_id", "score")
      .orderBy("query_id", "rank")
  }

  /** RRF constants, shared verbatim with the oracle twin. K = 60 is the
    * standard dampening constant (Cormack et al.'s original choice —
    * rank 1 contributes 1/61, rank 20 contributes 1/80, so no single
    * list dominates); contributions are held as ⌊10⁹/(K + rank)⌋
    * BIGINTs, an ORDER-INDEPENDENT integer sum — float 1/(K+r) sums
    * would be addition-order-sensitive and break the cross-engine
    * hash. */
  val RrfDampK = 60
  val RrfScale = 1000000000L
  val RrfPool = 20
  val RrfTopK = 5

  /** RECIPROCAL RANK FUSION — merge two retrievers' rankings without
    * score calibration: fused(d) = Σ_lists 1/(K + rank_list(d)), top-k
    * by the fused score. The production retrieval stack is almost
    * never one retriever — dense + lexical (or here, full-precision
    * dense + a 4×-cheaper projected dense) each mis-rank DIFFERENT
    * documents, and RRF is the standard fusion because ranks need no
    * score normalization across spaces (raw cosine and projected
    * cosine are not comparable; their RANKS are). A document in only
    * one list contributes only that list's term — absent ≠ rank ∞
    * penalty, the convention that keeps single-list hits alive.
    *
    * Shape: two bounded top-`pool` retrievals (each the broadcast-panel
    * + map-side top-k aggregate shape — corpus scanned twice, once per
    * representation; a fused single pass would read both columns at
    * once but couple the retrievers' plans), then a full-outer join and
    * window over ≤ 2·pool·|queries| rows — candidate-set-sized, never
    * corpus-sized, so the fusion stage costs nothing at any scale. */
  def rrfFusion(spark: SparkSession, dir: String, k: Int = RrfTopK,
      pool: Int = RrfPool, nQueries: Int = 8): DataFrame =
    rrfOf(
      bruteForceTopK(spark, dir, pool, nQueries), "rank_exact",
      VectorOps.projectedRanking(spark, dir, pool, nQueries), "rank_proj",
      k)

  /** The fusion kernel shared by [[rrfFusion]] and [[hybridFusion]]:
    * each input carries (query_id, neighbor_id, rank); output columns
    * take the caller's per-leg rank names. The full-outer join and
    * re-rank window run over ≤ 2·pool·|queries| rows — candidate-set
    * sized, never corpus-sized. */
  private[graft] def rrfOf(a: DataFrame, aName: String,
      b: DataFrame, bName: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val la = a.select(col("query_id"), col("neighbor_id"),
      col("rank").as(aName))
    val lb = b.select(col("query_id"), col("neighbor_id"),
      col("rank").as(bName))
    val fused = la.join(lb, Seq("query_id", "neighbor_id"), "full_outer")
      .withColumn("rrf_score",
        coalesce(expr(s"$RrfScale div ($RrfDampK + $aName)"), lit(0L)) +
          coalesce(expr(s"$RrfScale div ($RrfDampK + $bName)"), lit(0L)))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf_score").desc, col("neighbor_id").asc)
    fused
      .withColumn("rank", row_number().over(w).cast("int"))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "rrf_score", aName, bName)
      .orderBy("query_id", "rank")
  }

  /** HYBRID RETRIEVAL — dense + lexical over ONE corpus, RRF-fused:
    * the production search stack in one operator. The dense leg is
    * exact-cosine top-`pool` restricted to DOCUMENT-BACKED vectors (a
    * keyed semi-join on the doc ids — both legs must rank the same
    * candidate universe or fusion just measures id-space mismatch);
    * the lexical leg is [[TextOps.bm25TopK]] over the same documents.
    * Dense retrieval finds paraphrases BM25's vocabulary match misses;
    * BM25 finds exact-term hits an embedding blurs — the fused list is
    * robust to both failure modes, and [[rrfOf]] needs no score
    * calibration between cosine and integer-ppm BM25 (only ranks
    * cross the boundary). */
  def hybridFusion(spark: SparkSession, dir: String, k: Int = RrfTopK,
      pool: Int = RrfPool, nQueries: Int = 8): DataFrame = {
    val docIds = TextOps.docs(spark, dir).select(col("doc_id"))
    val e = withNorm(embeddings(spark, dir))
      .join(docIds, col("vec_id") === col("doc_id"), "left_semi")
    val q = e.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        col("embedding").as("qv"), col("norm").as("qn"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos", expr(cosExpr("qv", "embedding", "qn", "norm")))
    val dense = topKPerGroup(
      scored, col("query_id"), Seq.empty, col("cos"), col("vec_id"), pool)
    val lexical = TextOps.bm25TopK(spark, dir, pool, nQueries)
      .select(col("query_id"), col("doc_id").as("neighbor_id"), col("rank"))
    rrfOf(dense, "rank_dense", lexical, "rank_lex", k)
  }

  /** [[hybridFusion]] with the dense leg served FROM THE ANN INDEX —
    * the production spelling: at 100 TB the exact dense leg is a full
    * corpus scan per query panel, which is exactly what the trained
    * √n-cell router exists to avoid. Candidates come through
    * [[VectorOps.cellCandidates]] (the calibrated
    * [[VectorOps.MiningNProbe]]-probe retrieval stage shared with
    * hard-negative mining — nProbe·√n exact-cosine candidates per
    * query, never the corpus), restricted to document-backed vectors
    * on BOTH sides so the two legs rank the same candidate universe,
    * then the same bounded top-`pool` re-rank and the identical RRF
    * integer fusion. [[hybridFusion]] stays registered as the exact
    * recall control; [[hybridAnnAgreement]] measures how much fused
    * output the index serving actually changes. */
  def hybridFusionAnn(spark: SparkSession, dir: String, k: Int = RrfTopK,
      pool: Int = RrfPool, nQueries: Int = 8,
      nProbe: Int = VectorOps.MiningNProbe): DataFrame = {
    val docIds = TextOps.docs(spark, dir).select(col("doc_id"))
    val cands = VectorOps.cellCandidates(spark, dir, nQueries, nProbe)
      .join(broadcast(docIds), col("neighbor_id") === col("doc_id"), "left_semi")
      .join(broadcast(docIds), col("query_id") === col("doc_id"), "left_semi")
    val dense = topKPerGroup(cands, col("query_id"), Seq.empty,
      col("cos"), col("neighbor_id"), pool)
    val lexical = TextOps.bm25TopK(spark, dir, pool, nQueries)
      .select(col("query_id"), col("doc_id").as("neighbor_id"), col("rank"))
    rrfOf(dense, "rank_dense", lexical, "rank_lex", k)
  }

  /** Fused-list agreement of the ANN-served hybrid against the exact
    * spelling — the measurement that licenses serving the dense leg
    * from the index: per query, how many of the exact hybrid's fused
    * top-k the ANN-backed hybrid also returns. Both sides are
    * oracle-gated queries in their own right, so this row verifies the
    * MEASUREMENT, not just the two retrievals it compares (the
    * [[recallAtK]] discipline applied to the fusion output). */
  def hybridAnnAgreement(spark: SparkSession, dir: String,
      k: Int = RrfTopK): DataFrame = {
    val exact = hybridFusion(spark, dir, k)
      .select(col("query_id"), col("neighbor_id"))
    val ann = hybridFusionAnn(spark, dir, k)
      .select(col("query_id"), col("neighbor_id"))
    val hits = exact.join(ann, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    exact.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .withColumn(s"agree_at_$k", col("n_hits").cast("double") / lit(k))
      .orderBy("query_id")
  }

  /** ANN quality measurement — recall@k of the IVF index against the
    * brute-force ground truth over a bounded query set: per query,
    * how many of the true top-k the approximate search returned. This
    * is the evaluation loop every ANN deployment runs before trusting
    * an index (the recall/probe trade is IVF's whole tuning story);
    * here it is an oracle-checked QUERY, so the measurement itself is
    * verified, not just the two searches it compares.
    *
    * Shape: ground truth is the bounded brute-force pass (queries
    * broadcast, corpus scanned once, top-k as the bounded aggregate);
    * the approximate side reads the session-cached IVF index; the
    * comparison is one left-semi-style join on (query, neighbor) and a
    * query-sized aggregate. Nothing here scales worse than the two
    * searches themselves. */
  def recallAtK(spark: SparkSession, dir: String, k: Int = 3,
      nQueries: Int = 64, nProbe: Int = DefaultNProbe, nCentroids: Int = 0): DataFrame =
    recallAgainstBrute(spark, dir,
      ivfTopK(spark, dir, k, nProbe, nCentroids)
        .where(col("query_id") < nQueries), k, nQueries)

  /** The recall comparison itself, against brute-force ground truth
    * over `nQueries` bounded queries — shared by every index variant's
    * recall row (plain IVF above, IVF+PQ in
    * [[graft.ext.VectorOps.ivfPqRecallAtK]]). */
  private[ext] def recallAgainstBrute(spark: SparkSession, dir: String,
      approxTopK: DataFrame, k: Int, nQueries: Int): DataFrame = {
    val brute = bruteForceTopK(spark, dir, k, nQueries)
      .select(col("query_id"), col("neighbor_id"))
    val approx = approxTopK.select(col("query_id"), col("neighbor_id"))
    val hits = brute.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    brute.select("query_id").distinct()
      .join(hits, Seq("query_id"), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .withColumn(s"recall_at_$k",
        col("n_hits").cast("double") / lit(k))
      .orderBy("query_id")
  }

  /** IVF (inverted-file) ANN: vectors are partitioned into cells by
    * nearest centroid; each query searches its `nProbe` nearest centroids'
    * cells. The "training" step is a deterministic stub — the `nCent`
    * lowest vec_ids serve as centroids (a k-means iteration would slot in
    * here unchanged; determinism is what makes the operator
    * oracle-checkable).
    *
    * Geometry: centroid count defaults to max(8, ⌈√n⌉) so cells average
    * √n vectors — in-cell pair work is O(n·√n·nProbe), sub-quadratic, and
    * parallelism grows with the corpus instead of being pinned at 8. The
    * corpus count is one driver-side scalar (same class as TF-IDF's N).
    * Cell assignment is one broadcast join against the centroid set +
    * argmax; the search join is an equi-join on cell id. nProbe > 1 is
    * the standard IVF recall lever: a neighbor just across the query's
    * cell boundary is found in the second-nearest cell. Each corpus
    * vector lives in exactly one cell and probed cells are distinct, so
    * each (query, neighbor) pair appears at most once — no dedup needed.
    *
    * The index artifact ([[ivfIndex]]): per vector, its cell
    * assignment (crank = 1) and the cells it probes as a query
    * (crank ≤ nProbe) — built once, session-cached (a deployment stores
    * it). Centroid ranking (ties → lower id) keeps the top nProbe as ONE
    * bounded aggregate: the n×√n assignment-scoring join (a nested loop
    * against the BROADCAST centroid set — bounded side, sub-quadratic
    * total, the standard IVF assignment shape) reduces map-side to n
    * rows of ≤ nProbe centroid ids; a row_number window here would
    * shuffle all n×√n scored rows instead. */
  def ivfIndex(spark: SparkSession, dir: String, nProbe: Int = DefaultNProbe,
      nCentroids: Int = 0): DataFrame = {
    val e = withNorm(embeddings(spark, dir))
    val nCent =
      if (nCentroids > 0) nCentroids
      else math.max(8L, math.ceil(math.sqrt(e.count().toDouble)).toLong)
    val cents = e.where(col("vec_id") < nCent)
      .select(col("vec_id").as("cent_id"), col("embedding").as("cv"), col("norm").as("cn"))
    val nP = math.max(nProbe, 1)
    val ranked = topKPerGroup(
      e.join(broadcast(cents))
        .withColumn("ccos", expr(cosExpr("embedding", "cv", "norm", "cn"))),
      col("vec_id"), Seq.empty, col("ccos"), col("cent_id"), nP)
      .select(col("query_id").as("vec_id"), col("neighbor_id").as("cent_id"),
        col("rank").as("crank"))
      .join(e, "vec_id")
      .select(col("vec_id"), col("embedding"), col("norm"), col("cent_id"), col("crank"))
    graft.util.SessionCache.getOrBuild(
      spark, s"sim|$dir|ivf_ranked|$nCent|$nP")(ranked)
  }

  def ivfTopK(spark: SparkSession, dir: String, k: Int = 3, nProbe: Int = DefaultNProbe,
      nCentroids: Int = 0): DataFrame = {
    val rankedCached = ivfIndex(spark, dir, nProbe, nCentroids)
    val cells = rankedCached.where(col("crank") === 1)
      .select(col("vec_id"), col("embedding"), col("norm"), col("cent_id").as("cell"))
    val probes = rankedCached
      .select(col("vec_id").as("pvid"), col("cent_id").as("pcell"))
    val scored = cells.as("q")
      .join(probes, col("q.vec_id") === col("pvid"))
      .join(cells.as("c"),
        col("pcell") === col("c.cell") && col("q.vec_id") =!= col("c.vec_id"))
      .withColumn("cos", expr(cosExpr("q.embedding", "c.embedding", "q.norm", "c.norm")))
    topKPerGroup(scored, col("q.vec_id"), Seq("cell" -> col("q.cell")),
      col("cos"), col("c.vec_id"), k)
      .orderBy("query_id", "rank")
  }

  /** Multi-probe sign-LSH ANN: each query additionally probes the 8
    * buckets at Hamming distance 1 from its own (flip one sign bit) —
    * the standard recall lever for bucketed LSH. A vector whose nearest
    * neighbor differs in exactly one of the 8 projected signs is missed
    * by single-bucket search but found here; candidates grow ~9× while
    * remaining ~n/28 of the O(n²) cross product. Probes are distinct, so
    * each candidate matches exactly once — no dedup needed. */
  def lshMultiProbeTopK(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val e = withNormAndBucket(embeddings(spark, dir))
    val probesExpr = (Seq("bucket") ++ (0 until 8).map(j => s"bucket ^ ${1 << j}"))
      .mkString("array(", ", ", ")")
    val q = e.select(col("vec_id").as("query_id"), col("embedding").as("qv"),
      col("norm").as("qn"), col("bucket").as("qbucket"),
      explode(expr(probesExpr)).as("probe"))
    val scored = q.join(e, col("probe") === col("bucket") && col("vec_id") =!= col("query_id"))
      .withColumn("cos", expr(cosExpr("qv", "embedding", "qn", "norm")))
    topKPerGroup(scored, col("query_id"), Seq("bucket" -> col("qbucket")),
      col("cos"), col("vec_id"), k)
      .orderBy("query_id", "rank")
  }

  /** Sign-LSH bucketed ANN: self-join within buckets (every vector is a
    * query), top-k among same-bucket candidates. The bucket equi-join is
    * the scale path — shuffle keyed on a 256-ary bucket instead of an
    * O(n²) cross product. */
  def lshTopK(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val e = withNormAndBucket(embeddings(spark, dir))
    val scored = e.as("q").join(e.as("c"),
        col("q.bucket") === col("c.bucket") && col("q.vec_id") =!= col("c.vec_id"))
      .withColumn("cos", expr(cosExpr("q.embedding", "c.embedding", "q.norm", "c.norm")))
    topKPerGroup(scored, col("q.vec_id"), Seq("bucket" -> col("q.bucket")),
      col("cos"), col("c.vec_id"), k)
      .orderBy("query_id", "rank")
  }
}
