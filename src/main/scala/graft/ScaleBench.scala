package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-up measurement harness: materializes a FACTOR× synthetic blow-up
  * of a source SF directory (default 10× sf0.1 ≈ "sf1") and times the
  * heaviest queries at both scales, printing one JSON line with the
  * per-query ratios. This is the empirical check behind the "flat
  * profile, survives 100×" plan-shape argument — a query whose sf1 time
  * grows ≫ FACTOR× its sf0.1 time has a super-linear stage (collapsed
  * bucket, all-pairs join, driver materialization) the plan pins missed.
  *
  * Blow-up construction (copy k of FACTOR, k = 0 is the original):
  *  - `orders`/`lineitem`: order keys offset by k·span — FACTOR× facts;
  *    dimension FKs (cust/part/supp) unchanged, matching how a real
  *    business grows facts against slowly-growing dimensions.
  *  - `events`: event ids AND user ids offset — FACTOR× users each with
  *    the original per-user density (sessions/rate state stay bounded).
  *  - `documents`: doc ids offset; copies k ≥ 1 get every word suffixed
  *    with the copy id — an ISOMORPHIC vocabulary renaming, so each
  *    copy's shingle document-frequency distribution is exactly the
  *    original corpus's and copies share no shingles. This is the
  *    construction under which a linear dedup operator must scale
  *    ~FACTOR×. (A word-level hash shuffle was tried first and rejected:
  *    it manufactures stopword-triple shingles natural text never
  *    contains, df in the hundreds, and sends candidate generation
  *    quadratic — a hot-shingle stress test, not a scale-up; that regime
  *    is pinned separately by DedupSkewSpec.)
  *  - `embeddings`: vec ids offset; copies perturbed by a deterministic
  *    ±1% hash noise per component so ANN cells grow without exact-dup
  *    degeneracy.
  *  - dimension tables copied as-is.
  *
  * Usage: runMain graft.ScaleBench [srcDir] [outDir] [factor] [passes] [query...]
  * The scaled directory is built once and reused if present.
  */
object ScaleBench {

  /** Heaviest per-query timings from the round-5 bench (VERDICT round
    * 5, item 3) plus the round-6 additions — every new operator ships
    * with scale evidence, not just an argument. */
  val DefaultQueries: Seq[String] = Seq(
    "etl_rfm", "etl_assortment_churn", "q23_abc_pareto", "etl_store_overlap",
    "ext_curriculum_order", "ext_dedup_cluster_sizes", "ext_text_winnowing",
    "q09_spikes", "q05_volatility", "etl_cdc_emit", "etl_sales_streaks",
    "ext_text_tfidf", "ext_text_fingerprint", "etl_peak_open_orders",
    "ext_text_cooccur", "etl_cumulative_reach", "etl_fact_profile",
    "ext_sketch_cms", "ext_dedup_jaccard", "q21_lapsed_customers",
    "ext_text_dup_spans", "ext_text_strip_spans",
    "stream_rate_limit", "stream_abandoned_carts", "stream_view_attribution",
    "ext_dedup_containment", "ext_dedup_containment_keep", "ext_sim_ivfpq",
    // round-7 second leg: the heaviest of the ten additions plus the
    // graph pair whose per-round joins must stay edge-linear
    "ext_text_drift", "q28_skyline", "etl_ewma_trend", "stream_late_data",
    "ext_graph_kcore", "ext_graph_lpa",
    // round-7 third leg: cluster-keyed split, sketch-profiled FK
    // relations, calendar islanding, subject rollup, sampled bounds
    "ext_split_leakproof", "ext_sketch_join_card", "etl_interval_merge",
    "etl_subject_export", "etl_range_bounds",
    // round-7 fourth leg: the corpus-sized additions (the store×month
    // ops are calendar-bounded and not worth a scale slot)
    "ext_text_lm_score", "ext_feature_hash", "ext_dedup_weighted_jaccard",
    "ext_graph_bfs",
    // round-7 fifth leg
    "ext_graph_linkpred", "ext_text_search", "etl_ivm_refresh",
    "etl_ndv_profile",
    // round-7 sixth/seventh leg (dq_rules is one conditional-sum scan
    // — trivially linear, not worth a slot)
    "q29_itemsets3", "ext_dedup_curve", "ext_embed_centroid_eval",
    // round-7 eighth leg
    "ext_dedup_lsh_recall", "etl_abc_migration", "ext_bootstrap_means",
    // round-7 legs 9-11 (the corpus-/fact-sized ones)
    "ext_media_clusters", "ext_chunk_stitch", "stream_decayed_topk",
    "etl_salted_join", "q30_waterfall",
    // round-7 legs 12-13
    "ext_dedup_venn", "ext_vocab_growth", "etl_outage_windows",
    "etl_seasonal_hhi", "etl_leadtime_drift",
    // round-8: cell-routed mining retrieval (hard negatives / MMR now
    // probe the √n-cell trained router instead of brute force)
    "ext_sim_hard_negatives", "ext_sim_mmr",
    // round-8 second leg: all-queries cell-routed kNN eval (the
    // heaviest new ANN consumer), the funnel's corpus pass, and the
    // ACID overwrite round trip (commit mechanics + snapshot read)
    "ext_embed_knn_eval", "ext_pipeline_funnel", "etl_tx_overwrite",
    // round-8 third leg: SAX window index, the session-type subsequence
    // join, and the multi-candidate key profiler (fd_audit shares
    // key_candidates' aggregate shape at strictly lower cardinality)
    "ext_ts_sax_similar", "etl_seq_patterns", "etl_key_candidates",
    "etl_funnel_deadline", "ext_embed_matryoshka", "stream_seq_patterns",
    "etl_fifo_allocation", "ext_embed_drift", "ext_sample_diversity",
    "etl_tx_version_diff",
    // round-8 sixth leg: the KS CDF window over the fact and the
    // corpus-wide matching resample (rrf/kappa are bounded-panel /
    // confusion-domain work — nothing to probe)
    "etl_ks_drift", "ext_sample_match_dist",
    // the posting-table probe (term-keyed; stopword lists are the skew)
    // and its fused consumer
    "ext_text_bm25", "ext_sim_hybrid", "stream_bm25_index",
    "etl_tx_skipping", "etl_tx_point_lookup", "stream_ks_drift",
    "etl_tx_skipping_compacted", "etl_tx_point_compacted",
    // round-9: the ACID row-grain tier (delete commit is O(1) — the
    // slot times the masked read; the CDF replays every commit's
    // masked rows; DFP collects the dim keys then prunes the fact),
    // the ANN-served hybrid, and the incremental-index replays
    "etl_tx_delete", "etl_tx_cdf", "etl_tx_dfp_join",
    "ext_sim_hybrid_ann", "stream_ann_index", "stream_hybrid_search",
    // round-9 second leg: clone materialization (the compact is the
    // data-sized stage) and the streamed cursor-committed CDC view
    "etl_tx_clone_materialize", "stream_cdc_view",
    // round-9 closing: the rest of the row-grain ACID tier (all
    // bounded-rollup commit harnesses — expected ~scale-free) and the
    // generation-2 retrain (Θ(n·√n) Lloyd, the family's heaviest)
    "etl_tx_delete_compacted", "etl_tx_cdf_apply", "etl_tx_upsert_scd1",
    "etl_tx_constraints", "etl_tx_restore", "etl_tx_idempotent",
    "etl_tx_export", "stream_ann_retrain",
    // round-9 post-close: the mergeable quantile sketch (one bounded
    // TopK + one conditional-count corpus aggregate) and its
    // incremental replay
    "ext_sketch_quantiles", "stream_quantile_sketch",
    // round-9 post-close second leg: one fact scan + calendar-bounded
    // decomposition; the three delta-term joins of the join-IVM rule
    "etl_seasonal_decompose", "etl_ivm_join",
    // round-9 post-close third leg: the manifest-sketch planner
    // harness (commit loads + driver fold) and the per-row Hilbert fold
    "etl_tx_join_card", "etl_hilbert_key",
    // round-9 post-close fourth leg: the incremental-CC replay (edge
    // contraction + broadcast relabels over the growing mapping)
    "stream_graph_cc",
    // round-9 post-close fifth leg: the hard-link adoption harness and
    // the two delete-side IVM rules (targeted recompute / multiplicities)
    "etl_tx_convert", "etl_ivm_minmax", "etl_ivm_distinct",
    // the composed-stream join-IVM replay (delta-vs-registry joins)
    "stream_ivm_join",
    // round-9 post-close sixth leg: the metadata-only aggregate (the
    // fold is O(commits) driver work — the slot times the ingest
    // harness), the predicate-derived pruned read, and the
    // boundary-exact count
    "etl_tx_stats_agg", "etl_tx_where", "etl_tx_count_where",
    "etl_tx_box_where", "stream_tx_count", "etl_tx_stats_where",
    "etl_tx_travel_where",
    // round-9 post-close seventh leg: the full conditional merge (the
    // source-driven join is the data-sized stage), the metadata
    // moments fold (O(commits) — the slot times the ingest), and the
    // streamed-merge replay (per-batch source-bounded merges + the
    // mid-replay OPTIMIZE)
    "etl_tx_merge", "etl_tx_moments", "stream_tx_merge",
    // row-grain UPDATE: pushed-filter read + rewrite of the matches
    "etl_tx_update",
    // count-pushdown rule: the rewrite is O(commits) driver work —
    // the slot times the ingest harness
    "etl_tx_count_rule",
    // per-store ACF: the fact scan is the data-sized stage; the
    // lag-offset self-join runs on the calendar-bounded aggregate
    "etl_acf",
    // round-10: ANN retraction + hybrid-under-churn replays (index
    // maintenance is delta-sized; compaction is store-sized), the
    // maintained merge-target read (the policy's bounded scan groups),
    // the MV rollup re-aggregation (view-sized, never fact-sized), and
    // the incremental MV refresh (clone + delta commit + feed-sized
    // merge). The rule rows etl_tx_stats_rule/etl_tx_group_rule are
    // O(commits) driver folds over stored fixtures — nothing
    // data-sized to probe.
    "stream_ann_delete", "stream_hybrid_churn", "etl_tx_merge_policy",
    "etl_mv_rewrite", "etl_mv_refresh",
    // round-11: stale-view delta compensation (the slot times the
    // per-year ingest harness plus a view + tail-sized rewrite read —
    // compensation cost must track the delta, never the base) and the
    // divide-last AVG rewrite (view-sized, stats-proofed)
    "etl_mv_stale_rewrite", "etl_mv_avg_rewrite",
    // cost-ordered view selection: the coarse (year) rollup answers a
    // year-grain panel regardless of the fine cube's size — the slot
    // times the per-year ingest + two rollup builds + a view-rows read
    "etl_mv_multi_rewrite",
    // round-12: grouping-sets through the MV tier — |sets| view-sized
    // branch aggregations must replace the |sets|-way fact-row
    // replication of the Expand shape, so the slot's growth must track
    // the view (grain cells), never sets × base rows
    "etl_mv_rollup_rewrite",
    // targeted affected-groups compensation: the probe holds the
    // delete footprint ~fixed in GROUP terms while the base grows, so
    // the recompute branch must track the affected slice, not the
    // table
    "etl_mv_delete_rewrite",
    // rollup through the metadata rule: O(commits) driver folds — the
    // slot times the shared ingest; the rewrite itself is scan-free
    "etl_tx_rollup_rule",
    // composite-key and AVG metadata panels: O(commits) driver folds —
    // the slots time their partition-grain ingest harnesses
    "etl_tx_group_multi_rule", "etl_tx_avg_rule",
    "etl_tx_ndv_rule", "etl_tx_distinct_rule",
    "etl_tx_sql_catalog", "etl_tx_sql_agg_rule", "stream_cdc_source",
    "etl_mv_rollup_stale_delete",
    // the per-commit streamed MV maintenance replay (each tick is
    // delta-sized + view-sized; the mid-replay compact is store-sized)
    "stream_mv_refresh",
    // the cross-table transaction replay: two transfers + a crashed
    // half-transaction; the repair restore is the data-sized stage
    "etl_tx_multi",
    // the exactly-once streamed pair maintenance: per-batch transact
    // (append + relative merge), one redelivery, one crashed duplicate
    "stream_tx_multi")

  def main(args: Array[String]): Unit = {
    val srcDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("/tmp/graft-sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val passes = args.lift(3).map(_.toInt).getOrElse(1)
    val names = if (args.length > 4) args.drop(4).toSeq else DefaultQueries

    // Shuffle parallelism must scale with DATA, not stay pinned at core
    // count: at factor 100 a 32-partition shuffle makes per-task state
    // ~100× the sf0.1 size and the big side falls off a heap cliff
    // (measured: RangePartitioner sample OOM at 8 GiB heap, factor
    // 100). Sizing partitions ~linearly in the factor restores the
    // per-task working set a cluster deployment would keep constant;
    // AQE coalesces the small side's now-tiny shuffles back down, so
    // the small scale is unaffected.
    val basePartitions = Launch.cores(sys.env)
    def partitionsFor(dir: String): Int =
      if (dir == outDir) basePartitions * math.max(1, factor / 8)
      else basePartitions

    locally {
      val spark = Launch.session(basePartitions)
      if (!new java.io.File(s"$outDir/lineitem.parquet").exists())
        buildScaled(spark, srcDir, outDir, factor)
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }

    // ONE session per scale: a shared session holds BOTH scales' cached
    // warehouse/index artifacts and the storage-memory eviction it
    // causes inflates the big side ~2.5× (measured) — exactly the
    // cross-talk a per-cluster deployment doesn't have. Setup
    // (warehouse + dedup/ANN index build, Bench's setup_sec contract)
    // runs before timing so queries measure query work.
    def timeAll(dir: String): Map[String, Double] = {
      val spark = Launch.session(partitionsFor(dir))
      try {
        try {
          graft.etl.Star.salesFact(spark, dir).count()
          graft.ext.DedupOps.buildIndexes(spark, dir)
          // canonical tx fixtures (the round-10 harness/query split):
          // without this the FIRST tx row at each scale absorbs the
          // shared ingest and its ratio reads as harness, not query
          graft.etl.TxFixtures.buildAll(spark, dir)
        } catch { case e: Throwable =>
          System.err.println(s"[scalebench] setup($dir) failed: ${e.getMessage}")
        }
        names.map { n =>
          var best = Double.MaxValue
          for (_ <- 1 to passes) {
            val t0 = System.nanoTime()
            SparkEntry.queries(n)(spark, dir)
              .write.format("noop").mode("overwrite").save()
            best = math.min(best, (System.nanoTime() - t0) / 1e9)
          }
          n -> best
        }.toMap
      } finally {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
    }
    // small scale first (warms JIT on the cheap side)
    val small = timeAll(srcDir)
    val big = timeAll(outDir)
    val ratios = names.map(n => n -> big(n) / math.max(1e-9, small(n)))
    val js = names.map { n =>
      f""""$n":{"small":${small(n)}%.3f,"big":${big(n)}%.3f,"ratio":${big(n) / math.max(1e-9, small(n))}%.2f}"""
    }.mkString("{", ",", "}")
    val worst = ratios.maxBy(_._2)
    println(s"""{"metric":"scale_ratio","factor":$factor,"queries":$js,""" +
      s""""worst":"${worst._1}","worst_ratio":${f"${worst._2}%.2f"}}""")
  }

  /** One-time blow-up build; every transform is deterministic (hash
    * arithmetic, no rand()). */
  def buildScaled(spark: SparkSession, src: String, out: String, factor: Int): Unit = {
    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")

    for (t <- Seq("region", "nation", "customer", "supplier", "part"))
      write(read(t), t)

    def copies(df: DataFrame): DataFrame =
      (0 until factor).map(k => df.withColumn("copy_k", lit(k))).reduce(_ unionAll _)

    val orderSpan = read("orders").agg(max("o_orderkey")).head().getLong(0) + 1
    write(copies(read("orders"))
      .withColumn("o_orderkey", col("o_orderkey") + col("copy_k") * orderSpan)
      .drop("copy_k"), "orders")
    write(copies(read("lineitem"))
      .withColumn("l_orderkey", col("l_orderkey") + col("copy_k") * orderSpan)
      .drop("copy_k")
      .repartition(spark.sessionState.conf.numShufflePartitions), "lineitem")

    val ev = read("events")
    val evSpan = ev.agg(max("event_id")).head().getLong(0) + 1
    val userSpan = ev.agg(max("user_id")).head().getLong(0) + 1
    write(copies(ev)
      .withColumn("event_id", col("event_id") + col("copy_k") * evSpan)
      .withColumn("user_id", col("user_id") + col("copy_k") * userSpan)
      .drop("copy_k"), "events")

    val docs = read("documents")
    val docSpan = docs.agg(max("doc_id")).head().getLong(0) + 1
    write(copies(docs)
      .withColumn("doc_id", col("doc_id") + col("copy_k") * docSpan)
      // copy 0 keeps the original text; other copies rename the
      // vocabulary (word → word␟suffix) — isomorphic df distribution,
      // zero cross-copy shingle overlap. The U+0001 separator cannot
      // occur in the whitespace-tokenized vocabulary, so an original
      // token ending in a digit can never collide with a renamed one
      // (bare concat(w, copy_k) could: 'alpha1' vs copy-1 'alpha').
      .withColumn("text", when(col("copy_k") === 0, col("text")).otherwise(
        expr("""array_join(
          |  transform(split(text, ' '),
          |    w -> concat(w, '', CAST(copy_k AS STRING))),
          |  ' ')""".stripMargin)))
      .drop("copy_k")
      .repartition(spark.sessionState.conf.numShufflePartitions), "documents")

    val emb = read("embeddings")
    val vecSpan = emb.agg(max("vec_id")).head().getLong(0) + 1
    write(copies(emb)
      .withColumn("embedding", expr(
        """transform(embedding, (x, i) ->
          |  CAST(x + CASE WHEN copy_k = 0 THEN CAST(0.0 AS FLOAT) ELSE
          |    CAST(((pmod(hash(vec_id, i, copy_k), 1000) / 1000.0) - 0.5) * 0.02
          |         AS FLOAT) END AS FLOAT))""".stripMargin))
      .withColumn("vec_id", col("vec_id") + col("copy_k") * vecSpan)
      .drop("copy_k"), "embeddings")
  }
}
