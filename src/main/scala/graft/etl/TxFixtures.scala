package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, expr, pmod, lit, sum}

/** NAMED SETUP ARTIFACTS for the [[TxParquetSink]] query family.
  *
  * Every `etl_tx_*` registered row used to build its own temp-dir sink
  * and replay the same year-per-commit ingest inside the timed query
  * body — ~7 sequential driver-side commits (stage, audit read-back,
  * stats profile, publish) per row, ~30 rows. Correct, but it timed the
  * HARNESS, not the query: under box contention the dozens of tiny
  * sequential jobs amplify scheduler latency 20–100×, which is exactly
  * what made the round-9 driver bench artifact unreadable
  * (`etl_tx_join_card` 385 s for a 1-row output).
  *
  * This object is the fix: the shared ingests become named, cached,
  * once-per-(session, sfDir) fixtures — the pattern a deployment
  * actually has (a governed table is LOADED once and queried forever;
  * nobody re-ingests three years of commits per dashboard query) and
  * the same pattern the dedup/ANN index artifacts already use
  * ([[graft.ext.DedupOps.indexArtifacts]]). Registered rows then time
  * what they claim to measure: the pruned read, the metadata fold, the
  * merge commit — not seven stage-audit-publish round trips.
  *
  *  - READ-ONLY canonical sinks ([[statsYearSink]], [[plainYearSink]],
  *    [[ordersYearSink]], [[ordersCompactedSink]], [[rangeCompactedSink]],
  *    [[clusteredSink]], [[sketchSinks]], [[groupYearSink]]) are built
  *    once and NEVER mutated — queries that only read share them.
  *  - MUTATING rows (delete/update/merge/overwrite/restore/clone/…)
  *    take a fresh [[cloneOf]] — the sink's own shallow-clone commit
  *    path, O(commits) manifest metadata and zero data bytes — and
  *    diverge in their own temp dir. The mutation commit is still paid
  *    inside the timed body; only the shared historical load is not.
  *  - Rows whose OPERATOR IS the load itself keep their end-to-end
  *    ingest, explicitly: `etl_tx_constraints` (commit-time CHECK
  *    enforcement), `etl_tx_idempotent` (the txn high-water mark),
  *    `etl_tx_convert` (in-place adoption), and the streamed replay
  *    rows `stream_tx_merge` / `stream_cdc_view` (the per-family
  *    labeled end-to-end replays).
  *
  * Cache discipline: keyed by (session, sfDir) exactly like
  * [[graft.util.SessionCache]] — compute-then-putIfAbsent, losers'
  * temp dirs are orphaned (harmless; the OS owns temp cleanup). The
  * canonical sinks live in temp dirs, so two sessions never collide.
  */
object TxFixtures {

  private val built =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), AnyRef]()

  private def keyed[T <: AnyRef](spark: SparkSession, dir: String,
      name: String)(build: => T): T = {
    val k = (spark, dir, name)
    val hit = built.get(k)
    if (hit != null) hit.asInstanceOf[T]
    else {
      val v = build
      val prev = built.putIfAbsent(k, v)
      if (prev == null) v else prev.asInstanceOf[T]
    }
  }

  private def tempSink(prefix: String): TxParquetSink =
    TxParquetSink(
      java.nio.file.Files.createTempDirectory(prefix).toString + "/t")

  /** The monthly store-revenue rollup every tx fixture ingests —
    * checkpointed once per (session, dir) so seven year-slices and a
    * dozen follow-up batches reuse it without re-aggregating. */
  def monthlyCents(spark: SparkSession, dir: String): DataFrame =
    keyed(spark, dir, "monthly") {
      val monthExpr = expr("substring(CAST(time_id AS STRING), 1, 7)")
      Star.salesFact(spark, dir)
        .groupBy(monthExpr.as("month"), col("store_id"))
        .agg(sum((col("total_revenue") * 100).cast("long")).as("cents"))
        .localCheckpoint(true)
    }

  /** The rollup's distinct calendar years, ascending. */
  def years(spark: SparkSession, dir: String): Seq[String] =
    keyed(spark, dir, "years") {
      monthlyCents(spark, dir)
        .select(expr("substring(month, 1, 4)").as("y"))
        .distinct().orderBy("y").collect().map(_.getString(0)).toSeq
    }

  /** The SQL-CATALOG session + root of the catalog rows: a second
    * SparkSession on the SAME SparkContext, built with the deployment
    * configuration (GraftExtensions + the graft catalog pointed at a
    * root that links the canonical stats sink in as `monthly`) — so
    * the registered rows exercise EXACTLY what a configured cluster
    * runs: pure SQL text resolved through the DataSourceV2 catalog,
    * substituted to the sink's snapshot plan, optimizer rules firing
    * at analysis/optimization time with no extraOptimizations
    * arming. The outer session is restored as active/default
    * immediately, so the rest of the run is undisturbed. */
  def sqlCatalogSession(spark: SparkSession, dir: String): SparkSession =
    keyed(spark, dir, "sql_catalog_session") {
      val root = java.nio.file.Files
        .createTempDirectory("graft-cat-root").toString
      java.nio.file.Files.createSymbolicLink(
        java.nio.file.Paths.get(root, "monthly"),
        java.nio.file.Paths.get(statsYearSink(spark, dir).dir))
      val active = SparkSession.getActiveSession
      val default = SparkSession.getDefaultSession
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      try SparkSession.builder()
        // withExtensions, not the spark.sql.extensions conf: the conf
        // is STATIC (read from the SparkContext at context creation),
        // so on the shared, already-running context of a Verify/Bench
        // run it would be silently ignored — withExtensions injects
        // into the builder's own extensions object regardless
        .withExtensions(ext => graft.plans.GraftExtensions.injectAll(ext))
        .config("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
        .config("spark.sql.catalog.graft.root", root)
        .config("spark.sql.shuffle.partitions",
          spark.conf.get("spark.sql.shuffle.partitions"))
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
      finally {
        default.foreach(SparkSession.setDefaultSession)
        active.foreach(SparkSession.setActiveSession)
      }
    }

  /** The orders projection of the point-lookup family. */
  def ordersProjected(spark: SparkSession, dir: String): DataFrame =
    keyed(spark, dir, "orders_proj") {
      Star.table(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          expr("CAST(year(o_orderdate) AS INT)").as("year"),
          expr("CAST(floor(o_totalprice * 100) AS BIGINT)").as("cents"))
        .localCheckpoint(true)
    }

  private def perYear(spark: SparkSession, dir: String)(
      commit: DataFrame => Unit): Unit = {
    val monthly = monthlyCents(spark, dir)
    years(spark, dir).foreach { y =>
      commit(monthly.where(expr(s"substring(month, 1, 4) = '$y'")))
    }
  }

  /** CANONICAL STATS SINK — the year-per-commit load with per-commit
    * min/max/null/sum/sumsq stats on (month, store_id, cents) and a
    * store_id bloom: the union of every stats-tier row's needs (extra
    * recorded stats never change an answer — pruning is a superset
    * contract and aggregates read only the requested columns).
    * READ-ONLY: mutators clone. */
  def statsYearSink(spark: SparkSession, dir: String): TxParquetSink =
    keyed(spark, dir, "stats_sink") {
      val t = tempSink("graft-txfix-stats")
      perYear(spark, dir)(slice => t.appendWithStats(slice,
        statsCols = Seq("month", "store_id", "cents"),
        bloomCols = Seq("store_id")))
      t
    }

  /** CANONICAL PLAIN SINK — the year-per-commit load with no stats:
    * the lifecycle base of the delete/update/merge/overwrite/restore/
    * clone/history rows. READ-ONLY: mutators clone. */
  def plainYearSink(spark: SparkSession, dir: String): TxParquetSink =
    keyed(spark, dir, "plain_sink") {
      val t = tempSink("graft-txfix-plain")
      perYear(spark, dir)(slice => t.append(slice))
      t
    }

  /** CANONICAL ORDERS SINK — one commit per order year, year stats +
    * customer-key blooms: the bloom point-lookup / dynamic-file-pruning
    * base. READ-ONLY. */
  def ordersYearSink(spark: SparkSession, dir: String): TxParquetSink =
    keyed(spark, dir, "orders_sink") {
      val o = ordersProjected(spark, dir)
      val t = tempSink("graft-txfix-orders")
      val ys = o.select("year").distinct().orderBy("year")
        .collect().map(_.getInt(0)).toSeq
      ys.foreach { y =>
        t.appendWithStats(o.where(col("year") === y), Seq("year"),
          bloomCols = Seq("o_custkey"))
      }
      t
    }

  /** Orders adopted as one commit, then OPTIMIZE'd into year-ranged
    * buckets with per-file customer blooms — the compacted point-lookup
    * base. READ-ONLY (the compaction is maintenance, paid at build). */
  def ordersCompactedSink(spark: SparkSession, dir: String): TxParquetSink =
    keyed(spark, dir, "orders_compacted") {
      val t = tempSink("graft-txfix-ordc")
      t.append(ordersProjected(spark, dir))
      t.compactRanged(spark, "year", numBuckets = 4,
        bloomCols = Seq("o_custkey"))
      t
    }

  /** The stats load rewritten into month-ranged buckets with per-file
    * stats — the post-OPTIMIZE range-skipping base. READ-ONLY. */
  def rangeCompactedSink(spark: SparkSession, dir: String): TxParquetSink =
    keyed(spark, dir, "range_compacted") {
      val t = tempSink("graft-txfix-rc")
      statsYearSink(spark, dir).cloneTo(t)
      t.compactRanged(spark, "month", numBuckets = 6)
      t
    }

  /** The (month-index × store) table clustered by Hilbert OPTIMIZE —
    * the 2-D box-query base. READ-ONLY. */
  def clusteredSink(spark: SparkSession, dir: String): TxParquetSink =
    keyed(spark, dir, "clustered") {
      val mi = monthlyCents(spark, dir)
        .withColumn("mi",
          ((expr("CAST(substring(month, 1, 4) AS INT)") - lit(1992)) * lit(12) +
            expr("CAST(substring(month, 6, 2) AS INT)") - lit(1)).cast("long"))
        .select("mi", "store_id", "cents")
      val t = tempSink("graft-txfix-box")
      (0 until 4).foreach { k =>
        t.append(mi.where(pmod(col("store_id"), lit(4)) === lit(k)))
      }
      t.compactClustered(spark, "mi", "store_id",
        curve = "hilbert", bits = 8, numBuckets = 8)
      t
    }

  /** The two KMV-sketched sinks of the join-cardinality planner row:
    * the rollup (store_id + cents sketched, per-year commits) and the
    * supplier directory (store_id sketched, two half-commits).
    * READ-ONLY — the planner folds manifests, never data. */
  def sketchSinks(spark: SparkSession, dir: String)
      : (TxParquetSink, TxParquetSink) =
    keyed(spark, dir, "sketch_sinks") {
      val tA = tempSink("graft-txfix-ska")
      perYear(spark, dir)(slice => tA.appendWithStats(slice,
        statsCols = Nil, sketchCols = Seq("store_id", "cents")))
      val suppliers = Star.table(spark, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey").as("store_id"))
      val tB = tempSink("graft-txfix-skb")
      Seq(0, 1).foreach { h =>
        tB.appendWithStats(suppliers.where(col("s_suppkey") % 2 === h),
          statsCols = Nil, sketchCols = Seq("store_id"))
      }
      (tA, tB)
    }

  /** The suppliers projection [[sketchSinks]]' exact-audit side reads. */
  def suppliersProjected(spark: SparkSession, dir: String): DataFrame =
    keyed(spark, dir, "suppliers_proj") {
      Star.table(spark, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey").as("store_id"))
        .localCheckpoint(true)
    }

  /** GROUP-COLUMN SINK — the rollup widened with its calendar year and
    * loaded one commit per year with (y, cents) stats: every commit is
    * single-valued in `y` (min == max), which is what lets a GROUP BY y
    * profile be answered commit-by-commit from manifests alone
    * ([[graft.plans.MetadataAggregates]]' grouped path). READ-ONLY. */
  def groupYearSink(spark: SparkSession, dir: String): TxParquetSink =
    keyed(spark, dir, "group_sink") {
      val withY = monthlyCents(spark, dir)
        .withColumn("y", expr("substring(month, 1, 4)"))
      val t = tempSink("graft-txfix-grp")
      years(spark, dir).foreach { y =>
        t.appendWithStats(withY.where(col("y") === lit(y)),
          statsCols = Seq("y", "cents"))
      }
      t
    }

  /** COMPOSITE PARTITION-GRAIN SINK — the monthly load committed once
    * per (year, half), single-valued in BOTH `y` and `hh` with cents
    * stats: the multi-dimension partition-grain shape behind
    * [[graft.plans.MetadataAggregates]]' composite GROUP BY rewrite
    * (`GROUP BY y, hh` folds per-commit records, zero scan).
    * READ-ONLY: mutators clone. */
  def groupMultiSink(spark: SparkSession, dir: String): TxParquetSink =
    keyed(spark, dir, "group_multi_sink") {
      val m = monthlyCents(spark, dir)
        .withColumn("y", expr("substring(month, 1, 4)"))
        .withColumn("hh", expr(
          "CASE WHEN CAST(substring(month, 6, 2) AS INT) <= 6 " +
            "THEN 'h1' ELSE 'h2' END"))
      val t = tempSink("graft-txfix-grpm")
      years(spark, dir).foreach { y =>
        Seq("h1", "h2").foreach { h =>
          // append(empty slice) is a no-op commit — a year without a
          // second half simply contributes one commit
          t.appendWithStats(
            m.where(col("y") === lit(y) && col("hh") === lit(h)),
            statsCols = Seq("y", "hh", "cents"))
        }
      }
      t
    }

  /** The rollup re-aggregated to half-year grain — the change-batch
    * feed of the merge-churn pair (one merge commit per half-year,
    * ~2×years batches at any SF: enough masking commits to make depth
    * visible, bounded regardless of data size). */
  def halfCents(spark: SparkSession, dir: String): DataFrame =
    keyed(spark, dir, "half_cents") {
      monthlyCents(spark, dir)
        .groupBy(expr(
          "concat(substring(month, 1, 4), '-h', " +
            "CASE WHEN CAST(substring(month, 6, 2) AS INT) <= 6 " +
            "THEN 1 ELSE 2 END)").as("h"), col("store_id"))
        .agg(sum("cents").as("cents"))
        .localCheckpoint(true)
    }

  /** MERGE-CHURN PAIR — the mask-depth maintenance-policy experiment
    * as stored fixtures: the SAME half-year accumulation replay
    * (bootstrap append, then one [[TxParquetSink.mergeInto]] per half,
    * `cents += s.cents`, inserts unmatched) run twice —
    *
    *  - `maintained = true` runs the writer-loop policy
    *    ([[TxParquetSink.maintainIfNeeded]], maskBudget = 4) after
    *    every merge, so the effective log never carries more than 4
    *    row-masking commits: snapshot reads stay O(1) scan groups no
    *    matter how long the table lives.
    *  - `maintained = false` skips maintenance — every merge commit
    *    masks all earlier commits differently, so the snapshot read
    *    degrades to O(masking commits) distinct scan groups: the
    *    documented cost law the policy exists to bound.
    *
    * Both arms land the IDENTICAL final state (per-store grand-total
    * cents — [[MergeChurnSpec]] pins arm equality and the mask
    * counts), so `etl_tx_merge_policy` (maintained read) and its
    * [[graft.BenchVariants]] twin (unmaintained read) are a valid
    * paired A/B: the ratio isolates exactly what unbounded mask depth
    * costs a reader. At 100 TB this is the difference between a
    * CDC-merged table that reads at constant cost forever and one
    * whose every dashboard query replays the merge history. */
  def mergeChurnSink(spark: SparkSession, dir: String,
      maintained: Boolean): TxParquetSink =
    keyed(spark, dir, if (maintained) "churn_m" else "churn_u") {
      val half = halfCents(spark, dir)
      val halves = half.select("h").distinct().orderBy("h")
        .collect().map(_.getString(0)).toSeq
      val t = tempSink(if (maintained) "graft-txfix-mcm" else "graft-txfix-mcu")
      halves.foreach { h =>
        val batch = half.where(col("h") === lit(h))
          .select(col("store_id"), col("cents"))
        if (t.version() == -1L) t.append(batch)
        else {
          t.mergeInto(spark, batch, Seq("store_id"),
            updateSet = Map("cents" -> "t.cents + s.cents"))
          if (maintained) t.maintainIfNeeded(spark, maskBudget = 4)
          ()
        }
      }
      t
    }

  /** REGISTERED ROLLUP over [[ordersYearSink]] — the materialized view
    * behind the [[graft.plans.MvRewrite]] rows: (year, o_custkey) grain
    * with sum/min/max of cents and a row count, built from the
    * canonical orders snapshot and registered in
    * [[graft.plans.MvCatalog]] at that version. A query grouping by
    * any subset of (year, o_custkey) then answers from the rollup
    * instead of the fact scan. Returns the base sink. */
  def ordersMv(spark: SparkSession, dir: String): TxParquetSink =
    keyed(spark, dir, "orders_mv") {
      val sink = ordersYearSink(spark, dir)
      val mvPath =
        java.nio.file.Files.createTempDirectory("graft-txfix-mv").toString + "/mv"
      graft.plans.MvCatalog.registerRollup(spark, sink,
        groupCols = Seq("year", "o_custkey"), valueCols = Seq("cents"),
        mvPath = mvPath)
      sink
    }

  /** STALE REGISTERED ROLLUP — the orders load with its (year,
    * o_custkey) rollup registered BEFORE the last year lands, then two
    * tail appends past the registered version and NO refresh: the
    * fixture [[graft.plans.MvRewrite]]'s stale-view delta compensation
    * serves from (view ⊕ insert-only feed tail — the continuously-
    * ingesting window where a version-gated rule would otherwise never
    * fire). READ-ONLY: the row only queries. */
  def ordersStaleMv(spark: SparkSession, dir: String): TxParquetSink =
    keyed(spark, dir, "orders_stale_mv") {
      val o = ordersProjected(spark, dir)
      val ys = o.select("year").distinct().orderBy("year")
        .collect().map(_.getInt(0)).toSeq
      val t = tempSink("graft-txfix-stalemv")
      ys.dropRight(1).foreach(y => t.append(o.where(col("year") === y)))
      graft.plans.MvCatalog.registerRollup(spark, t,
        groupCols = Seq("year", "o_custkey"), valueCols = Seq("cents"),
        mvPath = t.dir + "_mv")
      val last = o.where(col("year") === ys.last)
      t.append(last.where(col("o_orderkey") % 2 === 0))
      t.append(last.where(col("o_orderkey") % 2 === 1))
      t
    }

  /** STATS-BEARING ROLLUP BASE — the orders load with per-commit cents
    * stats (the 2^53 exactness proof [[graft.plans.MvRewrite]]'s AVG
    * rewrite requires reads min/max/rows from the commit log) and its
    * (year, o_custkey) rollup registered fresh. READ-ONLY. */
  def ordersAvgMv(spark: SparkSession, dir: String): TxParquetSink =
    keyed(spark, dir, "orders_avg_mv") {
      val o = ordersProjected(spark, dir)
      val ys = o.select("year").distinct().orderBy("year")
        .collect().map(_.getInt(0)).toSeq
      val t = tempSink("graft-txfix-avgmv")
      ys.foreach(y => t.appendWithStats(o.where(col("year") === y),
        statsCols = Seq("year", "cents")))
      graft.plans.MvCatalog.registerRollup(spark, t,
        groupCols = Seq("year", "o_custkey"), valueCols = Seq("cents"),
        mvPath = t.dir + "_mv")
      t
    }

  /** MULTI-GRAIN ROLLUP BASE — the orders load with TWO rollups
    * registered: the fine (year, o_custkey) cube and the coarse
    * (year) one — the classic view-selection setup
    * [[graft.plans.MvRewrite]] chooses from by cost (a year-grain
    * query must plan against the few-row coarse view, never the
    * customer cube). READ-ONLY. */
  def ordersMultiMv(spark: SparkSession, dir: String): TxParquetSink =
    keyed(spark, dir, "orders_multi_mv") {
      val o = ordersProjected(spark, dir)
      val ys = o.select("year").distinct().orderBy("year")
        .collect().map(_.getInt(0)).toSeq
      val t = tempSink("graft-txfix-multimv")
      ys.foreach(y => t.append(o.where(col("year") === y)))
      graft.plans.MvCatalog.registerRollup(spark, t,
        groupCols = Seq("year", "o_custkey"), valueCols = Seq("cents"),
        mvPath = t.dir + "_mvfine")
      graft.plans.MvCatalog.registerRollup(spark, t,
        groupCols = Seq("year"), valueCols = Seq("cents"),
        mvPath = t.dir + "_mvcoarse")
      t
    }

  /** RETRACTION-BEARING ROLLUP BASE — the orders load with its
    * (year, o_custkey) rollup registered WITH extremes, then a
    * predicate DELETE retracting every seventh customer, the mask
    * compacted away (the maintainIfNeeded discipline — a masked log
    * shatters the snapshot scan), and the last year landing as an
    * insert tail that re-inserts some deleted customers. The fixture
    * behind [[graft.plans.MvRewrite]]'s targeted affected-groups
    * compensation: extremes over a retraction-bearing tail, served
    * without a full base rescan. READ-ONLY: the row only queries. */
  def ordersDeleteMv(spark: SparkSession, dir: String): TxParquetSink =
    keyed(spark, dir, "orders_delete_mv") {
      val o = ordersProjected(spark, dir)
      val ys = o.select("year").distinct().orderBy("year")
        .collect().map(_.getInt(0)).toSeq
      val t = tempSink("graft-txfix-delmv")
      ys.dropRight(1).foreach(y => t.append(o.where(col("year") === y)))
      graft.plans.MvCatalog.registerRollup(spark, t,
        groupCols = Seq("year", "o_custkey"), valueCols = Seq("cents"),
        mvPath = t.dir + "_mv")
      t.deleteWhere(spark, "o_custkey % 7 = 3")
      t.compact(spark)
      t.append(o.where(col("year") === ys.last))
      t
    }

  /** A fresh shallow clone of `source` for a mutating row: O(commits)
    * manifest metadata into a new temp dir, zero data bytes copied —
    * the mutation then diverges without touching the canonical sink. */
  def cloneOf(source: TxParquetSink, prefix: String): TxParquetSink = {
    val t = tempSink(prefix)
    source.cloneTo(t)
    t
  }

  /** Pre-builds the canonical read-only sinks (plus the orders rollup
    * registration, which depends on [[ordersYearSink]]) — one of
    * [[graft.Bench]]'s two parallel tx setup chains. */
  def buildCanonical(spark: SparkSession, dir: String): Unit = {
    statsYearSink(spark, dir)
    plainYearSink(spark, dir)
    ordersYearSink(spark, dir)
    ordersCompactedSink(spark, dir)
    rangeCompactedSink(spark, dir)
    clusteredSink(spark, dir)
    sketchSinks(spark, dir)
    groupYearSink(spark, dir)
    groupMultiSink(spark, dir)
    ordersMv(spark, dir)
    ordersStaleMv(spark, dir)
    ordersAvgMv(spark, dir)
    ordersMultiMv(spark, dir)
    ordersDeleteMv(spark, dir)
  }

  /** Pre-builds the merge-churn replay arms (one merge commit per
    * half-year, twice): the other parallel chain, so ~30 sequential
    * merge commits don't serialize behind the canonical loads. Only
    * [[monthlyCents]] is shared with the canonical chain, and the
    * keyed cache makes a build race merely wasted work, not a
    * correctness hazard. */
  def buildChurn(spark: SparkSession, dir: String): Unit = {
    mergeChurnSink(spark, dir, maintained = true)
    mergeChurnSink(spark, dir, maintained = false)
  }

  /** Every fixture — the ScaleBench setup hook. */
  def buildAll(spark: SparkSession, dir: String): Unit = {
    buildCanonical(spark, dir)
    buildChurn(spark, dir)
  }
}
