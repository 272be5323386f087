package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.etl.Star

/** Reference formulations for [[Bench]]'s paired A/B mode — one
  * STRAIGHTFORWARD spelling per adjudicated query, semantically
  * identical to the registered (optimized) implementation
  * (`BenchVariantsSpec` pins row-for-row equality at the smoke SF).
  *
  * Why these exist (VERDICT r6, "what's wrong" #1): driver bench rounds
  * on the shared box carry up to 4× run-to-run noise, so a round-over-
  * round absolute delta cannot distinguish a real regression from
  * contention. The paired mode times A (registered) and B (this
  * reference spelling) ADJACENTLY in one session, min-of-N: both sides
  * see the same contention regime, so the ratio a/b is a contention-
  * immune control. B's code is frozen — if a future round's ratio moves
  * while absolutes also move, the query regressed; if absolutes move
  * and the ratio holds, it was the box.
  *
  * These are NOT registered queries (no oracle rows of their own — they
  * are pinned against the registered queries, which have oracle rows).
  */
object BenchVariants {

  /** The adjudication set: the five queries whose r6 driver times
    * inflated 3–6× on untouched code (VERDICT r6 next-round item 1). */
  val variants: Map[String, (SparkSession, String) => DataFrame] = Map(
    "etl_event_props" -> (eventPropsFromJson(_, _)),
    "etl_event_transitions" -> (eventTransitionsSelfJoin(_, _)),
    "etl_peak_open_orders" -> (peakOpenOrdersRangeWindow(_, _)),
    "q23_abc_pareto" -> (abcParetoGlobalWindow(_, _)),
    "q06_affinity" -> (affinityAggThenName(_, _)),
    // round-7 optimizations, frozen as their own controls
    "etl_interval_merge" -> (intervalMergeDayExplode(_, _)),
    "etl_ndv_profile" -> (ndvProfileCountDistinct(_, _)),
    // round-8 rewrites, frozen as their own controls
    "q29_itemsets3" -> (itemsets3Unpruned(_, _)),
    "ext_dedup_containment" -> (containmentNoOrientation(_, _)),
    "etl_seq_patterns" -> (seqPatternsEventSelfJoin(_, _)),
    // round-10: the mask-depth maintenance-policy experiment (VERDICT
    // r9 item 6) — a is the maintained merge target's snapshot read, b
    // the identical replay left unmaintained
    "etl_tx_merge_policy" -> (mergePolicyUnmaintainedRead(_, _)))

  /** vs the registered maintained-target read (`etl_tx_merge_policy`):
    * the SAME half-year merge replay with the writer-loop maintenance
    * policy OFF ([[graft.etl.TxFixtures.mergeChurnSink]] unmaintained
    * arm), so the snapshot read pays the documented O(masking commits)
    * cost — every merge commit masks all earlier commits differently
    * and the scan shatters into one group per mask set. Identical
    * final state (per-store grand totals); the a/b ratio is the
    * measured value of [[graft.etl.TxParquetSink.maintainIfNeeded]]. */
  def mergePolicyUnmaintainedRead(spark: SparkSession, dir: String): DataFrame =
    graft.etl.TxFixtures.mergeChurnSink(spark, dir, maintained = false)
      .readSnapshot(spark).get
      .select("store_id", "cents")
      .orderBy("store_id")

  /** vs the registered per-(session, type) min/max span table: the
    * naive subsequence spelling — pair RAW EVENTS within each session
    * (a.ts < b.ts) and dedup to session-level pairs. Per-session
    * QUADRATIC in events where the span table is linear; equivalent
    * because "some A before some B" ⟺ min ts(A) < max ts(B). */
  def seqPatternsEventSelfJoin(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts")
    val tagged = Star.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_type"))
      .withColumn("brk",
        when(lag(col("ts"), 1).over(w).isNull ||
          unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)) >
            lit(graft.etl.EtlQueries.SeqGapMicros), 1L).otherwise(0L))
      .withColumn("session_id", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val pairsSess = tagged.as("a").join(tagged.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.session_id") === col("b.session_id") &&
          col("a.ts") < col("b.ts"))
      .select(col("a.user_id").as("user_id"),
        col("a.session_id").as("session_id"),
        col("a.event_type").as("antecedent"),
        col("b.event_type").as("consequent"))
      .distinct()
    val pairs = pairsSess.groupBy("antecedent", "consequent")
      .agg(count(lit(1)).as("n_sessions_both"))
    val perA = tagged.select("user_id", "session_id", "event_type").distinct()
      .groupBy(col("event_type").as("antecedent"))
      .agg(count(lit(1)).as("n_sessions_antecedent"))
    pairs.join(broadcast(perA), "antecedent")
      .select(col("antecedent"), col("consequent"), col("n_sessions_both"),
        col("n_sessions_antecedent"),
        (col("n_sessions_both").cast("double") /
          col("n_sessions_antecedent").cast("double")).as("confidence"))
      .orderBy("antecedent", "consequent")
  }

  /** vs the registered Apriori enumeration: the round-7 brute-force
    * two-step self-join (no pair-support pruning, no basket-size
    * guard — C(basket,3) candidates per order regardless of support).
    * Lossless-equivalence is pinned by the oracle, which deliberately
    * keeps this spelling; the ratio prices what Apriori buys. */
  def itemsets3Unpruned(spark: SparkSession, dir: String): DataFrame = {
    val basket = Star.salesFact(spark, dir)
      .select("order_id", "product_id").distinct()
    basket.as("a")
      .join(basket.as("b"),
        col("a.order_id") === col("b.order_id") &&
          col("a.product_id") < col("b.product_id"))
      .join(basket.as("c"),
        col("b.order_id") === col("c.order_id") &&
          col("b.product_id") < col("c.product_id"))
      .groupBy(col("a.product_id").as("p1"), col("b.product_id").as("p2"),
        col("c.product_id").as("p3"))
      .agg(count(lit(1)).as("support"))
      .where(col("support") >= 2)
      .orderBy(col("support").desc, col("p1"), col("p2"), col("p3"))
      .limit(50)
  }

  /** vs the registered orientation-cut containment: the round-7 probe
    * of the FULL inverted index with no |B| ≥ ⌈τ·|A|⌉ length filter —
    * big-A prefixes rain candidates onto small Bs that can never
    * verify. The cut is lossless (same ⌈τ·n−ε⌉ arithmetic as the
    * prefix length), so this B side returns identical rows. */
  def containmentNoOrientation(spark: SparkSession, dir: String): DataFrame = {
    val threshold = 0.8
    val docs = graft.ext.DedupOps.jaccardDocTable(spark, dir, 10000L)
    val prefLen = (col("n") - ceil(col("n") * lit(threshold) - lit(1e-9)) + lit(1)).cast("int")
    val probe = docs.select(col("doc_id").as("doc_a"),
      explode(slice(col("ord"), lit(1), prefLen)).as("sh"))
    val index = docs.select(col("doc_id").as("doc_b"), explode(col("ord")).as("sh"))
    val cand = probe.join(index,
        probe("sh") === index("sh") && col("doc_a") =!= col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
    cand
      .join(docs.select(col("doc_id"), col("n").as("na"), col("ord").as("oa")),
        col("doc_a") === col("doc_id"))
      .drop("doc_id")
      .join(docs.select(col("doc_id"), col("ord").as("ob")),
        col("doc_b") === col("doc_id"))
      .withColumn("n_shared", size(array_intersect(col("oa"), col("ob"))))
      .withColumn("containment", expr("CAST(n_shared AS DOUBLE) / na"))
      .where(col("containment") >= threshold)
      .select("doc_a", "doc_b", "n_shared", "containment")
      .orderBy("doc_a", "doc_b")
  }

  /** vs the registered sweep-line: the original day-grain
    * explode+distinct spelling (|orders|·lead-time rows) — the 7.5 s
    * version the sweep replaced (measured round 7; see git history). */
  def intervalMergeDayExplode(spark: SparkSession, dir: String): DataFrame = {
    val l = Star.table(spark, dir, "lineitem")
    val o = Star.table(spark, dir, "orders")
    val s = Star.table(spark, dir, "supplier")
    val iv = l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(s), l("l_suppkey") === s("s_suppkey"))
      .groupBy(col("s_nationkey").as("store_id"), col("l_orderkey").as("order_id"))
      .agg(to_date(min("o_orderdate")).as("d0"), to_date(max("l_shipdate")).as("d1"))
      .withColumn("d1", greatest(col("d0"), col("d1")))
    val cov = iv.select(col("store_id"),
        explode(expr("sequence(d0, d1)")).as("day"))
      .distinct()
    val w = Window.partitionBy("store_id").orderBy("day")
    cov
      .withColumn("grp",
        expr("datediff(day, DATE '1970-01-01')") - row_number().over(w))
      .groupBy("store_id", "grp")
      .agg(min("day").as("sd"), max("day").as("ed"), count(lit(1)).as("n_days"))
      .select(col("store_id"), col("sd").cast("timestamp").as("start_day"),
        col("ed").cast("timestamp").as("end_day"), col("n_days"))
      .orderBy("store_id", "start_day")
  }

  /** vs the registered two-level aggregate: the single-aggregate
    * countDistinct spelling whose Expand doubles and shuffles every
    * unpivoted row (8.2 s vs 2.5 s at sf0.1 — round-7). */
  def ndvProfileCountDistinct(spark: SparkSession, dir: String): DataFrame = {
    val stackArgs = graft.etl.EtlQueries.ProfileCols
      .map { case (n, cast) => s"'$n', $cast" }.mkString(", ")
    Star.table(spark, dir, "lineitem")
      .select(expr(
        s"stack(${graft.etl.EtlQueries.ProfileCols.size}, $stackArgs)" +
          " AS (column_name, val)"))
      .groupBy("column_name")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("val").isNull, 1L).otherwise(0L)).as("n_nulls"),
        countDistinct("val").as("ndv"),
        min("val").as("min_str"),
        max("val").as("max_str"))
      .orderBy("column_name")
  }

  /** vs the registered `get_json_object` (path probe fused into the
    * scan): full `from_json` parse to a struct, then the same profile
    * aggregate. Parses the whole payload to read one field. */
  def eventPropsFromJson(spark: SparkSession, dir: String): DataFrame =
    Star.events(spark, dir)
      .withColumn("k", expr("from_json(props, 'k INT').k"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_events"),
        count(col("k")).as("n_parsed"),
        min("k").as("min_k"),
        max("k").as("max_k"),
        sum("k").cast("bigint").as("sum_k"))
      .orderBy("event_type")

  /** vs the registered single lag-window pass: the rank self-join
    * spelling (row_number per user, join rn+1 = rn) — two window
    * shuffles plus an equi-join instead of one window. */
  def eventTransitionsSelfJoin(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val seq = Star.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("rn", row_number().over(w))
    seq.as("a").join(seq.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.rn") + 1 === col("b.rn"))
      .groupBy(col("a.event_type").as("prev_type"),
        col("b.event_type").as("event_type"))
      .agg(count(lit(1)).as("n_transitions"))
      .orderBy("prev_type", "event_type")
  }

  /** vs the registered per-day pre-aggregated delta sweep: the same ±1
    * deltas WITHOUT the per-(store, day) combine, running-summed with a
    * RANGE frame (ties = same day ⇒ every row of a day carries the
    * end-of-day total, so the struct-max picks the same peak/day). The
    * window sorts 2·|lineitem| rows per store instead of |days|. */
  def peakOpenOrdersRangeWindow(spark: SparkSession, dir: String): DataFrame = {
    val l = Star.table(spark, dir, "lineitem")
    val o = Star.table(spark, dir, "orders")
    val s = Star.table(spark, dir, "supplier")
    val iv = l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(s), l("l_suppkey") === s("s_suppkey"))
      .select(s("s_nationkey").as("store_id"),
        expr("least(datediff(o_orderdate, DATE'1970-01-01'), " +
          "datediff(l_shipdate, DATE'1970-01-01'))").as("sd"),
        expr("greatest(datediff(o_orderdate, DATE'1970-01-01'), " +
          "datediff(l_shipdate, DATE'1970-01-01'))").as("ed"))
    val deltas = iv.select(col("store_id"), col("sd").as("day"), lit(1).as("delta"))
      .unionByName(iv.select(col("store_id"),
        (col("ed") + 1).as("day"), lit(-1).as("delta")))
    val run = Window.partitionBy("store_id").orderBy("day")
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    deltas
      .withColumn("open", sum("delta").over(run))
      .groupBy("store_id")
      .agg(max(struct(col("open").as("o"), (-col("day")).as("nd"))).as("best"))
      .select(col("store_id"),
        col("best.o").cast("int").as("peak_open"),
        expr("CAST(date_add(DATE'1970-01-01', CAST(-best.nd AS INT)) AS TIMESTAMP)")
          .as("peak_day"))
      .orderBy("store_id")
  }

  /** vs the registered distributed prefix sum: the textbook GLOBAL
    * window (ORDER BY cents DESC ROWS UNBOUNDED PRECEDING) — a
    * single-partition sort of the catalog-sized aggregate, the exact
    * plan the registered query exists to avoid. Shares the registered
    * query's AbcA/AbcB thresholds. (Its WindowExec single-partition
    * warning is therefore EXPECTED: this is the deliberately-bad a/b
    * baseline of the paired bench, not a registered query path.) */
  def abcParetoGlobalWindow(spark: SparkSession, dir: String): DataFrame = {
    val perProduct = Star.salesFact(spark, dir)
      .groupBy("product_id")
      .agg(sum((col("total_revenue") * 100).cast("long")).as("cents"))
    val w = Window.orderBy(desc("cents"), asc("product_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val total = perProduct.agg(sum("cents").as("total_cents"))
    perProduct
      .withColumn("running_cents", sum("cents").over(w))
      .crossJoin(broadcast(total))
      .withColumn("cum_share",
        col("running_cents").cast("double") / col("total_cents").cast("double"))
      .withColumn("abc_class",
        when(col("cum_share") <= lit(graft.olap.Queries.AbcA), "A")
          .when(col("cum_share") <= lit(graft.olap.Queries.AbcB), "B")
          .otherwise("C"))
      .select("product_id", "cents", "running_cents", "cum_share", "abc_class")
      .orderBy(desc("cents"), asc("product_id"))
  }

  /** vs the registered name-join-then-aggregate: aggregate pair
    * frequencies on product IDS first, then map names and re-aggregate
    * (two products may share a name, so the name grain re-groups). */
  def affinityAggThenName(spark: SparkSession, dir: String): DataFrame = {
    val fact = Star.salesFact(spark, dir).select("order_id", "product_id")
    val product = Star.dimProduct(spark, dir).select("product_id", "product_name")
    val pairs = fact.as("a").join(fact.as("b"),
        col("a.order_id") === col("b.order_id") &&
          col("a.product_id") < col("b.product_id"))
      .groupBy(col("a.product_id").as("pid1"), col("b.product_id").as("pid2"))
      .agg(count(lit(1)).as("cnt"))
    pairs
      .join(broadcast(product).as("p1"), col("pid1") === col("p1.product_id"))
      .join(broadcast(product).as("p2"), col("pid2") === col("p2.product_id"))
      .groupBy(col("p1.product_name").as("product_1"),
        col("p2.product_name").as("product_2"))
      .agg(sum("cnt").as("frequency"))
      .orderBy(desc("frequency"), asc("product_1"), asc("product_2"))
      .limit(5)
  }
}
