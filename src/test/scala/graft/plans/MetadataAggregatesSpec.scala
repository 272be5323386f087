package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.TxParquetSink

/** The metadata count-pushdown rule, pinned in isolation: a bare
  * COUNT over a full-coverage tx scan optimizes to a LocalRelation
  * (zero scan stages), answers match the scanning plan exactly, and
  * every guard failure leaves the plan untouched. */
class MetadataAggregatesSpec extends AnyFunSuite {

  private def fresh(): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.builder()
      .master("local[2]")
      .appName("MetadataAggregatesSpec")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  private def table(s: SparkSession): TxParquetSink = {
    import s.implicits._
    val t = TxParquetSink(Files.createTempDirectory("metaagg").toString + "/t")
    (1 to 30).map(d => (f"2024-01-$d%02d", d.toLong)).grouped(10).foreach(g =>
      t.appendWithStats(g.toDF("day", "amount"), Seq("day", "amount")))
    t
  }

  private def isLocal(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectLeaves()
      .forall(_.isInstanceOf[LocalRelation])

  test("bare COUNT(*) and commit-aligned WHERE optimize to a literal") {
    val s = fresh()
    try {
      val t = table(s)
      val whole = t.readSnapshot(s).get.agg(count(lit(1)).as("n"))
      assert(isLocal(whole), whole.queryExecution.optimizedPlan.toString)
      assert(whole.collect().head.getLong(0) == 30L)
      // commit-aligned predicate: commit 2 is exactly amount 11..20
      val aligned = t.readSnapshot(s).get
        .where("amount >= 11 AND amount <= 20").agg(count(lit(1)).as("n"))
      assert(isLocal(aligned), aligned.queryExecution.optimizedPlan.toString)
      assert(aligned.collect().head.getLong(0) == 10L)
    } finally s.stop()
  }

  test("guards: boundary cut, masks, pruned reads, distinct all stay on the scan") {
    val s = fresh()
    try {
      val t = table(s)
      def snap = t.readSnapshot(s).get
      // a mid-commit cut needs a boundary scan → no rewrite, right answer
      val cut = snap.where("amount >= 15 AND amount <= 20")
        .agg(count(lit(1)).as("n"))
      assert(!isLocal(cut))
      assert(cut.collect().head.getLong(0) == 6L)
      // count(DISTINCT) is not a plain count → no rewrite
      val dist = snap.agg(countDistinct(col("day")).as("n"))
      assert(!isLocal(dist) && dist.collect().head.getLong(0) == 30L)
      // a PRUNED read (skipping) does not cover the snapshot → no rewrite
      val pruned = t.readSnapshotWhere(s, "amount >= 11 AND amount <= 20").get
        .agg(count(lit(1)).as("n"))
      assert(!isLocal(pruned))
      // a row-hiding mask forbids metadata credit → no rewrite
      t.deleteWhere(s, "amount = 25")
      val masked = t.readSnapshot(s).get.agg(count(lit(1)).as("n"))
      assert(!isLocal(masked) && masked.collect().head.getLong(0) == 29L)
    } finally s.stop()
  }

  test("unfiltered MIN/MAX/SUM/COUNT(col) rewrite to literals, all-or-nothing") {
    val s = fresh()
    try {
      val t = table(s)
      val snap = t.readSnapshot(s).get
      val profile = snap.agg(
        count(lit(1)).as("n"), count(col("amount")).as("nn"),
        min(col("amount")).as("mn"), max(col("amount")).as("mx"),
        sum(col("amount")).as("sm"),
        min(col("day")).as("d0"), max(col("day")).as("d1"))
      assert(isLocal(profile), profile.queryExecution.optimizedPlan.toString)
      val r = profile.collect().head
      assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5), r.getString(6)) ==
        ((30L, 30L, 1L, 30L, 465L, "2024-01-01", "2024-01-30")))
      // all-or-nothing: stddev is not answerable → the WHOLE plan
      // scans, including the count that alone would have rewritten
      // (avg IS answerable since the 2^53-proofed divide-last rewrite)
      val mixed = snap.agg(count(lit(1)).as("n"), stddev("amount").as("sd"))
      assert(!isLocal(mixed))
      assert(mixed.collect().head.getLong(0) == 30L)
      val withAvg = snap.agg(count(lit(1)).as("n"), avg("amount").as("a"))
      assert(isLocal(withAvg))
      assert(withAvg.collect().head.getDouble(1) == 15.5)
    } finally s.stop()
  }

  test("commit-aligned filtered MIN/MAX/SUM rewrite; boundary cuts stay on the scan") {
    val s = fresh()
    try {
      val t = table(s)
      def snap = t.readSnapshot(s).get
      // commit 2 is exactly amounts 11..20: every file Full or Excluded
      val panel = snap.where("amount >= 11 AND amount <= 20").agg(
        count(lit(1)).as("n"), count(col("amount")).as("nn"),
        min(col("amount")).as("mn"), max(col("amount")).as("mx"),
        sum(col("amount")).as("sm"),
        min(col("day")).as("d0"), max(col("day")).as("d1"))
      assert(isLocal(panel), panel.queryExecution.optimizedPlan.toString)
      val r = panel.collect().head
      assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getString(5), r.getString(6)) ==
        ((10L, 10L, 11L, 20L, 155L, "2024-01-11", "2024-01-20")))
      // provably-empty predicate: COUNT 0, MIN/MAX/SUM NULL — literal
      val empty = snap.where("amount >= 100").agg(
        count(lit(1)).as("n"), min(col("amount")).as("mn"),
        sum(col("amount")).as("sm"))
      assert(isLocal(empty), empty.queryExecution.optimizedPlan.toString)
      val e = empty.collect().head
      assert(e.getLong(0) == 0L && e.isNullAt(1) && e.isNullAt(2))
      // a mid-commit cut would need a boundary scan → untouched plan,
      // same answer through the scan
      val cut = snap.where("amount >= 15 AND amount <= 20")
        .agg(min(col("amount")).as("mn"), sum(col("amount")).as("sm"))
      assert(!isLocal(cut))
      val c = cut.collect().head
      assert(c.getLong(0) == 15L && c.getLong(1) == 105L)
    } finally s.stop()
  }

  test("a computed alias shadowing a table column must NOT reach the manifest profile") {
    val s = fresh()
    try {
      val t = table(s)
      val snap = t.readSnapshot(s).get
      // (amount % 3) aliased back to the NAME 'amount': a name-based
      // resolver would answer min=1/max=30 from the raw column's stats
      val shadow = snap
        .select((col("amount") % 3).as("amount"), col("day"))
        .agg(min(col("amount")).as("mn"), max(col("amount")).as("mx"),
          sum(col("amount")).as("sm"))
      assert(!isLocal(shadow),
        shadow.queryExecution.optimizedPlan.toString)
      val r = shadow.collect().head
      assert(r.getLong(0) == 0L && r.getLong(1) == 2L)
      // same hole through a FILTER above the renaming projection
      val shadowFilter = snap
        .select((col("amount") % 3).as("amount"))
        .where("amount >= 0 AND amount <= 2")
        .agg(count(lit(1)).as("n"))
      assert(!isLocal(shadowFilter))
      assert(shadowFilter.collect().head.getLong(0) == 30L)
      // a PURE pass-through projection (prune + reorder) still rewrites
      val pass = snap.select(col("amount")).agg(max(col("amount")).as("mx"))
      assert(isLocal(pass), pass.queryExecution.optimizedPlan.toString)
      assert(pass.collect().head.getLong(0) == 30L)
    } finally s.stop()
  }

  test("GROUP BY a commit-constant column rewrites to literal rows; data files not needed") {
    val s = fresh()
    try {
      import s.implicits._
      val t = TxParquetSink(
        Files.createTempDirectory("metaagggrp").toString + "/t")
      (1 to 30).map(d => (f"2024-${(d - 1) / 10 + 1}%02d", d.toLong))
        .grouped(10).foreach(g =>
          t.appendWithStats(g.toDF("month", "amount"), Seq("month", "amount")))
      val grouped = t.readSnapshot(s).get.groupBy("month").agg(
        count(lit(1)).as("n"), min(col("amount")).as("mn"),
        max(col("amount")).as("mx"), sum(col("amount")).as("sm"))
      assert(isLocal(grouped), grouped.queryExecution.optimizedPlan.toString)
      val rows = grouped.orderBy("month").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSeq
      assert(rows == Seq(("2024-01", 10L, 1L, 10L, 55L),
        ("2024-02", 10L, 11L, 20L, 155L),
        ("2024-03", 10L, 21L, 30L, 255L)))
      // the proof the plan never touches data: build the frame (schema
      // inference reads footers — the last data access), DELETE every
      // data file, and only then optimize + execute: the literal
      // rewrite still answers where the scan would die
      val again = t.readSnapshot(s).get.groupBy("month").agg(
        count(lit(1)).as("n"), sum(col("amount")).as("sm"))
      val dataDir = java.nio.file.Paths.get(t.dir).resolve("data")
      val walk = java.nio.file.Files.walk(dataDir)
      val all = try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.toSeq
      } finally walk.close()
      all.reverseIterator.foreach(java.nio.file.Files.deleteIfExists(_))
      assert(isLocal(again))
      assert(again.orderBy("month").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
        Seq(("2024-01", 10L, 55L), ("2024-02", 10L, 155L),
          ("2024-03", 10L, 255L)))
      // a table whose commits are NOT single-valued in the group column
      // keeps the scan (the original fixture mixes days per commit)
      val mixed = table(s)
      val noRewrite = mixed.readSnapshot(s).get.groupBy("day")
        .agg(count(lit(1)).as("n"))
      assert(!isLocal(noRewrite))
      assert(noRewrite.count() == 30L)
    } finally s.stop()
  }

  test("ROLLUP over a partition-grain table answers from manifests: literal rows, native semantics") {
    val s = fresh()
    try {
      import s.implicits._
      val t = TxParquetSink(
        Files.createTempDirectory("metaaggroll").toString + "/t")
      (1 to 30).map(d => (f"2024-${(d - 1) / 10 + 1}%02d", d.toLong))
        .grouped(10).foreach(g =>
          t.appendWithStats(g.toDF("month", "amount"), Seq("month", "amount")))
      def q() = t.readSnapshot(s).get.rollup("month").agg(
        count(lit(1)).as("n"), min(col("amount")).as("mn"),
        max(col("amount")).as("mx"), sum(col("amount")).as("sm"),
        grouping_id().as("gid"))
        .orderBy("gid", "month")
      val off = {
        // rule-off control: a session without the extension
        val rows = q() // extension armed via spark.sql.extensions…
        rows
      }
      val on = q()
      assert(isLocal(on), on.queryExecution.optimizedPlan.toString)
      val rows = on.collect().map(r => (Option(r.getString(0)).orNull,
        r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5))).toSeq
      assert(rows == Seq(
        ("2024-01", 10L, 1L, 10L, 55L, 0L),
        ("2024-02", 10L, 11L, 20L, 155L, 0L),
        ("2024-03", 10L, 21L, 30L, 255L, 0L),
        (null, 30L, 1L, 30L, 465L, 1L)))
      // CUBE over two constant-per-commit columns also serves? one
      // column here — GROUPING SETS ((month), ()) spelled via SQL
      t.readSnapshot(s).get.createOrReplaceTempView("roll_tv")
      val sq = s.sql("SELECT month, sum(amount) AS sm FROM roll_tv " +
        "GROUP BY month GROUPING SETS ((month), ())")
      assert(isLocal(sq), sq.queryExecution.optimizedPlan.toString)
      assert(sq.count() == 4L)
      // a commit-mixed group column keeps the scan for the WHOLE rollup
      val mixed = table(s)
      val noRewrite = mixed.readSnapshot(s).get.rollup("day")
        .agg(count(lit(1)).as("n"))
      assert(!isLocal(noRewrite))
      assert(noRewrite.count() == 31L)
    } finally s.stop()
  }

  test("CUBE over a composite partition grain: all four grouping sets from manifests") {
    val s = fresh()
    try {
      import s.implicits._
      val t = TxParquetSink(
        Files.createTempDirectory("metaaggcube").toString + "/t")
      // one commit per (m, h) cell, single-valued in BOTH — the
      // composite partition-grain shape
      for (m <- Seq("2024-01", "2024-02"); h <- Seq(1L, 2L)) {
        val base = (m.takeRight(2).toLong * 10 + h) * 10
        t.appendWithStats((1 to 5).map(i => (m, h, base + i))
          .toDF("m", "h", "amount"), Seq("m", "h", "amount"))
      }
      def q() = t.readSnapshot(s).get.cube("m", "h").agg(
        count(lit(1)).as("n"), sum(col("amount")).as("sm"),
        grouping_id().as("gid"))
        .orderBy("gid", "m", "h")
      val on = q()
      assert(isLocal(on), on.queryExecution.optimizedPlan.toString)
      // the suite arms rules via spark.sql.extensions, which cannot be
      // detached per-query — the expectation is hand-computed instead
      val rows = on.collect().map(r => (Option(r.getString(0)).orNull,
        if (r.isNullAt(1)) null else r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
      def cell(m: String, h: Long) =
        (1 to 5).map(i => (m.takeRight(2).toLong * 10 + h) * 10 + i.toLong).sum
      val jan = cell("2024-01", 1) + cell("2024-01", 2)
      val feb = cell("2024-02", 1) + cell("2024-02", 2)
      val h1 = cell("2024-01", 1) + cell("2024-02", 1)
      val h2 = cell("2024-01", 2) + cell("2024-02", 2)
      assert(rows === Seq(
        ("2024-01", 1L, 5L, cell("2024-01", 1), 0L),
        ("2024-01", 2L, 5L, cell("2024-01", 2), 0L),
        ("2024-02", 1L, 5L, cell("2024-02", 1), 0L),
        ("2024-02", 2L, 5L, cell("2024-02", 2), 0L),
        ("2024-01", null, 10L, jan, 1L),
        ("2024-02", null, 10L, feb, 1L),
        (null, 1L, 10L, h1, 2L),
        (null, 2L, 10L, h2, 2L),
        (null, null, 20L, jan + feb, 3L)))
    } finally s.stop()
  }

  test("ROLLUP over an EMPTY filtered input emits zero rows from the metadata path too") {
    val s = fresh()
    try {
      import s.implicits._
      val t = TxParquetSink(
        Files.createTempDirectory("metaaggrollempty").toString + "/t")
      (1 to 20).map(d => (f"2024-${(d - 1) / 10 + 1}%02d", d.toLong))
        .grouped(10).foreach(g =>
          t.appendWithStats(g.toDF("month", "amount"), Seq("month", "amount")))
      // a commit-aligned filter matching NOTHING: the native rollup
      // yields zero rows; the grand-total probe must not invent one
      val q = t.readSnapshot(s).get.where(col("month") === "2030-01")
        .rollup("month").agg(count(lit(1)).as("n"))
      assert(isLocal(q), q.queryExecution.optimizedPlan.toString)
      assert(q.collect().isEmpty,
        "an empty rollup must emit no rows, not a spurious grand total")
    } finally s.stop()
  }

  test("GROUP BY + a group-column filter rewrites to surviving groups only; other filters keep the scan") {
    val s = fresh()
    try {
      import s.implicits._
      val t = TxParquetSink(
        Files.createTempDirectory("metaagggrpf").toString + "/t")
      (1 to 30).map(d => (f"2024-${(d - 1) / 10 + 1}%02d", d.toLong))
        .grouped(10).foreach(g =>
          t.appendWithStats(g.toDF("month", "amount"), Seq("month", "amount")))
      val snap = t.readSnapshot(s).get
      val filtered = snap
        .where("month >= '2024-02'")
        .groupBy("month").agg(
          count(lit(1)).as("n"), min(col("amount")).as("mn"),
          sum(col("amount")).as("sm"))
      assert(isLocal(filtered), filtered.queryExecution.optimizedPlan.toString)
      assert(filtered.orderBy("month").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq ==
        Seq(("2024-02", 10L, 11L, 155L), ("2024-03", 10L, 21L, 255L)))
      // a predicate that excludes EVERY group: zero literal rows
      val none = snap.where("month > '2025'")
        .groupBy("month").agg(count(lit(1)).as("n"))
      assert(isLocal(none))
      assert(none.collect().isEmpty)
      // a filter on a NON-group column keeps the scan (rows within a
      // group would be filtered individually — not answerable)
      val byValue = snap.where("amount > 15")
        .groupBy("month").agg(count(lit(1)).as("n"))
      assert(!isLocal(byValue))
      assert(byValue.orderBy("month").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq ==
        Seq(("2024-02", 5L), ("2024-03", 10L)))
      // a non-deterministic group filter keeps the scan (the scan
      // evaluates it per row, the rule would evaluate it per group).
      // NOTE the bound must not be provably-true: Spark's own
      // optimizer eliminates rand(seed) >= -1.0 entirely (leaving a
      // deterministic filter the rule CORRECTLY rewrites)
      val nonDet = snap.where(rand(7) <= 0.99 && col("month") >= "2024-02")
        .groupBy("month").agg(count(lit(1)).as("n"))
      assert(!isLocal(nonDet))
    } finally s.stop()
  }

  test("composite GROUP BY over a two-dimension partition grain rewrites; data files not needed") {
    val s = fresh()
    try {
      import s.implicits._
      val t = TxParquetSink(
        Files.createTempDirectory("metaagggrpm").toString + "/t")
      // one commit per (month, region): single-valued in BOTH columns
      for (m <- 1 to 3; r <- Seq("e", "w")) {
        val rows = (1 to 5).map(i =>
          (f"2024-$m%02d", r, (m * 100 + i).toLong))
        t.appendWithStats(rows.toDF("month", "region", "amount"),
          Seq("month", "region", "amount"))
      }
      def q() = t.readSnapshot(s).get.groupBy("month", "region").agg(
        count(lit(1)).as("n"), min(col("amount")).as("mn"),
        max(col("amount")).as("mx"), sum(col("amount")).as("sm"))
      val grouped = q()
      assert(isLocal(grouped), grouped.queryExecution.optimizedPlan.toString)
      assert(grouped.orderBy("month", "region").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toSeq ==
        (for (m <- 1 to 3; r <- Seq("e", "w")) yield
          (f"2024-$m%02d", r, 5L, m * 100 + 1L, m * 100 + 5L,
            (1 to 5).map(m * 100L + _).sum)))
      // composite-key filter over BOTH group columns: tuples drop whole
      val filtered = t.readSnapshot(s).get
        .where("month >= '2024-02' AND (region = 'e' OR month = '2024-03')")
        .groupBy("month", "region").agg(count(lit(1)).as("n"))
      assert(isLocal(filtered))
      assert(filtered.orderBy("month", "region").collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq ==
        Seq(("2024-02", "e", 5L), ("2024-03", "e", 5L), ("2024-03", "w", 5L)))
      // group columns referenced in a different output order still bind
      val reordered = t.readSnapshot(s).get.groupBy("month", "region")
        .agg(count(lit(1)).as("n")).select("region", "n", "month")
      assert(isLocal(reordered))
      // proof the plan needs no data: delete every data file, re-ask
      val again = q()
      val dataDir = java.nio.file.Paths.get(t.dir).resolve("data")
      val walk = java.nio.file.Files.walk(dataDir)
      val all = try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.toSeq
      } finally walk.close()
      all.reverseIterator.foreach(java.nio.file.Files.deleteIfExists(_))
      assert(isLocal(again))
      assert(again.orderBy("month", "region").collect().length == 6)
      // a commit single-valued in month but MIXED in region keeps the scan
      val mixed = TxParquetSink(
        Files.createTempDirectory("metaagggrpmx").toString + "/t")
      mixed.appendWithStats(
        Seq(("2024-01", "e", 1L), ("2024-01", "w", 2L))
          .toDF("month", "region", "amount"),
        Seq("month", "region", "amount"))
      val no = mixed.readSnapshot(s).get.groupBy("month", "region")
        .agg(count(lit(1)).as("n"))
      assert(!isLocal(no))
      assert(no.count() == 2L)
    } finally s.stop()
  }

  test("AVG rewrites as exact-sum/count under the 2^53 proof; past the bound the panel keeps the scan") {
    val s = fresh()
    try {
      import s.implicits._
      val t = TxParquetSink(
        Files.createTempDirectory("metaaggavg").toString + "/t")
      (1 to 30).map(d => (f"2024-${(d - 1) / 10 + 1}%02d",
          if (d % 10 == 0) null else java.lang.Long.valueOf(d.toLong)))
        .grouped(10).foreach(g =>
          t.appendWithStats(g.toDF("month", "amount"), Seq("month", "amount")))
      // global, filtered, and grouped panels all serve AVG
      def snap = t.readSnapshot(s).get
      val global = snap.agg(avg(col("amount")).as("a"),
        count(col("amount")).as("n"))
      assert(isLocal(global), global.queryExecution.optimizedPlan.toString)
      val grouped = snap.groupBy("month").agg(avg(col("amount")).as("a"))
      assert(isLocal(grouped))
      val filtered = snap.where("month >= '2024-02'")
        .agg(avg(col("amount")).as("a"))
      assert(isLocal(filtered))
      // value parity, bit-for-bit, against a scanning ground truth the
      // rule cannot match (the manual sum/count spelling is an Alias
      // of a Divide, not of an AggregateExpression) — under the 2^53
      // bound both equal Spark's own double-accumulated avg exactly
      val manual = (sum(col("amount")) / count(col("amount"))).as("a")
      def ground(df: org.apache.spark.sql.DataFrame): Seq[Double] =
        df.collect().toSeq.map(r => r.getDouble(r.length - 1))
      assert(!isLocal(snap.agg(manual)),
        "fixture error: the manual spelling must stay a scan")
      assert(ground(global.select(col("a"))) === ground(snap.agg(manual)))
      assert(ground(grouped.orderBy("month")) ===
        ground(snap.groupBy("month").agg(manual).orderBy("month")))
      assert(ground(filtered) ===
        ground(snap.where("month >= '2024-02'").agg(manual)))
      // past the bound: max|v| · rows ≥ 2^53 — whole panel stays a scan
      val big = TxParquetSink(
        Files.createTempDirectory("metaaggavgbig").toString + "/t")
      big.appendWithStats(
        Seq(("m", 1L << 51), ("m", 1L << 51), ("m", 7L), ("m", 9L))
          .toDF("month", "amount"), Seq("month", "amount"))
      val over = big.readSnapshot(s).get.agg(avg(col("amount")).as("a"))
      assert(!isLocal(over), "AVG past the 2^53 proof must keep the scan")
    } finally s.stop()
  }

  test("the metadata rewrite fires through SQL text too (temp view + spark.sql)") {
    val s = fresh()
    try {
      import s.implicits._
      val t = TxParquetSink(
        Files.createTempDirectory("metaaggsql").toString + "/t")
      (1 to 30).map(d => (f"2024-${(d - 1) / 10 + 1}%02d", d.toLong))
        .grouped(10).foreach(g =>
          t.appendWithStats(g.toDF("month", "amount"), Seq("month", "amount")))
      t.readSnapshot(s).get.createOrReplaceTempView("meta_sql_base")
      try {
        val whole = s.sql(
          "SELECT count(*) AS n, min(amount) AS mn, sum(amount) AS sm " +
            "FROM meta_sql_base")
        assert(isLocal(whole), whole.queryExecution.optimizedPlan.toString)
        assert(whole.collect().head.toSeq === Seq(30L, 1L, 465L))
        val grouped = s.sql(
          "SELECT month, count(*) AS n FROM meta_sql_base " +
            "WHERE month >= '2024-02' GROUP BY month ORDER BY month")
        assert(isLocal(grouped), grouped.queryExecution.optimizedPlan.toString)
        assert(grouped.collect().map(r => (r.getString(0), r.getLong(1)))
          .toSeq === Seq(("2024-02", 10L), ("2024-03", 10L)))
      } finally s.catalog.dropTempView("meta_sql_base")
    } finally s.stop()
  }

  test("the rewrite equals the scanning plan on every probe") {
    val s = fresh()
    try {
      val t = table(s)
      val preds = Seq("amount >= 11 AND amount <= 20", "amount >= 1",
        "day >= '2024-01-11' AND day <= '2024-01-20'")
      preds.foreach { p =>
        val withRule = t.readSnapshot(s).get.where(p)
          .agg(count(lit(1)).as("n")).collect().head.getLong(0)
        // the ground truth through a plain filter-count (rule can't
        // fire: .count() plans through a different aggregate shape)
        val ground = t.readSnapshot(s).get.where(p).count()
        assert(withRule == ground, s"pred '$p': $withRule vs $ground")
      }
    } finally s.stop()
  }

  test("COUNT(DISTINCT) answers from partition-grain manifests; ndv_estimate folds the sketches") {
    val s = fresh()
    try {
      import s.implicits._
      // partition-grain load: one commit per month, 50 distinct amounts
      // each (200 total — past the k=64 sketch capacity, so the
      // estimator's division branch is what must agree)
      val t = TxParquetSink(
        Files.createTempDirectory("metaagg-ndv").toString + "/t")
      val months = Seq("2024-01", "2024-02", "2024-03", "2024-04")
      months.zipWithIndex.foreach { case (m, i) =>
        t.appendWithStats(
          (1 to 50).map(d => (m, (i * 50 + d).toLong, s"tag$d"))
            .toDF("month", "amount", "tag"),
          Seq("month", "amount"), sketchCols = Seq("amount", "month"))
      }
      def snap = t.readSnapshot(s).get
      // exact distinct over the grain column: literal, no scan
      val dist = snap.agg(countDistinct(col("month")).as("n"),
        count(lit(1)).as("n_rows"))
      assert(isLocal(dist), dist.queryExecution.optimizedPlan.toString)
      val dr = dist.collect().head
      assert(dr.getLong(0) == 4L && dr.getLong(1) == 200L)
      // distinct over a NON-grain column declines but stays right
      val bad = snap.agg(countDistinct(col("amount")).as("n"))
      assert(!isLocal(bad) && bad.collect().head.getLong(0) == 200L)
      // ndv_estimate folds the manifest sketches into a literal ...
      val ndv = snap.agg(expr("ndv_estimate(amount)").as("ndv"))
      assert(isLocal(ndv), ndv.queryExecution.optimizedPlan.toString)
      // ... that is bit-identical to the SCAN aggregate over the same
      // rows (plain frame, no tx coverage → the rule cannot fire):
      // the union-truncate semilattice + shared estimator contract
      val plain = months.zipWithIndex.flatMap { case (m, i) =>
        (1 to 50).map(d => (m, (i * 50 + d).toLong)) }.toDF("month", "amount")
        .repartition(2) // genuinely aggregated, not constant-folded
        .agg(expr("ndv_estimate(amount)").as("ndv"))
      assert(ndv.collect().head.getDouble(0) == plain.collect().head.getDouble(0))
      // a k that differs from the persisted sketches' k declines
      val k32 = snap.agg(expr("ndv_estimate(amount, 32)").as("ndv"))
      assert(!isLocal(k32))
      // filters keep the scan (sketches cover the whole table only)
      val filtered = snap.where("amount >= 51")
        .agg(expr("ndv_estimate(amount)").as("ndv"))
      assert(!isLocal(filtered))
      // a STRING column folds too: the builder's identity cast is
      // stripped by SimplifyCasts before the rule runs, so the
      // bare-attribute spelling must match (review finding r13) —
      // and its value equals the scan aggregate's
      val ndvStr = snap.agg(expr("ndv_estimate(month)").as("ndv"))
      assert(isLocal(ndvStr), ndvStr.queryExecution.optimizedPlan.toString)
      val plainStr = months.zipWithIndex.flatMap { case (m, i) =>
        (1 to 50).map(d => (m, (i * 50 + d).toLong)) }.toDF("month", "amount")
        .repartition(2)
        .agg(expr("ndv_estimate(month)").as("ndv"))
      assert(ndvStr.collect().head.getDouble(0) ==
        plainStr.collect().head.getDouble(0))
      // an UNSKETCHED column declines (tag has no sketch records)
      val unsketched = snap.agg(expr("ndv_estimate(tag)").as("ndv"))
      assert(!isLocal(unsketched))
      // a mask forbids the fold (ghost values) — decline, right answer
      t.deleteWhere(s, "amount = 7")
      val masked = t.readSnapshot(s).get
        .agg(expr("ndv_estimate(amount)").as("ndv"))
      assert(!isLocal(masked))
    } finally s.stop()
  }
}
