package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.apache.spark.sql.functions._
import graft.etl.Upserts

/** Property-based invariants (SURVEY.md §5 item 3) run with ScalaCheck
  * generators under ScalaTest: warehouse state is independent of stream
  * order/duplication, and decimal aggregation is associative (the
  * property that makes results deterministic on any cluster topology). */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val params = SCTest.Parameters.default.withMinSuccessfulTests(15)

  private def check(prop: Prop): Unit = {
    val res = SCTest.check(params, prop)
    assert(res.passed, res.status.toString)
  }

  private val batchGen: Gen[List[(Long, String)]] =
    Gen.listOfN(30, Gen.zip(Gen.choose(1L, 10L), Gen.alphaStr.map(_.take(5))))

  test("upsert final key set is invariant under permutation and duplication") {
    check(Prop.forAll(batchGen, Gen.choose(0L, 5L)) { (batch, existingMax) =>
      val existing = (1L to existingMax).map(i => (i, s"e$i")).toDF("id", "v")
      val incoming = batch.toDF("id", "v")
      val shuffled = scala.util.Random.shuffle(batch)
      val doubled = (shuffled ++ shuffled).toDF("id", "v")
      def keys(in: org.apache.spark.sql.DataFrame) =
        Upserts.insertIfAbsent(existing, in, Seq("id"), Seq("v"))
          .select("id").as[Long].collect().toSet
      keys(incoming) == keys(doubled)
    })
  }

  test("upsert winner row is deterministic regardless of input order") {
    check(Prop.forAll(batchGen) { batch =>
      val empty = Seq.empty[(Long, String)].toDF("id", "v")
      val a = Upserts.insertIfAbsent(empty, batch.toDF("id", "v"), Seq("id"), Seq("v"))
        .as[(Long, String)].collect().sortBy(_._1).toSeq
      val b = Upserts.insertIfAbsent(empty,
          scala.util.Random.shuffle(batch).toDF("id", "v"), Seq("id"), Seq("v"))
        .as[(Long, String)].collect().sortBy(_._1).toSeq
      a == b
    })
  }

  test("krippendorff alpha is invariant under unit and category relabeling") {
    // random ≤3-rater panels over ≤3 categories; alpha must not move
    // under a bijective renaming of units or categories, and must sit
    // at or below exact 10^6 (perfect agreement) whenever defined
    val panelGen: Gen[List[(Long, Int)]] = for {
      nUnits <- Gen.choose(2, 8)
      ratings <- Gen.sequence[List[List[(Long, Int)]], List[(Long, Int)]](
        (1 to nUnits).toList.map { u =>
          for {
            m <- Gen.choose(1, 3)
            cats <- Gen.listOfN(m, Gen.choose(0, 2))
          } yield cats.map(c => (u.toLong, c))
        })
    } yield ratings.flatten
    check(Prop.forAll(panelGen, Gen.choose(1, 5)) { (panel, seed) =>
      def alpha(rs: List[(Long, Int)]): Option[Seq[Long]] = {
        val rows = graft.ext.TextOps.alphaOf(rs.toDF("doc_id", "cat")).collect()
        // a panel with no pairable unit or a degenerate E yields no
        // meaningful row — treat 0-unit results as undefined
        rows.headOption
          .filter(r => !r.isNullAt(1) && !r.isNullAt(4) && r.getLong(1) >= 2)
          .map(r => (0 to 4).map(r.getLong))
      }
      val unitMap: Long => Long = u => u * 31L % 97L
      val catMap: Int => Int = c => (c + seed) % 3
      val base = alpha(panel)
      val renamedUnits = alpha(panel.map { case (u, c) => (unitMap(u), c) })
      val renamedCats = alpha(panel.map { case (u, c) => (u, catMap(c)) })
      val bounded = base.forall(r => r(4) <= 1000000L)
      base == renamedUnits && base == renamedCats && bounded
    })
  }

  test("decimal aggregation is order- and partitioning-independent") {
    val amounts = Gen.listOfN(50, Gen.choose(-99999L, 99999L))
    check(Prop.forAll(amounts, Gen.choose(1, 8)) { (cents, parts) =>
      val decs = cents.map(c => BigDecimal(c) / 100)
      val expected = decs.sum
      val viaSpark = decs.toDF("x")
        .repartition(parts)
        .agg(sum(col("x").cast(graft.model.Schemas.revenueType)))
        .head().getDecimal(0)
      BigDecimal(viaSpark) == expected
    })
  }

  test("md5_prefix32 equals the conv(substring(md5)) composition for any string") {
    graft.functions.Md5Prefix32.register(spark)
    val strs = Gen.listOfN(40, Gen.oneOf(
      Gen.alphaNumStr.map(_.take(20)),
      Gen.asciiPrintableStr.map(_.take(30)),
      Gen.const("中文 混合 text")))
    check(Prop.forAll(strs) { ss =>
      val df = ss.toDF("s").selectExpr(
        "md5_prefix32(s) AS fast",
        "CAST(conv(substring(md5(s), 1, 8), 16, 10) AS BIGINT) AS ref")
      df.where(col("fast") =!= col("ref")).count() == 0
    })
  }

  test("readSnapshotWhere equals the unpruned filter for fuzzed predicates") {
    // one fixed multi-commit table (stats + blooms on both columns),
    // random predicates over a grammar of comparisons, IN-lists,
    // AND/OR trees, and deliberately type-mismatched conjuncts — the
    // SUPERSET CONTRACT says auto-derived pruning may only avoid I/O,
    // never change the answer
    val t = graft.etl.TxParquetSink(
      java.nio.file.Files.createTempDirectory("txprop").toString + "/t")
    (1 to 30).map(d => (f"2024-01-$d%02d", d.toLong)).grouped(10).foreach(g =>
      t.appendWithStats(g.toDF("day", "amount"), Seq("day", "amount"),
        bloomCols = Seq("day", "amount")))
    val unpruned = t.readSnapshot(spark).get.localCheckpoint(true)
    val numLit: Gen[String] = Gen.oneOf(
      Gen.choose(-5, 35).map(_.toString), Gen.const("10.5"))
    val dayLit: Gen[String] =
      Gen.choose(-3, 33).map(d => f"'2024-01-$d%02d'")
    val op: Gen[String] = Gen.oneOf("<", "<=", ">", ">=", "=")
    val atom: Gen[String] = Gen.oneOf(
      Gen.zip(op, numLit).map { case (o, l) => s"amount $o $l" },
      Gen.zip(op, dayLit).map { case (o, l) => s"day $o $l" },
      Gen.zip(numLit, op).map { case (l, o) => s"$l $o amount" },
      Gen.zip(numLit, numLit).map { case (a, b) => s"amount IN ($a, $b)" },
      // mismatched domain (string literal on the numeric column —
      // ANSI-valid via coercion): the derivation must not prune on it
      Gen.zip(op, Gen.choose(0, 35)).map { case (o, l) => s"amount $o '$l'" })
    val pred: Gen[String] = for {
      n <- Gen.choose(1, 3)
      as <- Gen.listOfN(n, atom)
      ops <- Gen.listOfN(n - 1, Gen.oneOf("AND", "OR"))
    } yield as.tail.zip(ops).foldLeft(as.head) {
      case (acc, (a, o)) => s"($acc) $o ($a)" }
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(String, Long)] =
      df.select("day", "amount").as[(String, Long)].collect().sorted.toSeq
    // the unpruned COUNT/MIN/MAX/SUM per column, cast to string — SUM
    // only where it is exact (the integral column), as the sink defines it
    def unprunedStats(p: String): Seq[Seq[Any]] = {
      val f = unpruned.where(expr(p))
      Seq("amount", "day").map { c =>
        val sm = if (c == "amount") sum(col(c)).cast("string") else lit(null).cast("string")
        val r = f.agg(count(lit(1)), min(col(c)).cast("string"),
          max(col(c)).cast("string"), sm).head()
        Seq(c, r.getLong(0), r.getString(1), r.getString(2), r.getString(3))
      }
    }
    check(Prop.forAll(pred) { p =>
      val expect = rows(unpruned.where(expr(p)))
      val got = t.readSnapshotWhere(spark, p).map(rows).getOrElse(Nil)
      // the counted, audited and aggregated forms classify through the
      // same rule the pruned read uses, so they agree with it too
      val audit = t.countWhereAudit(spark, p)
      val stats = t.statsAggregateWhere(spark, Seq("day", "amount"), p)
        .collect().map(_.toSeq).toSeq
      got == expect && audit._1 == expect.size.toLong &&
        t.skippingAuditWhere(spark, p)._2 == audit._4 &&
        stats == unprunedStats(p)
    })
  }

  test("rollup grand total equals ungrouped total on random fact slices") {
    // localCheckpoint (not cache): materializes AND truncates lineage, so
    // the per-iteration rollup/filter plans don't trip Spark's
    // ambiguous-self-join detection on the shared frame.
    val fact = graft.etl.Star.salesFact(spark, sfSmoke)
      .select("store_id", "supplier_id", "total_revenue")
      .localCheckpoint(eager = true)
    check(Prop.forAll(Gen.choose(0, 24)) { storeCap =>
      val slice = fact.where(col("store_id") <= storeCap)
      val rolled = slice.rollup("store_id", "supplier_id")
        .agg(sum("total_revenue").as("r"), grouping_id().as("gid"))
        .where(col("gid") === 3) // both keys rolled up ⇒ the grand total row
        .select("r").collect()
      val direct = Option(slice.agg(sum("total_revenue")).head().getDecimal(0))
      direct match {
        // empty slice: ungrouped agg gives NULL, rollup rightly emits no rows
        case None => rolled.isEmpty
        case Some(b) => rolled.length == 1 && rolled.head.getDecimal(0).compareTo(b) == 0
      }
    })
  }
}
