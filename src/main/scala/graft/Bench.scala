package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

object Bench {

  /** Setup artifacts, grouped by dependency chain: groups are
    * INDEPENDENT DAGs and run in parallel (the round-6 serial setup
    * doubled under box contention — overlapping them bounds setup wall
    * time by the slowest chain, not the sum); artifacts WITHIN a group
    * feed each other and stay sequential, so no SessionCache entry is
    * raced (two racing builders of one key both run the job — correct
    * but wasted; the grouping avoids it by construction). Per-artifact
    * times are reported in the output JSON (`setup` map) so a future
    * setup inflation names its culprit instead of being one opaque
    * number. */
  private def setupGroups(spark: SparkSession, sfDir: String)
      : Seq[(String, Seq[(String, () => Unit)])] = Seq(
    "star" -> Seq(
      "sales_fact" -> (() => graft.etl.Star.salesFact(spark, sfDir).count(): Unit),
      "dim_product" -> (() => graft.etl.Star.dimProduct(spark, sfDir).count(): Unit),
      "dim_time" -> (() => graft.etl.Star.dimTime(spark, sfDir).count(): Unit),
      // the stored materialized view the IVM query refreshes — a
      // deployment keeps it on disk; the refresh should time the
      // delta merge, not the historical backfill
      "daily_mv" -> (() => graft.etl.Ivm.dailyMvBase(spark, sfDir).count(): Unit)),
    // text/dedup index family: each builds on the previous (shingles →
    // jaccard doc table / arrays / bands / simhash) — DedupOps names
    // the chain
    "text_index" -> graft.ext.DedupOps.indexArtifacts(spark, sfDir),
    "ivf" -> Seq(
      "ivf_index" -> (() => graft.ext.SimilarityOps.ivfIndex(spark, sfDir).count(): Unit)),
    // trained-quantizer artifacts (centroids + cell assignment) —
    // stored next to the IVF cells in a deployment. TWO operating
    // points are stored: the legacy 8-cell demo assignment (k-means
    // search, semantic dedup) and the PRODUCTION √n-cell router at
    // the mining probe width (IVF+PQ, hard negatives, MMR, kNN eval)
    // — without the second, every router consumer rebuilds the index
    // inside its timed query.
    "kmeans" -> Seq(
      "kmeans_assign" -> (() => graft.ext.VectorOps.kmeansAssign(spark, sfDir).count(): Unit),
      "kmeans_assign_scaled" -> (() => {
        val n = graft.ext.SimilarityOps.embeddings(spark, sfDir).count()
        graft.ext.VectorOps.kmeansAssign(spark, sfDir,
          nProbe = graft.ext.VectorOps.MiningNProbe,
          kCent = graft.ext.VectorOps.scaledKCent(n)).count(): Unit
      })),
    // PQ index artifacts: per-subspace codebooks + 4-byte codes (the
    // stored representation; the ADC query then times lut build +
    // scan + top-k only)
    "pq" -> Seq(
      "pq_codes" -> (() => graft.ext.VectorOps.pqCodes(spark, sfDir).count(): Unit)),
    // media signature table: decode runs at ingest in a deployment;
    // the pair/cluster queries then time banding + CC, not decoding
    "media" -> Seq(
      "phash_sig" -> (() => graft.ext.MediaOps.phashSignatures(spark, sfDir).count(): Unit)),
    // co-purchase graph chain: edges → supported (≥ 2 shared orders) →
    // degree-ordered orientation; PageRank/triangle queries then time
    // iterations / wedge close, not graph build
    "graph" -> Seq(
      "copurchase_edges" -> (() => graft.ext.GraphOps.coPurchaseEdges(spark, sfDir).count(): Unit),
      "supported_edges" -> (() => graft.ext.GraphOps.supportedCoPurchaseEdges(spark, sfDir).count(): Unit),
      "oriented_edges" -> (() => graft.ext.GraphOps.orientedCoPurchaseEdges(spark, sfDir).count(): Unit)),
    // canonical TxParquetSink tables (the round-10 harness/query split):
    // a deployment loads its governed tables once and queries them
    // forever; the registered tx rows now time reads, metadata folds,
    // and single mutation commits against these stored fixtures —
    // mutators clone (O(commits) metadata), never re-ingest
    "tx_tables" -> Seq(
      "tx_fixtures" -> (() => graft.etl.TxFixtures.buildCanonical(spark, sfDir))),
    // the merge-churn replay arms are ~14 sequential merge commits
    // EACH — independent replays, so each arm gets its own chain,
    // overlapped with the canonical loads and with each other
    "tx_churn_m" -> Seq(
      "tx_churn_m" -> (() =>
        graft.etl.TxFixtures.mergeChurnSink(spark, sfDir, maintained = true): Unit)),
    "tx_churn_u" -> Seq(
      "tx_churn_u" -> (() =>
        graft.etl.TxFixtures.mergeChurnSink(spark, sfDir, maintained = false): Unit)))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Launch.session()
    // One-time setup, timed per-artifact and reported as setup/setup_sec:
    // materialize the star-schema warehouse tables AND the dedup/ANN
    // index artifacts — graft caches both families per session; a
    // deployment would have them stored (warehouse build and index build
    // are one-time jobs, not per-query work). This also exercises the
    // scan→join→agg codegen paths so the first timed query doesn't
    // absorb JVM/JIT warmup. Query timings below then measure query
    // execution: candidate joins, verification, aggregation — not index
    // construction. The queries' verified-pair caches are NOT warmed:
    // that would be precomputing answers, not indexes.
    val artifactSec =
      new java.util.concurrent.ConcurrentHashMap[String, Double]()
    val setup0 = System.nanoTime()
    locally {
      val groups = setupGroups(spark, sfDir)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(groups.size)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      val futures = groups.map { case (_, artifacts) =>
        scala.concurrent.Future {
          artifacts.foreach { case (name, build) =>
            val t0 = System.nanoTime()
            try {
              build()
              artifactSec.put(name, (System.nanoTime() - t0) / 1e9)
            } catch { case e: Throwable =>
              // visible, not silent: a failed setup shifts warehouse
              // build cost into the first timed queries.
              artifactSec.put(name, -1.0)
              System.err.println(s"[bench] setup $name failed: ${e.getMessage}")
            }
          }
        }
      }
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(futures),
        scala.concurrent.duration.Duration.Inf)
      pool.shutdown()
    }
    val setupSec = (System.nanoTime() - setup0) / 1e9

    def timed(fn: (SparkSession, String) => DataFrame, name: String): Double = {
      val t0 = System.nanoTime()
      // noop sink, not count(): count() lets the optimizer eliminate the
      // final sort and prune computed columns, under-reporting query
      // cost; the noop write materializes every output row and column.
      try { fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        -1.0  // -1 marks a failed query (the convention Verify/skill docs expect)
      }
    }

    val results = SparkEntry.queries.map { case (name, fn) =>
      name -> timed(fn, name)
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // total over successful queries only; -1 markers stay visible per-query
    val total = results.values.filter(_ >= 0).sum

    // Paired A/B phase (VERDICT r6 item 1): for each adjudicated query,
    // time the registered implementation (a) and its frozen reference
    // spelling (b, BenchVariants) ADJACENTLY, min-of-N across rounds —
    // both sides of a pair see the same contention regime, so a/b is a
    // contention-immune per-query control that round-over-round deltas
    // can be judged against. SPARK_GRAFT_PAIRED_RUNS=0 disables.
    val pairedRuns = sys.env.getOrElse("SPARK_GRAFT_PAIRED_RUNS", "2").toInt
    val pairedJson =
      if (pairedRuns <= 0) "{}"
      else {
        val names = BenchVariants.variants.keys.toSeq.sorted
        val minA = collection.mutable.Map[String, Double]()
        val minB = collection.mutable.Map[String, Double]()
        for (_ <- 1 to pairedRuns; n <- names) {
          val a = timed(SparkEntry.queries(n), s"paired:$n:a")
          val b = timed(BenchVariants.variants(n), s"paired:$n:b")
          if (a >= 0) minA(n) = math.min(minA.getOrElse(n, Double.MaxValue), a)
          if (b >= 0) minB(n) = math.min(minB.getOrElse(n, Double.MaxValue), b)
        }
        names.map { n =>
          val a = minA.getOrElse(n, -1.0)
          val b = minB.getOrElse(n, -1.0)
          val ratio = if (a >= 0 && b > 0) a / b else -1.0
          f""""$n":{"a":$a%.3f,"b":$b%.3f,"ratio":$ratio%.3f,"runs":$pairedRuns}"""
        }.mkString("{", ",", "}")
      }

    val setupJson = {
      import scala.jdk.CollectionConverters._
      artifactSec.asScala.toSeq.sortBy(_._1)
        .map { case (k, v) => f""""$k":$v%.2f""" }.mkString("{", ",", "}")
    }
    // The driver scrapes a bounded stdout tail, which truncates most
    // per-query numbers out of BENCH_r*.json — so the FULL artifact is
    // also written to a file, and the path rides FIRST in the stdout
    // JSON so even a truncated tail names it. The DEFAULT is a
    // driver-run file (bench_out_driver.json): the committed
    // bench_out.json is the historical controlled envelope (min-of-N
    // quiet-box passes, measured round 14; see git history) and a
    // default run must never overwrite it — provenance stays
    // unambiguous. Other passes set SPARK_GRAFT_BENCH_OUT explicitly.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "/root/repo/bench_out_driver.json")
    val json =
      s"""{"metric":"total","out_file":"$outPath","value":$total,""" +
      s""""unit":"sec","queries":$qs,""" +
      s""""setup_sec":$setupSec,"setup":$setupJson,"paired":$pairedJson,""" +
      s""""sf":"$sfDir"}"""
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: java.io.IOException =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    println(json)
    spark.stop()
  }
}
