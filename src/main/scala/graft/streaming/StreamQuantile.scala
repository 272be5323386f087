package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ext.{SketchOps, TextOps}

/** Incremental quantile-sketch maintenance over a DOCUMENT STREAM —
  * the distribution-monitoring member of the incremental-index family
  * ([[StreamBm25]] keeps the corpus queryable, [[StreamAnnIndex]]
  * keeps it retrievable, this keeps its SHAPE observable): per-source
  * length quantiles served at any moment from O(k) state per source,
  * never by rescanning the accumulated corpus.
  *
  * Works because bottom-k-by-hash is a SEMILATTICE (the KMV algebra
  * over rows): the canonical sketch of a union is
  * `slice(array_sort(merge), 1, k)` of the members' sketches, so
  * per-batch sketches fold to the exact one-pass corpus sketch —
  * associative, commutative, idempotent. Idempotence is the
  * at-least-once story: a re-delivered document contributes the SAME
  * (h, d, v) tuple, which `array_distinct` collapses — no registry
  * anti-join needed (the sketch assumes documents are immutable under
  * their id, the corpus-log convention; a mutable-doc feed would need
  * [[StreamBm25]]'s registry discipline).
  *
  * Storage is an APPEND-ONLY delta log of per-batch sketches
  * (source, sk, batch_id) — the [[StreamBm25]] df-log discipline:
  * parquet can't update a per-source array in place, and ingestion
  * stays O(batch). Reads fold the log with one bounded aggregate
  * ([[sketchFromStore]] — ≤ batches × k tuples per source);
  * [[compactStore]] folds the log back to one row per source.
  *
  * The oracle gate is EQUIVALENCE: `stream_quantile_sketch` replays
  * the documents table in [[ReplayBatches]] doc-id-range batches
  * through the SAME per-batch kernel, folds, and registers against the
  * SAME DuckDB twin as the one-shot `ext_sketch_quantiles` — the
  * incrementally maintained sketch must reproduce the batch readout
  * bit-for-bit, estimates, audited rank errors and all.
  */
object StreamQuantile {

  /** Delta-log store: per-batch sketch rows (source, sk, batch_id). */
  final case class QuantStore(skDir: String)

  /** Batch carving for the oracle-checked replay. */
  val ReplayBatches: Int = 4

  /** The semilattice fold: per-source union-sort-truncate of canonical
    * sketch arrays. `array_distinct` makes the fold idempotent under
    * re-delivered (identical) tuples; state per source is bounded by
    * (#arrays folded) × k before truncation — the read-optimize /
    * ingest-fast split [[compactStore]] resolves, exactly like
    * [[StreamBm25.compactDf]]. */
  private[graft] def foldSketches(perBatch: DataFrame, k: Int = SketchOps.QuantK): DataFrame =
    perBatch.groupBy("source").agg(
      expr(s"slice(array_sort(array_distinct(flatten(collect_list(sk)))), 1, $k)")
        .as("sk"))

  /** The per-batch kernel shared by the streaming sink and the
    * oracle-checked replay: in-batch first-wins dedup by doc_id, then
    * the batch's canonical per-source sketch. */
  private[graft] def batchSketch(batch: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val once = batch
      .withColumn("rn",
        row_number().over(Window.partitionBy("doc_id").orderBy("n_chars")))
      .where(col("rn") === 1).drop("rn")
    SketchOps.quantSketchOf(SketchOps.quantRows(
      once.select(col("doc_id"), col("source"), col("n_chars"))))
  }

  /** The streaming query: one bounded sketch append per micro-batch. */
  def run(spark: SparkSession, stream: DataFrame, store: QuantStore,
      checkpointDir: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val sk = batchSketch(batch)
        if (!sk.isEmpty)
          sk.withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(store.skDir)
        ()
      }
      .start()

  /** The served sketch: the delta log folded. */
  def sketchFromStore(spark: SparkSession, store: QuantStore): DataFrame =
    foldSketches(spark.read.parquet(store.skDir).select("source", "sk"))

  /** Fold the delta log back to one row per source (read-optimize).
    * Folded-then-appended rows are a no-op under the semilattice fold,
    * so compaction never changes [[sketchFromStore]]'s answer. The
    * swap is the [[StreamBm25.compactDf]] two-rename discipline
    * (fresh temp dir, two atomic moves, scratch removed) — a
    * concurrent reader can never observe a partially-written store,
    * only a briefly-absent path it retries on. */
  def compactStore(spark: SparkSession, store: QuantStore): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val tmp = store.skDir + ".compact-" + java.util.UUID.randomUUID()
    val trash = store.skDir + ".old-" + java.util.UUID.randomUUID()
    sketchFromStore(spark, store)
      .withColumn("batch_id", lit(-1L))
      .write.mode("error").parquet(tmp)
    Files.move(Paths.get(store.skDir), Paths.get(trash),
      StandardCopyOption.ATOMIC_MOVE)
    Files.move(Paths.get(tmp), Paths.get(store.skDir),
      StandardCopyOption.ATOMIC_MOVE)
    graft.etl.TxLog.deleteTree(Paths.get(trash))
  }

  /** Oracle-checkable REPLAY: the documents table carved into
    * [[ReplayBatches]] doc-id-range micro-batches, each through
    * [[batchSketch]], folded by [[foldSketches]], then the standard
    * readout + rank audit against the FULL corpus. Registered with the
    * one-shot `ext_sketch_quantiles` twin as its oracle — incremental
    * ≡ batch, the [[StreamBm25]] gate shape. */
  def incrementalQuantileBatch(spark: SparkSession, dir: String,
      nBatches: Int = ReplayBatches): DataFrame = {
    val docs = TextOps.docs(spark, dir).select("doc_id", "source", "n_chars")
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val batchSize = (maxId + nBatches) / nBatches
    val perBatch = (0 until nBatches).map { b =>
      batchSketch(docs.where(
        col("doc_id") >= b * batchSize && col("doc_id") < (b + 1) * batchSize))
    }.reduce(_ unionByName _)
    SketchOps.quantReadout(
      SketchOps.quantRows(TextOps.docs(spark, dir)),
      foldSketches(perBatch))
  }
}
