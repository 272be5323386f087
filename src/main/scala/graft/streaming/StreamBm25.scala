package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ext.TextOps

/** Incremental BM25 index maintenance over a DOCUMENT STREAM — the
  * search-index face of the incremental-ingestion family
  * ([[StreamDedup]] keeps the corpus deduplicated; this keeps it
  * QUERYABLE): new documents arrive in micro-batches, and the posting
  * table, document lengths, and per-term document frequencies are
  * maintained incrementally, so the index never recomputes over the
  * accumulated corpus.
  *
  * Per micro-batch (foreachBatch — the three appends must be
  * transactionally simple):
  *
  *  1. in-batch first-wins dedup by doc_id (the stream may repeat ids),
  *     then an anti-join against the STORED doc registry (`dlen` — one
  *     row per indexed doc) makes a fully re-delivered batch a no-op
  *     (foreachBatch is at-least-once);
  *  2. tokenize the NOVEL rows only (batch-sized work, never
  *     corpus-sized);
  *  3. append posting rows (doc_id, term, tf), length rows
  *     (doc_id, dl), and df DELTA rows (term, df_delta).
  *
  * The df store is APPEND-ONLY deltas — parquet cannot update a
  * per-term counter in place, and rewriting a vocabulary-sized table
  * per batch would make ingestion O(vocabulary), not O(batch). True df
  * = Σ deltas per term (one bounded aggregate at read time);
  * [[compactDf]] folds the delta log back to one row per term — the
  * read-optimize/ingest-fast split every log-structured index makes
  * (the [[graft.etl.TxParquetSink.compact]] discipline applied to a
  * search index). Corpus stats (N, Σdl) derive from `dlen` in one
  * bounded aggregate at scoring time.
  *
  * Crash semantics: `dlen` is the registry and is written LAST — a
  * crash between the postings/df appends and the dlen append leaves
  * orphan posting/df rows for docs not yet registered; the re-delivered
  * batch then re-appends them, so [[repairIndex]] (run at batch start)
  * drops posting/df rows whose doc is unregistered OR duplicated,
  * keeping the invariant "postings ≡ exactly one copy per registered
  * doc". Scoring reads ([[scoreFromStore]]) filter POSTINGS through
  * the registry, so orphan documents can never be retrieved even
  * before repair; orphan DF-delta rows, however, inflate the folded
  * df of the crashed batch's terms until repair runs — scores of
  * pairs sharing those terms can drift in that window, which is why
  * [[run]] repairs at batch START, before serving resumes.
  *
  * The oracle gate is EQUIVALENCE, not a separate truth: the
  * incrementally-maintained index must produce bit-identical BM25
  * rankings to the batch-built index — `ext_bm25_incremental` replays
  * the corpus in [[ReplayBatches]] doc-id-range batches through the
  * SAME per-batch kernel and registers with the batch `ext_text_bm25`
  * twin as its oracle.
  */
object StreamBm25 {

  /** Storage layout: postings (doc_id, term, tf), registry/lengths
    * (doc_id, dl), df deltas (term, df_delta). */
  final case class IndexStore(postingsDir: String, dlenDir: String, dfDir: String)

  /** Batch-sized tokenize → (postings, dlen, dfDeltas) for NOVEL rows. */
  private def indexRowsOf(novel: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val words = TextOps.withWords(novel)
      .select(col("doc_id"), explode(col("ws")).as("term"))
    val tf = words.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dlen = words.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val dfDelta = tf.groupBy("term").agg(count(lit(1)).as("df_delta"))
    (tf, dlen, dfDelta)
  }

  /** The per-batch kernel over index FRAMES — shared by the streaming
    * sink and the oracle-checked replay: returns the batch's novel
    * (doc_id, text) rows (first-wins in-batch by id, anti-joined
    * against the registry). */
  private[graft] def novelAgainst(batch: DataFrame, registry: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    batch
      .withColumn("rn",
        row_number().over(Window.partitionBy("doc_id").orderBy("text")))
      .where(col("rn") === 1).drop("rn")
      .join(registry.select("doc_id"), Seq("doc_id"), "left_anti")
  }

  /** One-time bootstrap from an existing corpus table. */
  def bootstrap(spark: SparkSession, sourceDir: String, store: IndexStore): Unit = {
    val (tf, dlen, dfDelta) = indexRowsOf(
      TextOps.docs(spark, sourceDir).select("doc_id", "text"))
    tf.write.mode("overwrite").parquet(store.postingsDir)
    dfDelta.write.mode("overwrite").parquet(store.dfDir)
    dlen.write.mode("overwrite").parquet(store.dlenDir)
  }

  /** True per-term document frequency: the delta log folded. */
  def dfOf(spark: SparkSession, store: IndexStore): DataFrame =
    spark.read.parquet(store.dfDir)
      .groupBy("term").agg(sum("df_delta").as("df"))

  /** Read-optimize the df delta log back to one row per term (the
    * log-structured index's compaction). The fold lands in a fresh
    * temp dir, then replaces the store via two directory RENAMES
    * (metadata-only, same filesystem) — so a concurrent reader can
    * never observe the partially-written parquet an in-place
    * mode("overwrite") (delete-then-write) would expose. The swap is
    * two renames, not one, so a reader racing the microsecond window
    * BETWEEN them can still see the path briefly absent — callers
    * that compact concurrently with readers retry on path-not-found
    * (a true single-rename swap needs a versioned-pointer layout,
    * [[graft.etl.TxParquetSink]]'s job, not a df side-file's). Both
    * scratch dirs are removed afterwards — compaction leaves no
    * orphans behind. */
  def compactDf(spark: SparkSession, store: IndexStore): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val tmp = store.dfDir + ".compact-" + java.util.UUID.randomUUID()
    val trash = store.dfDir + ".old-" + java.util.UUID.randomUUID()
    dfOf(spark, store).withColumnRenamed("df", "df_delta")
      .write.mode("error").parquet(tmp)
    Files.move(Paths.get(store.dfDir), Paths.get(trash),
      StandardCopyOption.ATOMIC_MOVE)
    Files.move(Paths.get(tmp), Paths.get(store.dfDir),
      StandardCopyOption.ATOMIC_MOVE)
    graft.etl.TxLog.deleteTree(Paths.get(trash))
  }

  /** Drop orphan/duplicate posting+df rows left by a crash between the
    * postings/df appends and the registry append (see delivery-semantics
    * note): rebuilds postings as exactly-one-copy-per-registered-doc and
    * re-derives the df log from the repaired postings. */
  def repairIndex(spark: SparkSession, store: IndexStore): Unit = {
    import org.apache.spark.sql.expressions.Window
    val reg = spark.read.parquet(store.dlenDir).select("doc_id")
    val p = spark.read.parquet(store.postingsDir)
    val needsRepair = !p.join(reg, Seq("doc_id"), "left_anti").isEmpty ||
      p.groupBy("doc_id", "term").count().where(col("count") > 1).take(1).nonEmpty
    if (needsRepair) {
      val repaired = p.join(reg, Seq("doc_id"), "left_semi")
        .withColumn("rn", row_number().over(
          Window.partitionBy("doc_id", "term").orderBy("tf")))
        .where(col("rn") === 1).drop("rn")
        .localCheckpoint(true)
      repaired.write.mode("overwrite").parquet(store.postingsDir)
      repaired.groupBy("term").agg(count(lit(1)).as("df_delta"))
        .write.mode("overwrite").parquet(store.dfDir)
    }
  }

  /** BM25 top-k served FROM the maintained store ([[TextOps.bm25ScoreOf]]
    * — the same scoring pass the batch index uses). Reads filter
    * through the registry so pre-repair orphans are invisible. */
  def scoreFromStore(spark: SparkSession, store: IndexStore,
      k: Int = TextOps.Bm25TopK,
      nQueries: Int = TextOps.Bm25NQueries): DataFrame = {
    val dlen = spark.read.parquet(store.dlenDir)
    val reg = dlen.select("doc_id")
    val tf = spark.read.parquet(store.postingsDir)
      .join(reg, Seq("doc_id"), "left_semi")
    TextOps.bm25ScoreOf(tf, dlen, dfOf(spark, store), k, nQueries)
  }

  /** Batch carving for the oracle-checked replay, shared with the
    * equivalence contract below. */
  val ReplayBatches: Int = 4

  /** Oracle-checkable REPLAY: the documents table carved into
    * [[ReplayBatches]] doc-id-range micro-batches, pushed through the
    * SAME per-batch kernel with the index accumulating in memory, then
    * scored from the accumulated index. Registered against the BATCH
    * BM25 twin (`ExtOracleSql.textBm25`) — the gate is the
    * incremental ≡ batch equivalence itself. Driver loop shape:
    * [[ReplayBatches]] sequential rounds, one bounded localCheckpoint
    * per round (the [[StreamDedup.incrementalStreamDedupBatch]]
    * discipline). */
  def incrementalBm25Batch(spark: SparkSession, dir: String,
      nBatches: Int = ReplayBatches): DataFrame = {
    val (tf, dlen, df) = incrementalBm25Frames(spark, dir, nBatches)
    TextOps.bm25ScoreOf(tf, dlen, df, TextOps.Bm25TopK, TextOps.Bm25NQueries)
  }

  /** The replay's accumulated index FRAMES (postings, lengths, folded
    * df) — shared with the streamed hybrid-search composition
    * ([[StreamHybrid]]), which serves a different retrieval from the
    * same incrementally-built index. */
  private[graft] def incrementalBm25Frames(spark: SparkSession, dir: String,
      nBatches: Int = ReplayBatches): (DataFrame, DataFrame, DataFrame) = {
    val docs = TextOps.docs(spark, dir).select("doc_id", "text")
    val maxId = docs.agg(max(col("doc_id"))).head.getLong(0)
    val batchSize = (maxId + nBatches) / nBatches
    val withBatch = docs.withColumn("batch",
      expr(s"CAST(doc_id DIV $batchSize AS INT)"))
    val none = docs.limit(0)
    var (tf, dlen, dfDelta) = indexRowsOf(none)
    // CHECKPOINT THE POSTINGS, DERIVE THE REST (round-14, guide §1.2):
    // the old loop checkpointed the novel (doc_id, text) rows and left
    // tf/dlen/df as lazy tokenize-and-aggregate plans over them — so
    // every later batch's registry anti-join re-tokenized all earlier
    // batches, and the final scoring pass re-tokenized the corpus once
    // per frame (O(n·batches) tokenizations for a 4-batch replay).
    // Checkpointing the batch's POSTINGS instead (same one checkpoint
    // per round) makes tokenization run exactly once per batch: the
    // lengths are Σ tf per doc (dl IS the doc's word count — identical
    // rows and values, zero-word docs absent from both spellings), the
    // df delta was always derived from tf, and the registry reads
    // checkpointed partitions.
    for (b <- 0 until nBatches) {
      val batch = withBatch.where(col("batch") === b).drop("batch")
      val novel = novelAgainst(batch, dlen.select("doc_id"))
      val btf = TextOps.withWords(novel)
        .select(col("doc_id"), explode(col("ws")).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .localCheckpoint(eager = true)
      tf = tf.unionByName(btf)
      dlen = dlen.unionByName(btf.groupBy("doc_id").agg(sum("tf").as("dl")))
      dfDelta = dfDelta.unionByName(
        btf.groupBy("term").agg(count(lit(1)).as("df_delta")))
    }
    (tf, dlen, dfDelta.groupBy("term").agg(sum("df_delta").as("df")))
  }

  /** RETRACTION COMPACTION — apply a document delete set to the
    * maintained index frames: postings and lengths drop the deleted
    * docs (two anti-joins), and df is RECOMPUTED from the surviving
    * postings (tf is distinct per (doc, term), so the per-term row
    * count IS the document frequency) — the state a from-scratch
    * build over the surviving corpus produces, which is exactly what
    * the churn replay's oracle twin gates. In the stored-index
    * deployment this is the delete-compaction pass (tombstones append
    * to a denylist; queries anti-join it; this pass materializes) —
    * O(index) once per maintenance window, never per delete. */
  private[graft] def retractDocs(tf: DataFrame, dlen: DataFrame,
      deleted: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val dead = deleted.select("doc_id")
    val tf2 = tf.join(dead, Seq("doc_id"), "left_anti")
    val dlen2 = dlen.join(dead, Seq("doc_id"), "left_anti")
    val df2 = tf2.groupBy("term").agg(count(lit(1)).as("df"))
    (tf2, dlen2, df2)
  }

  /** The streaming query: micro-batches indexed incrementally;
    * registry written LAST (see delivery-semantics note). */
  def run(spark: SparkSession, stream: DataFrame, store: IndexStore,
      checkpointDir: String): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        repairIndex(spark, store)
        val registry = spark.read.parquet(store.dlenDir)
        val novel = novelAgainst(batch, registry)
          .localCheckpoint(eager = true)
        if (!novel.isEmpty) {
          val (tf, dlen, dfDelta) = indexRowsOf(novel)
          tf.write.mode("append").parquet(store.postingsDir)
          dfDelta.write.mode("append").parquet(store.dfDir)
          dlen.write.mode("append").parquet(store.dlenDir)
        }
        ()
      }
      .start()
}
