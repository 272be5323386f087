package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** BPE (byte-pair-encoding) vocabulary induction — the tokenizer-training
  * half of the text stack ([[TextOps]] counts tokens with a FIXED
  * BPE-ish regex; this operator LEARNS the merges). Word-level BPE in
  * the Sennrich formulation: start from character symbols, repeatedly
  * merge the most frequent adjacent symbol pair (frequency-weighted over
  * the word vocabulary), greedy left-to-right within a word.
  *
  * Encoding trick that makes the merge exact AND cross-engine: a word's
  * symbol sequence is stored as a single string with EVERY symbol
  * individually wrapped in the unit separator U+001F (which never
  * occurs inside a symbol): "xa","b" → `⟂xa⟂⟂b⟂`. Merging pair (a, b)
  * is then literal-string `replace(enc, ⟂a⟂⟂b⟂, ⟂ab⟂)`. The wrapping
  * makes the replace SYMBOL-BOUNDARY-EXACT — a single-separator
  * encoding (`a⟂b`) also matches where the left symbol merely ENDS
  * with "a" (`xa⟂b` → "xab", fusing a symbol that was never the pair),
  * and regex boundary assertions are out because the DuckDB twin's RE2
  * has no lookbehind. Because each symbol carries its OWN delimiters,
  * adjacent pair occurrences share no characters, so both engines'
  * left-to-right non-overlapping `replace` IS the BPE tie rule
  * ("aaaa" + (a,a) → "aa","aa"; "aaa" → "aa","a"). The DuckDB twin
  * unrolls the same rounds with the same representation, so the
  * learned merge table is bit-for-bit comparable.
  *
  * Scale shape: the corpus is touched ONCE (word-frequency aggregate —
  * one shuffle); every round after that works on the VOCABULARY (one
  * row per distinct word — bounded by language, not corpus size: a
  * 100 TB crawl still has a ~10⁷-word vocabulary). Per round: one
  * pair-count aggregate over the vocab and one driver-side argmax
  * scalar (the same class as TF-IDF's corpus count; the merge decision
  * is inherently global). Symbol ties break by (count desc, left asc,
  * right asc) — deterministic in both engines over ASCII-ordered
  * symbols. */
object BpeOps {

  private val Sep = "\u001f"

  /** Inter-symbol separator run: each symbol is wrapped `⟂sym⟂`, so two
    * adjacent symbols meet as `…⟂⟂…`. */
  private val Sep2 = Sep + Sep

  /** Wrap a word's characters as individually-delimited symbols. */
  private def encodeWord(wCol: org.apache.spark.sql.Column) =
    concat(lit(Sep), concat_ws(Sep2, split(wCol, "")), lit(Sep))

  /** SQL for the symbol array of a wrapped encoding (strip the outer
    * separator pair, split on the doubled inner one; U+001F is no regex
    * metacharacter, so the split pattern is literal). */
  private[ext] def symsSql(c: String): String =
    s"split(substring($c, 2, length($c) - 2), concat(char(31), char(31)))"

  /** Boundary-exact merge of pair (l, r): only whole symbols match
    * because the literal pattern includes both symbols' own delimiters,
    * and adjacent occurrences share no characters (greedy left-to-right
    * BPE adjacency is preserved). */
  private def applyMerge(c: org.apache.spark.sql.Column, l: String, r: String) =
    org.apache.spark.sql.functions.replace(
      c, lit(Sep + l + Sep2 + r + Sep), lit(Sep + l + r + Sep))

  /** Default merge rounds — mirrored by the unrolled oracle
    * ([[ExtOracleSql.bpeMerges]]); a change here without regenerating
    * the oracle breaks the differential, by design. */
  val Rounds = 3

  /** (word, freq, enc) vocabulary: corpus word frequencies with the
    * sep-encoded character-symbol representation. */
  private[ext] def vocab(spark: SparkSession, dir: String): DataFrame =
    TextOps.withWords(TextOps.docs(spark, dir))
      .select(explode(col("ws")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .withColumn("enc", encodeWord(col("w")))

  /** Frequency-weighted adjacent-pair counts over a (freq, enc) vocab. */
  private def pairCounts(v: DataFrame): DataFrame =
    v.select(col("freq"), expr(symsSql("enc")).as("syms"))
      .select(col("freq"), explode(expr(
        // the CASE guards 1-symbol words: sequence(1, 0) would run
        // BACKWARDS (step −1) and index element 0
        "CASE WHEN size(syms) >= 2 THEN transform(sequence(1, size(syms) - 1), i -> " +
          "named_struct('l', element_at(syms, i), 'r', element_at(syms, i + 1))) " +
          "ELSE array() END")).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum("freq").as("cnt"))

  /** `rounds` BPE merges over an explicit (w, freq) vocabulary —
    * the unit-testable core. Returns the merge table
    * (round, left_sym, right_sym, pair_count): the stored artifact a
    * tokenizer deployment ships. */
  /** Materialize the vocab every this many merge rounds: each round
    * wraps `enc` in another `replace`, so an unbounded loop grows the
    * plan (and its codegen) linearly — at production merge counts
    * (10k+) lineage alone kills the job. `localCheckpoint` cuts the
    * lineage to the materialized blocks; the round cost then stays flat
    * regardless of how many rounds preceded. The driver-side argmax per
    * round is the serial floor inherent to greedy BPE (the merge
    * decision is a global scalar) — checkpointing bounds the PLAN, the
    * one-job-per-round cadence remains. */
  val CheckpointEvery = 8

  def mergesFrom(spark: SparkSession, vocabFreq: DataFrame,
      rounds: Int): DataFrame = {
    import spark.implicits._
    var v = vocabFreq.withColumn("enc", encodeWord(col("w")))
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    for (round <- 1 to rounds) {
      // driver-side argmax: the merge decision is a global scalar
      val best = pairCounts(v)
        .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (best.nonEmpty) {
        val (l, r, cnt) =
          (best.head.getString(0), best.head.getString(1), best.head.getLong(2))
        merges += ((round, l, r, cnt))
        v = v.withColumn("enc", applyMerge(col("enc"), l, r))
        if (round % CheckpointEvery == 0 && round < rounds)
          v = v.localCheckpoint()
      }
    }
    merges.result().toDF("round", "left_sym", "right_sym", "pair_count")
      .orderBy("round")
  }

  /** The corpus-trained merge table (registered query `ext_bpe_merges`). */
  def bpeMerges(spark: SparkSession, dir: String,
      rounds: Int = Rounds): DataFrame =
    mergesFrom(spark, vocab(spark, dir).select("w", "freq"), rounds)

  /** ENCODE with the trained merges — the artifact used, not just
    * produced: per-document token count under the learned BPE
    * vocabulary versus the character count it started from. The merge
    * table is driver-collected (k rows — the same broadcast-sized
    * artifact a tokenizer ships) and applied as k successive literal
    * replaces per word — per-row expression work fused into one scan,
    * no join against the vocabulary needed at encode time.
    *
    * Output (doc_id, n_words, n_chars, n_bpe_tokens): n_bpe_tokens
    * shrinks toward n_words as rounds grow — the compression curve a
    * tokenizer team actually reads off this table. */
  def bpeEncode(spark: SparkSession, dir: String, rounds: Int = Rounds): DataFrame = {
    val merges = bpeMerges(spark, dir, rounds)
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2)))
    val encWord = merges.foldLeft(encodeWord(col("w"))) {
      case (c, (l, r)) => applyMerge(c, l, r)
    }
    TextOps.withWords(TextOps.docs(spark, dir))
      .select(col("doc_id"), explode(col("ws")).as("w"))
      .withColumn("enc", encWord)
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_words"),
        sum(length(col("w")).cast("long")).as("n_chars"),
        sum(size(expr(symsSql("enc"))).cast("long")).as("n_bpe_tokens"))
      .orderBy("doc_id")
  }
}
