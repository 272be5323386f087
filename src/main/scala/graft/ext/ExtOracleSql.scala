package graft.ext

/** DuckDB-oracle twins for [[ExtQueries]]. Cross-engine contracts:
  *
  *  - Hash: H(s) = int(md5(s)[0:8], 16). Spark computes it with the
  *    codegen [[graft.functions.Md5Prefix32]] (digest-bytes direct);
  *    DuckDB (no hex→int builtin) folds the 8 hex digits with a lambda.
  *    Identical 32-bit values, pinned by a PropertySpec equivalence test.
  *  - Ratios/cosines: explicit CAST(... AS DOUBLE) divisions and strict
  *    left-fold dot products ⇒ bit-identical doubles in both engines
  *    (Spark literals like `1.0` parse as DECIMAL, so no bare decimal
  *    literals appear in arithmetic on either side). Double outputs are
  *    NEVER rounded: Spark rounds doubles via exact BigDecimal, DuckDB
  *    via floating multiply, and they disagree at .xxx5 boundaries —
  *    raw bit-identical doubles compare equal; rounded ones may not.
  *  - The oracle formulations favor readability (self-joins, explodes)
  *    over the Spark side's single-pass aggregates — semantics, not
  *    plans, are what must match.
  */
object ExtOracleSql {

  /** DuckDB fold: hex prefix of md5(`e`) → BIGINT. Lambda vars are
    * suffixed to stay hygienic under nesting. Shared with the etl
    * twins that transport the same md5 contract. */
  private[graft] def h32(e: String, sfx: String = ""): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |  list_transform(string_split(substr(md5($e), 1, 8), ''),
       |    hx$sfx -> CAST(CASE WHEN hx$sfx BETWEEN '0' AND '9'
       |                   THEN ascii(hx$sfx) - 48 ELSE ascii(hx$sfx) - 87 END AS BIGINT))),
       |  (ac$sfx, dg$sfx) -> ac$sfx * 16 + dg$sfx)""".stripMargin

  /** Strict left-fold dot product over two DOUBLE-cast float lists. */
  private def dot(a: String, b: String, sfx: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |  list_transform(list_zip($a, $b),
       |    zp$sfx -> CAST(zp$sfx[1] AS DOUBLE) * CAST(zp$sfx[2] AS DOUBLE))),
       |  (aa$sfx, vv$sfx) -> aa$sfx + vv$sfx)""".stripMargin

  /** Tokenized words with positions + distinct word-3-gram shingles +
    * shingle hashes — the shared base of the text/dedup oracles. */
  private val shingleBase: String =
    s"""WITH words AS (
       |  SELECT doc_id, w, i
       |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ws
       |        FROM documents),
       |       LATERAL (SELECT unnest(ws) AS w, generate_subscripts(ws, 1) AS i)
       |),
       |shingles AS (
       |  SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
       |  FROM words a
       |  JOIN words b ON a.doc_id = b.doc_id AND b.i = a.i + 1
       |  JOIN words c ON a.doc_id = c.doc_id AND c.i = a.i + 2
       |),
       |sh_hash AS (
       |  SELECT doc_id, sh, ${h32("sh")} AS h FROM shingles
       |)""".stripMargin

  // Shared with the engine side — a list edit updates both or neither.
  private val stopEn = TextOps.stopEn
  private val stopDe = TextOps.stopDe
  private val stopFr = TextOps.stopFr
  private val stopEs = TextOps.stopEs

  val textStats: String =
    s"""SELECT doc_id, n_tokens, n_bpe_tokens, n_alpha, n_punct, stop_ratio,
       |  mean_token_len,
       |  0.3 * (CAST(n_alpha AS DOUBLE) / n_chars) + 0.3 * stop_ratio
       |    + 0.4 * least(1.0, CAST(n_tokens AS DOUBLE) / 200.0)
       |    - 0.2 * (CAST(n_punct AS DOUBLE) / n_chars) AS quality_score
       |FROM (
       |  SELECT doc_id, n_chars,
       |    len(ws) AS n_tokens,
       |    len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS n_bpe_tokens,
       |    length(lower(text)) - length(regexp_replace(lower(text), '[a-z]', '', 'g')) AS n_alpha,
       |    length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct,
       |    CAST(len(list_filter(ws, w -> w IN ($stopEn))) AS DOUBLE) / len(ws) AS stop_ratio,
       |    CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE) / len(ws) AS mean_token_len
       |  FROM (SELECT doc_id, text, n_chars,
       |          string_split_regex(trim(lower(text)), '\\s+') AS ws FROM documents)
       |)
       |ORDER BY doc_id""".stripMargin

  val langId: String =
    s"""SELECT doc_id, lang,
       |  CASE WHEN cjk > 0 THEN 'zh'
       |       WHEN greatest(v_de, v_en, v_es, v_fr) = 0 THEN 'unknown'
       |       WHEN v_de >= v_en AND v_de >= v_es AND v_de >= v_fr THEN 'de'
       |       WHEN v_en >= v_es AND v_en >= v_fr THEN 'en'
       |       WHEN v_es >= v_fr THEN 'es'
       |       ELSE 'fr' END AS pred_lang
       |FROM (
       |  SELECT doc_id, lang,
       |    length(text) - length(regexp_replace(text, '[一-鿿]', '', 'g')) AS cjk,
       |    len(list_filter(ws, w -> w IN ($stopEn))) AS v_en,
       |    len(list_filter(ws, w -> w IN ($stopDe))) AS v_de,
       |    len(list_filter(ws, w -> w IN ($stopFr))) AS v_fr,
       |    len(list_filter(ws, w -> w IN ($stopEs))) AS v_es
       |  FROM (SELECT doc_id, lang, text,
       |          string_split_regex(trim(lower(text)), '\\s+') AS ws FROM documents)
       |)
       |ORDER BY doc_id""".stripMargin

  val lengthStats: String =
    """SELECT lang, source, count(*) AS n_docs,
      |  min(n_chars) AS min_chars, max(n_chars) AS max_chars,
      |  quantile_cont(n_chars, 0.25) AS p25,
      |  quantile_cont(n_chars, 0.5) AS median,
      |  quantile_cont(n_chars, 0.75) AS p75,
      |  CAST(sum(n_chars) AS DOUBLE) / count(*) AS mean_chars
      |FROM documents
      |GROUP BY lang, source
      |ORDER BY lang, source""".stripMargin

  val tfidfTopTerms: String =
    s"""WITH words AS (
       |  SELECT doc_id, w
       |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ws
       |        FROM documents),
       |       LATERAL (SELECT unnest(ws) AS w)
       |),
       |tf AS (SELECT doc_id, w AS term, count(*) AS tf FROM words GROUP BY 1, 2),
       |df AS (
       |  SELECT term, count(*) AS df
       |  FROM (SELECT DISTINCT doc_id, w AS term FROM words) GROUP BY 1
       |),
       |scored AS (
       |  SELECT t.doc_id, t.term, t.tf, d.df,
       |    CAST(t.tf AS DOUBLE)
       |      * (CAST((SELECT count(*) FROM documents) AS DOUBLE) / d.df) AS score
       |  FROM tf t JOIN df d USING (term)
       |),
       |ranked AS (
       |  SELECT doc_id, term, tf, df, score,
       |    row_number() OVER (PARTITION BY doc_id
       |                       ORDER BY score DESC, term ASC) AS rank
       |  FROM scored
       |)
       |SELECT doc_id, rank, term, tf, df, score
       |FROM ranked WHERE rank <= 3
       |ORDER BY doc_id, rank""".stripMargin

  val fingerprint: String =
    s"""SELECT doc_id,
       |  len(list_distinct(grams)) AS n_grams,
       |  list_min(hs) AS fp_min,
       |  list_min(list_transform(hs, hr -> (1299709 * hr + 12345) % 4294967311)) AS fp_rot
       |FROM (
       |  SELECT doc_id, grams, list_transform(grams, g -> ${h32("g", "g")}) AS hs
       |  FROM (
       |    SELECT doc_id,
       |      list_transform(generate_series(1, greatest(length(t) - 7, 1)),
       |        i -> substr(t, i, 8)) AS grams
       |    FROM (SELECT doc_id, lower(text) AS t FROM documents)
       |  )
       |)
       |ORDER BY doc_id""".stripMargin

  /** Co-occurrence-lift twin: same df band (integer arithmetic on the
    * corpus count), same single exact-double division. */
  val cooccurLift: String =
    """WITH n AS (SELECT count(*) AS n_docs FROM documents),
      |present AS (
      |  SELECT DISTINCT doc_id, w AS term
      |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws
      |        FROM documents),
      |       LATERAL (SELECT unnest(ws) AS w)
      |),
      |dfs AS (
      |  SELECT term, count(*) AS df FROM present GROUP BY term
      |  HAVING count(*) BETWEEN greatest(3, (SELECT n_docs FROM n) // 500)
      |                      AND (4 * (SELECT n_docs FROM n)) // 5
      |),
      |banded AS (SELECT p.doc_id, p.term, d.df FROM present p JOIN dfs d USING (term)),
      |pairs AS (
      |  SELECT a.term AS term_a, b.term AS term_b, a.df AS df_a, b.df AS df_b,
      |         count(*) AS n_both
      |  FROM banded a JOIN banded b
      |    ON a.doc_id = b.doc_id AND a.term < b.term
      |  GROUP BY 1, 2, 3, 4
      |  HAVING count(*) >= 3
      |)
      |SELECT term_a, term_b, n_both,
      |  CAST(n_both * (SELECT n_docs FROM n) AS DOUBLE)
      |    / CAST(df_a * df_b AS DOUBLE) AS lift
      |FROM pairs
      |ORDER BY lift DESC, term_a, term_b
      |LIMIT 50""".stripMargin

  /** Drift twin: identical doc_id-half split, per-term 2×2 margins,
    * the ONE shared [[TextOps.chi2Expr]] spelling, and the exact
    * cross-product direction flag. */
  val termDrift: String =
    s"""WITH b AS (SELECT max(doc_id) AS max_id FROM documents),
       |halves AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id > (SELECT max_id FROM b) // 2 THEN 1 ELSE 0 END AS half,
       |    string_split_regex(trim(lower(text)), '\\s+') AS ws
       |  FROM documents
       |),
       |sizes AS (
       |  SELECT CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       |         CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2
       |  FROM halves
       |),
       |present AS (
       |  SELECT DISTINCT doc_id, half, w AS term
       |  FROM halves, LATERAL (SELECT unnest(ws) AS w)
       |),
       |dfs AS (
       |  SELECT term,
       |    CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_a,
       |    CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS df_b
       |  FROM present GROUP BY term
       |  HAVING sum(CASE WHEN half = 0 THEN 1 ELSE 0 END)
       |       + sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) >= ${TextOps.DriftMinDf}
       |),
       |scored AS (
       |  SELECT term, df_a, df_b,
       |    df_a * (n2 - df_b) - df_b * (n1 - df_a) AS delta,
       |    n1, n2
       |  FROM dfs, sizes
       |)
       |SELECT term, df_a, df_b,
       |  ${TextOps.chi2Expr} AS chi2,
       |  CASE WHEN df_b * n1 > df_a * n2 THEN 'rising'
       |       WHEN df_b * n1 < df_a * n2 THEN 'falling'
       |       ELSE 'flat' END AS direction
       |FROM scored
       |ORDER BY chi2 DESC, term
       |LIMIT 20""".stripMargin

  /** Winnowing twin: identical pack-into-bigint encoding (hash·2²⁰ +
    * reversed position) so the rightmost-min-tie-break is one window
    * MIN in both engines; w = 4 hardcoded to match the Spark default. */
  val winnowing: String =
    s"""WITH g0 AS (SELECT doc_id, lower(text) AS t FROM documents),
       |grams AS (
       |  SELECT doc_id, t,
       |         unnest(generate_series(1, greatest(length(t) - 7, 1))) AS i
       |  FROM g0
       |),
       |hashed AS (
       |  SELECT doc_id, i, ${h32("substr(t, i, 8)", "wn")} AS h FROM grams
       |),
       |keys AS (
       |  SELECT doc_id, i, h * 1048576 + (1048575 - i) AS k,
       |         count(*) OVER (PARTITION BY doc_id) AS n
       |  FROM hashed
       |),
       |wm AS (
       |  SELECT doc_id, i, n,
       |         min(k) OVER (PARTITION BY doc_id ORDER BY i
       |                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS mk
       |  FROM keys
       |)
       |SELECT DISTINCT doc_id,
       |  CAST(1048575 - (mk % 1048576) AS INT) AS pos,
       |  mk // 1048576 AS fp
       |FROM wm
       |WHERE i <= n - 4 + 1
       |ORDER BY doc_id, pos""".stripMargin

  /** Duplicated-span twin: word-8-gram hashes, cross-doc duplicates
    * (count(DISTINCT doc_id) ≥ 2), gaps-and-islands merge per doc with
    * break at gap > 8. k = 8 hardcoded to match the Spark default. */
  val dupSpans: String =
    s"""WITH ws0 AS (
       |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ws
       |  FROM documents
       |),
       |grams AS (
       |  SELECT doc_id, i, ${h32("array_to_string(ws[CAST(i AS INT):CAST(i AS INT)+7], ' ')", "ds")} AS h
       |  FROM ws0, LATERAL (SELECT unnest(generate_series(1, len(ws) - 7)) AS i)
       |  WHERE len(ws) >= 8
       |),
       |dup AS (
       |  SELECT h FROM grams GROUP BY h HAVING count(DISTINCT doc_id) >= 2
       |),
       |hits AS (
       |  SELECT doc_id, i FROM grams WHERE h IN (SELECT h FROM dup)
       |),
       |isl AS (
       |  SELECT doc_id, i,
       |         CASE WHEN lag(i) OVER w IS NULL OR i - lag(i) OVER w > 8
       |              THEN 1 ELSE 0 END AS brk
       |  FROM hits
       |  WINDOW w AS (PARTITION BY doc_id ORDER BY i)
       |),
       |isl2 AS (
       |  SELECT doc_id, i,
       |         sum(brk) OVER (PARTITION BY doc_id ORDER BY i
       |                        ROWS UNBOUNDED PRECEDING) AS island
       |  FROM isl
       |)
       |SELECT doc_id,
       |       CAST(min(i) AS INT) AS span_start,
       |       CAST(max(i) + 7 AS INT) AS span_end,
       |       count(*) AS n_grams
       |FROM isl2
       |GROUP BY doc_id, island
       |ORDER BY doc_id, span_start""".stripMargin

  /** Strip-duplicated-spans twin: keeper doc = min doc_id per
    * duplicated gram hash; covered positions removed elsewhere; text
    * rebuilt with an ordered string_agg (COALESCE for the fully-covered
    * edge — Spark's concat_ws yields '' there, string_agg yields NULL). */
  val stripDupSpans: String =
    s"""WITH ws0 AS (
       |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ws
       |  FROM documents
       |),
       |words AS (
       |  SELECT doc_id, w, pos
       |  FROM ws0, LATERAL (SELECT unnest(ws) AS w,
       |                            generate_subscripts(ws, 1) AS pos)
       |),
       |grams AS (
       |  SELECT doc_id, i, ${h32("array_to_string(ws[CAST(i AS INT):CAST(i AS INT)+7], ' ')", "ss")} AS h
       |  FROM ws0, LATERAL (SELECT unnest(generate_series(1, len(ws) - 7)) AS i)
       |  WHERE len(ws) >= 8
       |),
       |keeper AS (
       |  SELECT h, min(doc_id) AS kdoc
       |  FROM grams GROUP BY h HAVING count(DISTINCT doc_id) >= 2
       |),
       |covered AS (
       |  SELECT DISTINCT g.doc_id, p AS pos
       |  FROM grams g JOIN keeper k USING (h),
       |       LATERAL (SELECT unnest(generate_series(g.i, g.i + 7)) AS p)
       |  WHERE g.doc_id <> k.kdoc
       |),
       |marked AS (
       |  SELECT w.doc_id, w.pos, w.w, c.pos IS NOT NULL AS rm
       |  FROM words w
       |  LEFT JOIN covered c ON w.doc_id = c.doc_id AND w.pos = c.pos
       |)
       |SELECT doc_id,
       |       count(*) AS n_words,
       |       CAST(sum(CASE WHEN rm THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       |       COALESCE(string_agg(CASE WHEN NOT rm THEN w END, ' ' ORDER BY pos),
       |                '') AS clean_text
       |FROM marked
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  val dedupExact: String =
    """SELECT doc_id, text_hash, n_copies
      |FROM (
      |  SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS text_hash,
      |         min(doc_id) AS doc_id, count(*) AS n_copies
      |  FROM documents GROUP BY 1
      |)
      |ORDER BY doc_id""".stripMargin

  /** Shared tail: df-capped shingles, set sizes, pairwise shared counts. */
  private val jaccardTail: String =
    """shfil AS (
      |  SELECT s.doc_id, s.sh FROM shingles s
      |  JOIN (SELECT sh FROM shingles GROUP BY sh HAVING count(*) <= 10000) r
      |    USING (sh)
      |),
      |sizes AS (SELECT doc_id, count(*) AS n FROM shfil GROUP BY 1),
      |pairs AS (
      |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS shared
      |  FROM shfil x JOIN shfil y ON x.sh = y.sh AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2
      |)""".stripMargin

  val dedupJaccard: String =
    s"""$shingleBase,
       |$jaccardTail
       |SELECT doc_a, doc_b,
       |  CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) AS jaccard
       |FROM pairs
       |JOIN sizes sa ON doc_a = sa.doc_id
       |JOIN sizes sb ON doc_b = sb.doc_id
       |WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) >= 0.6
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Source-overlap twin: the Jaccard pair chain nested verbatim,
    * canonical (least, greatest) source cells, zero-filled upper
    * triangle. */
  lazy val dedupSourceOverlap: String =
    s"""WITH jp AS (SELECT doc_a, doc_b FROM ($dedupJaccard)),
       |src AS (SELECT doc_id, source FROM documents),
       |cells AS (
       |  SELECT least(sa.source, sb.source) AS source_a,
       |         greatest(sa.source, sb.source) AS source_b,
       |         count(*) AS n_pairs
       |  FROM jp
       |  JOIN src sa ON sa.doc_id = jp.doc_a
       |  JOIN src sb ON sb.doc_id = jp.doc_b
       |  GROUP BY 1, 2
       |),
       |srcs AS (SELECT DISTINCT source FROM documents),
       |grid AS (SELECT x.source AS source_a, y.source AS source_b
       |         FROM srcs x JOIN srcs y ON x.source <= y.source)
       |SELECT g.source_a, g.source_b,
       |       CAST(coalesce(c.n_pairs, 0) AS BIGINT) AS n_pairs
       |FROM grid g LEFT JOIN cells c USING (source_a, source_b)
       |ORDER BY source_a, source_b""".stripMargin

  /** Ordered containment pairs over the same df-capped shingle sets as
    * the Jaccard twin: C(A→B) = shared / |A| (asymmetric — doc_a is the
    * contained side, both orders reported when both hold). The `pairs`
    * CTE from [[jaccardTail]] is unreferenced here (DuckDB leaves
    * unreferenced CTEs unevaluated); only shfil/sizes are shared. */
  val dedupContainment: String =
    s"""$shingleBase,
       |$jaccardTail,
       |opairs AS (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS shared
       |  FROM shfil x JOIN shfil y ON x.sh = y.sh AND x.doc_id <> y.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT doc_a, doc_b, CAST(shared AS INTEGER) AS n_shared,
       |  CAST(shared AS DOUBLE) / sa.n AS containment
       |FROM opairs
       |JOIN sizes sa ON doc_a = sa.doc_id
       |WHERE CAST(shared AS DOUBLE) / sa.n >= 0.8
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Keeper twin: the thresholded ordered pairs, a reversed-key self
    * left join for mutuality, dominance rule (one-way superset, or
    * mutual with the lower id), best dominator by (containment desc,
    * sup asc), left-joined onto the corpus. */
  val dedupContainmentKeep: String =
    s"""$shingleBase,
       |$jaccardTail,
       |cont AS (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS shared
       |  FROM shfil x JOIN shfil y ON x.sh = y.sh AND x.doc_id <> y.doc_id
       |  GROUP BY 1, 2
       |),
       |cpairs AS (
       |  SELECT doc_a, doc_b, CAST(shared AS DOUBLE) / sa.n AS c
       |  FROM cont JOIN sizes sa ON doc_a = sa.doc_id
       |  WHERE CAST(shared AS DOUBLE) / sa.n >= 0.8
       |),
       |dom AS (
       |  SELECT x.doc_a AS doc_id, x.doc_b AS sup, x.c
       |  FROM cpairs x
       |  LEFT JOIN cpairs y ON y.doc_a = x.doc_b AND y.doc_b = x.doc_a
       |  WHERE y.doc_a IS NULL OR x.doc_b < x.doc_a
       |),
       |best AS (
       |  SELECT doc_id, sup, c FROM dom
       |  QUALIFY row_number() OVER (PARTITION BY doc_id
       |    ORDER BY c DESC, sup ASC) = 1
       |)
       |SELECT d.doc_id, b.sup IS NULL AS keep,
       |  b.sup AS contained_in, b.c AS containment
       |FROM documents d LEFT JOIN best b ON b.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  private val coeffValues: String = DedupOps.minhashCoeffs.zipWithIndex
    .map { case ((a, b), i) => s"($i, $a, $b)" }.mkString(", ")

  /** Band-key slots generated from rowsPerBand (NOT hardcoded `i % 3`):
    * retuning the LSH shape updates engine and oracle together. */
  private val bandKeySlots: String = (0 until DedupOps.rowsPerBand)
    .map(r => s"CAST(max(CASE WHEN i % ${DedupOps.rowsPerBand} = $r THEN m END) AS VARCHAR)")
    .mkString(",\n      ")

  /** The MinHash-LSH verified-pairs CTE chain (shared by the pair query
    * and the clustering oracle). Yields `lshpairs(doc_a, doc_b, jaccard)`. */
  private val minhashPairsCtes: String =
    s"""$shingleBase,
       |coeffs(i, a, b) AS (VALUES $coeffValues),
       |mh AS (
       |  SELECT s.doc_id, c.i, min((c.a * s.h + c.b) % ${DedupOps.minhashP}) AS m
       |  FROM sh_hash s CROSS JOIN coeffs c GROUP BY 1, 2
       |),
       |bands AS (
       |  SELECT doc_id, i // ${DedupOps.rowsPerBand} AS band,
       |    concat_ws('_',
       |      $bandKeySlots) AS key
       |  FROM mh GROUP BY 1, 2
       |),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
       |),
       |sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY 1),
       |shared AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS shared
       |  FROM cand c
       |  JOIN shingles sa ON c.doc_a = sa.doc_id
       |  JOIN shingles sb ON c.doc_b = sb.doc_id AND sa.sh = sb.sh
       |  GROUP BY 1, 2
       |),
       |lshpairs AS (
       |  SELECT doc_a, doc_b,
       |    CAST(shared AS DOUBLE) / (za.n + zb.n - shared) AS jaccard
       |  FROM shared
       |  JOIN sizes za ON doc_a = za.doc_id
       |  JOIN sizes zb ON doc_b = zb.doc_id
       |  WHERE CAST(shared AS DOUBLE) / (za.n + zb.n - shared) >= 0.5
       |)""".stripMargin

  val dedupMinhashLsh: String =
    s"""$minhashPairsCtes
       |SELECT doc_a, doc_b, jaccard FROM lshpairs
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Incremental-dedup twin: the cross-set (increment ↔ corpus) slice
    * of the verified LSH pairs, reduced to the best corpus match per
    * increment doc, left-joined onto the full increment so brand-new
    * documents surface with is_new = true. */
  val dedupIncremental: String =
    s"""$minhashPairsCtes,
       |cross_pairs AS (
       |  SELECT CASE WHEN doc_a % 10 = 0 THEN doc_a ELSE doc_b END AS doc_id,
       |         CASE WHEN doc_a % 10 = 0 THEN doc_b ELSE doc_a END AS dup_of,
       |         jaccard
       |  FROM lshpairs
       |  WHERE (doc_a % 10 = 0) <> (doc_b % 10 = 0)
       |),
       |best AS (
       |  SELECT doc_id, dup_of, jaccard,
       |         row_number() OVER (PARTITION BY doc_id
       |           ORDER BY jaccard DESC, dup_of ASC) AS rn
       |  FROM cross_pairs
       |)
       |SELECT d.doc_id, b.dup_of IS NULL AS is_new, b.dup_of, b.jaccard
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
       |LEFT JOIN best b ON d.doc_id = b.doc_id AND b.rn = 1
       |ORDER BY d.doc_id""".stripMargin

  /** Streaming incremental-dedup twin: the greedy SEQUENTIAL replay of
    * [[graft.streaming.StreamDedup.incrementalStreamDedupBatch]],
    * batches unrolled (one kept/surv/adm CTE triple per micro-batch —
    * the batch count is [[graft.streaming.StreamDedup.ReplayBatches]],
    * shared, so engine and oracle replay the same schedule).
    * Per batch b: `kept_b` = batch docs surviving in-batch content
    * first-wins and the exact-text check against the docs ADMITTED
    * before it (`adm_b`, the union of `surv_0 … surv_{b-1}`);
    * `surv_b` = kept_b minus verified LSH near-dups of admitted docs
    * or of earlier-id kept peers in the same batch. The near-dup
    * relation is the shared `lshpairs` CTE (band collision is
    * intrinsic to a pair, so the global pair table restricted to the
    * right doc sets is exactly what the live index join produces),
    * materialized once, plus its symmetric closure `sym` so the
    * admitted-doc check is one equality join. Every CTE a later batch
    * reads is MATERIALIZED: inlined, each batch would re-plan the
    * whole MinHash chain once per reference.
    * NOTE the semantics pinned here are greedy-sequential, NOT
    * connected components: a doc dropped against an admitted doc does
    * not itself block later docs (its bands never enter the index). */
  lazy val streamIncrementalDedup: String = {
    val nB = graft.streaming.StreamDedup.ReplayBatches
    val perBatch = (0 until nB).map { b =>
      val exactPrev =
        if (b == 0) ""
        else s"""
           |    AND NOT EXISTS (SELECT 1 FROM adm_$b a
           |                    JOIN batched ds ON ds.doc_id = a.doc_id
           |                    WHERE ds.norm_text = d.norm_text)""".stripMargin
      val lshPrev =
        if (b == 0) ""
        else s"""
           |    AND NOT EXISTS (SELECT 1 FROM sym p JOIN adm_$b a
           |      ON p.peer = a.doc_id WHERE p.doc_id = k.doc_id)""".stripMargin
      val admPrev = if (b == 0) "" else s"SELECT doc_id FROM adm_$b UNION ALL "
      s"""kept_$b AS MATERIALIZED (
         |  SELECT d.doc_id, d.norm_text FROM batched d
         |  WHERE d.batch = $b
         |    AND NOT EXISTS (SELECT 1 FROM batched d2
         |                    WHERE d2.batch = $b AND d2.norm_text = d.norm_text
         |                      AND d2.doc_id < d.doc_id)$exactPrev
         |),
         |surv_$b AS MATERIALIZED (
         |  SELECT k.doc_id FROM kept_$b k
         |  WHERE NOT EXISTS (SELECT 1 FROM pairs p JOIN kept_$b k2
         |      ON p.doc_b = k.doc_id AND p.doc_a = k2.doc_id)$lshPrev
         |),
         |adm_${b + 1} AS MATERIALIZED (${admPrev}SELECT doc_id FROM surv_$b)""".stripMargin
    }.mkString(",\n")
    s"""$minhashPairsCtes,
       |pairs AS MATERIALIZED (SELECT doc_a, doc_b FROM lshpairs),
       |sym AS MATERIALIZED (
       |  SELECT doc_a AS doc_id, doc_b AS peer FROM pairs
       |  UNION ALL
       |  SELECT doc_b AS doc_id, doc_a AS peer FROM pairs
       |),
       |batched AS MATERIALIZED (
       |  SELECT doc_id,
       |    CAST(doc_id // (SELECT (max(doc_id) + $nB) // $nB FROM documents)
       |         AS INT) AS batch,
       |    regexp_replace(trim(lower(text)), '\\s+', ' ', 'g') AS norm_text
       |  FROM documents
       |),
       |$perBatch
       |SELECT d.doc_id, d.batch,
       |  d.doc_id IN (SELECT doc_id FROM adm_$nB) AS is_novel
       |FROM batched d
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Connected components over the LSH near-dup pairs: cluster id = min
    * doc_id reachable through pair edges (WITH RECURSIVE transitive
    * closure — the fixed point the Spark side reaches by min-label
    * propagation). Keeper = the canonical minimum doc per cluster. */
  val dedupClusters: String =
    s"""WITH RECURSIVE
       |${minhashPairsCtes.stripPrefix("WITH ")},
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM lshpairs
       |  UNION ALL
       |  SELECT doc_b AS src, doc_a AS dst FROM lshpairs
       |),
       |reach(doc_id, lbl) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.doc_id
       |)
       |SELECT doc_id, min(lbl) AS cluster,
       |  CAST(doc_id = min(lbl) AS BOOLEAN) AS is_keeper
       |FROM reach GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  /** Quality-keeper twin: the cluster and quality twins composed as
    * subqueries (each carries its own CTE scope), argmax per cluster
    * via row_number on (quality DESC, doc_id ASC). Lazy: embeds
    * [[dedupClusters]] declared just above and [[textStats]] far
    * above — lazy keeps it robust to future reordering. */
  lazy val dedupQualityKeeper: String =
    s"""WITH c AS (
       |  SELECT doc_id, cluster FROM ($dedupClusters)
       |),
       |q AS (
       |  SELECT doc_id, quality_score FROM ($textStats)
       |),
       |j AS (
       |  SELECT c.cluster, c.doc_id, q.quality_score
       |  FROM c JOIN q USING (doc_id)
       |),
       |r AS (
       |  SELECT cluster, doc_id, quality_score,
       |    row_number() OVER (PARTITION BY cluster
       |                       ORDER BY quality_score DESC, doc_id ASC) AS rn,
       |    count(*) OVER (PARTITION BY cluster) AS n_members
       |  FROM j
       |)
       |SELECT cluster, CAST(n_members AS BIGINT) AS n_members,
       |       doc_id AS keeper_doc_id, quality_score AS keeper_quality
       |FROM r WHERE rn = 1
       |ORDER BY cluster""".stripMargin

  /** Cluster-size histogram twin: the same recursive components,
    * aggregated twice. */
  val dedupClusterSizes: String =
    s"""WITH RECURSIVE
       |${minhashPairsCtes.stripPrefix("WITH ")},
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM lshpairs
       |  UNION ALL
       |  SELECT doc_b AS src, doc_a AS dst FROM lshpairs
       |),
       |reach(doc_id, lbl) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.doc_id
       |),
       |assign AS (
       |  SELECT doc_id, min(lbl) AS cluster FROM reach GROUP BY doc_id
       |),
       |csizes AS (
       |  SELECT cluster, count(*) AS cluster_size FROM assign GROUP BY cluster
       |)
       |SELECT cluster_size, count(*) AS n_clusters
       |FROM csizes GROUP BY cluster_size
       |ORDER BY cluster_size""".stripMargin

  val dedupSimhash: String =
    s"""$shingleBase,
       |bits AS (
       |  SELECT doc_id, bit, sum(2 * ((h >> bit) & 1) - 1) AS s
       |  FROM sh_hash, generate_series(0, 31) t(bit) GROUP BY 1, 2
       |),
       |sim AS (
       |  SELECT doc_id,
       |    sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS sh32
       |  FROM bits GROUP BY 1
       |),
       |blocks AS (
       |  SELECT doc_id, sh32, blk, (sh32 >> (8 * blk)) & 255 AS bval
       |  FROM sim, generate_series(0, 3) t(blk)
       |)
       |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |  bit_count(xor(x.sh32, y.sh32)) AS hamming
       |FROM blocks x JOIN blocks y
       |  ON x.blk = y.blk AND x.bval = y.bval AND x.doc_id < y.doc_id
       |WHERE bit_count(xor(x.sh32, y.sh32)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin

  private val normCte: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${dot("embedding", "embedding", "n")}) AS norm
       |  FROM embeddings
       |)""".stripMargin

  // Mirrors DedupOps.embeddingNearDup's candidate rule: pair is a
  // candidate iff the 8-bit sign-LSH buckets differ in ≤ 1 bit (the
  // flip-one-bit multi-probe), exact cosine verifies. The oracle states
  // the rule declaratively (hamming on the pair) — same set as the
  // engine's probe-explode equi-join, since probes(a) ∋ bucket(b) ⇔
  // hamming(bucket(a), bucket(b)) ≤ 1.
  val dedupEmbedding: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${dot("embedding", "embedding", "n")}) AS norm,
       |    $bucketSql AS bucket
       |  FROM embeddings
       |),
       |scored AS (
       |  SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
       |    ${dot("x.embedding", "y.embedding", "d")} / (x.norm * y.norm) AS cos
       |  FROM e x JOIN e y
       |    ON x.vec_id < y.vec_id AND bit_count(xor(x.bucket, y.bucket)) <= 1
       |)
       |SELECT vec_a, vec_b, cos AS cosine
       |FROM scored WHERE cos >= 0.5
       |ORDER BY vec_a, vec_b""".stripMargin

  private def simTopKSql(k: Int, nQueries: Int): String =
    s"""$normCte,
       |scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    ${dot("q.embedding", "c.embedding", "d")} / (q.norm * c.norm) AS cos
       |  FROM e q JOIN e c ON q.vec_id < $nQueries AND c.vec_id <> q.vec_id
       |),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY cos DESC, neighbor_id ASC) AS rank
       |  FROM scored
       |)
       |SELECT query_id, rank, neighbor_id, cos AS score
       |FROM ranked WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin

  val simTopK: String = simTopKSql(5, 8)

  /** Recall@3 twin: the brute twin (k=3 over 64 queries) and the IVF
    * twin composed as subqueries (each carries its own CTE scope), one
    * (query, neighbor) left join, count the matches. Lazy: it embeds
    * [[simIvfTopK]], which is declared later in this object. */
  lazy val simRecall: String =
    s"""WITH brute AS (
       |  SELECT query_id, neighbor_id FROM (${simTopKSql(3, 64)})
       |),
       |apx AS (
       |  SELECT query_id, neighbor_id FROM ($simIvfTopK)
       |  WHERE query_id < 64
       |),
       |hits AS (
       |  SELECT b.query_id, count(a.neighbor_id) AS n_hits
       |  FROM brute b
       |  LEFT JOIN apx a
       |    ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
       |  GROUP BY b.query_id
       |)
       |SELECT query_id, CAST(n_hits AS BIGINT) AS n_hits,
       |       CAST(n_hits AS DOUBLE) / 3 AS recall_at_3
       |FROM hits
       |ORDER BY query_id""".stripMargin

  /** MMR twin: the identical two-stage shape — the top-64 retrieval
    * pool drawn through the √n-cell router (probe vector's
    * MiningNProbe cells, mirroring the engine's cell-routed stage 1),
    * then the k = 8 greedy rounds UNROLLED as one CTE per selection
    * (sel1..sel8), each re-ranking the remaining pool by
    * (rel − greatest(cos to prior picks)) / 2 with the same exact-double
    * arithmetic and vec_id tie-break. */
  // lazy: embeds scaledCellsCte, declared textually below
  lazy val simMmr: String = {
    val k = 8
    val selCtes = (1 to k).map { i =>
      val pens = (1 until i).map { j =>
        s"${dot("embedding", s"(SELECT embedding FROM sel$j)", s"m$i$j")} / " +
          s"(norm * (SELECT norm FROM sel$j))"
      }
      val pen = pens.size match {
        case 0 => "CAST(0 AS DOUBLE)"
        case 1 => pens.head
        case _ => s"greatest(${pens.mkString(", ")})"
      }
      val excl =
        if (i == 1) ""
        else "WHERE vec_id NOT IN (" +
          (1 until i).map(j => s"SELECT vec_id FROM sel$j").mkString(" UNION ALL ") + ")"
      // MATERIALIZED: sel_i references all prior sel_j — inlined CTEs
      // would re-expand the whole chain exponentially (and re-open the
      // parquet once per expansion).
      s"""sel$i AS MATERIALIZED (
         |  SELECT vec_id, embedding, norm, rel,
         |         (rel - ($pen)) / 2 AS marginal
         |  FROM cand $excl
         |  ORDER BY marginal DESC, vec_id LIMIT 1
         |)""".stripMargin
    }.mkString(",\n")
    val unioned = (1 to k)
      .map(i => s"SELECT CAST($i AS INT) AS rank, vec_id, rel, marginal FROM sel$i")
      .mkString("\nUNION ALL\n")
    s"""WITH $scaledCellsCte,
       |q AS (SELECT vec_id, embedding, norm FROM en WHERE vec_id = 0),
       |cand AS MATERIALIZED (
       |  SELECT c.vec_id, c.embedding, c.norm,
       |    ${dot("c.embedding", "(SELECT embedding FROM q)", "mq")} /
       |      (c.norm * (SELECT norm FROM q)) AS rel
       |  FROM cells c
       |  JOIN cr p ON p.vec_id = 0 AND p.crank <= ${VectorOps.MiningNProbe}
       |    AND c.cell = p.cent_id
       |  WHERE c.vec_id <> 0
       |  ORDER BY rel DESC, c.vec_id LIMIT 64
       |),
       |$selCtes
       |$unioned
       |ORDER BY rank""".stripMargin
  }

  /** Hard-negative twin: the retrieval pool comes through the √n-cell
    * trained router ([[scaledCellsCte]], crank ≤ MiningNProbe probes —
    * the engine's cell-routed retrieval mirrored exactly), then the
    * shared τ literal and the identical re-rank ordering. */
  // lazy: embeds scaledCellsCte, declared textually below
  lazy val simHardNegatives: String =
    s"""WITH $scaledCellsCte,
       |scored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    ${dot("q.embedding", "c.embedding", "hn")} / (q.norm * c.norm) AS cos
       |  FROM cells q
       |  JOIN cr p ON p.vec_id = q.vec_id AND p.crank <= ${VectorOps.MiningNProbe}
       |  JOIN cells c ON c.cell = p.cent_id AND c.vec_id <> q.vec_id
       |  WHERE q.vec_id < 8
       |),
       |pool AS (
       |  SELECT query_id, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY cos DESC, neighbor_id ASC) AS rank
       |  FROM scored
       |  QUALIFY rank <= 10
       |),
       |hard AS (
       |  SELECT query_id, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY cos DESC, neighbor_id ASC) AS hard_rank
       |  FROM pool
       |  WHERE cos < CAST(${VectorOps.SemTau} AS DOUBLE)
       |)
       |SELECT query_id, CAST(hard_rank AS INT) AS hard_rank, neighbor_id,
       |       cos AS score
       |FROM hard WHERE hard_rank <= 3
       |ORDER BY query_id, hard_rank""".stripMargin

  // def, not val: referenced by dedupEmbedding above its textual position
  // (a forward val reference would interpolate null during object init).
  private def bucketSql: String = (0 until 8)
    .map(d => s"CASE WHEN embedding[${d + 1}] > 0 THEN ${1 << d} ELSE 0 END")
    .mkString(" + ")

  val simLshTopK: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${dot("embedding", "embedding", "n")}) AS norm,
       |    $bucketSql AS bucket
       |  FROM embeddings
       |),
       |scored AS (
       |  SELECT q.vec_id AS query_id, q.bucket AS bucket, c.vec_id AS neighbor_id,
       |    ${dot("q.embedding", "c.embedding", "d")} / (q.norm * c.norm) AS cos
       |  FROM e q JOIN e c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
       |),
       |ranked AS (
       |  SELECT query_id, bucket, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY cos DESC, neighbor_id ASC) AS rank
       |  FROM scored
       |)
       |SELECT query_id, bucket, rank, neighbor_id, cos AS score
       |FROM ranked WHERE rank <= 3
       |ORDER BY query_id, rank""".stripMargin

  // Mirrors SimilarityOps.ivfTopK geometry: nCent = max(8, ceil(sqrt(n)))
  // deterministic lowest-id centroids, cell = crank 1, queries probe
  // crank <= DefaultNProbe — the measured-recall operating point, shared
  // with the engine so both sides move together.
  val simIvfTopK: String =
    s"""$normCte,
       |cents AS (
       |  SELECT vec_id AS cent_id, embedding AS cv, norm AS cn
       |  FROM e WHERE vec_id <
       |    (SELECT greatest(8, CAST(ceil(sqrt(count(*))) AS BIGINT)) FROM embeddings)
       |),
       |cellranked AS (
       |  SELECT e.vec_id, e.embedding, e.norm, c.cent_id,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |      ${dot("e.embedding", "c.cv", "cc")} / (e.norm * c.cn) DESC,
       |      c.cent_id ASC) AS crank
       |  FROM e CROSS JOIN cents c
       |),
       |cells AS (
       |  SELECT vec_id, embedding, norm, cent_id AS cell
       |  FROM cellranked WHERE crank = 1
       |),
       |probes AS (
       |  SELECT vec_id AS pvid, cent_id AS pcell
       |  FROM cellranked WHERE crank <= ${SimilarityOps.DefaultNProbe}
       |),
       |scored AS (
       |  SELECT q.vec_id AS query_id, q.cell AS cell, c.vec_id AS neighbor_id,
       |    ${dot("q.embedding", "c.embedding", "d")} / (q.norm * c.norm) AS cos
       |  FROM cells q
       |  JOIN probes p ON p.pvid = q.vec_id
       |  JOIN cells c ON c.cell = p.pcell AND c.vec_id <> q.vec_id
       |),
       |ranked AS (
       |  SELECT query_id, cell, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY cos DESC, neighbor_id ASC) AS rank
       |  FROM scored
       |)
       |SELECT query_id, cell, rank, neighbor_id, cos AS score
       |FROM ranked WHERE rank <= 3
       |ORDER BY query_id, rank""".stripMargin

  /** Frame counts are pure metadata arithmetic, so the sampling stage's
    * row-multiplicity is oracle-checkable even though frame bytes are
    * stubbed: n = max(1, duration_ms / 60000), last offset = (n-1)·60000. */
  val mediaFrames: String =
    s"""SELECT doc_id,
       |  greatest(1, dur // 60000) AS n_frames,
       |  (greatest(1, dur // 60000) - 1) * 60000 AS last_offset_ms
       |FROM (SELECT doc_id, (${h32("CAST(doc_id AS VARCHAR)")} >> 4) % 600000 AS dur
       |      FROM documents WHERE doc_id % 3 = 2)
       |ORDER BY doc_id""".stripMargin

  private val probeList: String =
    (Seq("e2.bucket") ++ (0 until 8).map(j => s"xor(e2.bucket, ${1 << j})"))
      .mkString("[", ", ", "]")

  val simLshMultiProbe: String =
    s"""WITH e AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${dot("embedding", "embedding", "n")}) AS norm,
       |    $bucketSql AS bucket
       |  FROM embeddings
       |),
       |probes AS (
       |  SELECT e2.vec_id AS query_id, e2.embedding AS qv, e2.norm AS qn,
       |         e2.bucket AS qbucket, unnest($probeList) AS probe
       |  FROM e e2
       |),
       |scored AS (
       |  SELECT p.query_id, p.qbucket, c.vec_id AS neighbor_id,
       |    ${dot("p.qv", "c.embedding", "d")} / (p.qn * c.norm) AS cos
       |  FROM probes p JOIN e c ON p.probe = c.bucket AND c.vec_id <> p.query_id
       |),
       |ranked AS (
       |  SELECT query_id, qbucket, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY cos DESC, neighbor_id ASC) AS rank
       |  FROM scored
       |)
       |SELECT query_id, qbucket AS bucket, rank, neighbor_id, cos AS score
       |FROM ranked WHERE rank <= 3
       |ORDER BY query_id, rank""".stripMargin

  /** Heavy-hitters twin: count ties rank by term DESC, mirroring the
    * engine's descending struct order (same convention as q12). */
  val topTermsPerLang: String =
    s"""WITH words AS (
       |  SELECT lang, w AS term
       |  FROM (SELECT doc_id, lang, string_split_regex(trim(lower(text)), '\\s+') AS ws
       |        FROM documents),
       |       LATERAL (SELECT unnest(ws) AS w)
       |),
       |counts AS (SELECT lang, term, count(*) AS cnt FROM words GROUP BY 1, 2),
       |ranked AS (
       |  SELECT lang, term, cnt,
       |         ROW_NUMBER() OVER (
       |           PARTITION BY lang ORDER BY cnt DESC, term DESC
       |         ) AS rank
       |  FROM counts
       |)
       |SELECT lang, CAST(rank AS INT) AS rank, term, cnt
       |FROM ranked WHERE rank <= 10
       |ORDER BY lang, rank""".stripMargin

  /** Novelty twin over the same distinct-shingle CTE; short docs
    * (no shingles) carry NULL novelty on both sides. */
  val noveltyScores: String =
    s"""$shingleBase,
       |dfreq AS (SELECT sh, count(*) AS df FROM shingles GROUP BY 1),
       |scored AS (
       |  SELECT s.doc_id,
       |         CAST(count(*) AS INT) AS n_shingles,
       |         CAST(sum(CASE WHEN f.df = 1 THEN 1 ELSE 0 END) AS INT) AS n_unique
       |  FROM shingles s JOIN dfreq f USING (sh)
       |  GROUP BY s.doc_id
       |)
       |SELECT d.doc_id,
       |       COALESCE(sc.n_shingles, 0) AS n_shingles,
       |       COALESCE(sc.n_unique, 0) AS n_unique,
       |       CAST(sc.n_unique AS DOUBLE) / CAST(sc.n_shingles AS DOUBLE) AS novelty
       |FROM documents d LEFT JOIN scored sc USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** Profile twin: CUBE over the corpus table; gid from the null
    * pattern (lang/source are non-null in data — same convention as the
    * OLAP q13 twin; lang is the MSB, Spark's cube column order). */
  val corpusProfile: String =
    s"""SELECT lang, source,
       |  CAST(2 * (CASE WHEN lang IS NULL THEN 1 ELSE 0 END)
       |     + (CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS INT) AS gid,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(len(string_split_regex(trim(lower(text)), '\\s+'))) AS BIGINT)
       |    AS total_tokens,
       |  min(n_chars) AS min_chars,
       |  max(n_chars) AS max_chars,
       |  CAST(sum(len(string_split_regex(trim(lower(text)), '\\s+'))) AS DOUBLE)
       |    / count(*) AS mean_tokens
       |FROM documents
       |GROUP BY CUBE (lang, source)
       |ORDER BY lang ASC NULLS FIRST, source ASC NULLS FIRST""".stripMargin

  /** Commonness twin: instance-level df join over the same whitespace
    * tokens; the two divisions are spelled in the engine's operation
    * order (sum cast to double, divided by the bigint count). */
  val tokenCommonness: String =
    s"""WITH words AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
       |  FROM documents
       |),
       |dfreq AS (
       |  SELECT term, count(DISTINCT doc_id) AS df FROM words GROUP BY 1
       |)
       |SELECT w.doc_id,
       |       CAST(count(*) AS BIGINT) AS n_inst,
       |       CAST(sum(f.df) AS DOUBLE) / count(*) AS mean_token_df,
       |       CAST(sum(CASE WHEN f.df = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
       |         AS oov_frac
       |FROM words w JOIN dfreq f USING (term)
       |GROUP BY w.doc_id
       |ORDER BY w.doc_id""".stripMargin

  /** Decile twin: DuckDB `quantile_cont` shares Spark `percentile`'s
    * linear-interpolation semantics (bit-identical, proven by
    * lengthStats); the bucket fold mirrors the engine's cutoff
    * semantics (`1 + #{cutoffs < score}`). */
  def qualityDeciles: String =
    s"""WITH scored AS (
       |  SELECT doc_id, quality_score FROM ($textStats)
       |),
       |cuts AS (
       |  SELECT quantile_cont(quality_score,
       |    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS cs
       |  FROM scored
       |)
       |SELECT s.doc_id, s.quality_score,
       |       1 + len(list_filter(c.cs, x -> s.quality_score > x)) AS decile
       |FROM scored s CROSS JOIN cuts c
       |ORDER BY s.doc_id""".stripMargin

  /** Curriculum twin: the readable single-window formulation — the
    * position IS `row_number() OVER (ORDER BY phase, h, doc_id)`; the
    * engine computes identical values via the bucketed prefix sum. */
  def curriculumOrder: String =
    s"""WITH scored AS (
       |  SELECT doc_id, decile FROM ($qualityDeciles)
       |), phs AS (
       |  SELECT doc_id, decile,
       |    CASE WHEN decile >= 9 THEN 1 WHEN decile >= 5 THEN 2 ELSE 3 END AS phase,
       |    ${h32("'curr:' || CAST(doc_id AS VARCHAR)", "cu")} AS h
       |  FROM scored
       |)
       |SELECT doc_id, CAST(phase AS INT) AS phase, CAST(decile AS INT) AS decile,
       |  CAST(row_number() OVER (ORDER BY phase, h, doc_id) AS BIGINT) AS global_pos
       |FROM phs
       |ORDER BY global_pos""".stripMargin

  /** KMV twin: the k-th smallest DISTINCT token hash per language via
    * one window — the exact set the engine's bounded TreeSet aggregate
    * retains, so sketch estimate and relative error match bit-for-bit.
    * k = 64 mirrors [[TextOps.vocabSketch]]'s default. */
  val vocabSketch: String =
    s"""WITH words AS (
       |  SELECT lang, w
       |  FROM (SELECT doc_id, lang, string_split_regex(trim(lower(text)), '\\s+') AS ws
       |        FROM documents),
       |       LATERAL (SELECT unnest(ws) AS w)
       |),
       |exact AS (
       |  SELECT lang, count(DISTINCT w) AS n_vocab_exact FROM words GROUP BY 1
       |),
       |hashed AS (
       |  SELECT DISTINCT lang, ${h32("w")} AS h FROM words
       |),
       |ranked AS (
       |  SELECT lang, h,
       |         row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
       |  FROM hashed
       |),
       |est AS (
       |  SELECT lang,
       |         CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
       |              ELSE CAST(63 AS DOUBLE) * CAST(4294967296 AS DOUBLE)
       |                   / CAST(max(CASE WHEN rn = 64 THEN h END) AS DOUBLE)
       |         END AS n_vocab_kmv
       |  FROM ranked WHERE rn <= 64 GROUP BY 1
       |)
       |SELECT e.lang, e.n_vocab_exact, s.n_vocab_kmv,
       |       (s.n_vocab_kmv - CAST(e.n_vocab_exact AS DOUBLE))
       |         / CAST(e.n_vocab_exact AS DOUBLE) AS rel_err
       |FROM exact e JOIN est s USING (lang)
       |ORDER BY e.lang""".stripMargin

  /** Pipeline twin: nests the component oracles verbatim as subqueries
    * (DuckDB supports WITH — including RECURSIVE — inside a derived
    * table), so the composition is checked against the SAME component
    * definitions the per-operator rows already pin. Thresholds mirror
    * [[PipelineOps]]. */
  def cleanCorpus: String =
    s"""SELECT s.doc_id, l.lang, l.pred_lang, sp.split, s.n_tokens, s.quality_score
       |FROM ($textStats) s
       |JOIN ($langId) l USING (doc_id)
       |JOIN ($splitAssign) sp USING (doc_id)
       |WHERE s.n_tokens >= ${PipelineOps.MinTokens}
       |  AND s.quality_score >= ${PipelineOps.MinQuality}
       |  AND l.pred_lang <> 'unknown'
       |  AND s.doc_id IN (SELECT doc_id FROM ($dedupExact))
       |  AND s.doc_id IN (SELECT doc_id FROM ($dedupClusters) WHERE is_keeper)
       |ORDER BY s.doc_id""".stripMargin

  /** Funnel twin: the same per-doc gate flags from the nested component
    * oracles, one running-conjunction aggregate, unioned to the 5-row
    * stage table. The final stage's n_out is cleanCorpus's row count by
    * construction — checked in-engine by PipelineSpec and here by the
    * hash gate. */
  def filterFunnel: String =
    s"""WITH f AS (
       |  SELECT s.doc_id,
       |    s.n_tokens >= ${PipelineOps.MinTokens} AS p1,
       |    s.quality_score >= ${PipelineOps.MinQuality} AS p2,
       |    l.pred_lang <> 'unknown' AS p3,
       |    s.doc_id IN (SELECT doc_id FROM ($dedupExact)) AS p4,
       |    s.doc_id IN (SELECT doc_id FROM ($dedupClusters) WHERE is_keeper) AS p5
       |  FROM ($textStats) s
       |  JOIN ($langId) l USING (doc_id)
       |),
       |a AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n0,
       |    CAST(sum(CASE WHEN p1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       |    CAST(sum(CASE WHEN p1 AND p2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
       |    CAST(sum(CASE WHEN p1 AND p2 AND p3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
       |    CAST(sum(CASE WHEN p1 AND p2 AND p3 AND p4 THEN 1 ELSE 0 END) AS BIGINT) AS n4,
       |    CAST(sum(CASE WHEN p1 AND p2 AND p3 AND p4 AND p5 THEN 1 ELSE 0 END) AS BIGINT) AS n5
       |  FROM f
       |)
       |SELECT CAST(stage AS INT) AS stage, stage_name, n_in,
       |       n_in - n_out AS n_dropped, n_out
       |FROM (
       |  SELECT 1 AS stage, 'length' AS stage_name, n0 AS n_in, n1 AS n_out FROM a
       |  UNION ALL SELECT 2, 'quality', n1, n2 FROM a
       |  UNION ALL SELECT 3, 'language', n2, n3 FROM a
       |  UNION ALL SELECT 4, 'exact_dedup', n3, n4 FROM a
       |  UNION ALL SELECT 5, 'near_dup', n4, n5 FROM a
       |)
       |ORDER BY stage""".stripMargin

  /** Datasheet twin: the cleaned-corpus twin nested verbatim, cell
    * aggregate, 1-row totals, zero-filled language×split grid, the
    * same ⌊10⁶·cell/total⌋ integer shares. */
  def corpusDatasheet: String =
    s"""WITH clean AS (SELECT lang, split, n_tokens FROM ($cleanCorpus)),
       |cells AS (
       |  SELECT lang, split, CAST(count(*) AS BIGINT) AS n_docs,
       |         CAST(sum(n_tokens) AS BIGINT) AS n_tokens
       |  FROM clean GROUP BY 1, 2
       |),
       |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS tot_docs,
       |               CAST(sum(n_tokens) AS BIGINT) AS tot_tokens FROM cells),
       |grid AS (
       |  SELECT l.lang, s.split
       |  FROM (SELECT DISTINCT lang FROM documents) l
       |  CROSS JOIN (VALUES ('train'), ('val'), ('test')) s(split)
       |)
       |SELECT g.lang, g.split,
       |       CAST(coalesce(c.n_docs, 0) AS BIGINT) AS n_docs,
       |       CAST(coalesce(c.n_tokens, 0) AS BIGINT) AS n_tokens,
       |       CAST((1000000 * coalesce(c.n_docs, 0)) // t.tot_docs AS BIGINT)
       |         AS doc_share_ppm,
       |       CAST((1000000 * coalesce(c.n_tokens, 0)) // t.tot_tokens AS BIGINT)
       |         AS token_share_ppm
       |FROM grid g
       |LEFT JOIN cells c USING (lang, split)
       |CROSS JOIN tot t
       |ORDER BY lang, split""".stripMargin

  /** Split/sample oracles share the engine's salted-hash contract: the
    * hash input is 'salt:' || id, so assignments are independent of the
    * unsalted id hashes used elsewhere. */
  val splitAssign: String =
    s"""SELECT doc_id, CAST(h % 100 AS INT) AS bucket,
       |       CASE WHEN h % 100 < 80 THEN 'train'
       |            WHEN h % 100 < 90 THEN 'val'
       |            ELSE 'test' END AS split
       |FROM (SELECT doc_id,
       |        ${h32("'split:' || CAST(doc_id AS VARCHAR)")} AS h
       |      FROM documents)
       |ORDER BY doc_id""".stripMargin

  /** Distribution-matching twin: the shared bucket CASE and reference
    * split, the same double ppm floors, the same salted-hash accept. */
  val sampleMatchDist: String =
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |    ${SampleOps.MatchBucketExpr} AS bucket,
       |    ${SampleOps.MatchRefExpr} AS is_ref
       |  FROM documents
       |),
       |byb AS (
       |  SELECT bucket,
       |    CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
       |    CAST(sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS c_b
       |  FROM d GROUP BY bucket
       |),
       |tot AS (
       |  SELECT CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
       |         CAST(sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS n_b
       |  FROM d
       |),
       |rates AS (
       |  SELECT bucket,
       |    CAST(least(1000000,
       |      (1000000 * ((1000000 * c_a) // n_a)) //
       |        greatest(1, (1000000 * c_b) // n_b)) AS BIGINT) AS rate_ppm
       |  FROM byb, tot WHERE c_b > 0
       |)
       |SELECT doc_id, source, d.bucket AS bucket, rate_ppm
       |FROM d JOIN rates ON d.bucket = rates.bucket
       |WHERE NOT is_ref
       |  AND ${h32("'match:' || CAST(doc_id AS VARCHAR)")} % 1000000 < rate_ppm
       |ORDER BY doc_id""".stripMargin

  /** One FK relation of the join-cardinality twin: KMV sketches as the
    * k smallest DISTINCT key hashes (list aggregate + sort + slice —
    * the set the engine's bounded TreeSet retains), theta-style union
    * via list algebra, and the identical fixed double expression tree
    * for every estimate. */
  private def joinCardPair(ta: String, ka: String, tb: String, kb: String,
      sfx: String): String = {
    val k = SketchOps.JoinCardK
    def est(arr: String) =
      s"""CASE WHEN len($arr) < $k THEN CAST(len($arr) AS DOUBLE)
         |     ELSE CAST(${k - 1} AS DOUBLE) * CAST(4294967296 AS DOUBLE)
         |          / CAST($arr[$k] AS DOUBLE) END""".stripMargin
    def side(t: String, key: String, s: String) =
      s"""(SELECT count(*) AS rows_$s, count(DISTINCT k) AS d_${s}_exact,
         |        list_sort(list(DISTINCT h))[1:$k] AS kmv_$s
         | FROM (SELECT k, ${h32("k", s + sfx)} AS h
         |       FROM (SELECT CAST($key AS VARCHAR) AS k FROM $t)))""".stripMargin
    s"""SELECT '$ta-$tb' AS rel, rows_a, rows_b, d_a_exact, d_b_exact,
       |  d_a_kmv, d_b_kmv, n_match_exact, n_match_kmv, join_exact, join_kmv,
       |  (join_kmv - CAST(join_exact AS DOUBLE))
       |    / CAST(join_exact AS DOUBLE) AS rel_err
       |FROM (
       |  SELECT *,
       |    ${est("kmv_a")} AS d_a_kmv,
       |    ${est("kmv_b")} AS d_b_kmv,
       |    ${est("u")} AS u_est,
       |    len(list_filter(u, x$sfx -> list_contains(kmv_a, x$sfx)
       |        AND list_contains(kmv_b, x$sfx))) AS m,
       |    (CAST(m AS DOUBLE) / CAST(len(u) AS DOUBLE)) * u_est AS n_match_kmv,
       |    n_match_kmv * (CAST(rows_a AS DOUBLE) / d_a_kmv)
       |      * (CAST(rows_b AS DOUBLE) / d_b_kmv) AS join_kmv
       |  FROM (
       |    SELECT sa.*, sb.*, ex.*,
       |      list_sort(list_distinct(list_concat(kmv_a, kmv_b)))[1:$k] AS u
       |    FROM ${side(ta, ka, "a")} sa,
       |         ${side(tb, kb, "b")} sb,
       |         (SELECT count(*) AS n_match_exact,
       |                 CAST(sum(ca * cb) AS BIGINT) AS join_exact
       |          FROM (SELECT $ka AS jk, count(*) AS ca FROM $ta GROUP BY 1) ja
       |          JOIN (SELECT $kb AS jk, count(*) AS cb FROM $tb GROUP BY 1) jb
       |            USING (jk)) ex
       |  )
       |)""".stripMargin
  }

  /** Range-bounds twin: identical salted sample, boundary j as the
    * (j·m div P)-th sorted-sample order statistic, identical full-table
    * bucket fold and skew expression. */
  lazy val rangeBounds: String = {
    val p = graft.etl.Layout.RangeP
    val tgt = graft.etl.Layout.RangeSampleTarget
    s"""WITH li AS (
       |  SELECT datediff('day', DATE '1970-01-01', l_shipdate) AS key,
       |         l_orderkey, l_linenumber
       |  FROM lineitem
       |),
       |modv AS (SELECT greatest(1, count(*) // $tgt) AS m FROM li),
       |sampled AS (
       |  SELECT key FROM (
       |    SELECT key, ${h32("'rb:' || CAST(l_orderkey AS VARCHAR) || ':' || " +
                  "CAST(l_linenumber AS VARCHAR)", "rb")} AS h
       |    FROM li
       |  ) WHERE h % (SELECT m FROM modv) = 0
       |),
       |bo AS (
       |  SELECT list_transform(range(1, $p),
       |           jrb -> ss[CAST(greatest(1, (jrb * len(ss)) // $p) AS INT)])
       |           AS bounds,
       |         CAST(len(ss) AS BIGINT) AS n_sampled
       |  FROM (SELECT list_sort(list(key)) AS ss FROM sampled)
       |),
       |bucketed AS (
       |  SELECT CAST(len(list_filter(bo.bounds, brb -> li.key > brb)) AS INT)
       |           AS bucket,
       |         count(*) AS cnt
       |  FROM li CROSS JOIN bo GROUP BY 1
       |),
       |total AS (SELECT count(*) AS total FROM li),
       |spine AS (SELECT CAST(unnest(range(0, $p)) AS INT) AS bucket)
       |SELECT bucket, lo_key, n_rows, n_sampled,
       |       CAST(n_rows AS DOUBLE) / (CAST(total AS DOUBLE)
       |         / CAST($p AS DOUBLE)) AS skew
       |FROM (
       |  SELECT s.bucket,
       |         CASE WHEN s.bucket >= 1 THEN bo.bounds[s.bucket] END AS lo_key,
       |         CAST(coalesce(b.cnt, 0) AS BIGINT) AS n_rows,
       |         bo.n_sampled, t.total
       |  FROM spine s LEFT JOIN bucketed b USING (bucket)
       |       CROSS JOIN bo CROSS JOIN total t
       |)
       |ORDER BY bucket""".stripMargin
  }

  /** Join-cardinality twin over every profiled FK relation. */
  lazy val sketchJoinCard: String =
    SketchOps.JoinCardPairs.zipWithIndex
      .map { case ((ta, ka, tb, kb), i) => joinCardPair(ta, ka, tb, kb, s"p$i") }
      .mkString("", "\nUNION ALL\n", "\nORDER BY rel")

  /** Leakproof-split twin: the recursive cluster closure hashed on the
    * CLUSTER id with the identical salt, the naive per-doc assignment
    * alongside, and the per-cluster straddle audit. Lazy: embeds
    * [[dedupClusters]]. */
  lazy val splitLeakproof: String =
    s"""WITH c AS (
       |  SELECT doc_id, cluster FROM ($dedupClusters)
       |),
       |n AS (
       |  SELECT doc_id,
       |    CASE WHEN hn % 100 < 80 THEN 'train'
       |         WHEN hn % 100 < 90 THEN 'val'
       |         ELSE 'test' END AS naive_split
       |  FROM (SELECT doc_id,
       |          ${h32("'split:' || CAST(doc_id AS VARCHAR)", "n")} AS hn
       |        FROM documents)
       |),
       |a AS (
       |  SELECT doc_id, cluster,
       |    CASE WHEN hc % 100 < 80 THEN 'train'
       |         WHEN hc % 100 < 90 THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM (SELECT doc_id, cluster,
       |          ${h32("'split:' || CAST(cluster AS VARCHAR)", "c")} AS hc
       |        FROM c)
       |),
       |l AS (
       |  SELECT cluster, count(DISTINCT naive_split) > 1 AS cluster_leaky
       |  FROM c JOIN n USING (doc_id) GROUP BY cluster
       |)
       |SELECT a.doc_id, a.cluster, a.split, n.naive_split, l.cluster_leaky
       |FROM a JOIN n USING (doc_id) JOIN l USING (cluster)
       |ORDER BY a.doc_id""".stripMargin

  /** Weighted-lottery twin: the same clamped token-count weight, the
    * same salted per-ticket hashes, max per doc, top-k. */
  val sampleWeighted: String =
    s"""WITH weighted AS (
       |  SELECT doc_id,
       |         least(8, greatest(1, CAST(
       |           len(string_split_regex(trim(lower(text)), '\\s+')) // 64
       |           AS INT))) AS w
       |  FROM documents
       |),
       |tickets AS (
       |  SELECT doc_id, w,
       |         ${h32("'lottery:' || CAST(doc_id AS VARCHAR) || ':' || CAST(t.ticket AS VARCHAR)")}
       |           AS priority
       |  FROM weighted, LATERAL (SELECT unnest(generate_series(1, w)) AS ticket) t
       |)
       |SELECT doc_id, w, max(priority) AS best_ticket
       |FROM tickets
       |GROUP BY doc_id, w
       |ORDER BY best_ticket DESC, doc_id ASC
       |LIMIT 100""".stripMargin

  /** Rendezvous-sharding twin: the argmax as a rank over the unnested
    * (doc × shard) candidates — ORDER BY w DESC, shard DESC mirrors the
    * engine's max-struct tie-break. */
  val shardRendezvous: String =
    s"""WITH cand AS (
       |  SELECT d.doc_id, s.shard,
       |         ${h32("'shard:' || CAST(doc_id AS VARCHAR) || ':' || CAST(shard AS VARCHAR)")} AS w
       |  FROM (SELECT doc_id FROM documents) d
       |  CROSS JOIN (SELECT unnest(range(8)) AS shard) s
       |),
       |ranked AS (
       |  SELECT doc_id, shard, w,
       |         row_number() OVER (PARTITION BY doc_id
       |                            ORDER BY w DESC, shard DESC) AS r
       |  FROM cand
       |)
       |SELECT doc_id, CAST(shard AS INT) AS shard, w AS weight
       |FROM ranked WHERE r = 1
       |ORDER BY doc_id""".stripMargin

  val stratifiedSample: String =
    s"""WITH hashed AS (
       |  SELECT lang, source, doc_id,
       |         ${h32("'sample:' || CAST(doc_id AS VARCHAR)")} AS h
       |  FROM documents
       |), ranked AS (
       |  SELECT lang, source, doc_id, h,
       |         ROW_NUMBER() OVER (
       |           PARTITION BY lang, source ORDER BY h, doc_id
       |         ) AS sample_rank
       |  FROM hashed
       |)
       |SELECT lang, source, CAST(sample_rank AS INT) AS sample_rank, doc_id, h
       |FROM ranked WHERE sample_rank <= 5
       |ORDER BY lang, source, sample_rank""".stripMargin

  /** As-of oracle: DuckDB's NATIVE ASOF JOIN over the same tie-collapsed
    * order table the Spark side builds — a genuinely independent
    * implementation of the semantics (dedicated operator vs. the
    * engine's union+ordered-window plan). `max_by(o_totalprice,
    * o_orderkey)` mirrors Spark's max(struct(o_orderkey, o_totalprice))
    * keeper: o_orderkey is unique, so both pick the same row. */
  /** SAX similarity twin: identical window build (ORDER BY month
    * lists), exact integer sums, the SAME literal Gaussian-tercile
    * breakpoints, left-fold z/PAA/distance arithmetic, and tie-broken
    * global top-k. Needs the star CTE for sales_fact. */
  val tsSaxSimilar: String = {
    import TemporalOps._
    val w = SaxW
    val seg = w / SaxSegments
    graft.etl.Star.oracleCte +
    s""", monthly AS (
       |  SELECT store_id, substring(CAST(time_id AS VARCHAR), 1, 7) AS month,
       |         CAST(sum(CAST(total_revenue * 100 AS BIGINT)) // 100 AS BIGINT)
       |           AS dollars
       |  FROM sales_fact GROUP BY 1, 2
       |),
       |series AS (
       |  SELECT store_id, list(month ORDER BY month) AS months,
       |         list(dollars ORDER BY month) AS ds
       |  FROM monthly GROUP BY 1
       |),
       |win AS (
       |  SELECT store_id, months[i] AS wstart,
       |         list_transform(range(0, $w), j -> ds[i + j]) AS vals
       |  FROM series, LATERAL (SELECT unnest(range(1, len(ds) - ${w - 2})) AS i)
       |  WHERE len(ds) >= $w
       |),
       |sums AS (
       |  SELECT store_id, wstart, vals,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT), vals),
       |      (sa, sv) -> sa + sv) AS sx,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(vals, v -> v * v)), (qa, qv) -> qa + qv) AS sxx
       |  FROM win
       |),
       |nz AS (
       |  SELECT store_id, wstart, vals,
       |    CAST(sx AS DOUBLE) / $w AS mean,
       |    sqrt(CAST(CAST($w AS BIGINT) * sxx - sx * sx AS DOUBLE)) / $w AS sd
       |  FROM sums WHERE CAST($w AS BIGINT) * sxx - sx * sx > 0
       |),
       |wz AS (
       |  SELECT store_id, wstart,
       |    list_transform(vals, v -> (CAST(v AS DOUBLE) - mean) / sd) AS z
       |  FROM nz
       |),
       |wsax AS (
       |  SELECT store_id, wstart, z,
       |    array_to_string(list_transform(
       |      list_transform(range(0, ${SaxSegments}), s ->
       |        list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |          z[CAST(s * $seg + 1 AS BIGINT) : CAST(s * $seg + $seg AS BIGINT)]),
       |          (pa, pv) -> pa + pv) / $seg),
       |      p -> CASE WHEN p < $SaxBreakLo THEN 'a'
       |                WHEN p < $SaxBreakHi THEN 'b' ELSE 'c' END), '') AS word
       |  FROM wz
       |)
       |SELECT x.store_id AS store_a, x.wstart AS start_a,
       |       y.store_id AS store_b, y.wstart AS start_b, x.word AS word,
       |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list_transform(list_zip(x.z, y.z),
       |      zz -> (zz[1] - zz[2]) * (zz[1] - zz[2]))),
       |    (da, dv) -> da + dv) AS dist2
       |FROM wsax x JOIN wsax y ON x.word = y.word
       |  AND (x.store_id < y.store_id OR
       |       (x.store_id = y.store_id AND x.wstart < y.wstart))
       |ORDER BY dist2, store_a, start_a, store_b, start_b
       |LIMIT ${SaxTopK}""".stripMargin
  }

  val asofEventsOrders: String =
    s"""WITH ord AS (
       |  SELECT o_custkey, o_orderdate AS last_order_date,
       |         max(o_orderkey) AS last_order_key,
       |         max_by(o_totalprice, o_orderkey) AS last_order_price
       |  FROM orders GROUP BY 1, 2
       |)
       |SELECT e.event_id, e.ts, e.user_id, e.event_type,
       |       o.last_order_date, o.last_order_key, o.last_order_price
       |FROM events e
       |ASOF LEFT JOIN ord o
       |  ON e.user_id = o.o_custkey AND e.ts >= o.last_order_date
       |ORDER BY e.event_id""".stripMargin

  /** Decode twin: the stub kernel's checksum is Σ payload-bytes mod 997
    * over the UTF-8 text bytes, which SQL can reproduce exactly by
    * expanding each codepoint's UTF-8 byte SUM (1–4 bytes by range —
    * the per-character arithmetic below). This flips the decode stage
    * from a rows-only check to a full differential one: the Spark side
    * iterates real bytes in `mapPartitions`, the oracle derives the
    * same values from codepoints — independent routes, same numbers. */
  /** Decoded byte statistics per media row — the UTF-8 codepoint
    * reconstruction of the decode kernel's byte iteration; shared by
    * [[mediaDecode]] and [[mediaPhash]]. */
  private val mediaFeatsCte: String =
    s"""feats AS (
       |  SELECT doc_id,
       |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END
       |      AS media_type,
       |    octet_length(encode(text)) AS n_bytes,
       |    (list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(string_split(text, ''), ch -> CAST(
       |        CASE WHEN ch = '' THEN 0 -- string_split('','') yields ['']; unicode('') is -1
       |             WHEN unicode(ch) < 128 THEN unicode(ch)
       |             WHEN unicode(ch) < 2048
       |               THEN 192 + unicode(ch)//64 + 128 + unicode(ch)%64
       |             WHEN unicode(ch) < 65536
       |               THEN 224 + unicode(ch)//4096 + 128 + (unicode(ch)//64)%64
       |                    + 128 + unicode(ch)%64
       |             ELSE 240 + unicode(ch)//262144 + 128 + (unicode(ch)//4096)%64
       |                  + 128 + (unicode(ch)//64)%64 + 128 + unicode(ch)%64
       |        END AS BIGINT))),
       |      (a, b) -> a + b)) % 997 AS checksum
       |  FROM documents
       |)""".stripMargin

  val mediaDecode: String =
    s"""WITH $mediaFeatsCte
       |SELECT doc_id, media_type, n_bytes, checksum
       |FROM feats
       |ORDER BY doc_id""".stripMargin

  /** pHash near-dup twin: the same 16-bit signature from the decoded
    * byte statistics, verified all-pairs (the oracle need not be
    * efficient — the ENGINE does the pigeonhole block join). */
  val mediaPhash: String =
    s"""WITH $mediaFeatsCte,
       |sig AS (
       |  SELECT doc_id,
       |    ${h32("CAST(checksum AS VARCHAR) || ':' || CAST(n_bytes AS VARCHAR)", "mp")}
       |      % 65536 AS phash
       |  FROM feats
       |)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  a.phash AS phash_a, b.phash AS phash_b,
       |  CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
       |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.phash, b.phash)) <= 1
       |ORDER BY doc_a, doc_b""".stripMargin

  val mediaMeta: String =
    s"""SELECT doc_id,
       |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END
       |    AS media_type,
       |  octet_length(encode(text)) AS n_bytes,
       |  64 + h % 1856 AS width,
       |  64 + (h >> 8) % 1016 AS height,
       |  (h >> 4) % 600000 AS duration_ms
       |FROM (SELECT doc_id, text, ${h32("CAST(doc_id AS VARCHAR)")} AS h FROM documents)
       |ORDER BY doc_id""".stripMargin

  /** Repetition twin: positional self-joins build the same word 2-/3-
    * grams the engine derives per-row; a doc shorter than n words emits
    * no row for that n in either engine. */
  val repetitionStats: String =
    s"""WITH words AS (
       |  SELECT doc_id, w, i
       |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ws
       |        FROM documents),
       |       LATERAL (SELECT unnest(ws) AS w, generate_subscripts(ws, 1) AS i)
       |),
       |g2 AS (SELECT a.doc_id, 2 AS gram_n, a.w || ' ' || b.w AS g
       |       FROM words a JOIN words b ON a.doc_id = b.doc_id AND b.i = a.i + 1),
       |g3 AS (SELECT a.doc_id, 3 AS gram_n, a.w || ' ' || b.w || ' ' || c.w AS g
       |       FROM words a JOIN words b ON a.doc_id = b.doc_id AND b.i = a.i + 1
       |                    JOIN words c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
       |cnt AS (SELECT doc_id, gram_n, g, count(*) AS c
       |        FROM (SELECT * FROM g2 UNION ALL SELECT * FROM g3) GROUP BY 1, 2, 3)
       |SELECT doc_id, gram_n,
       |  CAST(sum(c) AS BIGINT) AS n_grams,
       |  CAST(count(*) AS BIGINT) AS n_distinct,
       |  CAST(max(c) AS BIGINT) AS top_cnt,
       |  CAST(sum(c) - count(*) AS DOUBLE) / sum(c) AS dup_frac,
       |  CAST(max(c) AS DOUBLE) / sum(c) AS top_frac
       |FROM cnt GROUP BY doc_id, gram_n
       |ORDER BY doc_id, gram_n""".stripMargin

  /** Histogram-quantile twin — pure integer math (bin edges, ceil via
    * `(p·N + 99) // 100`), so the sketch's bounded-error semantics are
    * identical across engines. binWidth/pcts mirror
    * [[TextOps.lengthHistQuantiles]]'s defaults. */
  val lengthHistQuantiles: String =
    s"""WITH hist AS (
       |  SELECT n_chars // 64 AS bin, CAST(count(*) AS BIGINT) AS cnt
       |  FROM documents GROUP BY 1
       |),
       |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_docs FROM hist),
       |cum AS (SELECT a.bin, CAST(sum(b.cnt) AS BIGINT) AS cum
       |        FROM hist a JOIN hist b ON b.bin <= a.bin GROUP BY a.bin),
       |p AS (SELECT unnest([25, 50, 75, 90, 99]) AS pct)
       |SELECT pct, n_docs, min(bin) AS bin, (min(bin) + 1) * 64 AS upper_chars
       |FROM p, tot, cum
       |WHERE cum >= (pct * n_docs + 99) // 100
       |GROUP BY pct, n_docs
       |ORDER BY pct""".stripMargin

  /** Bottom-k-by-hash quantile-sketch twin
    * ([[SketchOps.quantileSketch]]): the sample is the window spelling
    * of the engine's bounded TopK aggregate — the k smallest
    * (h, doc_id) per source — and estimate, exact rank, and error ppm
    * repeat the identical integer algebra (nearest-rank `//` indexing,
    * conditional count, ppm floor division). Shared by the one-shot
    * `ext_sketch_quantiles` row and the incremental replay
    * `stream_quantile_sketch` ([[graft.streaming.StreamQuantile]]):
    * one twin gating both is what proves incremental ≡ batch. */
  val sketchQuantiles: String = {
    val k = SketchOps.QuantK
    val qs = SketchOps.QuantQs.mkString(", ")
    s"""WITH d AS (
       |  SELECT source, doc_id, CAST(n_chars AS BIGINT) AS v,
       |         ${h32("'qsk:' || CAST(doc_id AS VARCHAR)", "qk")} AS h
       |  FROM documents
       |),
       |nd AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM d GROUP BY 1),
       |r AS (
       |  SELECT source, v,
       |         row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rn
       |  FROM d
       |),
       |sk AS (
       |  SELECT source, list(v ORDER BY v) AS vs, CAST(count(*) AS BIGINT) AS m_sample
       |  FROM r WHERE rn <= $k GROUP BY 1
       |),
       |qq AS (SELECT unnest([$qs]) AS q),
       |est AS (
       |  SELECT sk.source, qq.q, sk.m_sample,
       |         vs[CAST((qq.q * sk.m_sample + 99) // 100 AS BIGINT)] AS est_len
       |  FROM sk CROSS JOIN qq
       |),
       |rk AS (
       |  SELECT est.source, est.q, est.m_sample, est.est_len,
       |         CAST(count(*) FILTER (WHERE d.v <= est.est_len) AS BIGINT) AS cnt_le
       |  FROM est JOIN d ON d.source = est.source
       |  GROUP BY 1, 2, 3, 4
       |)
       |SELECT rk.source, rk.q, nd.n_docs, rk.m_sample, rk.est_len,
       |       (1000000 * rk.cnt_le) // nd.n_docs AS rank_ppm,
       |       abs((1000000 * rk.cnt_le) // nd.n_docs
       |           - CAST(rk.q AS BIGINT) * 10000) AS err_ppm
       |FROM rk JOIN nd USING (source)
       |ORDER BY source, q""".stripMargin
  }

  /** Incremental-CC twin ([[graft.streaming.StreamGraph]]): the
    * from-scratch component labels the batch-carved incremental
    * mapping must reproduce — recursive label reachability over the
    * same co-purchase edge set, min label per node. */
  val streamGraphCc: String =
    "WITH RECURSIVE" + graft.etl.Star.oracleCte.stripPrefix("WITH") +
      s""",
         |edges0 AS (
         |  SELECT DISTINCT least(a.product_id, b.product_id) AS src,
         |                  greatest(a.product_id, b.product_id) AS dst
         |  FROM sales_fact a JOIN sales_fact b
         |    ON a.order_id = b.order_id AND a.product_id <> b.product_id
         |),
         |nodes AS (SELECT DISTINCT src AS node FROM edges0
         |          UNION SELECT DISTINCT dst FROM edges0),
         |bidir AS (SELECT src, dst FROM edges0
         |          UNION ALL SELECT dst AS src, src AS dst FROM edges0),
         |reach(node, lbl) AS (
         |  SELECT node, node FROM nodes
         |  UNION
         |  SELECT e.src, r.lbl FROM bidir e JOIN reach r ON e.dst = r.node
         |)
         |SELECT node, CAST(min(lbl) AS BIGINT) AS component
         |FROM reach GROUP BY node
         |ORDER BY node""".stripMargin

  /** PageRank twin: the identical fixed-point integer power iteration,
    * unrolled as a CTE chain (one CTE per iteration — the oracle favors
    * readability; the Spark side loops). Every arithmetic step is bigint
    * `//` truncation, matching Spark's `div` exactly, so ranks are
    * bit-identical with NO float anywhere. Edges come from the same
    * star-schema fact the engine uses. */
  val graphPageRank: String = {
    val scale = graft.ext.GraphOps.PageRankScale
    val iters = 3
    val iterCtes = (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT e.dst AS id,
         |         (SELECT bt FROM pr_base) + (85 * sum(d.c)) // 100 AS r
         |  FROM edges e
         |  JOIN (SELECT g.src, r${i - 1}.r // g.deg AS c
         |        FROM r${i - 1} JOIN deg g ON r${i - 1}.id = g.src) d
         |    ON e.src = d.src
         |  GROUP BY e.dst
         |)""".stripMargin
    }.mkString(",\n")
    graft.etl.Star.oracleCte +
      s""",
         |edges AS (
         |  SELECT DISTINCT a.product_id AS src, b.product_id AS dst
         |  FROM sales_fact a
         |  JOIN sales_fact b
         |    ON a.order_id = b.order_id AND a.product_id <> b.product_id
         |),
         |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
         |pr_base AS (
         |  SELECT $scale // count(*) AS b,
         |         (15 * ($scale // count(*))) // 100 AS bt
         |  FROM (SELECT DISTINCT src FROM edges)
         |),
         |r0 AS (SELECT src AS id, (SELECT b FROM pr_base) AS r FROM deg),
         |$iterCtes
         |SELECT id AS product_id, CAST(r AS BIGINT) AS rank_fp
         |FROM r$iters
         |ORDER BY rank_fp DESC, product_id""".stripMargin
  }

  /** Triangle-count twin: the same degree-ordered orientation — wedges
    * enumerated at each edge's lower-(degree, id) endpoint (row-value
    * comparison mirrors the Spark struct compare), closed against the
    * canonical edge set, then each triangle credited to all three
    * corners. Same supported-edge graph (≥ 2 shared orders). */
  val graphTriangles: String = graft.etl.Star.oracleCte +
    """,
      |tedges AS (
      |  SELECT a.product_id AS u, b.product_id AS v
      |  FROM sales_fact a JOIN sales_fact b
      |    ON a.order_id = b.order_id AND a.product_id < b.product_id
      |  GROUP BY 1, 2 HAVING count(DISTINCT a.order_id) >= 2
      |),
      |tdeg AS (
      |  SELECT node, count(*) AS d FROM (
      |    SELECT u AS node FROM tedges UNION ALL SELECT v FROM tedges)
      |  GROUP BY node
      |),
      |oriented AS (
      |  SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS s,
      |         CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS t
      |  FROM tedges e
      |  JOIN tdeg du ON e.u = du.node
      |  JOIN tdeg dv ON e.v = dv.node
      |),
      |tri AS (
      |  SELECT x.s AS a, x.t AS u, y.t AS v
      |  FROM oriented x JOIN oriented y ON x.s = y.s AND x.t < y.t
      |  JOIN tedges e ON e.u = x.t AND e.v = y.t
      |)
      |SELECT node AS product_id, CAST(count(*) AS BIGINT) AS triangles
      |FROM (SELECT a AS node FROM tri
      |      UNION ALL SELECT u FROM tri
      |      UNION ALL SELECT v FROM tri)
      |GROUP BY node
      |ORDER BY triangles DESC, product_id ASC""".stripMargin

  /** k-core twin: the synchronous peel unrolled to exactly
    * [[GraphOps.KCoreRounds]] rounds over the same supported co-purchase
    * edge set — each round an induced-degree aggregate + threshold
    * filter, the definition spelled as a CTE chain. The engine side's
    * early exit is value-identical (a stable round makes every later
    * round a no-op). */
  val graphKCore: String = {
    val k = GraphOps.KCoreK
    val n = GraphOps.KCoreRounds
    val rounds = (1 to n).map { r =>
      // MATERIALIZED: each round references the previous one twice —
      // inlined CTEs would expand the chain 2^rounds times
      s"""d$r AS (
         |  SELECT s.a AS node, count(*) AS d
         |  FROM ksym s
         |  JOIN a${r - 1} x$r ON s.a = x$r.node
         |  JOIN a${r - 1} y$r ON s.b = y$r.node
         |  GROUP BY 1
         |),
         |a$r AS MATERIALIZED (SELECT node FROM d$r WHERE d >= $k)""".stripMargin
    }.mkString(",\n")
    graft.etl.Star.oracleCte +
      s""",
         |kedges AS (
         |  SELECT a.product_id AS u, b.product_id AS v
         |  FROM sales_fact a JOIN sales_fact b
         |    ON a.order_id = b.order_id AND a.product_id < b.product_id
         |  GROUP BY 1, 2 HAVING count(DISTINCT a.order_id) >= 2
         |),
         |ksym AS MATERIALIZED (
         |  SELECT u AS a, v AS b FROM kedges
         |  UNION ALL SELECT v AS a, u AS b FROM kedges
         |),
         |a0 AS (SELECT DISTINCT a AS node FROM ksym),
         |$rounds
         |SELECT s.a AS product_id, CAST(count(*) AS BIGINT) AS core_degree
         |FROM ksym s
         |JOIN a$n xf ON s.a = xf.node
         |JOIN a$n yf ON s.b = yf.node
         |GROUP BY 1
         |ORDER BY core_degree DESC, product_id ASC""".stripMargin
  }

  /** LPA twin: [[GraphOps.LpaRounds]] synchronous rounds unrolled —
    * per round a neighbor-label frequency aggregate and the
    * deterministic (count DESC, label ASC) argmax, spelled as the
    * row_number()=1 pick against the engine side's struct-max. */
  /** The star CTE + edge set + [[GraphOps.LpaRounds]] unrolled LPA
    * rounds ending at `lp<rounds>` — the shared prefix of the LPA
    * listing and the modularity score. */
  private def lpaChain: String = {
    val n = GraphOps.LpaRounds
    val rounds = (1 to n).map { r =>
      s"""c$r AS (
         |  SELECT s.a AS node, l$r.lab, count(*) AS c
         |  FROM ksym s JOIN lp${r - 1} l$r ON s.b = l$r.node
         |  GROUP BY 1, 2
         |),
         |lp$r AS MATERIALIZED (
         |  SELECT node, lab FROM (
         |    SELECT node, lab,
         |      row_number() OVER (PARTITION BY node ORDER BY c DESC, lab ASC) AS rn
         |    FROM c$r) WHERE rn = 1
         |)""".stripMargin
    }.mkString(",\n")
    graft.etl.Star.oracleCte +
      s""",
         |kedges AS MATERIALIZED (
         |  SELECT a.product_id AS u, b.product_id AS v
         |  FROM sales_fact a JOIN sales_fact b
         |    ON a.order_id = b.order_id AND a.product_id < b.product_id
         |  GROUP BY 1, 2 HAVING count(DISTINCT a.order_id) >= 2
         |),
         |ksym AS MATERIALIZED (
         |  SELECT u AS a, v AS b FROM kedges
         |  UNION ALL SELECT v AS a, u AS b FROM kedges
         |),
         |lp0 AS (SELECT DISTINCT a AS node, a AS lab FROM ksym),
         |$rounds""".stripMargin
  }

  val graphLpa: String =
    s"""$lpaChain
       |SELECT l.node AS product_id, l.lab AS community, sz.community_size
       |FROM lp${GraphOps.LpaRounds} l
       |JOIN (SELECT lab, CAST(count(*) AS BIGINT) AS community_size
       |      FROM lp${GraphOps.LpaRounds} GROUP BY 1) sz USING (lab)
       |ORDER BY community_size DESC, community ASC, product_id ASC""".stripMargin

  /** Modularity twin: the same exact-integer margins (m, e_c, d_c)
    * over the shared LPA chain and the identical two-division q_term
    * spelling. */
  val graphModularity: String = {
    val n = GraphOps.LpaRounds
    s"""$lpaChain,
       |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM kedges),
       |ein AS (
       |  SELECT lu.lab, CAST(count(*) AS BIGINT) AS internal_edges
       |  FROM kedges e
       |  JOIN lp$n lu ON e.u = lu.node
       |  JOIN lp$n lv ON e.v = lv.node
       |  WHERE lu.lab = lv.lab
       |  GROUP BY 1
       |),
       |deg AS (SELECT a AS node, CAST(count(*) AS BIGINT) AS d FROM ksym GROUP BY 1),
       |dtot AS (
       |  SELECT l.lab, CAST(count(*) AS BIGINT) AS n_nodes,
       |         CAST(sum(g.d) AS BIGINT) AS total_degree
       |  FROM lp$n l JOIN deg g ON l.node = g.node
       |  GROUP BY 1
       |)
       |SELECT t.lab AS community, t.n_nodes,
       |  coalesce(e.internal_edges, 0) AS internal_edges, t.total_degree,
       |  CAST(coalesce(e.internal_edges, 0) AS DOUBLE) / CAST(mm.m AS DOUBLE)
       |    - (CAST(t.total_degree AS DOUBLE) / CAST(mm.m * 2 AS DOUBLE))
       |      * (CAST(t.total_degree AS DOUBLE) / CAST(mm.m * 2 AS DOUBLE)) AS q_term
       |FROM dtot t LEFT JOIN ein e USING (lab), mm
       |ORDER BY community""".stripMargin
  }

  /** Bloom-semi-join twin: the oracle is the PLAIN semi-join — the bloom
    * prefilter must be invisible in the result (false positives removed
    * by the exact join), so any divergence here is a real defect. */
  val bloomSemiJoin: String =
    s"""SELECT l_returnflag,
       |  CAST(count(*) AS BIGINT) AS n_items,
       |  CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
       |  CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
       |    AS revenue_cents
       |FROM lineitem
       |WHERE l_orderkey IN (
       |  SELECT o_orderkey FROM orders
       |  WHERE o_orderpriority = '1-URGENT'
       |    AND year(CAST(o_orderdate AS DATE)) = 1997)
       |GROUP BY l_returnflag
       |ORDER BY l_returnflag""".stripMargin

  /** Trailing-window twin: the oracle is the NAIVE inequality join the
    * engine's bucketed plan must be row-identical to. Self-exclusion
    * sits in the ON clause (a WHERE would drop probe rows whose only
    * match is themselves). */
  val rangeJoinTrailing: String =
    s"""WITH o AS (
       |  SELECT o_orderkey, o_custkey,
       |    CAST(floor(o_totalprice * 100) AS BIGINT) AS price_cents,
       |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day
       |  FROM orders
       |)
       |SELECT a.o_orderkey,
       |  CAST(count(b.o_orderkey) AS BIGINT) AS n_prior_30d,
       |  CAST(coalesce(sum(b.price_cents), 0) AS BIGINT) AS spend_prior_30d_cents,
       |  max(b.day) AS last_prior_day
       |FROM o a LEFT JOIN o b
       |  ON a.o_custkey = b.o_custkey AND b.o_orderkey != a.o_orderkey
       | AND b.day > a.day - 30 AND b.day <= a.day
       |GROUP BY a.o_orderkey
       |ORDER BY a.o_orderkey""".stripMargin

  /** Packing twin: the NAIVE global prefix sum — one unpartitioned
    * window over the whole corpus — which the engine's two-pass
    * bucketed scan must reproduce value-for-value. `//` is DuckDB floor
    * division; the Spark side uses `div` (both exact integer ops on
    * non-negative BIGINTs). Budget mirrors [[PackOps.DefaultBudget]]. */
  val packSequences: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS BIGINT)
       |      AS n_tokens,
       |    ${h32("'pack:' || CAST(doc_id AS STRING)")} AS h
       |  FROM documents
       |),
       |c AS (
       |  SELECT doc_id, n_tokens,
       |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY h, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS global_start
       |  FROM t
       |)
       |SELECT doc_id, n_tokens, global_start,
       |  global_start // ${PackOps.DefaultBudget} AS pack_first,
       |  (global_start + n_tokens - 1) // ${PackOps.DefaultBudget} AS pack_last,
       |  (global_start + n_tokens - 1) // ${PackOps.DefaultBudget}
       |    - global_start // ${PackOps.DefaultBudget} + 1 AS packs_spanned
       |FROM c
       |ORDER BY global_start""".stripMargin

  /** Redaction twin: the regex constants embed VERBATIM (DuckDB string
    * literals do not process backslashes; the Spark side avoids expr()
    * for the same reason) and the injected-span expression is the
    * SHARED [[ScrubOps.InjectExpr]] string. RE2 needs the 'g' flag to
    * replace all matches — Spark's regexp_replace always does. */
  val redactPii: String = {
    import ScrubOps.{EmailPattern, UrlPattern, Ipv4Pattern, InjectExpr}
    s"""WITH aug AS (
       |  SELECT doc_id, ${InjectExpr} AS text FROM documents
       |),
       |s1 AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_extract_all(text, '$UrlPattern')) AS INT) AS n_url,
       |    regexp_replace(text, '$UrlPattern', '[URL]', 'g') AS t1
       |  FROM aug
       |),
       |s2 AS (
       |  SELECT doc_id, n_url,
       |    CAST(len(regexp_extract_all(t1, '$EmailPattern')) AS INT) AS n_email,
       |    regexp_replace(t1, '$EmailPattern', '[EMAIL]', 'g') AS t2
       |  FROM s1
       |)
       |SELECT doc_id, n_email, n_url,
       |  CAST(len(regexp_extract_all(t2, '$Ipv4Pattern')) AS INT) AS n_ip,
       |  regexp_replace(t2, '$Ipv4Pattern', '[IP]', 'g') AS redacted
       |FROM s2
       |ORDER BY doc_id""".stripMargin
  }

  /** Decontamination twin: same split CTE as [[splitAssign]], same
    * distinct-shingle CTE as the dedup family; containment = matched /
    * total over the train side only. */
  val decontaminate: String =
    s"""$shingleBase,
       |split AS (
       |  SELECT doc_id,
       |    CASE WHEN h % 100 < 80 THEN 'train'
       |         WHEN h % 100 < 90 THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM (SELECT doc_id,
       |          ${h32("'split:' || CAST(doc_id AS VARCHAR)")} AS h
       |        FROM documents)
       |),
       |train_sh AS (
       |  SELECT s.doc_id, s.sh FROM shingles s
       |  JOIN split p ON s.doc_id = p.doc_id AND p.split = 'train'
       |),
       |test_sh AS (
       |  SELECT DISTINCT s.sh FROM shingles s
       |  JOIN split p ON s.doc_id = p.doc_id AND p.split = 'test'
       |),
       |scored AS (
       |  SELECT t.doc_id,
       |         CAST(count(*) AS INT) AS n_shingles,
       |         CAST(sum(CASE WHEN e.sh IS NOT NULL THEN 1 ELSE 0 END) AS INT)
       |           AS n_matched
       |  FROM train_sh t LEFT JOIN test_sh e ON t.sh = e.sh
       |  GROUP BY t.doc_id
       |)
       |SELECT d.doc_id,
       |  COALESCE(s.n_shingles, 0) AS n_shingles,
       |  COALESCE(s.n_matched, 0) AS n_matched,
       |  CAST(s.n_matched AS DOUBLE) / CAST(s.n_shingles AS DOUBLE) AS containment
       |FROM (SELECT doc_id FROM split WHERE split = 'train') d
       |LEFT JOIN scored s ON d.doc_id = s.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** Mixture-sampling twin: the per-source ppm CASE is the SHARED
    * [[SampleOps.RatePpmExpr]] string — a rate edit updates both
    * engines or neither. */
  val sampleMixture: String =
    s"""SELECT doc_id, source, ${SampleOps.RatePpmExpr} AS rate_ppm
       |FROM (
       |  SELECT doc_id, source,
       |    ${h32("'mix:' || CAST(doc_id AS STRING)")} AS h
       |  FROM documents
       |)
       |WHERE h % 1000000 < ${SampleOps.RatePpmExpr}
       |ORDER BY doc_id""".stripMargin

  /** Temperature-sampling twin: the identical rate derivation — the
    * normalizer Σ√n is the same LEFT FOLD over the source-sorted
    * (source, n) list (a plain SUM would add doubles in scan order),
    * and the rate expression repeats the engine's operation order
    * token for token, so the floored ppm cannot differ. */
  val sampleTemperature: String =
    s"""WITH sizes AS (
       |  SELECT source, count(*) AS n FROM documents GROUP BY source
       |),
       |tot AS (
       |  SELECT CAST(sum(n) AS BIGINT) AS corpus_n,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(list_sort(list(struct_pack(source := source, n := n))),
       |        sw -> sqrt(CAST(sw.n AS DOUBLE)))),
       |      (aw, vw) -> aw + vw) AS sumw
       |  FROM sizes
       |),
       |rates AS (
       |  SELECT s.source,
       |    CAST(floor(least(CAST(1 AS DOUBLE),
       |      CAST(0.5 AS DOUBLE) * CAST(t.corpus_n AS DOUBLE) * sqrt(CAST(s.n AS DOUBLE))
       |      / t.sumw / CAST(s.n AS DOUBLE)) * 1000000) AS BIGINT) AS rate_ppm
       |  FROM sizes s, tot t
       |)
       |SELECT d.doc_id, d.source, r.rate_ppm
       |FROM (
       |  SELECT doc_id, source,
       |    ${h32("'temp:' || CAST(doc_id AS STRING)")} AS h
       |  FROM documents
       |) d
       |JOIN rates r ON d.source = r.source
       |WHERE d.h % 1000000 < r.rate_ppm
       |ORDER BY d.doc_id""".stripMargin

  /** Chunking twin. DuckDB `list_slice(l, b, e)` is INCLUSIVE of `e`
    * (vs Spark `slice(arr, start, length)`), hence `e = i·S + W`; both
    * clamp at the array end, so the tail chunk shortens identically. */
  val chunkWindows: String = {
    val w = ChunkOps.Window
    val s = ChunkOps.Stride
    s"""WITH base AS (
       |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ws
       |  FROM documents
       |), idx AS (
       |  SELECT doc_id, ws,
       |    unnest(range(0, CASE WHEN len(ws) <= $w THEN 1
       |                        ELSE 1 + (len(ws) - $w + ${s - 1}) // $s END)) AS i
       |  FROM base
       |), chunks AS (
       |  SELECT doc_id, i, list_slice(ws, 1 + i * $s, i * $s + $w) AS toks
       |  FROM idx
       |)
       |SELECT doc_id, CAST(i + 1 AS INT) AS chunk_id,
       |  CAST(i * $s + 1 AS INT) AS start_tok,
       |  CAST(len(toks) AS INT) AS n_tok,
       |  ${h32("array_to_string(toks, ' ')", "ck")} AS chunk_hash
       |FROM chunks
       |ORDER BY doc_id, chunk_id""".stripMargin
  }

  /** Boilerplate-strip twin: identical non-overlapping windows, df over
    * the same paragraph hash, FILTERed aggregates for the rebuild (the
    * engine's collect_list-of-CASE drops nulls; DuckDB's FILTER clause
    * is the same selection). */
  val boilerplateStrip: String = {
    val p = ChunkOps.Para
    s"""WITH base AS (
       |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ws
       |  FROM documents
       |), idx AS (
       |  SELECT doc_id, ws,
       |    unnest(range(0, 1 + CASE WHEN len(ws) <= $p THEN 0
       |                        ELSE (len(ws) - 1) // $p END)) AS i
       |  FROM base
       |), paras AS (
       |  SELECT doc_id, CAST(i + 1 AS INT) AS para_id,
       |    len(list_slice(ws, 1 + i * $p, (i + 1) * $p)) AS n_tok,
       |    array_to_string(list_slice(ws, 1 + i * $p, (i + 1) * $p), ' ') AS pt
       |  FROM idx
       |), phs AS (
       |  SELECT paras.*, ${h32("pt", "bp")} AS phash FROM paras
       |), dfreq AS (
       |  SELECT phash, count(DISTINCT doc_id) AS df FROM phs GROUP BY 1
       |), j AS (
       |  SELECT p.doc_id, p.para_id, p.n_tok, p.pt, d.df < 2 AS kept
       |  FROM phs p JOIN dfreq d USING (phash)
       |)
       |SELECT doc_id,
       |  CAST(count(*) AS INT) AS n_paras,
       |  CAST(count(*) FILTER (WHERE kept) AS INT) AS n_kept,
       |  CAST(coalesce(sum(n_tok) FILTER (WHERE kept), 0) AS BIGINT) AS kept_tokens,
       |  ${h32("coalesce(array_to_string(list(pt ORDER BY para_id) " +
             "FILTER (WHERE kept), ' '), '')", "bk")} AS kept_hash
       |FROM j
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin
  }

  /** Quota twin: the readable row_number window over the same
    * quality_score formula [[textStats]] pins (verbatim copy — the
    * Spark side computes it once in `TextOps.withTextSignals`). */
  val sourceQuota: String =
    s"""WITH scored AS (
       |  SELECT doc_id, source,
       |    0.3 * (CAST(n_alpha AS DOUBLE) / n_chars) + 0.3 * stop_ratio
       |      + 0.4 * least(1.0, CAST(n_tokens AS DOUBLE) / 200.0)
       |      - 0.2 * (CAST(n_punct AS DOUBLE) / n_chars) AS quality_score
       |  FROM (
       |    SELECT doc_id, source, n_chars,
       |      len(ws) AS n_tokens,
       |      length(lower(text)) - length(regexp_replace(lower(text), '[a-z]', '', 'g')) AS n_alpha,
       |      length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct,
       |      CAST(len(list_filter(ws, wq -> wq IN ($stopEn))) AS DOUBLE) / len(ws) AS stop_ratio
       |    FROM (SELECT doc_id, source, text, n_chars,
       |            string_split_regex(trim(lower(text)), '\\s+') AS ws FROM documents)
       |  )
       |), ranked AS (
       |  SELECT source, doc_id, quality_score,
       |    ROW_NUMBER() OVER (
       |      PARTITION BY source ORDER BY quality_score DESC, doc_id
       |    ) AS quota_rank
       |  FROM scored
       |)
       |SELECT source, CAST(quota_rank AS INT) AS quota_rank, doc_id, quality_score
       |FROM ranked WHERE quota_rank <= 30
       |ORDER BY source, quota_rank""".stripMargin

  /** CMS twin: identical salted-hash bucketing and integer counters;
    * the estimate is the same MIN over the 4 sketch rows. */
  /** HLL twin: identical integer path — shared ρ CASE chain, bucket
    * max, Σ 2^(27−ρ) shift-sum — and the one shared α·m² double
    * literal (CAST to DOUBLE: a bare decimal literal would put DuckDB
    * in decimal arithmetic). */
  val sketchHll: String = {
    val wDiv = 1L << SketchOps.HllWBits
    val twoPow27 = 1L << (SketchOps.HllWBits + 1)
    val est = s"""CAST(${SketchOps.HllAlphaM2} AS DOUBLE) * CAST($twoPow27 AS DOUBLE)
       |      / CAST(s.t_present + (${SketchOps.HllM} - s.n_buckets) * $twoPow27 AS DOUBLE)""".stripMargin
    s"""WITH hashed AS (
       |  SELECT event_type, ${h32("CAST(user_id AS VARCHAR)", "hl")} AS h
       |  FROM events
       |),
       |rho AS (
       |  SELECT event_type, CAST(h // $wDiv AS INT) AS bucket,
       |    ${SketchOps.hllRhoCase(s"(h % $wDiv)")} AS rho
       |  FROM hashed
       |),
       |per_bucket AS (
       |  SELECT event_type, bucket, max(rho) AS mrho
       |  FROM rho GROUP BY 1, 2
       |),
       |sketch AS (
       |  SELECT event_type,
       |    sum(CAST(1 AS BIGINT) << (${SketchOps.HllWBits + 1} - mrho)) AS t_present,
       |    count(*) AS n_buckets
       |  FROM per_bucket GROUP BY 1
       |),
       |exact AS (
       |  SELECT event_type, count(DISTINCT user_id) AS n_exact
       |  FROM events GROUP BY 1
       |)
       |SELECT event_type, n_exact, hll_estimate, n_empty_buckets,
       |  abs(hll_estimate - CAST(n_exact AS DOUBLE))
       |    / CAST(n_exact AS DOUBLE) AS rel_err
       |FROM (
       |  SELECT event_type, n_exact, n_empty_buckets,
       |    CASE WHEN e_raw <= CAST(${SketchOps.HllSmallRange} AS DOUBLE)
       |           AND n_empty_buckets > 0
       |         THEN ${SketchOps.hllLinearCountCase("n_empty_buckets")}
       |         ELSE e_raw END AS hll_estimate
       |  FROM (
       |    SELECT s.event_type, e.n_exact,
       |      $est AS e_raw,
       |      CAST(${SketchOps.HllM} - s.n_buckets AS INT) AS n_empty_buckets
       |    FROM sketch s JOIN exact e ON s.event_type = e.event_type
       |  )
       |)
       |ORDER BY event_type""".stripMargin
  }

  /** Trailing-window HLL twin: the identical integer path as
    * [[sketchHll]], with the window merge spelled exactly as the Spark
    * side does it — daily (day, bucket, max-ρ) sketch rows exploded to
    * their covered days and bucket-wise max-merged — and the exact
    * trailing distinct via the same coverage trick on raw users (the
    * [[graft.etl.EtlOracleSql.rollingActive]] `wau_7` spelling). */
  val sketchHllWindow: String = {
    val wDiv = 1L << SketchOps.HllWBits
    val twoPow27 = 1L << (SketchOps.HllWBits + 1)
    val span = SketchOps.TrailingDays
    val est = s"""CAST(${SketchOps.HllAlphaM2} AS DOUBLE) * CAST($twoPow27 AS DOUBLE)
       |      / CAST(s.t_present + (${SketchOps.HllM} - s.n_buckets) * $twoPow27 AS DOUBLE)""".stripMargin
    s"""WITH act AS (
       |  SELECT CAST(ts AS DATE) AS day, user_id FROM events
       |),
       |hashed AS (
       |  SELECT day, ${h32("CAST(user_id AS VARCHAR)", "hw")} AS h FROM act
       |),
       |daily AS (
       |  SELECT day, CAST(h // $wDiv AS INT) AS bucket,
       |    max(${SketchOps.hllRhoCase(s"(h % $wDiv)")}) AS mrho
       |  FROM hashed GROUP BY 1, 2
       |),
       |merged AS (
       |  SELECT d.day + CAST(o AS INT) AS day, d.bucket, max(d.mrho) AS mrho
       |  FROM daily d, LATERAL (SELECT unnest(range(0, $span)) AS o)
       |  GROUP BY 1, 2
       |),
       |sketch AS (
       |  SELECT day,
       |    sum(CAST(1 AS BIGINT) << (${SketchOps.HllWBits + 1} - mrho)) AS t_present,
       |    count(*) AS n_buckets
       |  FROM merged GROUP BY 1
       |),
       |cov AS (
       |  SELECT a.user_id, a.day + CAST(o AS INT) AS day
       |  FROM (SELECT DISTINCT user_id, day FROM act) a,
       |       LATERAL (SELECT unnest(range(0, $span)) AS o)
       |),
       |exact AS (
       |  SELECT day, count(DISTINCT user_id) AS n_exact FROM cov GROUP BY 1
       |)
       |SELECT CAST(day AS TIMESTAMP) AS day, n_exact, hll_estimate,
       |  n_empty_buckets,
       |  abs(hll_estimate - CAST(n_exact AS DOUBLE))
       |    / CAST(n_exact AS DOUBLE) AS rel_err
       |FROM (
       |  SELECT day, n_exact, n_empty_buckets,
       |    CASE WHEN e_raw <= CAST(${SketchOps.HllSmallRange} AS DOUBLE)
       |           AND n_empty_buckets > 0
       |         THEN ${SketchOps.hllLinearCountCase("n_empty_buckets")}
       |         ELSE e_raw END AS hll_estimate
       |  FROM (
       |    SELECT s.day, e.n_exact,
       |      $est AS e_raw,
       |      CAST(${SketchOps.HllM} - s.n_buckets AS INT) AS n_empty_buckets
       |    FROM sketch s
       |    JOIN exact e ON s.day = e.day
       |    WHERE s.day IN (SELECT day FROM act)
       |  )
       |)
       |ORDER BY day""".stripMargin
  }

  /** Late-data replay twin ([[graft.streaming.LateData]]): identical
    * integer path — md5-contract transport delay, 6 h arrival batching,
    * exclusive running max of per-batch event-time maxima minus the
    * delay, window-end-vs-watermark verdict — spelled as a grid +
    * window formulation over the closed log. */
  val streamLateData: String = {
    val lt = graft.streaming.LateData
    s"""WITH ev AS (
       |  SELECT event_id, epoch_ms(ts) AS ts_ms FROM events
       |),
       |arr AS (
       |  SELECT ts_ms,
       |    (ts_ms + (${h32("CAST(event_id AS VARCHAR)", "ld")} % ${lt.MaxTransportMs}))
       |      // ${lt.TriggerMs} AS abs_batch
       |  FROM ev
       |),
       |b AS (
       |  SELECT ts_ms,
       |    abs_batch - (SELECT min(abs_batch) FROM arr) AS batch
       |  FROM arr
       |),
       |pb AS (SELECT batch, max(ts_ms) AS bmax FROM b GROUP BY 1),
       |wm AS (
       |  SELECT batch,
       |    greatest(coalesce(max(bmax) OVER (
       |        ORDER BY batch ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |      0) - ${lt.DelayMs}, 0) AS watermark_ms
       |  FROM pb
       |)
       |SELECT b.batch, CAST(count(*) AS BIGINT) AS n_events,
       |  CAST(sum(CASE WHEN (ts_ms // ${lt.WindowMs}) * ${lt.WindowMs} + ${lt.WindowMs}
       |                     <= wm.watermark_ms THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
       |  CAST(sum(CASE WHEN (ts_ms // ${lt.WindowMs}) * ${lt.WindowMs} + ${lt.WindowMs}
       |                     <= wm.watermark_ms THEN 0 ELSE 1 END) AS BIGINT) AS n_admitted,
       |  wm.watermark_ms
       |FROM b JOIN wm USING (batch)
       |GROUP BY b.batch, wm.watermark_ms
       |ORDER BY batch""".stripMargin
  }

  val cmsHeavyHitters: String = {
    val d = SketchOps.Depth
    val wd = SketchOps.Width
    s"""WITH words AS (
       |  SELECT w
       |  FROM (SELECT string_split_regex(trim(lower(text)), '\\s+') AS ws
       |        FROM documents),
       |       LATERAL (SELECT unnest(ws) AS w)
       |), hrows AS (
       |  SELECT unnest(range(0, $d)) AS r
       |), exact AS (
       |  SELECT w AS term, count(*) AS exact_cnt FROM words GROUP BY 1
       |), top AS (
       |  SELECT term, exact_cnt FROM exact ORDER BY exact_cnt DESC, term LIMIT 20
       |), sketch AS (
       |  SELECT r, ${h32("'cms' || CAST(r AS VARCHAR) || ':' || w", "cs")} % $wd AS bucket,
       |    count(*) AS cnt
       |  FROM words CROSS JOIN hrows
       |  GROUP BY 1, 2
       |), probes AS (
       |  SELECT term, exact_cnt, r,
       |    ${h32("'cms' || CAST(r AS VARCHAR) || ':' || term", "cp")} % $wd AS bucket
       |  FROM top CROSS JOIN hrows
       |)
       |SELECT term, exact_cnt, min(cnt) AS est_cnt,
       |  min(cnt) - exact_cnt AS overcount
       |FROM probes JOIN sketch USING (r, bucket)
       |GROUP BY term, exact_cnt
       |ORDER BY exact_cnt DESC, term""".stripMargin
  }

  /** Streaming CMS replay twin: because CMS counters are order-
    * independent sums, the state after batch b is the sketch of the
    * prefix corpus — so the procedural merge loop the engine runs is
    * checkable as a (cell × batch) grid with cumulative sums. Missing
    * cells probe as 0 at every prefix, same as the engine's left join. */
  lazy val streamCmsTopK: String = {
    val d = SketchOps.Depth; val wd = SketchOps.Width
    val b = SketchOps.ReplayBatches
    s"""WITH bs AS (SELECT (max(doc_id) + $b) // $b AS sz FROM documents),
       |words AS (
       |  SELECT CAST(doc_id // (SELECT sz FROM bs) AS INT) AS batch, w
       |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ws
       |        FROM documents),
       |       LATERAL (SELECT unnest(ws) AS w)
       |),
       |hrows AS (SELECT unnest(range($d)) AS r),
       |batches AS (SELECT CAST(unnest(range($b)) AS INT) AS batch),
       |probes AS (
       |  SELECT w AS term FROM words GROUP BY 1
       |  ORDER BY count(*) DESC, term LIMIT 20
       |),
       |percell AS (
       |  SELECT r, ${h32("'cms' || CAST(r AS VARCHAR) || ':' || w", "sc")} % $wd AS bucket,
       |    batch, count(*) AS c
       |  FROM words CROSS JOIN hrows
       |  GROUP BY 1, 2, 3
       |),
       |cellgrid AS (
       |  SELECT c.r, c.bucket, b.batch
       |  FROM (SELECT DISTINCT r, bucket FROM percell) c CROSS JOIN batches b
       |),
       |cum AS (
       |  SELECT g.r, g.bucket, g.batch,
       |    CAST(sum(COALESCE(p.c, 0)) OVER (PARTITION BY g.r, g.bucket
       |      ORDER BY g.batch) AS BIGINT) AS cnt
       |  FROM cellgrid g LEFT JOIN percell p
       |    ON p.r = g.r AND p.bucket = g.bucket AND p.batch = g.batch
       |),
       |probecells AS (
       |  SELECT term, r,
       |    ${h32("'cms' || CAST(r AS VARCHAR) || ':' || term", "sp")} % $wd AS bucket
       |  FROM probes CROSS JOIN hrows
       |),
       |ests AS (
       |  SELECT pc.term, b.batch,
       |    CAST(min(COALESCE(cm.cnt, 0)) AS BIGINT) AS est_cnt
       |  FROM probecells pc CROSS JOIN batches b
       |  LEFT JOIN cum cm ON cm.r = pc.r AND cm.bucket = pc.bucket
       |    AND cm.batch = b.batch
       |  GROUP BY 1, 2
       |),
       |exact AS (
       |  SELECT p.term, b.batch,
       |    CAST(sum(COALESCE(w.c, 0)) OVER (PARTITION BY p.term
       |      ORDER BY b.batch) AS BIGINT) AS exact_prefix
       |  FROM probes p CROSS JOIN batches b
       |  LEFT JOIN (SELECT w AS term, batch, count(*) AS c
       |             FROM words GROUP BY 1, 2) w
       |    ON w.term = p.term AND w.batch = b.batch
       |)
       |SELECT e.batch, e.term, x.exact_prefix, e.est_cnt,
       |  e.est_cnt - x.exact_prefix AS overcount
       |FROM ests e JOIN exact x ON x.term = e.term AND x.batch = e.batch
       |ORDER BY e.batch, e.term""".stripMargin
  }

  /** Shared quantization CTE: scale = max|x|/127 (left-fold amax),
    * q_i = ⌊x_i/scale + 0.5⌋ — floor(x+0.5), never round(), whose
    * half-even/half-up double behavior differs between engines. */
  private val quantCte: String =
    s"""quant AS (
       |  SELECT vec_id, embedding, scale,
       |    list_transform(embedding, xq -> CASE WHEN scale = CAST(0 AS DOUBLE) THEN 0
       |      ELSE CAST(floor(CAST(xq AS DOUBLE) / scale + CAST(0.5 AS DOUBLE)) AS INT) END) AS q
       |  FROM (
       |    SELECT vec_id, embedding,
       |      list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |        list_transform(embedding, xa -> abs(CAST(xa AS DOUBLE)))),
       |        (aa, va) -> greatest(aa, va)) / ${VectorOps.QMax} AS scale
       |    FROM embeddings
       |  )
       |)""".stripMargin

  val quantizeSummary: String =
    s"""WITH $quantCte
       |SELECT vec_id, scale,
       |  list_reduce(list_prepend(2147483647, q), (a1, v1) -> least(a1, v1)) AS q_min,
       |  list_reduce(list_prepend(-2147483648, q), (a2, v2) -> greatest(a2, v2)) AS q_max,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(q, x3 -> CAST(x3 AS BIGINT))), (a3, v3) -> a3 + v3) AS q_sum,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(q, x4 -> CAST(abs(x4) AS BIGINT))), (a4, v4) -> a4 + v4) AS q_l1,
       |  list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |    list_transform(list_zip(q, embedding),
       |      z5 -> abs(CAST(z5[1] AS DOUBLE) * scale - CAST(z5[2] AS DOUBLE)))),
       |    (a5, v5) -> greatest(a5, v5)) AS max_abs_err
       |FROM quant
       |ORDER BY vec_id""".stripMargin

  /** One unrolled Lloyd iteration for the k-means twin: distances to
    * the previous centroids, argmin assignment (ties → lowest
    * cent_id), integer per-coordinate sums. `src` is the training
    * frame — the whole corpus for the batch twins, the bootstrap
    * range for the incremental-index twin ([[streamAnnIndex]]). */
  private def lloydIter(prev: String, n: Int): String =
    lloydIterOver("quant", prev, n)

  private def lloydIterOver(src: String, prev: String, n: Int): String =
    s"""d$n AS (
       |  SELECT qt.vec_id, qt.q, c.cent_id,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(list_zip(qt.q, c.cv),
       |        zd$n -> (CAST(zd$n[1] AS DOUBLE) - zd$n[2]) * (CAST(zd$n[1] AS DOUBLE) - zd$n[2]))),
       |      (ad$n, vd$n) -> ad$n + vd$n) AS d2
       |  FROM $src qt CROSS JOIN $prev c
       |), a$n AS (
       |  SELECT vec_id, q, cent_id FROM d$n
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) = 1
       |), m$n AS (
       |  SELECT cent_id, u.pos, sum(u.qv) AS s, count(*) AS n_members
       |  FROM a$n,
       |       LATERAL (SELECT unnest(q) AS qv, generate_subscripts(q, 1) AS pos) u
       |  GROUP BY 1, 2
       |), c$n AS (
       |  SELECT cent_id, list(CAST(s AS DOUBLE) / n_members ORDER BY pos) AS cv
       |  FROM m$n GROUP BY cent_id
       |)""".stripMargin

  /** k-means twin: 2 unrolled Lloyd iterations from the `vec_id < 8`
    * seed, all cross-row arithmetic integer-exact (see
    * [[graft.ext.VectorOps]] scaladoc for why quantize-first is what
    * makes a cross-engine-reproducible k-means possible at all). */
  val kmeansRefine: String =
    s"""WITH $quantCte,
       |c0 AS (
       |  SELECT vec_id AS cent_id, list_transform(q, xc -> CAST(xc AS DOUBLE)) AS cv
       |  FROM quant WHERE vec_id < 8
       |),
       |${lloydIter("c0", 1)},
       |${lloydIter("c1", 2)}
       |SELECT cent_id, CAST(pos AS INT) AS pos,
       |  CAST(s AS DOUBLE) / n_members AS c_val, n_members
       |FROM m2
       |ORDER BY cent_id, pos""".stripMargin

  /** One unrolled Lloyd iteration for the PQ codebooks — [[lloydIter]]
    * with the subspace as an extra key: distances and argmin per
    * (vec_id, sub), member sums per (sub, cent_id, pos). */
  private def pqLloydIter(prev: String, n: Int): String =
    s"""pqd$n AS (
       |  SELECT sv.vec_id, sv.sub, sv.sq, c.cent_id,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(list_zip(sv.sq, c.cv),
       |        zp$n -> (CAST(zp$n[1] AS DOUBLE) - zp$n[2]) * (CAST(zp$n[1] AS DOUBLE) - zp$n[2]))),
       |      (ap$n, vp$n) -> ap$n + vp$n) AS d2
       |  FROM pqsubs sv JOIN $prev c ON sv.sub = c.sub
       |), pqa$n AS (
       |  SELECT vec_id, sub, sq, cent_id FROM pqd$n
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2, cent_id) = 1
       |), pqm$n AS (
       |  SELECT sub, cent_id, u.pos, sum(u.qv) AS s, count(*) AS n_members
       |  FROM pqa$n,
       |       LATERAL (SELECT unnest(sq) AS qv, generate_subscripts(sq, 1) AS pos) u
       |  GROUP BY 1, 2, 3
       |), pqc$n AS (
       |  SELECT sub, cent_id, list(CAST(s AS DOUBLE) / n_members ORDER BY pos) AS cv
       |  FROM pqm$n GROUP BY 1, 2
       |)""".stripMargin

  /** PQ ANN twin: per-subspace codebooks (2 unrolled Lloyd iterations
    * over the integer subvectors), 4-code encoding, then ADC scoring
    * via the same per-query PqM·PqK-slot lookup list and strict left fold
    * in subspace order as [[graft.ext.VectorOps.pqTopK]] — a SUM over
    * joined per-subspace rows would add doubles in engine order and
    * could diverge at the ulp. Slots of Lloyd-dropped centroids fill
    * with 0.0 (unreferenced by construction). */
  /** The PQ index chain (subvectors → 2 Lloyd iterations → codes →
    * per-query lookup tables), shared by the whole-corpus ADC twin
    * ([[simPqTopK]]) and the IVF-routed one ([[simIvfPq]]). Assumes
    * `quant` is in scope; ends at `codes` and `qlut`. */
  private def pqChainCtes: String = {
    val m = VectorOps.PqM; val d = VectorOps.PqSubDim; val k = VectorOps.PqK
    s"""pqsubs AS (
       |  SELECT vec_id, s.sub, q[$d * s.sub + 1 : $d * (s.sub + 1)] AS sq
       |  FROM quant, (SELECT unnest(range($m)) AS sub) s
       |),
       |pqc0 AS (
       |  SELECT sub, vec_id AS cent_id, list_transform(sq, xc -> CAST(xc AS DOUBLE)) AS cv
       |  FROM pqsubs WHERE vec_id < $k
       |),
       |${pqLloydIter("pqc0", 1)},
       |${pqLloydIter("pqc1", 2)},
       |pqd3 AS (
       |  SELECT sv.vec_id, sv.sub, c.cent_id,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(list_zip(sv.sq, c.cv),
       |        zp3 -> (CAST(zp3[1] AS DOUBLE) - zp3[2]) * (CAST(zp3[1] AS DOUBLE) - zp3[2]))),
       |      (ap3, vp3) -> ap3 + vp3) AS d2
       |  FROM pqsubs sv JOIN pqc2 c ON sv.sub = c.sub
       |),
       |codes AS (
       |  SELECT vec_id, list(cent_id ORDER BY sub) AS codes
       |  FROM (SELECT vec_id, sub, cent_id FROM pqd3
       |        QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id, sub
       |          ORDER BY d2, cent_id) = 1)
       |  GROUP BY vec_id
       |),
       |grid AS (
       |  SELECT s.sub, c.cent_id
       |  FROM (SELECT unnest(range($m)) AS sub) s,
       |       (SELECT unnest(range($k)) AS cent_id) c
       |),
       |qlut AS (
       |  SELECT query_id, list(ld2 ORDER BY sub * $k + cent_id) AS lut
       |  FROM (
       |    SELECT qv.vec_id AS query_id, g.sub, g.cent_id,
       |      CASE WHEN cb.cent_id IS NULL THEN CAST(0 AS DOUBLE) ELSE
       |        list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |          list_transform(list_zip(qv.q[$d * g.sub + 1 : $d * (g.sub + 1)], cb.cv),
       |            zl -> (CAST(zl[1] AS DOUBLE) - zl[2]) * (CAST(zl[1] AS DOUBLE) - zl[2]))),
       |          (al, vl) -> al + vl) END AS ld2
       |    FROM (SELECT vec_id, q FROM quant WHERE vec_id < 8) qv
       |    CROSS JOIN grid g
       |    LEFT JOIN pqc2 cb ON cb.sub = g.sub AND cb.cent_id = g.cent_id
       |  )
       |  GROUP BY query_id
       |)""".stripMargin
  }

  /** The ADC fold as SQL: 4 lut lookups summed in strict subspace
    * order, matching [[graft.ext.VectorOps]]' `adcFoldExpr`. */
  private def adcFoldSql(lut: String, codes: String): String = {
    val m = VectorOps.PqM; val k = VectorOps.PqK
    s"""list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(range($m),
       |        sa -> $lut[sa * $k + $codes[sa + 1] + 1])),
       |      (aa2, va2) -> aa2 + va2)""".stripMargin
  }

  val simPqTopK: String =
    s"""WITH $quantCte,
       |$pqChainCtes,
       |adc AS (
       |  SELECT q.query_id, c.vec_id AS neighbor_id,
       |    ${adcFoldSql("q.lut", "c.codes")} AS approx_d2
       |  FROM codes c JOIN qlut q ON c.vec_id <> q.query_id
       |)
       |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, approx_d2
       |FROM (
       |  SELECT query_id, neighbor_id, approx_d2,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY approx_d2 ASC, neighbor_id ASC) AS rank
       |  FROM adc
       |)
       |WHERE rank <= 3
       |ORDER BY query_id, rank""".stripMargin

  /** Quantized-scoring ANN twin: same sign-LSH buckets, integer code
    * dot product, and the identical `(qdot·sa·sb)/(na·nb)` operation
    * order. */
  val simQuantizedTopK: String =
    s"""WITH $quantCte,
       |eq AS (
       |  SELECT vec_id, embedding, scale, q,
       |    sqrt(${dot("embedding", "embedding", "qn")}) AS norm,
       |    $bucketSql AS bucket
       |  FROM quant
       |),
       |scored AS (
       |  SELECT a.vec_id AS query_id, a.bucket AS bucket, b.vec_id AS neighbor_id,
       |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(list_zip(a.q, b.q),
       |        zq -> CAST(zq[1] AS BIGINT) * zq[2])),
       |      (aq, vq) -> aq + vq) AS DOUBLE)
       |      * (a.scale * b.scale) / (a.norm * b.norm) AS qscore,
       |    ${dot("a.embedding", "b.embedding", "qd")} / (a.norm * b.norm) AS cos
       |  FROM eq a JOIN eq b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
       |),
       |ranked AS (
       |  SELECT query_id, bucket, neighbor_id, qscore, cos,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY qscore DESC, neighbor_id ASC) AS rank
       |  FROM scored
       |)
       |SELECT query_id, bucket, CAST(rank AS INT) AS rank, neighbor_id, qscore, cos
       |FROM ranked WHERE rank <= 3
       |ORDER BY query_id, rank""".stripMargin

  /** The √n coarse-cell rule as SQL, shared verbatim with
    * [[VectorOps.scaledKCent]] (IEEE sqrt is correctly rounded in both
    * engines, so the cell count can never disagree). */
  private val scaledSeedSql: String =
    "greatest(4, CAST(ceil(sqrt(CAST((SELECT count(*) FROM embeddings) AS DOUBLE))) AS BIGINT))"

  /** Trained-cell CTE chain shared by [[simIvfKmeans]],
    * [[semanticDedup]], and (with the √n seed) the IVF+PQ / mining
    * twins: 2 unrolled Lloyd iterations from the `vec_id < seed` seed,
    * then cell assignment in the trained metric (L2 over int8 codes,
    * ties → lower cent_id) — ends at `cells`
    * (vec_id, embedding, norm, cell). */
  private def trainedCellsCteFor(seed: String): String =
    s"""$quantCte,
       |c0 AS (
       |  SELECT vec_id AS cent_id, list_transform(q, xc -> CAST(xc AS DOUBLE)) AS cv
       |  FROM quant WHERE vec_id < $seed
       |),
       |${lloydIter("c0", 1)},
       |${lloydIter("c1", 2)},
       |en AS (
       |  SELECT vec_id, embedding, sqrt(${dot("embedding", "embedding", "kn")}) AS norm
       |  FROM embeddings
       |),
       |d3 AS (
       |  SELECT qt.vec_id, c.cent_id,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(list_zip(qt.q, c.cv),
       |        zk -> (CAST(zk[1] AS DOUBLE) - zk[2]) * (CAST(zk[1] AS DOUBLE) - zk[2]))),
       |      (ak, vk) -> ak + vk) AS d2
       |  FROM quant qt CROSS JOIN c2 c
       |),
       |cr AS (
       |  SELECT vec_id, cent_id,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) AS crank
       |  FROM d3
       |),
       |cells AS (
       |  SELECT e.vec_id, e.embedding, e.norm, cr.cent_id AS cell
       |  FROM en e JOIN cr ON cr.vec_id = e.vec_id AND cr.crank = 1
       |)""".stripMargin

  /** The legacy fixed-8-cell chain (the oracle-unrolled Lloyd demo's
    * operating point — see [[VectorOps.ivfKmeansTopK]] scaladoc). */
  private val trainedCellsCte: String = trainedCellsCteFor("8")

  /** The production √n-cell chain used by the IVF+PQ and mining twins. */
  private val scaledCellsCte: String = trainedCellsCteFor(scaledSeedSql)

  /** Incremental-ANN-index twin
    * ([[graft.streaming.StreamAnnIndex.incrementalAnnBatch]]): the √n
    * router TRAINED ON THE BOOTSTRAP RANGE ONLY (first of the 4
    * replay batches — 2 Lloyd iterations over `bquant`, seed = the
    * kCent lowest bootstrap vec_ids, kCent = ⌈√|bootstrap|⌉), frozen,
    * then EVERY vector ranked against the frozen centroids (ties →
    * lowest cent_id), crank ≤ StoreNProbe kept. The gate is the
    * incremental ≡ batch equivalence itself: the replay accumulates
    * per-batch assignments; this twin assigns the whole corpus in one
    * pass — identical by construction iff the frozen-centroid kernel
    * is. */
  /** The BOOTSTRAP-trained cell chain shared by [[streamAnnIndex]] and
    * [[streamHybridSearch]]: the √n router trained on the first of the
    * ReplayBatches vec-id ranges only (2 Lloyd iterations over
    * `bquant`, kCent = ⌈√|bootstrap|⌉), frozen, then EVERY vector
    * ranked against it (`cr`) with crank = 1 as the cell (`bcells`). */
  private val bootCellsCte: String = {
    val nB = graft.streaming.StreamAnnIndex.ReplayBatches
    s"""$quantCte,
       |bsz AS (SELECT (max(vec_id) + $nB) // $nB AS b FROM embeddings),
       |bquant AS (SELECT * FROM quant WHERE vec_id < (SELECT b FROM bsz)),
       |bkc AS (SELECT greatest(4, CAST(ceil(sqrt(CAST(count(*) AS DOUBLE)))
       |                AS BIGINT)) AS k FROM bquant),
       |c0 AS (
       |  SELECT vec_id AS cent_id, list_transform(q, xc -> CAST(xc AS DOUBLE)) AS cv
       |  FROM bquant WHERE vec_id < (SELECT k FROM bkc)
       |),
       |${lloydIterOver("bquant", "c0", 1)},
       |${lloydIterOver("bquant", "c1", 2)},
       |d3 AS (
       |  SELECT qt.vec_id, c.cent_id,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(list_zip(qt.q, c.cv),
       |        zs -> (CAST(zs[1] AS DOUBLE) - zs[2]) * (CAST(zs[1] AS DOUBLE) - zs[2]))),
       |      (as_, vs) -> as_ + vs) AS d2
       |  FROM quant qt CROSS JOIN c2 c
       |),
       |cr AS (
       |  SELECT vec_id, cent_id,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cent_id) AS crank
       |  FROM d3
       |),
       |ben AS (
       |  SELECT vec_id, embedding, sqrt(${dot("embedding", "embedding", "bn")}) AS norm
       |  FROM embeddings
       |),
       |bcells AS (
       |  SELECT e.vec_id, e.embedding, e.norm, cr.cent_id AS cell
       |  FROM ben e JOIN cr ON cr.vec_id = e.vec_id AND cr.crank = 1
       |)""".stripMargin
  }

  val streamAnnIndex: String = {
    val nProbe = graft.streaming.StreamAnnIndex.StoreNProbe
    s"""WITH $bootCellsCte
       |SELECT vec_id, CAST(crank AS INT) AS crank, cent_id
       |FROM cr WHERE crank <= $nProbe
       |ORDER BY vec_id, crank""".stripMargin
  }

  /** Retrain twin ([[graft.streaming.StreamAnnIndex.retrainReplay]]):
    * the √n router trained on the FULL corpus in one pass (the
    * [[scaledCellsCte]] chain — kCent = ⌈√n⌉, 2 Lloyd iterations,
    * lowest-vec_id seed), every vector assigned against it. The engine
    * side reaches the same assignment through bootstrap + incremental
    * batches + the generation-2 retrain over the indexed universe —
    * equality proves incremental maintenance never poisons the next
    * generation. */
  val streamAnnRetrain: String = {
    val nProbe = graft.streaming.StreamAnnIndex.StoreNProbe
    s"""WITH $scaledCellsCte
       |SELECT vec_id, CAST(crank AS INT) AS crank, cent_id
       |FROM cr WHERE crank <= $nProbe
       |ORDER BY vec_id, crank""".stripMargin
  }

  /** The churn replays' deterministic delete set, in SQL — every 5th
    * id among the first two batch ranges
    * ([[graft.streaming.StreamAnnIndex.churnDeleteRule]]). */
  private def churnDeleted(idCol: String): String =
    s"($idCol % 5 = 3 AND $idCol < 2 * (SELECT b FROM bsz))"

  /** ANN-retraction twin
    * ([[graft.streaming.StreamAnnIndex.incrementalAnnDeleteBatch]]):
    * the bootstrap-trained frozen router assigning the whole corpus,
    * minus the delete set — what the incremental path must equal after
    * interleaved appends, tombstones, a redelivery of deleted ids, and
    * compaction. */
  val streamAnnDelete: String = {
    val nProbe = graft.streaming.StreamAnnIndex.StoreNProbe
    s"""WITH $bootCellsCte
       |SELECT vec_id, CAST(crank AS INT) AS crank, cent_id
       |FROM cr WHERE crank <= $nProbe
       |  AND NOT ${churnDeleted("vec_id")}
       |ORDER BY vec_id, crank""".stripMargin
  }

  /** Streamed-hybrid twin ([[graft.streaming.StreamHybrid]]): the
    * dense leg through the bootstrap-trained frozen router
    * ([[bootCellsCte]], crank ≤ StoreNProbe probes, both sides
    * document-backed), the capped BM25 twin as the lexical leg, the
    * identical RRF integer fusion — the end-to-end gate that the
    * incrementally-maintained indexes serve the same fused search a
    * one-pass build does. */
  val streamHybridSearch: String = {
    val kD = SimilarityOps.RrfDampK
    val sc = SimilarityOps.RrfScale
    val pool = SimilarityOps.RrfPool
    val k = SimilarityOps.RrfTopK
    val nProbe = graft.streaming.StreamAnnIndex.StoreNProbe
    s"""WITH $bootCellsCte,
       |sscored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    ${dot("q.embedding", "c.embedding", "sh")} / (q.norm * c.norm) AS cos
       |  FROM bcells q
       |  JOIN cr p ON p.vec_id = q.vec_id AND p.crank <= $nProbe
       |  JOIN bcells c ON c.cell = p.cent_id AND c.vec_id <> q.vec_id
       |  WHERE q.vec_id < 8
       |    AND q.vec_id IN (SELECT doc_id FROM documents)
       |    AND c.vec_id IN (SELECT doc_id FROM documents)
       |),
       |sdense AS (
       |  SELECT query_id, neighbor_id, rank FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY cos DESC, neighbor_id ASC) AS rank
       |    FROM sscored) WHERE rank <= $pool
       |),
       |slex AS (
       |  SELECT query_id, doc_id AS neighbor_id, rank
       |  FROM (${bm25Sql(pool, 8)})
       |),
       |sfused AS (
       |  SELECT COALESCE(d.query_id, l.query_id) AS query_id,
       |         COALESCE(d.neighbor_id, l.neighbor_id) AS neighbor_id,
       |         CAST(d.rank AS INT) AS rank_dense,
       |         CAST(l.rank AS INT) AS rank_lex,
       |         CAST(COALESCE($sc // ($kD + d.rank), 0) +
       |              COALESCE($sc // ($kD + l.rank), 0) AS BIGINT) AS rrf_score
       |  FROM sdense d FULL OUTER JOIN slex l
       |    ON d.query_id = l.query_id AND d.neighbor_id = l.neighbor_id
       |)
       |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, rrf_score,
       |       rank_dense, rank_lex
       |FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY rrf_score DESC, neighbor_id ASC) AS rank
       |  FROM sfused)
       |WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Churned-hybrid twin ([[graft.streaming.StreamHybrid
    * .hybridChurnReplay]]): both legs REBUILT FROM SCRATCH on the
    * surviving corpus — the dense leg through the bootstrap-trained
    * router with deleted ids excluded from queries and neighbors, the
    * lexical leg's whole index (postings, lengths, df, stats) built
    * over the surviving documents only — and fused identically. The
    * hash gate proves churn-maintained ≡ rebuilt-on-survivors end to
    * end. */
  val streamHybridChurn: String = {
    val kD = SimilarityOps.RrfDampK
    val sc = SimilarityOps.RrfScale
    val pool = SimilarityOps.RrfPool
    val k = SimilarityOps.RrfTopK
    val nProbe = graft.streaming.StreamAnnIndex.StoreNProbe
    s"""WITH $bootCellsCte,
       |sscored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    ${dot("q.embedding", "c.embedding", "sh")} / (q.norm * c.norm) AS cos
       |  FROM bcells q
       |  JOIN cr p ON p.vec_id = q.vec_id AND p.crank <= $nProbe
       |  JOIN bcells c ON c.cell = p.cent_id AND c.vec_id <> q.vec_id
       |  WHERE q.vec_id < 8
       |    AND NOT ${churnDeleted("q.vec_id")}
       |    AND NOT ${churnDeleted("c.vec_id")}
       |    AND q.vec_id IN (SELECT doc_id FROM documents)
       |    AND c.vec_id IN (SELECT doc_id FROM documents)
       |),
       |sdense AS (
       |  SELECT query_id, neighbor_id, rank FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY cos DESC, neighbor_id ASC) AS rank
       |    FROM sscored) WHERE rank <= $pool
       |),
       |slex AS (
       |  SELECT query_id, doc_id AS neighbor_id, rank
       |  FROM (${bm25Sql(pool, 8, s"NOT ${churnDeleted("doc_id")}")})
       |),
       |sfused AS (
       |  SELECT COALESCE(d.query_id, l.query_id) AS query_id,
       |         COALESCE(d.neighbor_id, l.neighbor_id) AS neighbor_id,
       |         CAST(d.rank AS INT) AS rank_dense,
       |         CAST(l.rank AS INT) AS rank_lex,
       |         CAST(COALESCE($sc // ($kD + d.rank), 0) +
       |              COALESCE($sc // ($kD + l.rank), 0) AS BIGINT) AS rrf_score
       |  FROM sdense d FULL OUTER JOIN slex l
       |    ON d.query_id = l.query_id AND d.neighbor_id = l.neighbor_id
       |)
       |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, rrf_score,
       |       rank_dense, rank_lex
       |FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY rrf_score DESC, neighbor_id ASC) AS rank
       |  FROM sfused)
       |WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Cluster-quality twin: the same sufficient-statistics distortion
    * ([[VectorOps.distortionTermExpr]] verbatim, integer Sx/Sxx per
    * (cell, dim), pos-ordered fold) and centroid-pair separation over
    * [[trainedCellsCte]]'s trained index. */
  val kmeansQuality: String =
    s"""WITH $trainedCellsCte,
       |kqm AS (SELECT vec_id, cent_id FROM cr WHERE crank = 1),
       |perdim AS (
       |  SELECT m.cent_id, u.pos,
       |    CAST(sum(u.qv) AS BIGINT) AS sx,
       |    CAST(sum(u.qv * u.qv) AS BIGINT) AS sxx,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM kqm m JOIN quant qt ON qt.vec_id = m.vec_id,
       |       LATERAL (SELECT unnest(qt.q) AS qv, generate_subscripts(qt.q, 1) AS pos) u
       |  GROUP BY 1, 2
       |),
       |terms AS (
       |  SELECT cent_id, pos, n,
       |    ${VectorOps.distortionTermExpr} AS term
       |  FROM (
       |    SELECT p.cent_id, p.pos, p.n, p.sx, p.sxx, c.cv[p.pos] AS cval
       |    FROM perdim p JOIN c2 c ON c.cent_id = p.cent_id
       |  )
       |),
       |kqd AS (
       |  SELECT cent_id, CAST(max(n) AS BIGINT) AS n_members,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list(term ORDER BY pos)),
       |      (aq, vq) -> aq + vq) AS distortion
       |  FROM terms GROUP BY 1
       |),
       |kqs AS (
       |  SELECT a.cent_id, b.cent_id AS oc,
       |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |      list_transform(list_zip(a.cv, b.cv),
       |        zs -> (zs[1] - zs[2]) * (zs[1] - zs[2]))),
       |      (as1, vs1) -> as1 + vs1) AS d2
       |  FROM c2 a JOIN c2 b ON a.cent_id <> b.cent_id
       |),
       |nearest AS (
       |  SELECT cent_id, oc AS nearest_cent, d2 AS separation_d2 FROM kqs
       |  QUALIFY row_number() OVER (PARTITION BY cent_id ORDER BY d2, oc) = 1
       |)
       |SELECT d.cent_id, d.n_members, d.distortion, ne.nearest_cent, ne.separation_d2
       |FROM kqd d JOIN nearest ne USING (cent_id)
       |ORDER BY cent_id""".stripMargin

  /** IVF-over-trained-centroids twin: [[trainedCellsCte]]'s assignment,
    * nProbe = 2 probing, and exact-cosine re-ranking over the original
    * floats — mirroring [[simIvfTopK]]'s search with [[kmeansRefine]]'s
    * quantizer. */
  val simIvfKmeans: String =
    s"""WITH $trainedCellsCte,
       |probes AS (
       |  SELECT vec_id AS pvid, cent_id AS pcell FROM cr WHERE crank <= 2
       |),
       |scored AS (
       |  SELECT q.vec_id AS query_id, q.cell AS cell, c.vec_id AS neighbor_id,
       |    ${dot("q.embedding", "c.embedding", "ks")} / (q.norm * c.norm) AS cos
       |  FROM cells q
       |  JOIN probes p ON p.pvid = q.vec_id
       |  JOIN cells c ON c.cell = p.pcell AND c.vec_id <> q.vec_id
       |),
       |ranked AS (
       |  SELECT query_id, cell, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY cos DESC, neighbor_id ASC) AS rank
       |  FROM scored
       |)
       |SELECT query_id, cell, CAST(rank AS INT) AS rank, neighbor_id, cos AS score
       |FROM ranked WHERE rank <= 3
       |ORDER BY query_id, rank""".stripMargin

  /** IVF+PQ (IVFADC) twin: the √n-cell [[scaledCellsCte]] assignment
    * routes each query (vec_id < 8) to its `IvfPqNProbe` cells; the
    * [[pqChainCtes]] codes of the probed cells' vectors are ADC-scored
    * against the query's lookup table; the `IvfPqShortlist` best ADC
    * candidates re-rank by the exact float cosine. Ties break to the
    * lower neighbor id at both stages, same as the Spark side. */
  val simIvfPq: String =
    s"""WITH $scaledCellsCte,
       |$pqChainCtes,
       |iprobes AS (
       |  SELECT vec_id AS pvid, cent_id AS pcell FROM cr
       |  WHERE crank <= ${VectorOps.IvfPqNProbe} AND vec_id < 8
       |),
       |cellcodes AS (
       |  SELECT cd.vec_id, cd.codes, cl.cell
       |  FROM codes cd JOIN cells cl ON cl.vec_id = cd.vec_id
       |),
       |adcp AS (
       |  SELECT q.query_id, c.vec_id AS neighbor_id,
       |    ${adcFoldSql("q.lut", "c.codes")} AS approx_d2
       |  FROM qlut q
       |  JOIN iprobes p ON p.pvid = q.query_id
       |  JOIN cellcodes c ON c.cell = p.pcell AND c.vec_id <> q.query_id
       |),
       |shortlist AS (
       |  SELECT query_id, neighbor_id FROM adcp
       |  QUALIFY row_number() OVER (PARTITION BY query_id
       |    ORDER BY approx_d2 ASC, neighbor_id ASC) <= ${VectorOps.IvfPqShortlist}
       |),
       |rr AS (
       |  SELECT s.query_id, s.neighbor_id,
       |    ${dot("qe.embedding", "ne.embedding", "ip")} / (qe.norm * ne.norm) AS cos
       |  FROM shortlist s
       |  JOIN en qe ON qe.vec_id = s.query_id
       |  JOIN en ne ON ne.vec_id = s.neighbor_id
       |)
       |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, cos
       |FROM (
       |  SELECT query_id, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id ASC) AS rank
       |  FROM rr
       |)
       |WHERE rank <= 3
       |ORDER BY query_id, rank""".stripMargin

  /** IVF+PQ recall twin: brute (k=3 over the same 8 queries) vs the
    * composed-index output, the [[simRecall]] comparison shape. Lazy:
    * embeds [[simIvfPq]]. */
  lazy val simIvfPqRecall: String =
    s"""WITH brute AS (
       |  SELECT query_id, neighbor_id FROM (${simTopKSql(3, 8)})
       |),
       |apx AS (
       |  SELECT query_id, neighbor_id FROM ($simIvfPq)
       |),
       |hits AS (
       |  SELECT b.query_id, count(a.neighbor_id) AS n_hits
       |  FROM brute b
       |  LEFT JOIN apx a
       |    ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
       |  GROUP BY b.query_id
       |)
       |SELECT query_id, CAST(n_hits AS BIGINT) AS n_hits,
       |       CAST(n_hits AS DOUBLE) / 3 AS recall_at_3
       |FROM hits
       |ORDER BY query_id""".stripMargin

  /** kNN-eval twin: the same cell-routed candidate generation
    * ([[scaledCellsCte]], crank ≤ MiningNProbe), exact-cosine top-k
    * with the id tie-break, majority vote with the lower-label
    * tie-break, confusion-matrix rollup. */
  lazy val embedKnnEval: String =
    s"""WITH $scaledCellsCte,
       |lab AS (SELECT vec_id, label FROM embeddings),
       |smod AS (SELECT greatest(1, (SELECT count(*) FROM embeddings)
       |                 // ${VectorOps.KnnEvalQueryCap}) AS m),
       |knc AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, l.label AS nlabel,
       |    ${dot("q.embedding", "c.embedding", "ke")} / (q.norm * c.norm) AS cos
       |  FROM cells q
       |  JOIN cr p ON p.vec_id = q.vec_id AND p.crank <= ${VectorOps.MiningNProbe}
       |  JOIN cells c ON c.cell = p.cent_id AND c.vec_id <> q.vec_id
       |  JOIN lab l ON l.vec_id = c.vec_id
       |  WHERE q.vec_id % (SELECT m FROM smod) = 0
       |),
       |topk AS (
       |  SELECT query_id, nlabel FROM knc
       |  QUALIFY row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos DESC, neighbor_id ASC) <= ${VectorOps.KnnK}
       |),
       |votes AS (SELECT query_id, nlabel, count(*) AS cnt FROM topk GROUP BY 1, 2),
       |pred AS (
       |  SELECT query_id, nlabel AS predicted FROM votes
       |  QUALIFY row_number() OVER (PARTITION BY query_id
       |    ORDER BY cnt DESC, nlabel ASC) = 1
       |)
       |SELECT l.label, p.predicted, CAST(count(*) AS BIGINT) AS n
       |FROM pred p JOIN lab l ON l.vec_id = p.query_id
       |GROUP BY 1, 2
       |ORDER BY label, predicted""".stripMargin

  /** SemDeDup twin: within-cell pairs over [[trainedCellsCte]]'s
    * assignment, dominated = any lower-id same-cell vector at cosine ≥
    * tau; max_cos stays NULL when no dominating pair exists. */
  val semanticDedup: String =
    s"""WITH $trainedCellsCte,
       |dominated AS (
       |  SELECT a.vec_id,
       |    CAST(count(*) AS INT) AS n_sem_dups,
       |    max(${dot("a.embedding", "b.embedding", "sd")} / (a.norm * b.norm)) AS max_cos
       |  FROM cells a JOIN cells b
       |    ON a.cell = b.cell AND b.vec_id < a.vec_id
       |  WHERE ${dot("a.embedding", "b.embedding", "sw")} / (a.norm * b.norm)
       |        >= ${VectorOps.SemTau}
       |  GROUP BY a.vec_id
       |)
       |SELECT c.vec_id, c.cell,
       |  coalesce(d.n_sem_dups, 0) AS n_sem_dups,
       |  d.max_cos AS max_cos,
       |  d.vec_id IS NULL AS keep
       |FROM cells c LEFT JOIN dominated d ON d.vec_id = c.vec_id
       |ORDER BY c.vec_id""".stripMargin

  /** BPE twin: [[BpeOps.Rounds]] merge rounds UNROLLED as CTE chains
    * (the same pattern as the Lloyd-iteration oracle) over the same
    * sep-encoded vocabulary — chr(31) is the engine's U+001F, and each
    * symbol is individually wrapped `⟂sym⟂` (see [[BpeOps]]: the
    * wrapping makes the literal merge replace symbol-boundary-exact;
    * a bare single-separator pattern also matches symbol SUFFIXES).
    * DuckDB's `replace` is left-to-right non-overlapping like Spark's,
    * and wrapped adjacent occurrences share no characters, so the
    * greedy merge semantics align exactly. */
  private val bpeSep = "chr(31)"
  private val bpeSep2 = "(chr(31) || chr(31))"

  /** Symbol array of a wrapped encoding (strip the outer separator
    * pair, split on the doubled inner one). */
  private def bpeSyms(c: String): String =
    s"string_split(substring($c, 2, length($c) - 2), $bpeSep2)"

  /** Shared BPE CTE chain: doc-grain words, the sep-encoded vocabulary
    * v0, and [[BpeOps.Rounds]] unrolled (pair-count, argmax, merge)
    * round triples p_i/b_i/v_i. Words keep doc_id (the encode twin
    * aggregates per doc); v_i carries `w` so the final representation
    * joins back to occurrences. */
  private val bpeChain: String = {
    def round(i: Int, prev: String): String =
      s"""p$i AS (
         |  SELECT syms[ii$i] AS l, syms[ii$i + 1] AS r,
         |         CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM (SELECT freq, ${bpeSyms("enc")} AS syms FROM $prev),
         |       LATERAL (SELECT unnest(range(1, len(syms))) AS ii$i)
         |  GROUP BY l, r
         |),
         |b$i AS (SELECT l, r, cnt FROM p$i ORDER BY cnt DESC, l, r LIMIT 1),
         |v$i AS (
         |  SELECT w, freq,
         |         replace(enc,
         |                 (SELECT $bpeSep || l || $bpeSep2 || r || $bpeSep FROM b$i),
         |                 (SELECT $bpeSep || l || r || $bpeSep FROM b$i)) AS enc
         |  FROM $prev
         |)""".stripMargin
    val rounds = (1 to BpeOps.Rounds)
      .map(i => round(i, if (i == 1) "v0" else s"v${i - 1}")).mkString(",\n")
    s"""WITH words AS (
       |  SELECT doc_id, w
       |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ws
       |        FROM documents),
       |       LATERAL (SELECT unnest(ws) AS w)
       |),
       |v0 AS (
       |  SELECT w, count(*) AS freq,
       |         $bpeSep || array_to_string(string_split(w, ''), $bpeSep2) ||
       |           $bpeSep AS enc
       |  FROM words GROUP BY w
       |),
       |$rounds""".stripMargin
  }

  val bpeMerges: String = {
    val unions = (1 to BpeOps.Rounds)
      .map(i => s"SELECT $i AS round, l AS left_sym, r AS right_sym, cnt AS pair_count FROM b$i")
      .mkString("\nUNION ALL ")
    s"""$bpeChain
       |$unions
       |ORDER BY round""".stripMargin
  }

  /** Encode twin: occurrences joined to the round-[[BpeOps.Rounds]]
    * representation, aggregated per document. */
  val bpeEncode: String =
    s"""$bpeChain
       |SELECT d.doc_id,
       |       count(*) AS n_words,
       |       CAST(sum(len(d.w)) AS BIGINT) AS n_chars,
       |       CAST(sum(len(${bpeSyms("v.enc")})) AS BIGINT) AS n_bpe_tokens
       |FROM words d JOIN v${BpeOps.Rounds} v ON d.w = v.w
       |GROUP BY d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** Typed-gaps twin: the WINDOW formulation of [[TypedOps.userGaps]]
    * (lag over per-user time order). Gaps are consecutive differences
    * of the sorted timestamp multiset — invariant to tie order — so
    * the arbitrary ORDER BY ts tie-break cannot diverge from the
    * engine's explicit sort. Lower median = the (c+1)÷2-th smallest
    * gap. All integer milliseconds; span re-cast from DuckDB's
    * HUGEINT sum. */
  val userGaps: String =
    """WITH et AS (
      |  SELECT user_id, epoch_ms(ts) AS tms FROM events
      |),
      |g AS (
      |  SELECT user_id,
      |         tms - lag(tms) OVER (PARTITION BY user_id ORDER BY tms) AS gap
      |  FROM et
      |),
      |gg AS (SELECT user_id, gap FROM g WHERE gap IS NOT NULL),
      |stats AS (
      |  SELECT user_id,
      |         count(*) AS n_gaps,
      |         min(gap) AS min_gap_ms,
      |         max(gap) AS max_gap_ms,
      |         CAST(sum(gap) AS BIGINT) AS span_ms
      |  FROM gg GROUP BY user_id
      |),
      |med AS (
      |  SELECT user_id, gap AS median_gap_ms FROM (
      |    SELECT user_id, gap,
      |           row_number() OVER (PARTITION BY user_id ORDER BY gap) AS rn,
      |           count(*) OVER (PARTITION BY user_id) AS c
      |    FROM gg)
      |  WHERE rn = (c + 1) // 2
      |),
      |ne AS (SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id)
      |SELECT s.user_id, ne.n_events, s.n_gaps, s.min_gap_ms, s.max_gap_ms,
      |       m.median_gap_ms, s.span_ms
      |FROM stats s
      |JOIN med m ON s.user_id = m.user_id
      |JOIN ne ON ne.user_id = s.user_id
      |ORDER BY s.user_id""".stripMargin

  /** Shared sign-projection literal: coordinate j is a strict fold of
    * zip(embedding, R_j) with R_j from [[VectorOps.rpRow]] — the SAME
    * generator whose literals the engine bakes into array_dot, so the
    * two engines multiply by the same matrix by construction. */
  private def rpProjList: String =
    (0 until VectorOps.RpDim).map { j =>
      val lits = VectorOps.rpRow(j).mkString(", ")
      dot("embedding", s"[$lits]", s"rp$j")
    }.mkString("[", ",\n  ", "]")

  /** Diversity-sample twin: the shared trained-cells chain, floor
    * quotas, lowest-salted-hash picks per cell. */
  // lazy: embeds scaledCellsCte, declared textually below
  lazy val diversitySample: String =
    s"""WITH $scaledCellsCte,
       |tot AS (SELECT count(*) AS n FROM embeddings),
       |sizes AS (
       |  SELECT cell, CAST(count(*) AS BIGINT) AS n_cell,
       |    CAST((${VectorOps.DiversityK} * count(*)) //
       |      (SELECT n FROM tot) AS BIGINT) AS quota
       |  FROM cells GROUP BY cell
       |),
       |ranked AS (
       |  SELECT c.cell AS cent_id, c.vec_id,
       |    row_number() OVER (PARTITION BY c.cell ORDER BY
       |      ${h32("'div:' || CAST(c.vec_id AS VARCHAR)", "dv")},
       |      c.vec_id) AS pick_rank
       |  FROM cells c
       |)
       |SELECT r.cent_id, CAST(r.pick_rank AS INT) AS pick_rank, r.vec_id,
       |       s.n_cell, s.quota
       |FROM ranked r JOIN sizes s ON s.cell = r.cent_id
       |WHERE r.pick_rank <= s.quota
       |ORDER BY cent_id, pick_rank""".stripMargin

  /** Embedding-drift twin: the shared trained-cells chain, halves by
    * vec_id below/above n/2, twice-floored exact ppm. */
  // lazy: embeds scaledCellsCte, declared textually below
  lazy val embedDrift: String =
    s"""WITH $scaledCellsCte,
       |tot AS (SELECT count(*) AS n FROM embeddings),
       |counts AS (
       |  SELECT cell AS cent_id,
       |    CAST(sum(CASE WHEN vec_id < (SELECT n FROM tot) // 2
       |             THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
       |    CAST(sum(CASE WHEN vec_id >= (SELECT n FROM tot) // 2
       |             THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
       |  FROM cells GROUP BY cell
       |),
       |ppm AS (
       |  SELECT cent_id, n_ref, n_cur,
       |    CAST((1000000 * n_ref) // ((SELECT n FROM tot) // 2) AS BIGINT) AS ppm_ref,
       |    CAST((1000000 * n_cur) //
       |      ((SELECT n FROM tot) - (SELECT n FROM tot) // 2) AS BIGINT) AS ppm_cur
       |  FROM counts
       |)
       |SELECT cent_id, n_ref, n_cur, ppm_ref, ppm_cur,
       |       abs(ppm_ref - ppm_cur) AS ppm_shift
       |FROM ppm
       |ORDER BY cent_id""".stripMargin

  /** Matryoshka twin: per truncation level from the SHARED
    * [[VectorOps.MatryoshkaDims]], the sliced-prefix brute-force top-k
    * (row_number over the same strict-fold cosines) and its hit count
    * against the full-dimension leg. */
  val embedMatryoshka: String = {
    val k = VectorOps.MatryoshkaK
    val nq = VectorOps.MatryoshkaQueries
    val denom = nq * k
    val dims = VectorOps.MatryoshkaDims
    val levelCtes = dims.map { d =>
      s"""e$d AS (
         |  SELECT vec_id, emb, sqrt(${dot("emb", "emb", s"n$d")}) AS nrm
         |  FROM (SELECT vec_id, embedding[1:$d] AS emb FROM embeddings)
         |),
         |t$d AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |        ${dot("q.emb", "c.emb", s"x$d")} / (q.nrm * c.nrm) DESC,
         |        c.vec_id ASC) AS rank
         |    FROM e$d q JOIN e$d c ON q.vec_id < $nq AND c.vec_id <> q.vec_id
         |  ) WHERE rank <= $k
         |)""".stripMargin
    }.mkString(",\n")
    val legs = dims.map { d =>
      s"""SELECT CAST($d AS INT) AS dim, count(*) AS n_hits,
         |  CAST(count(*) AS DOUBLE) / CAST($denom AS DOUBLE) AS recall_at_k
         |FROM t$d a JOIN t${dims.max} b
         |  ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"WITH $levelCtes\n$legs\nORDER BY dim"
  }

  val embedProject: String =
    s"""WITH pe AS (
       |  SELECT vec_id, $rpProjList AS proj FROM embeddings
       |)
       |SELECT vec_id, CAST(pos - 1 AS INT) AS pos, p_val
       |FROM pe, LATERAL (SELECT unnest(proj) AS p_val,
       |                         generate_subscripts(proj, 1) AS pos)
       |ORDER BY vec_id, pos""".stripMargin

  /** Projected two-stage ANN twin: top-96 candidates by projected
    * cosine, top-3 by exact cosine — the identical two-stage
    * computation (both scores are bit-identical doubles, so the stage-1
    * cut cannot diverge between engines). */
  val simProjected: String =
    s"""WITH pe AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${dot("embedding", "embedding", "pn")}) AS norm,
       |    $rpProjList AS proj
       |  FROM embeddings
       |),
       |pn AS (
       |  SELECT vec_id, embedding, norm, proj,
       |    sqrt(${dot("proj", "proj", "pp")}) AS pnorm
       |  FROM pe
       |),
       |q AS (SELECT * FROM pn WHERE vec_id < 8),
       |cand AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    ${dot("q.proj", "c.proj", "pc")} / (q.pnorm * c.pnorm) AS pcos,
       |    ${dot("q.embedding", "c.embedding", "ec")} / (q.norm * c.norm) AS cos
       |  FROM pn c JOIN q ON c.vec_id <> q.vec_id
       |),
       |topm AS (
       |  SELECT query_id, neighbor_id, cos FROM (
       |    SELECT query_id, neighbor_id, cos,
       |      row_number() OVER (PARTITION BY query_id
       |                         ORDER BY pcos DESC, neighbor_id ASC) AS r
       |    FROM cand) WHERE r <= 96
       |)
       |SELECT query_id, rank, neighbor_id, cos AS score FROM (
       |  SELECT query_id, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY cos DESC, neighbor_id ASC) AS rank
       |  FROM topm)
       |WHERE rank <= 3
       |ORDER BY query_id, rank""".stripMargin

  /** RRF twin: the exact-cosine top-20 and the pure projected-space
    * top-20 as row_number rankings, full-outer joined, the identical
    * integer ⌊10⁹/(60+rank)⌋ contributions (order-independent BIGINT
    * sum), re-ranked by (fused DESC, neighbor ASC). */
  val simRrf: String = {
    val kD = SimilarityOps.RrfDampK
    val sc = SimilarityOps.RrfScale
    val pool = SimilarityOps.RrfPool
    val k = SimilarityOps.RrfTopK
    s"""WITH b AS (
       |  SELECT query_id, neighbor_id, rank FROM (${simTopKSql(pool, 8)})
       |),
       |ppe AS (SELECT vec_id, $rpProjList AS proj FROM embeddings),
       |ppn AS (
       |  SELECT vec_id, proj, sqrt(${dot("proj", "proj", "rr")}) AS pnorm
       |  FROM ppe
       |),
       |pq AS (SELECT * FROM ppn WHERE vec_id < 8),
       |pcand AS (
       |  SELECT pq.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    ${dot("pq.proj", "c.proj", "rf")} / (pq.pnorm * c.pnorm) AS pcos
       |  FROM ppn c JOIN pq ON c.vec_id <> pq.vec_id
       |),
       |p AS (
       |  SELECT query_id, neighbor_id, rank FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |                         ORDER BY pcos DESC, neighbor_id ASC) AS rank
       |    FROM pcand) WHERE rank <= $pool
       |),
       |fused AS (
       |  SELECT COALESCE(b.query_id, p.query_id) AS query_id,
       |         COALESCE(b.neighbor_id, p.neighbor_id) AS neighbor_id,
       |         CAST(b.rank AS INT) AS rank_exact,
       |         CAST(p.rank AS INT) AS rank_proj,
       |         CAST(COALESCE($sc // ($kD + b.rank), 0) +
       |              COALESCE($sc // ($kD + p.rank), 0) AS BIGINT) AS rrf_score
       |  FROM b FULL OUTER JOIN p
       |    ON b.query_id = p.query_id AND b.neighbor_id = p.neighbor_id
       |)
       |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, rrf_score,
       |       rank_exact, rank_proj
       |FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY rrf_score DESC, neighbor_id ASC) AS rank
       |  FROM fused)
       |WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  /** BM25 twin builder: the identical df-capped candidate generation
    * (cold terms nominate, ALL shared terms score — the
    * [[TextOps.Bm25HotK]] rule verbatim), the SHARED
    * [[TextOps.Bm25ContribExpr]] (rational idf × tf saturation, floored
    * to integer ppm), order-independent BIGINT score sum, row_number
    * ranking. */
  private def bm25Sql(k: Int, nQueries: Int,
      docsWhere: String = "TRUE"): String =
    s"""WITH bw AS (
       |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ws
       |  FROM documents WHERE $docsWhere
       |),
       |bwords AS (SELECT doc_id, unnest(ws) AS term FROM bw),
       |btf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       |        FROM bwords GROUP BY 1, 2),
       |bdlen AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
       |          FROM bwords GROUP BY 1),
       |bstats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |                  CAST(sum(dl) AS BIGINT) AS sum_dl FROM bdlen),
       |bdf AS (SELECT term, CAST(count(*) AS BIGINT) AS df
       |        FROM btf GROUP BY 1),
       |bqd AS (
       |  SELECT q.doc_id AS query_id, q.term, bdf.df
       |  FROM (SELECT doc_id, term FROM btf WHERE doc_id < $nQueries) q
       |  JOIN bdf ON bdf.term = q.term
       |),
       |bfloor AS (
       |  SELECT query_id, term FROM (
       |    SELECT query_id, term,
       |      row_number() OVER (PARTITION BY query_id
       |                         ORDER BY df ASC, term ASC) AS trank
       |    FROM bqd WHERE df >= 2)
       |  WHERE trank <= ${TextOps.Bm25MinProbe}
       |),
       |bprobe AS (
       |  SELECT DISTINCT query_id, term FROM (
       |    SELECT query_id, term FROM bqd
       |    CROSS JOIN (SELECT n_docs FROM bstats)
       |    WHERE df * ${TextOps.Bm25HotK} <= n_docs
       |    UNION ALL
       |    SELECT query_id, term FROM bfloor)
       |),
       |bcand AS (
       |  SELECT DISTINCT p.query_id, c.doc_id AS cand_id
       |  FROM bprobe p
       |  JOIN btf c ON c.term = p.term AND c.doc_id <> p.query_id
       |),
       |bscored AS (
       |  SELECT b.query_id, b.cand_id,
       |    ${TextOps.Bm25ContribExpr} AS contrib_ppm
       |  FROM bcand b
       |  JOIN (SELECT doc_id, term FROM btf WHERE doc_id < $nQueries) q
       |    ON q.doc_id = b.query_id
       |  JOIN btf c ON c.doc_id = b.cand_id AND c.term = q.term
       |  JOIN bdf ON bdf.term = c.term
       |  JOIN bdlen ON bdlen.doc_id = b.cand_id
       |  CROSS JOIN (SELECT n_docs, sum_dl,
       |                CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE) AS avgdl
       |              FROM bstats) s
       |),
       |bperdoc AS (
       |  SELECT query_id, cand_id, CAST(sum(contrib_ppm) AS BIGINT) AS score_ppm
       |  FROM bscored GROUP BY 1, 2
       |)
       |SELECT query_id, CAST(rank AS INT) AS rank, cand_id AS doc_id, score_ppm
       |FROM (
       |  SELECT query_id, cand_id, score_ppm,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY score_ppm DESC, cand_id ASC) AS rank
       |  FROM bperdoc)
       |WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin

  val textBm25: String = bm25Sql(TextOps.Bm25TopK, TextOps.Bm25NQueries)

  /** Hybrid-retrieval twin: exact-cosine dense leg restricted to
    * document-backed vectors, the BM25 twin as the lexical leg, the
    * identical RRF integer fusion. */
  val simHybrid: String = {
    val kD = SimilarityOps.RrfDampK
    val sc = SimilarityOps.RrfScale
    val pool = SimilarityOps.RrfPool
    val k = SimilarityOps.RrfTopK
    s"""WITH he AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${dot("embedding", "embedding", "hb")}) AS norm
       |  FROM embeddings WHERE vec_id IN (SELECT doc_id FROM documents)
       |),
       |hdense AS (
       |  SELECT query_id, neighbor_id, rank FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${dot("q.embedding", "c.embedding", "hc")}
       |          / (q.norm * c.norm) DESC, c.vec_id ASC) AS rank
       |    FROM he q JOIN he c ON q.vec_id < 8 AND c.vec_id <> q.vec_id
       |  ) WHERE rank <= $pool
       |),
       |hlex AS (
       |  SELECT query_id, doc_id AS neighbor_id, rank
       |  FROM (${bm25Sql(pool, 8)})
       |),
       |hfused AS (
       |  SELECT COALESCE(d.query_id, l.query_id) AS query_id,
       |         COALESCE(d.neighbor_id, l.neighbor_id) AS neighbor_id,
       |         CAST(d.rank AS INT) AS rank_dense,
       |         CAST(l.rank AS INT) AS rank_lex,
       |         CAST(COALESCE($sc // ($kD + d.rank), 0) +
       |              COALESCE($sc // ($kD + l.rank), 0) AS BIGINT) AS rrf_score
       |  FROM hdense d FULL OUTER JOIN hlex l
       |    ON d.query_id = l.query_id AND d.neighbor_id = l.neighbor_id
       |)
       |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, rrf_score,
       |       rank_dense, rank_lex
       |FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY rrf_score DESC, neighbor_id ASC) AS rank
       |  FROM hfused)
       |WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  /** ANN-served hybrid twin: the dense leg drawn through the √n-cell
    * trained router ([[scaledCellsCte]], crank ≤ MiningNProbe probes —
    * [[VectorOps.cellCandidates]] mirrored exactly), both leg sides
    * restricted to document-backed vectors, then the identical bounded
    * re-rank, BM25 lexical leg, and RRF integer fusion as
    * [[simHybrid]]. */
  val simHybridAnn: String = {
    val kD = SimilarityOps.RrfDampK
    val sc = SimilarityOps.RrfScale
    val pool = SimilarityOps.RrfPool
    val k = SimilarityOps.RrfTopK
    s"""WITH $scaledCellsCte,
       |ascored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    ${dot("q.embedding", "c.embedding", "ha")} / (q.norm * c.norm) AS cos
       |  FROM cells q
       |  JOIN cr p ON p.vec_id = q.vec_id AND p.crank <= ${VectorOps.MiningNProbe}
       |  JOIN cells c ON c.cell = p.cent_id AND c.vec_id <> q.vec_id
       |  WHERE q.vec_id < 8
       |    AND q.vec_id IN (SELECT doc_id FROM documents)
       |    AND c.vec_id IN (SELECT doc_id FROM documents)
       |),
       |adense AS (
       |  SELECT query_id, neighbor_id, rank FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY cos DESC, neighbor_id ASC) AS rank
       |    FROM ascored) WHERE rank <= $pool
       |),
       |alex AS (
       |  SELECT query_id, doc_id AS neighbor_id, rank
       |  FROM (${bm25Sql(pool, 8)})
       |),
       |afused AS (
       |  SELECT COALESCE(d.query_id, l.query_id) AS query_id,
       |         COALESCE(d.neighbor_id, l.neighbor_id) AS neighbor_id,
       |         CAST(d.rank AS INT) AS rank_dense,
       |         CAST(l.rank AS INT) AS rank_lex,
       |         CAST(COALESCE($sc // ($kD + d.rank), 0) +
       |              COALESCE($sc // ($kD + l.rank), 0) AS BIGINT) AS rrf_score
       |  FROM adense d FULL OUTER JOIN alex l
       |    ON d.query_id = l.query_id AND d.neighbor_id = l.neighbor_id
       |)
       |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, rrf_score,
       |       rank_dense, rank_lex
       |FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY rrf_score DESC, neighbor_id ASC) AS rank
       |  FROM afused)
       |WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Fused-list agreement twin: the exact and ANN-served hybrid twins
    * composed as subqueries, one (query, neighbor) left join, count
    * the overlap — [[simRecall]]'s shape applied to fusion output. */
  val simHybridAnnAgree: String = {
    val k = SimilarityOps.RrfTopK
    s"""WITH hex AS (
       |  SELECT query_id, neighbor_id FROM ($simHybrid)
       |),
       |hann AS (
       |  SELECT query_id, neighbor_id FROM ($simHybridAnn)
       |),
       |hhits AS (
       |  SELECT e.query_id, count(a.neighbor_id) AS n_hits
       |  FROM hex e
       |  LEFT JOIN hann a
       |    ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
       |  GROUP BY e.query_id
       |)
       |SELECT query_id, CAST(n_hits AS BIGINT) AS n_hits,
       |       CAST(n_hits AS DOUBLE) / $k AS agree_at_$k
       |FROM hhits
       |ORDER BY query_id""".stripMargin
  }

  /** Bigram-LM score twin: identical add-one ppm quantization
    * ⌊10⁶·(c(ab)+1)/(c(a·)+V)⌋ over list-indexed bigrams; DuckDB `//`
    * and Spark `div` both truncate, and every operand is BIGINT. */
  val textLmScore: String =
    s"""WITH w AS (
       |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ws
       |  FROM documents
       |),
       |bg AS (
       |  SELECT doc_id, ws[i] AS a, ws[i] || ' ' || ws[i + 1] AS bg
       |  FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws) - 1)) AS i)
       |),
       |cab AS (SELECT bg, CAST(count(*) AS BIGINT) AS c_ab FROM bg GROUP BY bg),
       |ca AS (SELECT a, CAST(count(*) AS BIGINT) AS c_a FROM bg GROUP BY a),
       |v AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS vocab
       |      FROM (SELECT unnest(ws) AS t FROM w)),
       |q AS (
       |  SELECT bg.doc_id,
       |         (${TextOps.Ppm} * (c_ab + 1)) // (c_a + vocab) AS q_ppm
       |  FROM bg JOIN cab USING (bg) JOIN ca USING (a), v
       |)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |       CAST(sum(q_ppm) AS BIGINT) AS sum_q_ppm,
       |       CAST(sum(q_ppm) AS BIGINT) // CAST(count(*) AS BIGINT) AS avg_q_ppm
       |FROM q GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Feature-hashing twin: same bucket = H mod d and the ξ sign from
    * the disjoint bit range H div d mod 2. */
  val featureHash: String =
    s"""WITH w AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
       |  FROM documents
       |),
       |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       |       FROM w GROUP BY 1, 2),
       |h AS (SELECT doc_id, tf, ${h32("term", "fh")} AS hh FROM tf)
       |SELECT doc_id, CAST(hh % ${TextOps.FeatureHashDim} AS INT) AS bucket,
       |  CAST(sum((CASE WHEN (hh // ${TextOps.FeatureHashDim}) % 2 = 0
       |            THEN 1 ELSE -1 END) * tf) AS BIGINT) AS weight
       |FROM h GROUP BY 1, 2
       |ORDER BY doc_id, bucket""".stripMargin

  /** Weighted-Jaccard twin: multiset shingle bags, the same df cap,
    * Σmin via the pair join and Σmax by the T_A + T_B − Σmin identity,
    * identical truncated ppm ratio. */
  val dedupWeightedJaccard: String =
    s"""WITH w AS (
       |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ws
       |  FROM documents
       |),
       |shl AS (
       |  SELECT doc_id, ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS sh
       |  FROM w, LATERAL (SELECT unnest(generate_series(1, len(ws) - 2)) AS i)
       |),
       |tf AS (SELECT doc_id, sh, CAST(count(*) AS BIGINT) AS tf
       |       FROM shl GROUP BY 1, 2),
       |keep AS (SELECT sh FROM tf GROUP BY sh HAVING count(*) <= 10000),
       |capped AS (SELECT t.doc_id, t.sh, t.tf FROM tf t JOIN keep USING (sh)),
       |tot AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS total
       |        FROM capped GROUP BY 1),
       |inter AS (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |         CAST(sum(least(x.tf, y.tf)) AS BIGINT) AS inter
       |  FROM capped x JOIN capped y
       |    ON x.sh = y.sh AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT doc_a, doc_b, inter,
       |  (${TextOps.Ppm} * inter) // (ta.total + tb.total - inter) AS j_wppm
       |FROM inter
       |JOIN tot ta ON doc_a = ta.doc_id
       |JOIN tot tb ON doc_b = tb.doc_id
       |WHERE (${TextOps.Ppm} * inter) // (ta.total + tb.total - inter)
       |  >= ${DedupOps.WJaccardPpm}
       |ORDER BY doc_a, doc_b""".stripMargin

  /** BFS twin: the kCore edge CTE, the deterministic hub pick, and
    * [[GraphOps.BfsRounds]] frontier expansions unrolled as
    * MATERIALIZED level/visited CTE pairs. */
  val graphBfs: String = {
    val n = GraphOps.BfsRounds
    val rounds = (1 to n).map { r =>
      s"""l$r AS MATERIALIZED (
         |  SELECT DISTINCT s.b AS node
         |  FROM ksym s JOIN l${r - 1} f$r ON s.a = f$r.node
         |  WHERE s.b NOT IN (SELECT node FROM v${r - 1})
         |),
         |v$r AS MATERIALIZED (
         |  SELECT node FROM v${r - 1} UNION ALL SELECT node FROM l$r)""".stripMargin
    }.mkString(",\n")
    val levels = (0 to n)
      .map(r => s"SELECT node, $r AS hops FROM l$r")
      .mkString("\nUNION ALL ")
    graft.etl.Star.oracleCte +
      s""",
         |kedges AS (
         |  SELECT a.product_id AS u, b.product_id AS v
         |  FROM sales_fact a JOIN sales_fact b
         |    ON a.order_id = b.order_id AND a.product_id < b.product_id
         |  GROUP BY 1, 2 HAVING count(DISTINCT a.order_id) >= 2
         |),
         |ksym AS MATERIALIZED (
         |  SELECT u AS a, v AS b FROM kedges
         |  UNION ALL SELECT v AS a, u AS b FROM kedges
         |),
         |l0 AS MATERIALIZED (
         |  SELECT a AS node FROM (SELECT a, count(*) AS d FROM ksym GROUP BY a)
         |  ORDER BY d DESC, a ASC LIMIT 1
         |),
         |v0 AS (SELECT node FROM l0),
         |$rounds
         |SELECT node AS product_id, hops FROM (
         |$levels)
         |ORDER BY hops, product_id""".stripMargin
  }

  /** RA link-prediction twin: same hub cap, wedge self-join, NOT
    * EXISTS non-adjacency, and the identical ⌊10⁶/deg⌋ integer
    * summands. */
  val graphLinkPred: String =
    graft.etl.Star.oracleCte +
      s""",
         |kedges AS (
         |  SELECT a.product_id AS u, b.product_id AS v
         |  FROM sales_fact a JOIN sales_fact b
         |    ON a.order_id = b.order_id AND a.product_id < b.product_id
         |  GROUP BY 1, 2 HAVING count(DISTINCT a.order_id) >= 2
         |),
         |ksym AS MATERIALIZED (
         |  SELECT u AS a, v AS b FROM kedges
         |  UNION ALL SELECT v AS a, u AS b FROM kedges
         |),
         |deg AS (SELECT a, CAST(count(*) AS BIGINT) AS d FROM ksym GROUP BY a),
         |centers AS (
         |  SELECT s.a, s.b, g.d FROM ksym s JOIN deg g ON s.a = g.a
         |  WHERE g.d <= ${GraphOps.LinkPredHubCap}
         |),
         |wedges AS (
         |  SELECT x.b AS u, y.b AS v, x.d
         |  FROM centers x JOIN centers y ON x.a = y.a AND x.b < y.b
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM kedges e WHERE e.u = x.b AND e.v = y.b)
         |)
         |SELECT u, v, CAST(count(*) AS BIGINT) AS n_common,
         |       CAST(sum(${TextOps.Ppm} // d) AS BIGINT) AS ra_ppm
         |FROM wedges GROUP BY u, v
         |ORDER BY ra_ppm DESC, u, v
         |LIMIT ${GraphOps.LinkPredK}""".stripMargin

  /** Conjunctive-search twin: same df-rank query-term derivation (two
    * bounded sorts, never a window), tf join, HAVING conjunction gate
    * and Σtf ranking. */
  val textSearch: String =
    s"""WITH w AS (
       |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
       |  FROM documents
       |),
       |dfreq AS (
       |  SELECT term, CAST(count(*) AS BIGINT) AS df
       |  FROM (SELECT DISTINCT doc_id, term FROM w) GROUP BY term
       |),
       |topn AS (SELECT term, df FROM dfreq
       |         ORDER BY df DESC, term ASC LIMIT ${TextOps.SearchRankHi}),
       |qterms AS (SELECT term FROM topn ORDER BY df ASC, term DESC
       |           LIMIT ${TextOps.SearchRankHi - TextOps.SearchRankLo + 1}),
       |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       |       FROM w GROUP BY 1, 2)
       |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS score
       |FROM tf JOIN qterms USING (term)
       |GROUP BY doc_id
       |HAVING count(DISTINCT term) = ${TextOps.SearchRankHi - TextOps.SearchRankLo + 1}
       |ORDER BY score DESC, doc_id ASC
       |LIMIT ${TextOps.SearchK}""".stripMargin

  /** Threshold-curve twin: the shared verified-pair CTEs swept against
    * the same literal τ grid, zero-filled on the τ spine. */
  val dedupThresholdCurve: String = {
    val tauList = DedupOps.CurveTaus
      .map(t => s"CAST($t AS DOUBLE)").mkString(", ")
    s"""$shingleBase,
       |$jaccardTail,
       |jp AS (
       |  SELECT doc_a, doc_b,
       |    CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) AS j
       |  FROM pairs
       |  JOIN sizes sa ON doc_a = sa.doc_id
       |  JOIN sizes sb ON doc_b = sb.doc_id
       |  WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) >= 0.6
       |),
       |taus AS (SELECT unnest([$tauList]) AS tau),
       |hits AS (SELECT t.tau, j.doc_a, j.doc_b FROM taus t
       |         JOIN jp j ON j.j >= t.tau),
       |np AS (SELECT tau, CAST(count(*) AS BIGINT) AS n_pairs
       |       FROM hits GROUP BY tau),
       |nd AS (
       |  SELECT tau, CAST(count(DISTINCT doc) AS BIGINT) AS n_docs
       |  FROM (SELECT tau, doc_a AS doc FROM hits
       |        UNION ALL SELECT tau, doc_b FROM hits)
       |  GROUP BY tau
       |)
       |SELECT t.tau, coalesce(np.n_pairs, 0) AS n_pairs,
       |       coalesce(nd.n_docs, 0) AS n_docs
       |FROM taus t
       |LEFT JOIN np ON t.tau = np.tau
       |LEFT JOIN nd ON t.tau = nd.tau
       |ORDER BY t.tau""".stripMargin
  }

  /** Nearest-centroid eval twin: identical fixed-scale quantization,
    * floored integer centroids, integer squared distances, rn=1
    * argmin vs the engine side's struct-min. */
  val embedCentroidEval: String =
    s"""WITH e AS (
       |  SELECT vec_id, label,
       |    list_transform(embedding, v ->
       |      CAST(floor(CAST(v AS DOUBLE) * ${VectorOps.CentroidQuant}) AS BIGINT)) AS q
       |  FROM embeddings
       |),
       |coords AS (
       |  SELECT label, i, q[i] AS v
       |  FROM e, LATERAL (SELECT unnest(generate_series(1, len(q))) AS i)
       |),
       |cm AS (
       |  SELECT label, i,
       |         CAST(sum(v) AS BIGINT) // CAST(count(*) AS BIGINT) AS c
       |  FROM coords GROUP BY 1, 2
       |),
       |cents AS (SELECT label AS clabel, list(c ORDER BY i) AS cv
       |          FROM cm GROUP BY label),
       |scored AS (
       |  SELECT e.vec_id, e.label, c.clabel,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(list_zip(e.q, c.cv),
       |        zc -> (zc[1] - zc[2]) * (zc[1] - zc[2]))),
       |      (ac, vc) -> ac + vc) AS d2
       |  FROM e CROSS JOIN cents c
       |)
       |SELECT label, clabel AS predicted, CAST(count(*) AS BIGINT) AS n
       |FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
       |        ORDER BY d2, clabel) AS rn FROM scored)
       |WHERE rn = 1
       |GROUP BY 1, 2
       |ORDER BY label, predicted""".stripMargin

  /** LSH-recall twin: the shared banding chain for `found`, a
    * freshly-named capped-pair chain for `truth` (the jaccardTail CTE
    * names would collide inside one WITH), identical bucket floor and
    * ppm division. */
  val dedupLshRecall: String =
    s"""$minhashPairsCtes,
       |tshfil AS (
       |  SELECT s.doc_id, s.sh FROM shingles s
       |  JOIN (SELECT sh FROM shingles GROUP BY sh HAVING count(*) <= 10000) r
       |    USING (sh)
       |),
       |tsizes AS (SELECT doc_id, count(*) AS n FROM tshfil GROUP BY 1),
       |tpairs AS (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS shared
       |  FROM tshfil x JOIN tshfil y ON x.sh = y.sh AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2
       |),
       |truth AS (
       |  SELECT doc_a, doc_b,
       |    CAST(shared AS DOUBLE) / (ta.n + tb.n - shared) AS jaccard
       |  FROM tpairs
       |  JOIN tsizes ta ON doc_a = ta.doc_id
       |  JOIN tsizes tb ON doc_b = tb.doc_id
       |  WHERE CAST(shared AS DOUBLE) / (ta.n + tb.n - shared) >= 0.5
       |)
       |SELECT CAST(floor(t.jaccard * 10) AS INT) AS bucket,
       |  CAST(count(*) AS BIGINT) AS n_true,
       |  CAST(sum(CASE WHEN l.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_found,
       |  (1000000 * CAST(sum(CASE WHEN l.doc_a IS NOT NULL THEN 1 ELSE 0 END)
       |    AS BIGINT)) // CAST(count(*) AS BIGINT) AS recall_ppm
       |FROM truth t
       |LEFT JOIN lshpairs l ON t.doc_a = l.doc_a AND t.doc_b = l.doc_b
       |GROUP BY 1
       |ORDER BY 1""".stripMargin

  /** Poisson-bootstrap twin: the same salted hash through the same
    * literal CDF table. */
  val bootstrapMeans: String = {
    val cdf = SampleOps.PoissonCdfPpm.zipWithIndex
      .map { case (pr, k) => s"WHEN u < $pr THEN $k" }
      .mkString("CASE ", " ", s" ELSE ${SampleOps.PoissonCdfPpm.size} END")
    s"""WITH m AS (
       |  SELECT doc_id,
       |    CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS BIGINT) AS x
       |  FROM documents
       |),
       |reps AS (
       |  SELECT m.doc_id, m.x, CAST(r AS BIGINT) AS rep
       |  FROM m, LATERAL (SELECT unnest(generate_series(0,
       |    ${SampleOps.BootstrapB - 1})) AS r)
       |),
       |hashed AS (
       |  SELECT rep, x,
       |    ${h32("'boot:' || CAST(doc_id AS VARCHAR) || ':' || CAST(rep AS VARCHAR)", "bt")}
       |      % 1000000 AS u
       |  FROM reps
       |),
       |weighted AS (SELECT rep, x, $cdf AS w FROM hashed)
       |SELECT rep, CAST(sum(w) AS BIGINT) AS n_eff,
       |  CAST(sum(w * x) AS BIGINT) AS sum_wx,
       |  CAST(CAST(sum(w * x) AS BIGINT) AS DOUBLE)
       |    / CAST(CAST(sum(w) AS BIGINT) AS DOUBLE) AS mean_tokens
       |FROM weighted GROUP BY rep
       |ORDER BY rep""".stripMargin
  }

  /** Chunk-stitch twin: the oracle does NOT mirror the
    * reconstruction — it hashes the normalized original directly and
    * derives the chunk count from the closed form, so the hash gate
    * checks stitch ∘ chunk ≡ identity. */
  val chunkStitch: String =
    s"""WITH w AS (
       |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ws
       |  FROM documents
       |)
       |SELECT doc_id,
       |  CAST(CASE WHEN len(ws) <= ${ChunkOps.Window} THEN 1
       |       ELSE (len(ws) - ${ChunkOps.Window} + ${ChunkOps.Stride} - 1)
       |              // ${ChunkOps.Stride} + 1 END AS INT) AS n_chunks,
       |  ${h32("array_to_string(ws, ' ')", "cs")} AS rebuilt_hash
       |FROM w
       |ORDER BY doc_id""".stripMargin

  /** SRM twin: the same zero-filled design table and exact
    * cross-multiplied deviations. */
  val splitSrm: String = {
    val design = SampleOps.SplitExpectedPpm
      .map { case (nm, p) => s"('$nm', CAST($p AS BIGINT))" }.mkString(", ")
    s"""WITH assigned AS (
       |  SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
       |              ELSE 'test' END AS split
       |  FROM (SELECT ${h32("'split:' || CAST(doc_id AS VARCHAR)", "sp")} % 100 AS b
       |        FROM documents)
       |),
       |observed AS (SELECT split, CAST(count(*) AS BIGINT) AS n
       |             FROM assigned GROUP BY split),
       |design(split, expected_ppm) AS (VALUES $design),
       |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM observed)
       |SELECT d.split, coalesce(o.n, 0) AS n, d.expected_ppm,
       |  coalesce(o.n, 0) * 1000000 - d.expected_ppm * t.n_total
       |    AS delta_ppm_scaled,
       |  (CAST(coalesce(o.n, 0) * 1000000 - d.expected_ppm * t.n_total AS DOUBLE)
       |     * CAST(coalesce(o.n, 0) * 1000000 - d.expected_ppm * t.n_total AS DOUBLE))
       |   / ((CAST(1000000 AS DOUBLE) * CAST(d.expected_ppm AS DOUBLE))
       |      * CAST(t.n_total AS DOUBLE)) AS contrib
       |FROM design d LEFT JOIN observed o ON d.split = o.split, tot t
       |ORDER BY d.split""".stripMargin
  }

  /** pHash-cluster twin: the stub-signature pair edges under the same
    * recursive transitive closure as the text cluster twin, plus
    * cluster sizes. */
  val mediaClusters: String =
    s"""WITH RECURSIVE $mediaFeatsCte,
       |sig AS (
       |  SELECT doc_id,
       |    ${h32("CAST(checksum AS VARCHAR) || ':' || CAST(n_bytes AS VARCHAR)", "mc")}
       |      % 65536 AS phash
       |  FROM feats
       |),
       |ppairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.phash, b.phash)) <= 1
       |),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM ppairs
       |  UNION ALL SELECT doc_b, doc_a FROM ppairs
       |),
       |reach(doc_id, lbl) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.doc_id
       |),
       |cl AS (SELECT doc_id, min(lbl) AS cluster FROM reach GROUP BY doc_id),
       |sz AS (SELECT cluster, CAST(count(*) AS BIGINT) AS cluster_size
       |       FROM cl GROUP BY cluster)
       |SELECT doc_id, cluster, cluster_size,
       |       CAST(doc_id = cluster AS BOOLEAN) AS is_keeper
       |FROM cl JOIN sz USING (cluster)
       |ORDER BY doc_id""".stripMargin

  /** Decayed top-k twin: the halving fold unrolled per batch (s//2 and
    * Spark's div truncate identically), zero-drop filter included,
    * QUALIFY rank ≤ k per emission. */
  val streamDecayedTopk: String = {
    val nB = SketchOps.ReplayBatches
    val k = SketchOps.DecayK
    val folds = (0 until nB).map { b =>
      val cnt =
        s"""c$b AS (SELECT term, CAST(count(*) AS BIGINT) AS c
           |        FROM wb WHERE batch = $b GROUP BY term)""".stripMargin
      val st =
        if (b == 0) s"s0 AS MATERIALIZED (SELECT term, c AS s FROM c0)"
        else
          s"""s$b AS MATERIALIZED (
             |  SELECT coalesce(p.term, c.term) AS term,
             |         coalesce(p.s // 2, 0) + coalesce(c.c, 0) AS s
             |  FROM s${b - 1} p FULL OUTER JOIN c$b c ON p.term = c.term
             |  WHERE coalesce(p.s // 2, 0) + coalesce(c.c, 0) > 0
             |)""".stripMargin
      s"$cnt,\n$st"
    }.mkString(",\n")
    val emits = (0 until nB).map { b =>
      s"""SELECT $b AS batch,
         |  CAST(row_number() OVER (ORDER BY s DESC, term) AS INT) AS rank,
         |  term, s
         |FROM s$b
         |QUALIFY row_number() OVER (ORDER BY s DESC, term) <= $k""".stripMargin
    }.mkString("\nUNION ALL ")
    s"""WITH w0 AS (
       |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ws
       |  FROM documents
       |),
       |bsz AS (SELECT (max(doc_id) + $nB) // $nB AS bs FROM documents),
       |wb AS (
       |  SELECT CAST(doc_id // (SELECT bs FROM bsz) AS INT) AS batch,
       |         unnest(ws) AS term
       |  FROM w0
       |),
       |$folds
       |$emits
       |ORDER BY batch, rank""".stripMargin
  }

  /** Embedding-outlier twin: own-label centroid distance only, same
    * quantization chain as the centroid-eval twin, bounded top-k. */
  val embedOutliers: String =
    s"""WITH e AS (
       |  SELECT vec_id, label,
       |    list_transform(embedding, v ->
       |      CAST(floor(CAST(v AS DOUBLE) * ${VectorOps.CentroidQuant}) AS BIGINT)) AS q
       |  FROM embeddings
       |),
       |coords AS (
       |  SELECT label, i, q[i] AS v
       |  FROM e, LATERAL (SELECT unnest(generate_series(1, len(q))) AS i)
       |),
       |cm AS (
       |  SELECT label, i,
       |         CAST(sum(v) AS BIGINT) // CAST(count(*) AS BIGINT) AS c
       |  FROM coords GROUP BY 1, 2
       |),
       |cents AS (SELECT label, list(c ORDER BY i) AS cv FROM cm GROUP BY label),
       |scored AS (
       |  SELECT e.vec_id, e.label,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(list_zip(e.q, c.cv),
       |        zo -> (zo[1] - zo[2]) * (zo[1] - zo[2]))),
       |      (ao, vo) -> ao + vo) AS d2
       |  FROM e JOIN cents c USING (label)
       |)
       |SELECT CAST(row_number() OVER (ORDER BY d2 DESC, vec_id) AS INT) AS rank,
       |       vec_id, label, d2
       |FROM scored
       |ORDER BY d2 DESC, vec_id
       |LIMIT ${VectorOps.OutlierK}""".stripMargin

  /** Lang-confusion twin: the langId twin as a subquery, one cell
    * aggregate + marginal, identical ppm division. */
  val langConfusion: String =
    s"""WITH preds AS (
       |$langId
       |),
       |cells AS (SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n
       |          FROM preds GROUP BY 1, 2),
       |marg AS (SELECT lang, CAST(sum(n) AS BIGINT) AS row_total
       |         FROM cells GROUP BY lang)
       |SELECT c.lang, c.pred_lang, c.n,
       |       c.lang = c.pred_lang AS correct,
       |       (${TextOps.Ppm} * c.n) // m.row_total AS class_share_ppm
       |FROM cells c JOIN marg m ON c.lang = m.lang
       |ORDER BY c.lang, c.pred_lang""".stripMargin

  /** Cohen's-kappa twin: the langId twin as a subquery, the identical
    * confusion-cell aggregate, marginal folds, and cross-multiplied
    * BIGINT ppm ratios (DuckDB `//` ≡ Spark `div`; every operand is
    * non-negative on a better-than-chance classifier, so floor and
    * truncate agree). */
  val labelAgreement: String =
    s"""WITH preds AS (
       |$langId
       |),
       |cells AS (SELECT lang, pred_lang, CAST(count(*) AS BIGINT) AS n
       |          FROM preds GROUP BY 1, 2),
       |tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_docs,
       |          CAST(sum(CASE WHEN lang = pred_lang THEN n ELSE 0 END)
       |            AS BIGINT) AS n_agree
       |        FROM cells),
       |r AS (SELECT lang, CAST(sum(n) AS BIGINT) AS row_n
       |      FROM cells GROUP BY lang),
       |c AS (SELECT pred_lang, CAST(sum(n) AS BIGINT) AS col_n
       |      FROM cells GROUP BY pred_lang),
       |pe AS (SELECT COALESCE(CAST(sum(row_n * col_n) AS BIGINT),
       |                       CAST(0 AS BIGINT)) AS pe_num
       |       FROM r JOIN c ON r.lang = c.pred_lang)
       |SELECT n_docs, n_agree,
       |  (${TextOps.Ppm} * n_agree) // n_docs AS po_ppm,
       |  (${TextOps.Ppm} * pe_num) // (n_docs * n_docs) AS pe_ppm,
       |  (${TextOps.Ppm} * (n_agree * n_docs - pe_num)) //
       |    (n_docs * n_docs - pe_num) AS kappa_ppm
       |FROM tot, pe""".stripMargin

  /** Krippendorff-alpha twin: the same three size-class raters (the
    * shared band constants), the same coincidence-form integer
    * algebra — per-unit even d_u, the exact 2/(m−1) weight for
    * panels ≤ 3, alpha = (2E − (n−1)W) / 2E in floored ppm. */
  val labelKrippendorff: String = {
    val (l1, l2) = TextOps.AlphaLenBands
    val (w1, w2) = TextOps.AlphaWordBands
    val (d1, d2) = TextOps.AlphaDwBands
    s"""WITH feat AS (
       |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
       |         CAST(len(ws) AS BIGINT) AS n_words,
       |         CAST(len(list_distinct(ws)) AS BIGINT) AS n_dw
       |  FROM (SELECT doc_id, text,
       |          string_split_regex(trim(lower(text)), '\\s+') AS ws
       |        FROM documents)
       |),
       |ratings AS (
       |  SELECT doc_id, CASE WHEN n_chars < $l1 THEN 0
       |                      WHEN n_chars < $l2 THEN 1 ELSE 2 END AS cat
       |  FROM feat
       |  UNION ALL
       |  SELECT doc_id, CASE WHEN n_words < $w1 THEN 0
       |                      WHEN n_words < $w2 THEN 1 ELSE 2 END
       |  FROM feat
       |  UNION ALL
       |  SELECT doc_id, CASE WHEN n_dw < $d1 THEN 0
       |                      WHEN n_dw < $d2 THEN 1 ELSE 2 END
       |  FROM feat WHERE n_words >= ${TextOps.AlphaMinWords}
       |),
       |uc AS (SELECT doc_id, cat, CAST(count(*) AS BIGINT) AS n_uc
       |       FROM ratings GROUP BY 1, 2),
       |units AS (SELECT doc_id, CAST(sum(n_uc) AS BIGINT) AS m_u,
       |            CAST(sum(n_uc * n_uc) AS BIGINT) AS ss_u
       |          FROM uc GROUP BY 1 HAVING sum(n_uc) >= 2),
       |w AS (SELECT CAST(sum((2 * (m_u * m_u - ss_u)) // (m_u - 1))
       |               AS BIGINT) AS w_num,
       |             CAST(sum(m_u) AS BIGINT) AS n_ratings,
       |             CAST(count(*) AS BIGINT) AS n_units
       |      FROM units),
       |marg AS (SELECT cat, CAST(sum(n_uc) AS BIGINT) AS n_c
       |         FROM uc JOIN units USING (doc_id) GROUP BY 1),
       |e AS (SELECT CAST(sum(n_c) * sum(n_c) - sum(n_c * n_c)
       |               AS BIGINT) AS e_num FROM marg)
       |SELECT n_units, n_ratings,
       |  (${TextOps.Ppm} * w_num) // (2 * n_ratings) AS do_ppm,
       |  (${TextOps.Ppm} * e_num) // (n_ratings * (n_ratings - 1)) AS de_ppm,
       |  CASE WHEN e_num = 0 THEN NULL ELSE
       |    (${TextOps.Ppm} * (2 * e_num - (n_ratings - 1) * w_num)) //
       |      (2 * e_num) END AS alpha_ppm
       |FROM w, e""".stripMargin
  }

  /** Calibration twin: the textStats and langId twins joined on
    * doc_id, the identical floored/clamped ppm confidence, decile
    * binning, and BIGINT floor-division diagram. */
  val labelCalibration: String =
    s"""WITH q AS (SELECT doc_id, quality_score FROM ($textStats)),
       |p AS (SELECT doc_id, lang, pred_lang FROM ($langId)),
       |pr AS (
       |  SELECT greatest(0, least(1000000,
       |           CAST(floor(1000000 * quality_score) AS BIGINT))) AS conf_ppm,
       |         lang = pred_lang AS correct
       |  FROM q JOIN p USING (doc_id)
       |),
       |bins AS (
       |  SELECT CAST(least(9, conf_ppm // 100000) AS INT) AS bin,
       |         CAST(count(*) AS BIGINT) AS n,
       |         CAST(sum(conf_ppm) AS BIGINT) AS sum_conf,
       |         CAST(sum(CASE WHEN correct THEN 1 ELSE 0 END) AS BIGINT)
       |           AS n_correct
       |  FROM pr GROUP BY 1
       |),
       |b2 AS (
       |  SELECT bin, n,
       |         sum_conf // n AS avg_conf_ppm,
       |         (1000000 * n_correct) // n AS acc_ppm,
       |         abs(sum_conf // n - (1000000 * n_correct) // n) AS gap_ppm
       |  FROM bins
       |),
       |e AS (SELECT CAST(sum(n * gap_ppm) // sum(n) AS BIGINT) AS ece_ppm
       |      FROM b2)
       |SELECT bin, n, avg_conf_ppm, acc_ppm, gap_ppm, ece_ppm
       |FROM b2, e ORDER BY bin""".stripMargin

  /** Filtered-ANN twin: same predicate-before-scoring semantics,
    * rn ≤ k per query within the label slice. */
  val simFiltered: String =
    s"""WITH e AS (
       |  SELECT vec_id, label, embedding,
       |    sqrt(${dot("embedding", "embedding", "sf")}) AS norm
       |  FROM embeddings
       |),
       |q AS (SELECT vec_id AS query_id, label AS qlabel,
       |             embedding AS qv, norm AS qn
       |      FROM e WHERE vec_id < 8),
       |scored AS (
       |  SELECT q.query_id, q.qlabel AS label, c.vec_id AS neighbor_id,
       |    ${dot("q.qv", "c.embedding", "cf")} / (q.qn * c.norm) AS cos
       |  FROM e c JOIN q ON c.vec_id <> q.query_id AND c.label = q.qlabel
       |)
       |SELECT query_id, label,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |         ORDER BY cos DESC, neighbor_id ASC) AS INT) AS rank,
       |  neighbor_id, cos AS score
       |FROM scored
       |QUALIFY row_number() OVER (PARTITION BY query_id
       |  ORDER BY cos DESC, neighbor_id ASC) <= 3
       |ORDER BY query_id, rank""".stripMargin

  /** Pack-stats twin: the packSequences twin as a subquery under one
    * aggregate, identical ppm utilization. */
  val packStats: String =
    s"""WITH layout AS (
       |$packSequences
       |)
       |SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       |  CAST(max(pack_last) + 1 AS BIGINT) AS n_packs,
       |  CAST(sum(CASE WHEN packs_spanned > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS docs_crossing,
       |  CAST(sum(packs_spanned - 1) AS BIGINT) AS boundary_crossings,
       |  (1000000 * CAST(sum(n_tokens) AS BIGINT))
       |    // (CAST(max(pack_last) + 1 AS BIGINT) * ${PackOps.DefaultBudget})
       |    AS utilization_ppm
       |FROM layout""".stripMargin

  /** Vocab-growth twin: first-occurrence reduction + bucket histogram
    * + running sum over the bucket grid. */
  val vocabGrowth: String =
    s"""WITH w AS (
       |  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ws
       |  FROM documents
       |),
       |b AS (SELECT max(doc_id) AS max_id FROM documents),
       |fs AS (
       |  SELECT t, min(doc_id) AS first_doc
       |  FROM (SELECT DISTINCT doc_id, unnest(ws) AS t FROM w)
       |  GROUP BY t
       |),
       |pb AS (
       |  SELECT CAST(least(${TextOps.GrowthBuckets - 1},
       |           (first_doc * ${TextOps.GrowthBuckets}) // (max_id + 1))
       |         AS INT) AS bucket,
       |         CAST(count(*) AS BIGINT) AS new_terms
       |  FROM fs, b GROUP BY 1
       |),
       |grid AS (SELECT CAST(g AS INT) AS bucket
       |         FROM (SELECT unnest(generate_series(0,
       |           ${TextOps.GrowthBuckets - 1})) AS g))
       |SELECT grid.bucket, coalesce(pb.new_terms, 0) AS new_terms,
       |  CAST(sum(coalesce(pb.new_terms, 0)) OVER (ORDER BY grid.bucket
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS vocab_size
       |FROM grid LEFT JOIN pb ON grid.bucket = pb.bucket
       |ORDER BY grid.bucket""".stripMargin

  /** Venn twin: the shared shingle/jaccard chains for the lexical
    * side, the shared trained-cells chain for the semantic pairs
    * (no CTE-name collisions across the three), one full outer, one
    * 3-row aggregate. */
  val dedupVenn: String =
    s"""$shingleBase,
       |$jaccardTail,
       |$trainedCellsCte,
       |lex AS (
       |  SELECT doc_a, doc_b FROM pairs
       |  JOIN sizes sa ON doc_a = sa.doc_id
       |  JOIN sizes sb ON doc_b = sb.doc_id
       |  WHERE CAST(shared AS DOUBLE) / (sa.n + sb.n - shared) >= 0.5
       |),
       |sem AS (
       |  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
       |  FROM cells a JOIN cells b
       |    ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE ${dot("a.embedding", "b.embedding", "vn")} / (a.norm * b.norm)
       |        >= ${VectorOps.SemTau}
       |)
       |SELECT family, CAST(count(*) AS BIGINT) AS n_pairs FROM (
       |  SELECT CASE
       |    WHEN l.doc_a IS NOT NULL AND s2.doc_a IS NOT NULL THEN 'both'
       |    WHEN l.doc_a IS NOT NULL THEN 'lexical_only'
       |    ELSE 'semantic_only' END AS family
       |  FROM lex l FULL OUTER JOIN sem s2
       |    ON l.doc_a = s2.doc_a AND l.doc_b = s2.doc_b
       |)
       |GROUP BY family
       |ORDER BY family""".stripMargin
}
