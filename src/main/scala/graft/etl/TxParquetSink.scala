package graft.etl

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._
import TxLog.{BloomBits, ColStats, KmvMins, Manifest, deleteTree, encodePartition}

/** Transactional parquet sink — the reference's transactional
  * insert-if-not-exists (`/root/reference/src/Meshjoin.java:489-591`
  * wraps its per-record probes+INSERTs in MySQL transactions) rebuilt as
  * a minimal ACID commit protocol over plain parquet, in the
  * write-audit-publish shape every modern table format (Delta, Iceberg)
  * uses:
  *
  *  1. **Write**: the batch lands as parquet under a fresh
  *     `data/tx-<uuid>` directory. Staged data is invisible — readers
  *     only ever see directories referenced by the log.
  *  2. **Audit**: the staged files' parquet footers are row-counted on
  *     the driver against the count the write itself observed
  *     ([[stageObserved]]) before anything is published; a short write
  *     aborts the commit instead of corrupting the table.
  *  3. **Publish**: one manifest file `_txlog/<version>.txn` appears
  *     ATOMICALLY through [[TxLog.createExclusive]] (a hard link: an
  *     atomic create-if-absent on POSIX — unlike create-then-rename,
  *     which `rename(2)` makes last-writer-wins). Losing the race →
  *     optimistic-concurrency retry, which every retrying commit runs
  *     through one loop ([[publishLoop]]), bounded at
  *     [[TxParquetSink.MaxPublishAttempts]] attempts.
  *
  * MERGE semantics ([[mergeUpsert]]): insert-if-absent on `keys` under
  * snapshot isolation. The anti-join runs against the snapshot the
  * writer read; if a concurrent commit lands first, the loser re-reads
  * ONLY the delta commits, re-filters its staged rows against the keys
  * that appeared in between, and re-publishes — so two interleaved
  * writers upserting overlapping keys produce no duplicates and lose no
  * rows, which plain [[WarehouseSink.upsertAppend]] (read keys → append,
  * no fencing) cannot guarantee. Readers always see a committed prefix
  * of the log: no torn batches, no half-visible files.
  *
  * Scale posture: the log is O(commits) tiny files of a few hundred
  * bytes — listing and parsing it is driver-side metadata work, never a
  * data scan; the per-commit data cost is the same single anti-join
  * shuffle as the non-transactional path (broadcast when the batch is
  * small, the common case). Conflict resolution reads only the DELTA
  * commits, not the table. The deployment-specific primitives are
  * [[TxLog]]'s two file writes — atomic create-if-absent
  * ([[TxLog.createExclusive]], the publish) and atomic replace
  * ([[TxLog.replace]], the advisory base pointer and the constraint
  * registry) — provided here by the POSIX filesystem (local disk, NFS,
  * anything with atomic `link(2)` and `rename(2)`); an object-store
  * deployment swaps exactly those two methods for a conditional PUT /
  * DynamoDB-style log store, as Delta's LogStore does — the protocol
  * above them is unchanged. The manifest format and the log layout
  * are [[TxLog]]'s too.
  */
final case class TxParquetSink(dir: String) extends WarehouseSink {
  import TxParquetSink._

  private val root: Path = Paths.get(dir)
  private val logDir: Path = TxLog.logDir(root)

  /** PUBLISH FENCE — a check [[tryPublish]] runs immediately before
    * the atomic manifest link. [[TxCatalog.transact]] installs one
    * that verifies the table's lease lock STILL carries the
    * transaction's own token, so a transactor that overran its lease
    * and was stolen from has its LATE data publish rejected
    * structurally (the fence throws) instead of only being caught by
    * the catalog's publish-time pin verification. Deliberately NOT a
    * case-class field: fenced sinks compare equal to unfenced ones,
    * and ad-hoc `TxParquetSink(dir)` construction everywhere stays
    * unfenced (a no-op fence). */
  @transient private var publishFence: () => Unit = TxParquetSink.NoFence

  /** A copy of this sink with `fence` run before every manifest
    * publish — the catalog's fencing-token carrier. */
  private[etl] def withFence(fence: () => Unit): TxParquetSink = {
    val s = TxParquetSink(dir)
    s.publishFence = fence
    s
  }

  /** Committed (version, manifest) pairs in version order. Driver-side
    * metadata only, served from the process-wide log snapshot cache
    * ([[cachedLog]]): a hit costs one directory listing and zero
    * manifest reads. */
  def commits(): Seq[(Long, Manifest)] = cachedLog().all

  /** THE COMMIT-LOG SNAPSHOT CACHE — every optimizer-time metadata
    * read ([[version]], [[commits]], [[restatedBetween]],
    * [[maskedBetween]], [[metaProfile]], and through them
    * [[graft.plans.MvRewrite]] / [[graft.plans.MetadataAggregates]] /
    * [[graft.plans.ManifestBroadcastJoins]]) used to re-read and
    * re-parse manifest files per PLAN — fine at bench QPS, repeated
    * driver I/O at dashboard QPS (hundreds of plans/sec against the
    * same table). The cache is keyed by table dir and validated by the
    * sorted `.txn` NAME listing: manifests are write-once (publish is
    * an atomic create; truncation only ever deletes), so an identical
    * name set implies identical content and a hit costs one readdir,
    * zero file reads. On a miss, each file parses AT MOST ONCE per
    * process ([[TxParquetSink.parsedLogs]] memoizes per (dir, name);
    * vanished names are dropped) — a writer's post-commit
    * re-resolution costs O(new commits) parses, not O(history).
    *
    * The snapshot SUFFIX keeps the base-pointer probe semantics: when
    * `_last_base` names a live manifest, only post-pointer names are
    * parsed eagerly, so a corrupt or legacy PRE-BASE manifest never
    * poisons snapshot reads (even in a fresh process); the full
    * history parses lazily, only for callers that genuinely walk it
    * (time travel, feeds, truncation). Shared across sink instances
    * (cheap per-query case classes over the same dir), coarsely
    * bounded at 512 tables. */
  private def cachedLog(): LogSnapshot = {
    // the validator is the sorted name listing PLUS a two-part
    // lifecycle fingerprint: the log directory's inode number AND the
    // first manifest's last-modified time (nanosecond-granular on
    // ext4). A table deleted and recreated at the same path gets a
    // fresh inode — and even if the filesystem RECYCLES the inode
    // (ext4 can), the recreated first manifest carries a later mtime
    // (manifests are write-once, so within one lifecycle the mtime
    // never moves) — so the dead table's cached parses can never
    // revalidate, even when the recreated manifests are
    // byte-length-identical (they are: parquet part names are
    // fixed-width UUIDs). One getAttribute + one stat total, so a
    // cache hit stays one readdir + two stats, never O(history)
    // syscalls. Where an attribute is unavailable that component
    // degrades to 0 — i.e. weaker validation, the
    // within-one-lifecycle contract.
    val ino: Long =
      try Files.getAttribute(logDir, "unix:ino").asInstanceOf[Long]
      catch { case _: Exception => 0L }
    val names: Seq[String] = TxLog.entries(logDir, TxLog.Txn)
    val headMtime: Long = names.headOption.map { n =>
      try Files.getLastModifiedTime(logDir.resolve(n)).to(
        java.util.concurrent.TimeUnit.NANOSECONDS)
      catch { case _: Exception => 0L }
    }.getOrElse(0L)
    val fp = (ino, headMtime)
    val hit = TxParquetSink.logCache.get(dir)
    if (hit != null && hit.fp == fp && hit.names == names) {
      hit.lastAccess = System.nanoTime(); return hit
    }
    val parsesEntry = TxParquetSink.parsedLogs.compute(dir, (_, cur) =>
      // a reincarnated log drops the whole memo: write-once holds
      // within a table's life, not across lifecycles
      if (cur != null && cur._1 == fp) cur
      else (fp, new java.util.concurrent.ConcurrentHashMap[String, (Long, Manifest)]()))
    val parses = parsesEntry._2
    val nameSet = names.toSet
    parses.keySet.removeIf(n => !nameSet.contains(n)) // truncation cleanup
    def parse(n: String): (Long, Manifest) =
      parses.computeIfAbsent(n, nn => {
        TxParquetSink.manifestParses.incrementAndGet()
        (TxLog.entryVersion(nn), TxLog.parseManifest(
          new String(Files.readAllBytes(logDir.resolve(nn)), UTF_8)))
      })
    val suffix = {
      val probed =
        try {
          if (!Files.exists(basePointer)) None
          else {
            val v0 =
              new String(Files.readAllBytes(basePointer), UTF_8).trim.toLong
            val n0 = TxLog.entryName(v0, TxLog.Txn)
            if (!nameSet.contains(n0)) None
            else Some(effective(names.dropWhile(_ < n0).map(parse)))
          }
        } catch { case _: Exception => None } // racing truncation: fall back
      probed.getOrElse(effective(names.map(parse)))
    }
    val snap = new LogSnapshot(fp, names, suffix, () => names.map(parse))
    // bound the cache by evicting the single LEAST-RECENTLY-TOUCHED
    // other table (one O(512) scan, amortized over inserts) — a
    // wholesale clear would make one table over the bound force every
    // hot table in the process to re-list and re-parse its full
    // history on next plan, and a deployment oscillating around the
    // bound would effectively never cache. The evicted dir's parse
    // memo goes with it; every other table's memo stays.
    while (TxParquetSink.logCache.size > 512) {
      import scala.jdk.CollectionConverters._
      val coldest = TxParquetSink.logCache.entrySet().asScala
        .filter(_.getKey != dir)
        .minByOption(_.getValue.lastAccess).map(_.getKey)
      coldest match {
        case Some(k) =>
          TxParquetSink.logCache.remove(k)
          TxParquetSink.parsedLogs.remove(k)
          ()
        case None => TxParquetSink.logCache.clear() // unreachable: size>512 implies another key
      }
    }
    TxParquetSink.logCache.put(dir, snap)
    snap
  }

  /** Latest committed version, −1 for an empty table. */
  def version(): Long = resolvedCommits().lastOption.map(_._1).getOrElse(-1L)

  /** The newest-base pointer file — Delta's `_last_checkpoint` move.
    * Advisory (last-writer-wins atomic rename; correctness never
    * depends on it): [[cachedLog]] uses it to parse only post-pointer
    * manifests eagerly for the snapshot suffix, so a corrupt or
    * legacy pre-base manifest never poisons snapshot reads and a cold
    * resolution on a compacted table costs O(commits-since-base)
    * reads, not O(history). */
  private val basePointer: Path = TxLog.basePointer(root)

  private def writeBasePointer(v: Long): Unit =
    try TxLog.replace(basePointer, v.toString.getBytes(UTF_8))
    catch { case _: java.io.IOException => () } // advisory — never fails a commit

  /** Snapshot-resolution commit list: the effective suffix (newest
    * base onward), served from the log snapshot cache — one readdir
    * on a hit, base-pointer-guided incremental parses on a miss. */
  private[etl] def resolvedCommits(): Seq[(Long, Manifest)] =
    cachedLog().suffix

  /** Snapshot read: the union of every committed data directory; None
    * before the first commit. Uncommitted staged directories are never
    * visible here — that is the isolation guarantee.
    *
    * Served from the RESOLVED-RELATION CACHE: the round-12 log
    * snapshot cache sped the metadata surface up 2.17× but end-to-end
    * only 1.14× (measured round 12; see git history), because plan
    * time is dominated by SCAN-RELATION construction — per-directory
    * file listing and mergeSchema footer reads inside
    * `spark.read.parquet` — not manifest parsing. The head snapshot's
    * resolved DataFrame is therefore memoized per (session, table
    * dir) and validated by the SAME (fingerprint, sorted manifest
    * names) pair as the log cache: manifests are write-once, so an
    * identical name set under an identical lifecycle fingerprint
    * implies an identical file set, masks included. Pruned reads
    * ([[readSnapshotWhere]], time travel) construct fresh — their path
    * sets are query-specific.
    * The cached frame is immutable plan state; callers compose
    * filters/aggregates on top exactly as before. */
  def readSnapshot(spark: SparkSession): Option[DataFrame] = {
    val snap = cachedLog()
    if (snap.suffix.isEmpty) return None
    val key = (TxParquetSink.sessionId(spark), dir)
    val hit = TxParquetSink.relationCache.get(key)
    if (hit != null && hit.fp == snap.fp && hit.names == snap.names)
      return hit.df
    val df = dataOf(spark, snap.suffix)
    TxParquetSink.relationCache.put(key,
      new TxParquetSink.CachedRelation(snap.fp, snap.names, spark, df))
    TxParquetSink.pruneRelationCache(key)
    df
  }

  /** TIME-TRAVEL read: the table exactly as of commit `asOf` — the
    * union of every data directory published at version ≤ asOf. The
    * log IS the version history (append-only manifests, immutable data
    * directories), so any historical snapshot is just a shorter prefix
    * of it: no copy, no restore, driver-side metadata work only. This
    * is what makes the sink's audits reproducible — a reconciliation
    * ([[Reconcile.snapshotDiff]]) can re-read the exact pre-restatement
    * state instead of trusting a saved copy. `vacuumOrphans` never
    * touches committed directories, so history stays readable until a
    * deliberate [[truncateHistory]] pass forgets the pre-base prefix —
    * after which `readVersion` below the truncation horizon sees only
    * the post-base view of that prefix, i.e. returns None. */
  def readVersion(spark: SparkSession, asOf: Long): Option[DataFrame] =
    dataOf(spark, effective(commits().takeWhile(_._1 <= asOf)))

  /** TIME TRAVEL + PREDICATE PRUNING composed: [[readVersionWhere]] is
    * [[readSnapshotWhere]] over the `asOf` prefix of the log — the
    * same auto-derived stats/bloom constraints decide which of the
    * HISTORICAL commits' files exist for the scan, because manifests
    * are immutable: a version's pruning metadata is exactly as
    * consultable as the head's. The audit-query shape at 100 TB:
    * "what did the January slice look like at version v" touches the
    * January commits of that era, nothing else. */
  def readVersionWhere(spark: SparkSession, asOf: Long,
      predicateSql: String): Option[DataFrame] =
    prunedRead(spark, effective(commits().takeWhile(_._1 <= asOf)),
      predicateSql)

  /** Snapshot resolution under compaction: a BASE commit is a full
    * rewrite, so the effective log is the suffix from the newest base
    * (every older commit's rows are contained in it). Applied to any
    * prefix, so time travel keeps working across compactions. */
  private def effective(cs: Seq[(Long, Manifest)]): Seq[(Long, Manifest)] = {
    val i = cs.lastIndexWhere(_._2.base)
    if (i < 0) cs else cs.drop(i)
  }

  /** Commit-list resolution WITH partition-overwrite semantics: a
    * commit's visible rows are its files MINUS any partition a LATER
    * commit in the list replaced ([[overwritePartitions]]). The
    * exclusion is a predicate on the partition COLUMNS (row-group
    * prunable at the scan — never a join), built from the later
    * manifests' dropped-tuple sets: driver-side metadata, O(commits).
    * Commits that share an identical pending-drop set are read in one
    * multi-path scan, so the common tail (commits newer than every
    * overwrite) stays a single read. */
  private def dataOf(spark: SparkSession, cs: Seq[(Long, Manifest)],
      keepFile: (Manifest, String) => Boolean = (_, _) => true): Option[DataFrame] = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    if (cs.isEmpty) return None
    // per commit index i: the replace sets / delete predicates of
    // commits AFTER i — both are row-hiding masks a reader applies to
    // every EARLIER commit's rows, and both are conjunctive filters, so
    // application order is irrelevant and commits sharing a mask set
    // read in one multi-path scan
    val replacesAfter: Seq[Seq[(Seq[String], Set[String])]] =
      cs.indices.map(i => cs.drop(i + 1).map(_._2)
        .filter(_.replaceCols.nonEmpty)
        .map(m => (m.replaceCols, m.replaceKeys)))
    val deletesAfter: Seq[Seq[String]] =
      cs.indices.map(i => cs.drop(i + 1).flatMap(_._2.deletePred))
    val grouped = cs.zipWithIndex
      .groupBy { case (_, i) => (replacesAfter(i), deletesAfter(i)) }
      .toSeq
    // keepFile prunes FILE READS only (stats-based data skipping) —
    // manifests stay in replacesAfter/deletesAfter, so a pruned
    // overwrite or delete still masks earlier commits
    val frames = grouped.flatMap { case ((drops, dels), commits) =>
      val withFiles = commits.map(_._1._2)
        .map(m => (m, m.files.filter(f => keepFile(m, f))))
        .filter(_._2.nonEmpty)
      val paths = withFiles.flatMap(_._2).map(f => root.resolve(f).toString)
      if (paths.isEmpty) None
      else {
        // Schema from the MANIFESTS when every contributing commit
        // recorded the same one (the overwhelmingly common case — no
        // mid-group evolution): the explicit schema makes the relation
        // build metadata-only (zero footer reads, zero schema-inference
        // jobs — at 100 TB, O(1) instead of O(files) driver I/O per
        // plan). Otherwise fall back to mergeSchema: commits may ADD
        // columns over the table's life (schema evolution) — older
        // rows read back null-filled, the Delta/Iceberg contract;
        // dropping or retyping a column is not supported (parquet
        // would throw on read, loudly).
        TxParquetSink.relationBuilds.incrementAndGet()
        val schemas = withFiles.map(_._1.schema)
        val base =
          if (schemas.forall(_.isDefined) && schemas.flatten.distinct.size == 1)
            spark.read.schema(org.apache.spark.sql.types.DataType
              .fromJson(schemas.head.get)
              .asInstanceOf[org.apache.spark.sql.types.StructType])
              .parquet(paths: _*)
          else spark.read.option("mergeSchema", "true").parquet(paths: _*)
        val replaced = drops.foldLeft(base) { case (df, (cols, keys)) =>
          df.where(dropPredicate(cols, keys))
        }
        // SQL DELETE semantics: a row is deleted iff the predicate is
        // TRUE — a NULL predicate keeps the row (the coalesce)
        Some(dels.foldLeft(replaced) { case (df, pred) =>
          df.where(not(coalesce(expr(pred), lit(false))))
        })
      }
    }
    frames.reduceOption(_.unionByName(_, allowMissingColumns = true))
  }

  def existingKeys(spark: SparkSession, keys: Seq[String], schemaSource: DataFrame): DataFrame =
    readSnapshot(spark)
      .map(_.select(keys.head, keys.tail: _*))
      .getOrElse(WarehouseSink.emptyKeys(spark, keys, schemaSource))

  /** Unconditional transactional append (no key semantics): stage, audit,
    * publish. Appends never conflict with each other — a lost race just
    * re-publishes the same staged directory at the next version. */
  def append(df: DataFrame): Unit = {
    // ONE pass (round-13 optimization): count + constraint check fused
    // into the staging write via observe; audit from the footers — the
    // old count→constrain→write→re-read path ran the batch plan twice
    // and read it back once more.
    val cons = constraintViolationAggs()
    val (staged, n, metrics) = stageObserved(df, cons.map(_._3))
    if (n == 0) { deleteTree(root.resolve(staged)); return }
    checkConstraintMetrics(cons, metrics, Some(staged))
    val m = Manifest(n, Seq(staged), schema = Some(df.schema.json))
    publishLoop("append")((_, _) => ())(() => Claim(version() + 1, m))
  }

  /** The highest committed application-transaction version for
    * `appId`, −1 if none — scanned from the FULL manifest log (a
    * compaction base carries no txn records, so the pre-base
    * manifests must stay consulted), which means the dedup horizon is
    * bounded by [[truncateHistory]]: a replay older than the
    * truncated history can no longer be detected — Delta's documented
    * `txn` retention caveat; size the truncation window above the
    * longest possible redelivery gap. */
  def lastTxnVersion(appId: String): Long =
    commits().flatMap(_._2.txn)
      .collect { case (a, v) if a == appId => v }
      .maxOption.getOrElse(-1L)

  /** IDEMPOTENT APPEND — Delta's `txnAppId`/`txnVersion` writer
    * contract, the exactly-once primitive for at-least-once delivery
    * (foreachBatch retries, crash-restarted backfills) that
    * [[graft.streaming.TxStreamSink]]'s overwrite pattern cannot
    * cover when batches are NOT complete partitions: the writer names
    * its stream (`appId`) and a monotone batch version; the commit
    * records both in the manifest, and a delivery whose version is at
    * or below the recorded high-water mark is dropped WITHOUT staging
    * a byte. The check re-runs inside the optimistic publish loop, so
    * two racing writers of the same (appId, version) cannot both
    * land — the loser's re-check sees the winner's manifest and
    * abandons its staged data. Version gaps are allowed (an empty
    * batch consumes a version without committing), matching Delta:
    * the contract is monotone, not contiguous. Returns true iff this
    * call committed. */
  def appendIdempotent(df: DataFrame, appId: String,
      txnVersion: Long): Boolean = {
    if (txnVersion <= lastTxnVersion(appId)) return false
    // one fused staging pass — the [[append]] discipline
    val cons = constraintViolationAggs()
    val (staged, n, metrics) = stageObserved(df, cons.map(_._3))
    if (n == 0) { deleteTree(root.resolve(staged)); return false }
    checkConstraintMetrics(cons, metrics, Some(staged))
    val manifest = Manifest(n, Seq(staged), txn = Some((appId, txnVersion)),
      schema = Some(df.schema.json))
    publishLoop("appendIdempotent")((_, _) => true) { () =>
      // pin the target version BEFORE re-checking the mark: a twin
      // writer landing between the check and the publish necessarily
      // takes this version, so our publish fails and the next attempt
      // sees its mark — no TOCTOU double-commit
      val v = version() + 1
      if (txnVersion <= lastTxnVersion(appId)) { // raced a twin writer
        deleteTree(root.resolve(staged))
        Done(false)
      } else Claim(v, manifest)
    }
  }

  /** Transactional append that records per-commit MIN/MAX column
    * statistics in the manifest — the metadata that makes
    * [[readSnapshotWhere]]'s data skipping possible. The stats
    * aggregate is one bounded pass fused with the audit read-back (the
    * staged files are being re-read anyway); an all-null column yields
    * no stats entry (conservatively always read). At 100 TB this is
    * the same move Delta/Iceberg make: commit-time stats cost one
    * map-reduce over the batch; every later range read prunes whole
    * commits from the DRIVER, before any scan task launches. */
  def appendWithStats(df: DataFrame, statsCols: Seq[String],
      bloomCols: Seq[String] = Nil, sketchCols: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    val spark = df.sparkSession
    // count + constraints + min/max/nulls/sums profile fused into the
    // ONE staging write (round-13 optimization — this path used to run
    // the batch plan twice and re-read the staged files twice more);
    // only the bloom/KMV passes below still read the staged files, and
    // only when those columns are requested.
    val cons = constraintViolationAggs()
    val (staged, n, metrics) = stageObserved(df,
      cons.map(_._3) ++ statsAggsFor(df.schema, statsCols))
    if (n == 0) { deleteTree(root.resolve(staged)); return }
    checkConstraintMetrics(cons, metrics, Some(staged))
    lazy val stagedDf = spark.read.parquet(root.resolve(staged).toString)
    val (stats, nullCounts, sums, sumsqs) =
      decodeStatsMetrics(metrics(_), n, statsCols, df.schema)
    // one bloom over the whole batch; an all-null column gets the empty
    // bloom, which every point probe misses
    val blooms = bloomCols.map(c =>
      c -> bloomsBy(stagedDf, c, lit("")).getOrElse("", bloomOf(Nil))).toMap
    // per-column KMV sketch: one bounded aggregate fused with the
    // read-back scan; at most SketchK longs per column reach the driver
    val sketches = sketchCols.map { c =>
      val arr = stagedDf
        .select(graft.ext.TextOps.h32(col(c).cast("string")).as("h"))
        .agg(graft.functions.KmvSketchAgg.kmvSketch(col("h"), SketchK).as("sk"))
        .head().getSeq[Long](0)
      c -> KmvMins(SketchK, arr)
    }.toMap
    val m = Manifest(n, Seq(staged), stats = stats, blooms = blooms,
      sketches = sketches, nullCounts = nullCounts, sums = sums,
      sumsqs = sumsqs, schema = Some(df.schema.json))
    publishLoop("appendWithStats")((_, _) => ())(() => Claim(version() + 1, m))
  }

  /** Bloom filters of column `c` over `df`, one per value of `group`,
    * computed DISTRIBUTED (the data may be huge): k hash positions per
    * non-null row fused into the scan, one bounded distinct — at most
    * BloomM ints per group ever reach the driver. A group without a
    * non-null value gets no entry. */
  private def bloomsBy(df: DataFrame, c: String,
      group: org.apache.spark.sql.Column): Map[String, BloomBits] = {
    import org.apache.spark.sql.functions.{array, col, concat, explode, lit, pmod}
    df.where(col(c).isNotNull)
      .select(group.cast("string").as("g"),
        explode(array((0 until BloomK).map(i =>
          pmod(graft.ext.TextOps.h32(
            concat(lit(s"bloom$i:"), col(c).cast("string"))), lit(BloomM))
            .cast("int")): _*)).as("p"))
      .distinct().collect()
      .groupBy(_.getString(0))
      .map { case (g, rows) => g -> bloomOf(rows.map(_.getInt(1))) }
  }

  /** The TABLE-level KMV sketch for `column`: the per-commit sketches
    * union-truncated (the bottom-k semilattice — batching-invariant,
    * so this equals the sketch of a one-shot load). SOUND only when
    * every live row is profiled and none is hidden: refuses masked
    * logs (a delete/overwrite mask would leave ghost values in the
    * fold — the [[exportManifest]] self-describing discipline) and
    * logs where any data commit lacks the column's sketch (including
    * compaction bases, which carry no sketches — re-profile after
    * OPTIMIZE). Driver-only, O(commits · k); zero data reads. */
  def tableSketch(column: String): KmvMins = {
    val cs = commits()
    require(!cs.exists(_._2.hidesRows),
      s"tableSketch('$column') on a log with row-hiding masks would " +
        "profile resurrected values; re-profile the compacted data")
    val data = cs.map(_._2).filter(m => m.rows > 0)
    require(data.nonEmpty, "no data commits to profile")
    require(data.forall(_.sketches.contains(column)),
      s"every data commit must carry a kmv sketch for '$column' " +
        "(compaction bases drop sketches — re-profile after OPTIMIZE)")
    val k = data.head.sketches(column).k
    require(data.forall(_.sketches(column).k == k),
      s"mixed sketch sizes for '$column'")
    KmvMins(k, data.flatMap(_.sketches(column).mins).distinct.sorted.take(k))
  }

  /** PREDICATE-DRIVEN DATA SKIPPING — the sink's one pruned read, the
    * way Delta/Iceberg prune from a query's WHERE clause without the
    * caller naming columns and bounds by hand. The predicate is parsed
    * with Catalyst's own SQL parser ([[parsePruningConstraintsFull]]);
    * each recognized conjunct — `col = lit`, `col IN (...)`,
    * `col < / <= / > / >= lit`, either argument order — contributes a
    * stats-range and/or bloom constraint every file must survive;
    * everything else (OR trees, functions, casts, typed literals)
    * contributes NOTHING — the conservative always-read posture.
    * [[classifyFiles]] then marks each file Excluded, Boundary or Full,
    * and every file that is not Excluded is scanned. The FULL original
    * predicate is applied to the pruned scan, so results are exact —
    * pruning is pure I/O avoidance, never semantics (Delta's
    * stats-skipping contract). Replace semantics survive pruning: a
    * later overwrite's or delete's mask applies to every KEPT earlier
    * commit whether or not the masking commit's own data was skipped
    * (manifests are never pruned, only their file reads).
    *
    * Type-coercion safety (the part that makes auto-derivation sound):
    * manifest stats/blooms hold `CAST(x AS STRING)` forms, while SQL
    * comparison happens after implicit coercion — so a constraint only
    * prunes when the literal's rendering provably matches the column's:
    * numeric literals against numeric stats (exact BigDecimal), and
    * string literals ONLY against a column the manifest's recorded
    * `schema` proves STRING (engine collation). Spark casts a string
    * literal to a DATE/TIMESTAMP column's type before comparing, so
    * `d = '2024-1-1'` or `ts <= '2024-01-01'` constrains nothing here;
    * a manifest without a recorded schema keeps the file and never
    * gives it Full credit. A bloom probes only when the stored cast
    * form provably equals the literal's rendering: the proven STRING
    * column for a string literal; integral-formed numeric stats, else
    * an integral column in the recorded schema, for an integral one (a
    * DOUBLE column stores "5.0", so probing it with `= 5`'s "5" is
    * refused rather than wrongly pruned). Any mismatch, or no proof,
    * ⇒ the file is read.
    * At 100 TB this is the read path every ad-hoc query takes: the user
    * writes WHERE, the manifests decide which files exist for the
    * scan. Returns None for an empty table or an all-pruned read. */
  def readSnapshotWhere(spark: SparkSession,
      predicateSql: String): Option[DataFrame] =
    prunedRead(spark, resolvedCommits(), predicateSql)

  /** [[readSnapshotWhere]] over any commit list (the time-travel prefix
    * of [[readVersionWhere]] included): scan every file
    * [[classifyFiles]] does not mark Excluded, then apply the full
    * predicate. */
  private def prunedRead(spark: SparkSession, cs: Seq[(Long, Manifest)],
      predicateSql: String): Option[DataFrame] = {
    val excluded = classifyFiles(spark, predicateSql, cs)
      .collect { case (_, f, Excluded, _) => f }.toSet
    dataOf(spark, cs, keepFile = (_, f) => !excluded(f))
      .map(_.where(org.apache.spark.sql.functions.expr(predicateSql)))
  }

  /** Observability twin of [[readSnapshotWhere]]: (files in the
    * effective snapshot, files [[classifyFiles]] marks Excluded — the
    * files the pruned read skips). Driver-side metadata only. */
  def skippingAuditWhere(spark: SparkSession,
      predicateSql: String): (Int, Int) = {
    val classed = classifyFiles(spark, predicateSql)
    (classed.size, classed.count(_._3 == Excluded))
  }

  /** BOUNDARY-EXACT PREDICATE COUNT — `SELECT COUNT(*) WHERE <pred>`
    * reading ONLY the files the predicate's derived constraints cannot
    * decide. Every file in the effective snapshot classifies as:
    *
    *  - **Excluded** (stats/bloom disjoint — [[consKeeps]] fails):
    *    contributes 0, never read;
    *  - **Full** (stats PROVE every row satisfies every conjunct —
    *    [[consFull]], strictness-aware, plus a recorded ZERO null
    *    count for each constrained column, since min/max ignore NULLs
    *    and NULL fails every comparison): contributes its manifest row
    *    count, never read;
    *  - **Boundary** (everything else): scanned with the full original
    *    predicate — the only data I/O the count performs.
    *
    * Full credit additionally requires: the predicate parsed COMPLETELY
    * (an unrecognized conjunct could reject rows inside a "full" file);
    * the file's exact row count is known (single-file commits from the
    * manifest total, [[compactClustered]] base files from their
    * `frows=` records — other multi-file bases demote to Boundary); and
    * no LATER commit hides rows ([[deleteWhere]] / [[overwritePartitions]]
    * masks apply at scan time, which Full files skip). Any doubt
    * demotes to Boundary — the answer is always exact, classification
    * only moves I/O. This is how a 100-TB `COUNT(*) WHERE day BETWEEN
    * …` touches two boundary files instead of three years of data. */
  def countWhere(spark: SparkSession, predicateSql: String): Long =
    countWhereAudit(spark, predicateSql)._1

  /** [[countWhere]] plus its classification audit:
    * (count, fullFiles, boundaryFiles, excludedFiles). */
  def countWhereAudit(spark: SparkSession,
      predicateSql: String): (Long, Int, Int, Int) = {
    val (classed, bRow) = classifiedScan(spark, predicateSql, Nil)
    def files(cls: Int) = classed.count(_._3 == cls)
    (credited(classed).map(_._3).sum + rowsOf(bRow),
      files(Full), files(Boundary), files(Excluded))
  }

  /** BOUNDARY-EXACT AGGREGATE — [[statsAggregate]] under a predicate:
    * COUNT(*)/MIN/MAX/SUM of `columns` over the predicate's rows,
    * reading only Boundary files. Full files contribute through the
    * manifest fold ([[TxParquetSink.foldColumn]]): row counts, recorded
    * min/max (exact per-file extremes, and every row of a Full file
    * satisfies the predicate; SQL MIN/MAX ignore NULLs exactly as the
    * stats do, so no null-count condition is needed on the AGGREGATED
    * columns — only on the constrained ones, which [[classifyFiles]]
    * already enforces) and recorded sums. Files lacking stats for an
    * aggregated column demote to Boundary; extremes from the two
    * sources combine in the stats' cast-to-string domain. SUM is exact
    * or NULL: every Full file must carry a sum record and the boundary
    * scan must have summed (integral column, or no boundary rows). One
    * output row per column, the [[statsAggregate]] shape. */
  def statsAggregateWhere(spark: SparkSession, columns: Seq[String],
      predicateSql: String): DataFrame = {
    import spark.implicits._
    val (classed, bRow) = classifiedScan(spark, predicateSql, columns,
      fullAlso = (m, f) => columns.forall(c => statsFor(m, f, c).isDefined))
    val fulls = credited(classed)
    val n = fulls.map(_._3).sum + rowsOf(bRow)
    columns.sorted.map { c =>
      val fold = foldColumn(fulls, c)
      require(fulls.isEmpty || fold.domain.isDefined,
        s"statsAggregateWhere('$c'): commits disagree on the column's type")
      // one boundary value needs no order, so a Full-less fold's
      // missing domain never matters
      val num = fold.domain.getOrElse(false)
      val mins = fold.extremes.map(_._1).toSeq ++ scanned(bRow, "min", c)
      val maxs = fold.extremes.map(_._2).toSeq ++ scanned(bRow, "max", c)
      val bSum = scanned(bRow, "sum", c)
      val sum = fold.sum.filter(_ => n > 0L && (rowsOf(bRow) == 0L || bSum.isDefined))
        .map(_ + bSum.map(exactSum).getOrElse(BigInt(0)))
      (c, n, if (mins.isEmpty) null else minOf(mins, num),
        if (maxs.isEmpty) null else maxOf(maxs, num), sum.map(_.toString).orNull)
    }.toDF("column", "n_rows", "min_value", "max_value", "sum_value")
  }

  /** BOUNDARY-EXACT MOMENTS — [[momentsAggregate]] under a predicate:
    * the exact AVG/VARIANCE ingredients of the predicate's rows,
    * reading only Boundary files. Full files contribute their
    * manifest's first AND second moment records plus null-count-derived
    * non-null counts — which is why the Full bar is higher here than in
    * [[statsAggregateWhere]]: per-file moment records don't exist, so
    * only SINGLE-DIRECTORY commits carrying `sum=`, `sumsq=` and the
    * column's null count take credit; everything else (multi-file
    * bases included) demotes to a boundary scan, which stays exact.
    * Output is the [[momentsAggregate]] shape with `n_rows` =
    * predicate-matching rows; moment fields are NULL (never wrong)
    * when a boundary column isn't integral. */
  def momentsAggregateWhere(spark: SparkSession, columns: Seq[String],
      predicateSql: String): DataFrame = {
    val (classed, bRow) = classifiedScan(spark, predicateSql, columns,
      fullAlso = (m, _) => m.files.size == 1 && columns.forall(c =>
        m.sums.contains(c) && m.sumsqs.contains(c) &&
          m.nullCounts.contains(c)))
    val fulls = credited(classed)
    val n = fulls.map(_._3).sum + rowsOf(bRow)
    momentsFrame(spark, columns.sorted.map { c =>
      val fold = foldColumn(fulls, c)
      val (bSum, bSq) = (scanned(bRow, "sum", c), scanned(bRow, "sumsq", c))
      (c, n, for {
        nn <- fold.nonNull; sm <- fold.sum; sq <- fold.sumsq
        if n > 0L && (rowsOf(bRow) == 0L || (bSum.isDefined && bSq.isDefined))
      } yield (nn + bRow.map(_.getAs[Long](s"__cnt_$c")).getOrElse(0L),
        sm + bSum.map(exactSum).getOrElse(BigInt(0)),
        sq + bSq.map(exactSum).getOrElse(BigInt(0))))
    })
  }

  /** Per-staged-path row metadata for the CURRENT effective snapshot:
    * absolute file path → (commit version, the commit's TOTAL rows).
    * The consumer sums each represented commit once (distinct by
    * version), which upper-bounds the rows any subset of the commit's
    * files can produce — masks and pruned reads only shrink it. This
    * is the lookup [[graft.plans.ManifestBroadcastJoins]] uses to size
    * join sides from manifests alone; driver-side metadata, no scan. */
  def pathRows(): Map[String, (Long, Long)] =
    resolvedCommits().flatMap { case (v, m) =>
      m.files.map(f => root.resolve(f).toString -> (v, m.rows))
    }.toMap

  /** THE QUIET METADATA KERNEL — the (Option, never-throw, never-scan)
    * sibling of [[statsAggregate]]/[[momentsAggregate]] and the one
    * driver-side kernel behind [[graft.plans.MetadataAggregates]] (and
    * [[graft.plans.MvRewrite]]'s AVG proof). One entry per group tuple:
    * (rendered group values in `groupCols` order, rows, and per
    * `aggCols` column whose stats every unit of the group carries, its
    * [[ColMetaProfile]]). The units a fold credits:
    *
    *  - no predicate: the data commits of the log;
    *  - a predicate: the Full files of [[classifyFiles]] — one Boundary
    *    file would need data, so the answer is None (an all-Excluded
    *    classification credits nothing: one empty ungrouped entry).
    *
    * With `groupCols` empty there is exactly one entry (empty values).
    * Grouping needs every unit SINGLE-VALUED and null-free in every
    * group column (recorded min == max and a recorded zero null
    * count) with one numeric flag per column — the partition-grain
    * load shape (one commit per day, per (day, region), …) where a
    * grouped profile is just a per-group fold of per-unit records.
    * None on an empty or row-hiding (masked) log, on a predicate the
    * parser rejects, and whenever the guard fails: an unanswerable
    * question costs nothing (the scan plan stands), a wrong answer is
    * never an option. O(commits) driver metadata — safe inside the
    * optimizer. `nonNull`/`sum` of a profile are themselves optional
    * (each needs its record on every unit); `sum` folds as BigInt —
    * the caller decides whether it fits the engine type. */
  def metaProfile(spark: SparkSession, predicateSql: Option[String],
      groupCols: Seq[String], aggCols: Seq[String])
      : Option[Seq[(Seq[String], Long, Map[String, ColMetaProfile])]] =
    try {
      val cs = resolvedCommits()
      if (cs.isEmpty || cs.exists(_._2.hidesRows)) return None
      val units = predicateSql match {
        case None => wholeCommits(cs.map(_._2).filter(_.rows > 0))
        case Some(p) =>
          val classed = classifyFiles(spark, p, cs)
          if (classed.exists(_._3 == Boundary)) return None
          credited(classed)
      }
      // each unit's single value per group column, or no grouping
      val keys = units.map { case (m, f, _) => groupCols.map { g =>
        val s = f.fold(m.stats.get(g))(statsFor(m, _, g))
          .filter(s => s.min == s.max && m.nullCounts.get(g).contains(0L))
          .getOrElse(return None)
        (s.min, s.num)
      } }
      if (keys.map(_.map(_._2)).distinct.size > 1) return None
      val groups =
        if (groupCols.isEmpty) Seq(Nil -> units)
        else units.zip(keys).groupBy(_._2.map(_._1)).toSeq
          .map { case (gv, us) => gv -> us.map(_._1) }
      Some(groups.map { case (gv, us) =>
        (gv, us.map(_._3).sum, aggCols.flatMap(c =>
          foldColumn(us, c).profile.map(c -> _)).toMap)
      })
    } catch { case scala.util.control.NonFatal(_) => None }

  /** The data commits behind [[statsAggregate]] and
    * [[momentsAggregate]] — the loud twin of [[metaProfile]]'s
    * unfiltered units: masked or data-less logs are REFUSED. */
  private def profiledData(api: String): Seq[Manifest] = {
    val ms = resolvedCommits().map(_._2)
    require(!ms.exists(_.hidesRows),
      s"$api on a log with row-hiding masks (deleteWhere / " +
        "overwritePartitions) would aggregate hidden rows; compact first")
    val data = ms.filter(_.rows > 0)
    require(data.nonEmpty, s"$api: no data commits")
    data
  }

  /** THE FILE CLASSIFICATION behind every pruned read and classified
    * aggregate ([[readSnapshotWhere]], [[skippingAuditWhere]],
    * [[countWhere]], [[statsAggregateWhere]], [[momentsAggregateWhere]],
    * [[metaProfile]]): per file of `cs`,
    * (manifest, path, Excluded/Boundary/Full, exact rows if known).
    * Exact per-file rows come from `frows=` records ([[compactClustered]]
    * bases) or the commit total when it staged a single directory.
    * The mask-free suffix rule: a file's rows can be hidden only by
    * masks in STRICTLY LATER commits ([[dataOf]]'s replacesAfter /
    * deletesAfter semantics — a masking commit never masks itself), so
    * commits at or after the last row-hiding commit are credit-
    * eligible. `fullAlso` lets callers add eligibility conditions. */
  private def classifyFiles(spark: SparkSession, predicateSql: String,
      cs: Seq[(Long, Manifest)] = resolvedCommits(),
      fullAlso: (Manifest, String) => Boolean = (_, _) => true): Seq[Classed] = {
    val (cons, complete) = parsePruningConstraintsFull(spark, predicateSql)
    val lastMask = cs.lastIndexWhere(_._2.hidesRows)
    cs.zipWithIndex.flatMap { case ((_, m), i) =>
      m.files.map { f =>
        val rowsKnown = m.fileRows.get(f)
          .orElse(if (m.files.size == 1) Some(m.rows) else None)
        val cls =
          if (!cons.forall(consKeeps(m, f, _))) Excluded
          else if (complete && cons.nonEmpty && i >= lastMask &&
            rowsKnown.isDefined &&
            cons.forall(c => consFull(m, f, c)) &&
            cons.forall(c => m.nullCounts.get(colOfCons(c)).contains(0L)) &&
            fullAlso(m, f))
            Full
          else Boundary
        (m, f, cls, rowsKnown)
      }
    }
  }

  /** [[classifyFiles]] plus the ONE boundary scan every classified
    * aggregate shares: only Boundary files are read, under the full
    * predicate, and aggregated in one job — the row count `__n` plus
    * [[statsAggsFor]]' per-column records (min/max, non-null count,
    * exact integral sum and sum of squares). None when no file is
    * Boundary. */
  private def classifiedScan(spark: SparkSession, predicateSql: String,
      columns: Seq[String],
      fullAlso: (Manifest, String) => Boolean = (_, _) => true)
      : (Seq[Classed], Option[org.apache.spark.sql.Row]) = {
    import org.apache.spark.sql.functions.{count, expr, lit}
    val cs = resolvedCommits()
    val classed = classifyFiles(spark, predicateSql, cs, fullAlso)
    val boundary = classed.collect { case (_, f, Boundary, _) => f }.toSet
    val row = dataOf(spark, cs, keepFile = (_, f) => boundary(f)).map { df =>
      val aggs = count(lit(1)).as("__n") +: statsAggsFor(df.schema, columns)
      df.where(expr(predicateSql)).agg(aggs.head, aggs.tail: _*).head()
    }
    (classed, row)
  }

  /** The boundary scan's matching rows, and one of its per-column
    * [[statsAggsFor]] records (`min`, `max`, `sum`, `sumsq`). */
  private def rowsOf(boundary: Option[org.apache.spark.sql.Row]): Long =
    boundary.map(_.getAs[Long]("__n")).getOrElse(0L)

  private def scanned(boundary: Option[org.apache.spark.sql.Row],
      rec: String, c: String): Option[String] =
    boundary.flatMap(r => statValue(r.getAs[Any](_), rec, c))

  private def colOfCons(c: PruneCons): String = c match {
    case r: RangeCons => r.col
    case e: EqCons => e.col
    case i: InCons => i.col
    case n: NotNullCons => n.col
  }

  /** The stats entry governing file `f` of manifest `m` for `column`:
    * per-file ([[compactRanged]]) over commit-level, None = no pruning. */
  private def statsFor(m: Manifest, f: String,
      column: String): Option[ColStats] =
    m.fileStats.get(f).flatMap(_.get(column)).orElse(m.stats.get(column))

  /** The per-file bloom probe: file-level blooms ([[compactRanged]])
    * take precedence, then commit-level, then conservative keep. False
    * positives only add reads; false negatives cannot occur. */
  private def pointKeeps(m: Manifest, f: String, column: String,
      value: String): Boolean =
    m.fileBlooms.get(f).flatMap(_.get(column)).orElse(m.blooms.get(column))
      .forall(b => mightContain(b, value))

  /** Is `c` a string-literal constraint on a column the manifest's
    * recorded schema does not prove STRING? Spark compares a string
    * literal with a DATE/TIMESTAMP/… column only after casting the
    * literal (`d = '2024-1-1'` matches the stat "2024-01-01"), so such
    * a constraint says nothing about the cast-to-string stats or
    * blooms: the file is kept and never Full. */
  private def stringLitUnproven(m: Manifest, c: PruneCons): Boolean =
    (c match {
      case r: RangeCons => !r.litNum
      case e: EqCons => !e.litNum
      case i: InCons => !i.litNum
      case _: NotNullCons => false
    }) && !m.fieldTypes.get(colOfCons(c))
      .contains(org.apache.spark.sql.types.StringType)

  private def consKeeps(m: Manifest, f: String, c: PruneCons): Boolean = c match {
    case _ if stringLitUnproven(m, c) => true
    case RangeCons(col, lo, hi, litNum, _, _) =>
      statsFor(m, f, col).forall(s =>
        s.num != litNum || !boundDisjoint(s, lo, hi))
    case EqCons(col, v, litNum, litIntegral) =>
      val stats = statsFor(m, f, col)
      val statsOk = stats.forall(s =>
        s.num != litNum || !boundDisjoint(s, Some(v), Some(v)))
      // bloom probes only under a PROVEN cast-form match (see
      // readSnapshotWhere): a string literal's STRING column is proven
      // above; an integral literal needs integral-formed stats, else
      // an integral column in the recorded schema
      val bloomSafe = !litNum || litIntegral && (stats match {
        case Some(s) => s.num && integralForm(s.min) && integralForm(s.max)
        case None => m.fieldTypes.get(col).exists(integralType)
      })
      statsOk && (!bloomSafe || pointKeeps(m, f, col, v))
    case InCons(col, vs, litNum, litIntegral) =>
      vs.isEmpty || vs.exists(v =>
        consKeeps(m, f, EqCons(col, v, litNum, litIntegral)))
    case NotNullCons(_) => true // never excludes (see the case class doc)
  }

  /** Does the stats entry PROVE every non-null row of the file
    * satisfies the constraint? (The Full half of [[countWhere]]'s
    * classification — the dual of [[consKeeps]]' Excluded half.)
    * Strictness matters here where pruning could ignore it: `x > 20`
    * is full only when min > 20. Domain mismatches and unparseable
    * literals are never full. */
  private def consFull(m: Manifest, f: String, c: PruneCons): Boolean = c match {
    case _ if stringLitUnproven(m, c) => false
    case r: RangeCons =>
      statsFor(m, f, r.col).exists { s =>
        s.num == r.litNum && (try {
          def cmp(a: String, b: String): Int =
            if (s.num) BigDecimal(a).compare(BigDecimal(b)) else utf8Cmp(a, b)
          r.lo.forall(l => if (r.loStrict) cmp(s.min, l) > 0 else cmp(s.min, l) >= 0) &&
          r.hi.forall(h => if (r.hiStrict) cmp(s.max, h) < 0 else cmp(s.max, h) <= 0)
        } catch { case _: NumberFormatException => false })
      }
    case EqCons(col, v, litNum, _) =>
      statsFor(m, f, col).exists { s =>
        s.num == litNum && (try {
          def eq(a: String, b: String): Boolean =
            if (s.num) BigDecimal(a).compare(BigDecimal(b)) == 0 else a == b
          eq(s.min, v) && eq(s.max, v)
        } catch { case _: NumberFormatException => false })
      }
    case InCons(col, vs, litNum, litIntegral) =>
      vs.exists(v => consFull(m, f, EqCons(col, v, litNum, litIntegral)))
    // full iff the file's recorded null count is zero — exactly the
    // per-constraint null-count gate classifyFiles applies to every
    // constrained column, so TRUE here composes with that gate
    case NotNullCons(_) => true
  }

  /** The predicate's pruning constraints plus a COMPLETENESS flag:
    * true iff EVERY top-level conjunct yielded a constraint — the
    * precondition for crediting Full files in [[classifyFiles]] (an
    * unrecognized conjunct could reject rows a "fully satisfied" file
    * would count). */
  private def parsePruningConstraintsFull(spark: SparkSession,
      predicateSql: String): (Seq[PruneCons], Boolean) = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types._
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case o => Seq(o)
    }
    def colOf(e: Expression): Option[String] = e match {
      case a: UnresolvedAttribute if a.nameParts.size == 1 =>
        Some(a.nameParts.head)
      case _ => None
    }
    // literal rendering in the manifest's cast-to-string domain; typed
    // literals (DATE/TIMESTAMP/BINARY...) render internally (epoch
    // ints), so only string/numeric literals ever participate
    def rendered(l: Literal): Option[(String, Boolean, Boolean)] =
      l.dataType match {
        case _ if l.value == null => None
        case StringType => Some((l.value.toString, false, false))
        case t if integralType(t) => Some((l.value.toString, true, true))
        case _: NumericType => Some((l.value.toString, true, false))
        case _ => None
      }
    val opts: Seq[Option[PruneCons]] =
      conjuncts(spark.sessionState.sqlParser.parseExpression(predicateSql))
        .map {
          case EqualTo(a, l: Literal) =>
            for (c <- colOf(a); (v, n, i) <- rendered(l)) yield EqCons(c, v, n, i)
          case EqualTo(l: Literal, a) =>
            for (c <- colOf(a); (v, n, i) <- rendered(l)) yield EqCons(c, v, n, i)
          case GreaterThan(a, l: Literal) =>
            for (c <- colOf(a); (v, n, _) <- rendered(l))
              yield RangeCons(c, Some(v), None, n, loStrict = true)
          case GreaterThanOrEqual(a, l: Literal) =>
            for (c <- colOf(a); (v, n, _) <- rendered(l))
              yield RangeCons(c, Some(v), None, n)
          case LessThan(a, l: Literal) =>
            for (c <- colOf(a); (v, n, _) <- rendered(l))
              yield RangeCons(c, None, Some(v), n, hiStrict = true)
          case LessThanOrEqual(a, l: Literal) =>
            for (c <- colOf(a); (v, n, _) <- rendered(l))
              yield RangeCons(c, None, Some(v), n)
          case GreaterThan(l: Literal, a) => // lit > col ⇒ col < lit
            for (c <- colOf(a); (v, n, _) <- rendered(l))
              yield RangeCons(c, None, Some(v), n, hiStrict = true)
          case GreaterThanOrEqual(l: Literal, a) =>
            for (c <- colOf(a); (v, n, _) <- rendered(l))
              yield RangeCons(c, None, Some(v), n)
          case LessThan(l: Literal, a) => // lit < col ⇒ col > lit
            for (c <- colOf(a); (v, n, _) <- rendered(l))
              yield RangeCons(c, Some(v), None, n, loStrict = true)
          case LessThanOrEqual(l: Literal, a) =>
            for (c <- colOf(a); (v, n, _) <- rendered(l))
              yield RangeCons(c, Some(v), None, n)
          case IsNotNull(a) => colOf(a).map(NotNullCons)
          case In(a, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
            val rs = vs.map(v => rendered(v.asInstanceOf[Literal]))
            for {
              c <- colOf(a)
              if rs.forall(_.isDefined) // a NULL/typed member disables pruning
              flat = rs.flatten
              if flat.map(_._2).distinct.size == 1 // homogeneous literal domain
            } yield InCons(c, flat.map(_._1), flat.head._2,
              flat.forall(_._3))
          case _ => None
        }
    (opts.flatten, opts.forall(_.isDefined))
  }

  /** The per-column stats aggregates, as named columns so they run
    * fused into a staging write's observe pass ([[stageObserved]] —
    * the optimization-round move that cut one full read per
    * stats-recording commit), per segment of a clustered rewrite
    * ([[compactClustered]]), or over a boundary scan
    * ([[classifiedScan]]): per-column min/max (cast-to-string domain;
    * a TIMESTAMP extreme as epoch micros, which [[statValue]] renders
    * in UTC), non-null counts, and — for INTEGRAL columns, the domain
    * where addition is exact and associative — the column SUM and SUM
    * OF SQUARES (the second moment: a long² always fits decimal(38,0)). */
  private def statsAggsFor(schema: org.apache.spark.sql.types.StructType,
      statsCols: Seq[String]): Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min, try_sum, unix_micros}
    val types = schema.fields.map(f => f.name -> f.dataType).toMap
    val integral = types.map { case (c, t) => c -> integralType(t) }
    def extreme(agg: org.apache.spark.sql.Column, c: String) =
      if (types.get(c).contains(org.apache.spark.sql.types.TimestampType)) unix_micros(agg)
      else agg.cast("string")
    // sums fold in decimal(38,0) via try_sum: exact up to 38 digits
    // (a wrapped int64 sum would be recorded as truth otherwise), and
    // an overflow NULLS OUT under ANSI mode too instead of throwing —
    // stats recording is advisory and must never fail the commit
    def integralSum(c: String, term: org.apache.spark.sql.Column) =
      if (integral.getOrElse(c, false)) try_sum(term).cast("string")
      else lit(null).cast("string")
    statsCols.flatMap(c => Seq(
      extreme(min(col(c)), c).as(s"__min_$c"),
      extreme(max(col(c)), c).as(s"__max_$c"),
      count(col(c)).as(s"__cnt_$c"),
      integralSum(c, col(c).cast("decimal(38,0)")).as(s"__sum_$c"),
      integralSum(c, col(c).cast("decimal(19,0)") * col(c).cast("decimal(19,0)"))
        .as(s"__sumsq_$c")))
  }

  /** One [[statsAggsFor]] record (`min`, `max`, `sum`, `sumsq`) of
    * column `c` as its manifest string, None when NULL — THE decode
    * the staging observe, the bucket read-back and the boundary scan
    * share, from any alias→value lookup (an agg Row or an observe
    * metrics map). A TIMESTAMP extreme arrives as epoch micros and
    * renders in UTC with the formatter Spark's cast uses: the cast
    * itself renders in the writer's session zone, and renderings from
    * two zones do not compare as the instants do. */
  private def statValue(lookup: String => Any, rec: String, c: String): Option[String] =
    Option(lookup(s"__${rec}_$c")).map {
      case micros: Long => UtcTimestamps.format(micros)
      case v => v.asInstanceOf[String]
    }

  /** Decode [[statsAggsFor]]'s aliases back into the manifest records
    * ([[statValue]]), with the [[finiteNumeric]] admission rule on the
    * extremes. */
  private def decodeStatsMetrics(lookup: String => Any, n: Long,
      statsCols: Seq[String],
      schema: org.apache.spark.sql.types.StructType)
      : (Map[String, ColStats], Map[String, Long], Map[String, String],
         Map[String, String]) = {
    import org.apache.spark.sql.types._
    if (statsCols.isEmpty)
      return (Map.empty, Map.empty, Map.empty, Map.empty)
    val numeric = schema.fields
      .map(f => f.name -> f.dataType.isInstanceOf[NumericType]).toMap
    val st = statsCols.flatMap { c =>
      val num = numeric.getOrElse(c, false)
      for {
        mn <- statValue(lookup, "min", c)
        mx <- statValue(lookup, "max", c)
        if finiteNumeric(num, mn, mx)
      } yield c -> ColStats(num, mn, mx)
    }.toMap
    val nc = statsCols.map(c =>
      c -> (n - lookup(s"__cnt_$c").asInstanceOf[Long])).toMap
    // render as a plain integer string (decimal cast may print a
    // scale); BigDecimal normalizes "123" and "123.000" alike
    def exact(k: String) = statsCols.flatMap(c =>
      statValue(lookup, k, c).map(v => c -> exactSum(v).toString)).toMap
    (st, nc, exact("sum"), exact("sumsq"))
  }

  /** METADATA-ONLY AGGREGATE — `COUNT(*)` / `MIN` / `MAX` answered from
    * the commit log alone: zero data-file reads, zero Spark jobs. At
    * 100 TB this is the difference between a full-table scan and a
    * millisecond driver-side fold — the Delta/Iceberg "metadata-only
    * query" optimization, made an explicit API here because the sink
    * owns its own log. One output row per requested column:
    * `(column, n_rows, min_value, max_value, sum_value)` — sum_value is
    * the EXACT column sum folded from per-commit `sum=` records
    * (integral columns only, where addition is exact and associative;
    * NULL when any commit lacks the record) — min/max rendered exactly
    * as [[appendWithStats]] captured them (Spark's `CAST(x AS STRING)`;
    * a TIMESTAMP rendered in UTC whatever the writer's session zone),
    * so integer/string columns round-trip bit-for-bit against a
    * declarative recompute — which is precisely what the registered
    * oracle twin (`etl_tx_stats_agg`) gates every round.
    *
    * Soundness guards (fail loudly, never answer wrong):
    *  - a log carrying row-hiding masks ([[deleteWhere]] predicates or
    *    [[overwritePartitions]] replace sets) is REFUSED — manifest row
    *    counts and extremes describe rows a reader no longer sees;
    *    compact first (the [[tableSketch]] discipline);
    *  - every data commit must carry stats for the column (a non-finite
    *    float extremum is dropped at append time — [[finiteNumeric]] —
    *    so its absence here surfaces as an error, not a wrong MIN);
    *  - numeric columns fold by value ([[BigDecimal]]), strings in
    *    engine collation ([[utf8Cmp]]), matching the pruning rule's
    *    comparisons ([[consKeeps]]). */
  def statsAggregate(spark: SparkSession, columns: Seq[String]): DataFrame = {
    import spark.implicits._
    val data = profiledData("statsAggregate")
    columns.sorted.map { c =>
      if (!data.forall(_.stats.contains(c)))
        throw new IllegalArgumentException(
          s"statsAggregate('$c'): a data commit lacks min/max stats " +
            "(not profiled at append, or a non-finite extremum was " +
            "dropped) — re-ingest with appendWithStats or read the data")
      val fold = foldColumn(wholeCommits(data), c)
      require(fold.domain.isDefined,
        s"statsAggregate('$c'): commits disagree on the column's type")
      val (mn, mx) = fold.extremes.get
      (c, fold.rows, mn, mx, fold.sum.map(_.toString).orNull)
    }.toDF("column", "n_rows", "min_value", "max_value", "sum_value")
  }

  /** METADATA-ONLY MOMENTS — exact AVG and VARIANCE ingredients from
    * the commit log alone, zero data I/O: per requested column one row
    * `(column, n_rows, n_vals, sum_value, sumsq_value, var_num_value)`
    * where `n_vals` is the non-null count (manifest row counts minus
    * recorded null counts — SQL AVG/VAR ignore NULLs), `sum_value` /
    * `sumsq_value` fold the per-commit exact first and second moments
    * ([[appendWithStats]]' `sum=`/`sumsq=` records, integral columns
    * only — the associative domain where a long² always fits
    * decimal(38,0)), and `var_num_value = n_vals·Σx² − (Σx)²` is the
    * EXACT integer variance numerator: population variance is
    * `var_num / n_vals²` and the mean `sum / n_vals`, both left to the
    * consumer as exact rationals — no float ever enters the fold, so a
    * DuckDB twin reproduces every digit (the transcendental-free
    * integer contract). This is the metadata tier's answer to
    * "profile a 100 TB column": moments are associative, so the fold
    * is O(commits) driver work at any table size.
    *
    * Same soundness guards as [[statsAggregate]]: row-hiding masks are
    * REFUSED; the moment fields are null (never wrong) when any data
    * commit lacks the records — e.g. after a compaction base, which
    * drops commit-level sums: re-profile after OPTIMIZE. */
  def momentsAggregate(spark: SparkSession, columns: Seq[String]): DataFrame = {
    val data = profiledData("momentsAggregate")
    momentsFrame(spark, columns.sorted.map { c =>
      val fold = foldColumn(wholeCommits(data), c)
      (c, fold.rows,
        for (nn <- fold.nonNull; sm <- fold.sum; sq <- fold.sumsq) yield (nn, sm, sq))
    })
  }

  /** The moments output shape: (column, rows, non-null count, Σx, Σx²)
    * → one row with the exact variance numerator, all-NULL moments
    * when the ingredients are unknown. */
  private def momentsFrame(spark: SparkSession,
      rows: Seq[(String, Long, Option[(Long, BigInt, BigInt)])]): DataFrame = {
    import spark.implicits._
    rows.map {
      case (c, n, Some((nVals, sm, sq))) =>
        (c, n, nVals.toString, sm.toString, sq.toString,
          (BigInt(nVals) * sq - sm * sm).toString)
      case (c, n, None) =>
        (c, n, null: String, null: String, null: String, null: String)
    }.toDF("column", "n_rows", "n_vals", "sum_value", "sumsq_value",
      "var_num_value")
  }

  /** MERGE (WHEN NOT MATCHED THEN INSERT) on `keys` with optimistic
    * concurrency — see the class doc for the protocol. Returns the rows
    * actually inserted. `beforePublish` is [[publishLoop]]'s seam, and
    * a lost race re-filters before the next attempt (below).
    *
    * PARTITION-SCOPED CONFLICT DETECTION (`partitionCols`): at 100-TB
    * ingest many loaders commit in parallel, almost always into
    * DISJOINT date/tenant partitions — serializing them on a
    * whole-table conflict check is the classic optimistic-concurrency
    * bottleneck, and the reason Delta/Iceberg record touched-partition
    * sets per commit. When `partitionCols` is non-empty, the manifest
    * records the distinct partition tuples this commit touches
    * (driver-side metadata, O(partitions-per-batch) — never a data
    * scan). A writer that loses the version race then compares its set
    * against ONLY the delta commits' sets: if every interleaved commit
    * is partition-scoped and disjoint, the staged data is provably
    * still conflict-free and the writer re-publishes at the next
    * version with NO data re-read, no anti-join, no re-stage — the
    * retry costs one manifest read and one hard link. Only an actually
    * overlapping (or unscoped, or base/compaction) interleaved commit
    * pays the key-level re-filter. Soundness requires
    * `partitionCols ⊆ keys`: then rows in different partitions have
    * different keys by construction, so disjoint partition sets imply
    * no key overlap — enforced with a `require`, not documentation. */
  def mergeUpsert(
      spark: SparkSession,
      incoming: DataFrame,
      keys: Seq[String],
      orderCols: Seq[String],
      beforePublish: () => Unit = () => (),
      partitionCols: Seq[String] = Nil,
      onRefilter: () => Unit = () => ()): Long = {
    require(partitionCols.forall(keys.contains),
      s"partition-scoped conflict detection needs partitionCols ⊆ keys " +
        s"(got partitionCols=$partitionCols, keys=$keys): only then do " +
        "disjoint partition sets prove disjoint key sets")
    var snap = resolvedCommits()
    val toAdd = Upserts.insertIfAbsent(
      existingKeysAt(spark, snap, keys, incoming), incoming, keys, orderCols)
    // ONE pass (round-13 optimization; round-14 extended): the
    // anti-join used to run under an eager localCheckpoint, then be
    // counted, constraint-checked, partition-collected and staged —
    // here it runs exactly once, inside the staging write, with count
    // + constraints + (when partition-scoped) the touched partition
    // tuples ALL observed; the old post-write tuple read of the staged
    // files (one extra job per commit) is gone.
    val cons = constraintViolationAggs()
    var (staged, n, metrics) = stageObserved(toAdd, cons.map(_._3) ++
      (if (partitionCols.isEmpty) Nil
       else Seq(touchedPartitionsAgg(partitionCols))))
    if (n == 0) { deleteTree(root.resolve(staged)); return 0 }
    checkConstraintMetrics(cons, metrics, Some(staged))
    val touched: Option[Set[String]] =
      if (partitionCols.isEmpty) None
      else Some(decodeTouchedPartitions(metrics, partitionCols)
        .map(encodePartition))

    def tip: Long = snap.lastOption.map(_._1).getOrElse(-1L)

    // Lost the race: some other writer committed first. The delta is
    // computed BY VERSION, never by position: a concurrent
    // [[truncateHistory]] can delete pre-base manifests between our
    // snapshot and this retry, shrinking `commits()` so that a
    // positional drop(snap.size) would hide the interleaved commit
    // inside the vanished prefix and skip the key re-filter. Version
    // numbers are monotone and never reused, so filtering on
    // version > last-seen is immune to log truncation: a truncated
    // interleaved commit is covered by the surviving base (a full
    // rewrite containing its rows), which itself has a newer version
    // and lands in the delta. False when no staged row is left.
    def refilter(): Boolean = {
      val lastSeen = tip
      val now = resolvedCommits()
      val delta = now.filter { case (v, _) => v > lastSeen }
      snap = now
      // Partition-scoped fast path: if this commit and every
      // interleaved commit declared partition sets, none is a base
      // rewrite, and the sets are disjoint, the staged rows cannot
      // share a key with anything that landed (partitionCols ⊆ keys) —
      // re-publish with zero data work.
      // The comparison is only meaningful between commits scoped on the
      // SAME column set — a commit scoped by (region) proves nothing to
      // a writer scoped by (day), so differing pcols fall back to the
      // re-filter. An interleaved OVERWRITE commit participates on the
      // same terms: its partition set is the replaced tuples, so a
      // disjoint overwrite neither adds nor removes any key this merge
      // could collide with.
      val provablyDisjoint = touched.exists { mine =>
        delta.forall { case (_, m) =>
          !m.base && m.partitionCols == partitionCols &&
            m.partitions.exists(theirs => theirs.intersect(mine).isEmpty)
        }
      }
      if (!provablyDisjoint) {
        // Key-level re-filter of the staged rows against ONLY the keys
        // that landed in between — the snapshot we already anti-joined
        // against needs no re-read.
        onRefilter()
        dataOf(spark, delta).foreach { deltaDf =>
          val remaining = spark.read.parquet(root.resolve(staged).toString)
            .join(deltaDf.select(keys.map(org.apache.spark.sql.functions.col): _*).distinct(),
              keys, "left_anti")
            .localCheckpoint(eager = true)
          val m = remaining.count()
          if (m < n) {
            deleteTree(root.resolve(staged))
            n = m
            if (n > 0) staged = stageAudited(spark, remaining, n)
          }
        }
      }
      n > 0
    }

    var claimed = false
    publishLoop("mergeUpsert", beforePublish)((_, m) => m.rows) { () =>
      if (claimed && !refilter()) Done(0L)
      else {
        claimed = true
        Claim(tip + 1, Manifest(n, Seq(staged), partitions = touched,
          partitionCols = partitionCols, schema = Some(toAdd.schema.json)))
      }
    }
  }

  /** Distinct partition tuples of one staged batch, as raw value
    * sequences — driver-side collect of a batch-local distinct, small
    * by the same argument as the commit's key set; call sites pick the
    * encoding ([[TxLog.encodePartition]] for conflict sets, [[sepEncode]]
    * for the overwrite read filter). */
  private def touchedPartitions(df: DataFrame,
      partitionCols: Seq[String]): Set[Seq[String]] = {
    import org.apache.spark.sql.functions.col
    // SQL NULL survives as Scala null (NOT the string "null") so the
    // encoders can keep a NULL partition value distinct from a row
    // whose partition value is the literal string "null".
    df.select(partitionCols.map(col): _*).distinct().collect()
      .map(r => partitionCols.indices.map(i =>
        if (r.isNullAt(i)) null else r.get(i).toString))
      .toSet
  }

  /** The touched-partition tuple set as an observe-fusable aggregate
    * (round-14): `collect_set(struct(partition cols))` dedups exactly
    * like the old post-write `distinct().collect()` — a struct of NULL
    * values is itself non-null, so NULL partition values survive into
    * the set — and is bounded by the batch's touched partitions (the
    * replace-tuple discipline already caps what a manifest may carry). */
  private def touchedPartitionsAgg(partitionCols: Seq[String])
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, collect_set, struct}
    collect_set(struct(partitionCols.map(col): _*)).as("__parts")
  }

  /** Decodes [[touchedPartitionsAgg]]'s observed value with the exact
    * null/toString rendering of [[touchedPartitions]]. */
  private def decodeTouchedPartitions(metrics: Map[String, Any],
      partitionCols: Seq[String]): Set[Seq[String]] =
    metrics("__parts").asInstanceOf[Seq[org.apache.spark.sql.Row]]
      .map(r => partitionCols.indices.map(i =>
        if (r.isNullAt(i)) null else r.get(i).toString): Seq[String])
      .toSet

  /** REPLACE WHERE — the ACID partition-overwrite commit, the update
    * path the insert-only log lacked: atomically replace EVERY row of
    * the partitions `incoming` touches with `incoming`'s rows (the
    * Delta `replaceWhere` / Hive dynamic-partition-overwrite shape —
    * the restatement primitive: reload one day, correct one tenant).
    * The manifest records the replaced tuple set; READERS apply it as
    * a partition-column predicate over earlier commits' files
    * ([[dataOf]]) — deletion is logical, O(commits) metadata, and the
    * predicate is row-group prunable at the scan. Data directories are
    * never touched, so time travel still reads the pre-overwrite rows
    * at pre-overwrite versions and [[vacuumOrphans]] semantics are
    * unchanged. Concurrency: replace semantics are version-relative
    * ("my content supersedes whatever these partitions held at any
    * earlier version"), so a lost race republishes — overwrites never
    * re-filter; an insert writer interleaving with a disjoint
    * same-cols overwrite keeps ITS metadata-only fast path (see
    * [[mergeUpsert]]). Returns the committed row count. */
  def overwritePartitions(
      spark: SparkSession,
      incoming: DataFrame,
      partitionCols: Seq[String],
      beforePublish: () => Unit = () => (),
      statsCols: Seq[String] = Nil): Long = {
    require(partitionCols.nonEmpty, "overwritePartitions needs partition columns")
    // ONE pass (round-13 optimization; round-14 extended): count +
    // constraints + stats profile + the replaced TUPLE SET all fused
    // into the staging write — the tuple set rides as an observed
    // collect_set(struct(partition cols)) (bounded by the batch's
    // touched partitions, the replace-tuple discipline), so the old
    // post-write pruned re-read of the staged files (one extra Spark
    // job per commit) is gone. The old path ran the incoming plan
    // three times (count, distinct, write) and re-read the staged
    // files twice (audit, stats).
    val cons = constraintViolationAggs()
    val (staged, n, metrics) = stageObserved(incoming,
      cons.map(_._3) ++ Seq(touchedPartitionsAgg(partitionCols)) ++
        statsAggsFor(incoming.schema, statsCols))
    if (n == 0) { deleteTree(root.resolve(staged)); return 0 }
    checkConstraintMetrics(cons, metrics, Some(staged))
    val tuples = decodeTouchedPartitions(metrics, partitionCols)
    val (stats, nullCounts, sums, sumsqs) =
      decodeStatsMetrics(metrics(_), n, statsCols, incoming.schema)
    val manifest = Manifest(n, Seq(staged),
      partitions = Some(tuples.map(encodePartition)),
      partitionCols = partitionCols,
      replaceCols = partitionCols,
      replaceKeys = tuples.map(sepEncode),
      stats = stats, nullCounts = nullCounts, sums = sums,
      sumsqs = sumsqs, schema = Some(incoming.schema.json))
    publishLoop("overwritePartitions", beforePublish)((_, m) => m.rows)(
      () => Claim(version() + 1, manifest))
  }

  /** MERGE INTO — the full conditional merge (the Delta `MERGE`
    * statement's semantics) in ONE atomic commit: for every source row
    * matched on `keys` against the current snapshot, evaluate the
    * clauses in Delta's order — WHEN MATCHED AND `deleteCond` THEN
    * DELETE first, else WHEN MATCHED AND `updateCond` THEN UPDATE SET
    * `updateSet`, else leave the target row untouched — and WHEN NOT
    * MATCHED THEN INSERT the source row (`insertUnmatched`). Conditions
    * and update expressions are SQL over the aliases `t` (target row)
    * and `s` (source row); a NULL condition keeps the row (SQL
    * semantics); `updateSet` maps target columns to expressions and may
    * not rewrite a key column (key-grain replace identifies rows BY
    * key). NULL keys never match (SQL join equality), so a NULL-keyed
    * source row inserts.
    *
    * Atomicity is the key-grain replace move ([[overwritePartitions]]
    * at `partitionCols = keys`, the [[graft.etl.EtlQueries.txUpsertScd1]]
    * shape) EXTENDED with replace-with-nothing tuples: the manifest's
    * replaced-key set covers updated AND deleted keys, its staged data
    * carries updated AND inserted rows — so a deleted key is a tuple
    * with no replacement and an untouched matched row survives by NOT
    * being in the set. One manifest, one version: readers see the whole
    * merge or none of it, and time travel reads the pre-merge rows at
    * pre-merge versions.
    *
    * Cost model at 100 TB: the join is SOURCE-DRIVEN — ONE left-outer
    * join from the source side classifies matched (update/delete) and
    * unmatched (insert) rows in a single pruned pass over the target,
    * bounded by the source batch; unmatched target rows are never
    * shuffled or rewritten. A
    * single-column key prunes the target read through the manifest
    * bloom filters ([[pointKeeps]] — false positives only add join
    * rows, false negatives impossible),
    * so the scan touches only commits the source keys landed in. The
    * manifest grows by O(batch keys) replaced tuples — bounded by the
    * BATCH, never the table. Concurrency is version-relative like
    * [[overwritePartitions]]: the landed merge supersedes whatever its
    * keys held at any earlier version (last-writer-wins at key grain —
    * writers needing insert-only key reservation use [[mergeUpsert]]).
    *
    * Ambiguity guard: duplicate source key tuples are REFUSED (Delta's
    * multiple-matches error) — two source rows updating one target row
    * is order-dependent nonsense no engine should pick silently.
    * Returns (inserted, updated, deleted) row counts. */
  def mergeInto(
      spark: SparkSession,
      source: DataFrame,
      keys: Seq[String],
      updateSet: Map[String, String] = Map.empty,
      updateCond: Option[String] = None,
      deleteCond: Option[String] = None,
      insertUnmatched: Boolean = true,
      insertCond: Option[String] = None,
      beforePublish: () => Unit = () => ()): MergeStats = {
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit, when}
    require(keys.nonEmpty, "mergeInto needs key columns")
    require(updateSet.keys.forall(c => !keys.contains(c)),
      s"mergeInto: updateSet may not rewrite key columns (got " +
        s"${updateSet.keys.filter(keys.contains).mkString(",")}) — " +
        "key-grain replace identifies rows by key")
    require(updateSet.nonEmpty || deleteCond.isDefined || insertUnmatched,
      "mergeInto with no clauses is a no-op; pass at least one")
    val srcCk = source.localCheckpoint(eager = true)
    // dup guard + source key tuples in ONE collect (round-13
    // optimization — was two jobs): the grouped counts ARE the distinct
    // key tuples (bounded by the batch, the replace-tuple discipline),
    // and any count > 1 is the Delta multiple-matches error; a
    // single-column key reuses the tuples to prune the target read
    // through the manifest blooms
    val srcKeyRows = srcCk.groupBy(keys.map(col): _*).count().collect()
    require(srcKeyRows.forall(_.getLong(keys.size) == 1L),
      "mergeInto: duplicate source key tuples — a target row matched " +
        "by two source rows has no well-defined result (Delta's " +
        "multiple-matches error); de-duplicate the source first")
    val srcKeyTuples: Set[Seq[String]] = srcKeyRows.map(r =>
      keys.indices.map(i =>
        if (r.isNullAt(i)) null else r.get(i).toString): Seq[String]).toSet
    val snap = resolvedCommits()
    val target: Option[DataFrame] =
      if (keys.size == 1)
        dataOf(spark, snap, keepFile = (m, f) => srcKeyTuples.exists(t =>
          t.head == null || pointKeeps(m, f, keys.head, t.head)))
      else dataOf(spark, snap)
    val tCols: Seq[String] = target.map(_.columns.toSeq)
      .getOrElse(srcCk.columns.toSeq)
    require(tCols.forall(srcCk.columns.contains),
      s"mergeInto: source must carry every target column for the " +
        s"insert clause (missing ${tCols.filterNot(srcCk.columns.contains).mkString(",")})")
    require(updateSet.keys.forall(tCols.contains),
      s"mergeInto: updateSet names unknown target columns " +
        s"(${updateSet.keys.filterNot(tCols.contains).mkString(",")})")
    require(!tCols.contains("__graft_m") && !tCols.contains("__cls"),
      "mergeInto: target columns __graft_m/__cls collide with the " +
        "merge classification internals")

    val joinCond = keys.map(k =>
      col(s"t.$k") === col(s"s.$k")).reduce(_ && _)
    val delExpr = deleteCond.map(c => coalesce(expr(c), lit(false)))
      .getOrElse(lit(false))
    val updExpr =
      if (updateSet.isEmpty) lit(false)
      else coalesce(expr(updateCond.getOrElse("true")), lit(false))
    // WHEN NOT MATCHED AND insertCond THEN INSERT — the conditional
    // insert clause (a CDC consumer must NOT resurrect an unmatched
    // delete row as an insert); source-only (`s.`), NULL = no insert
    val insExpr =
      if (!insertUnmatched) lit(false)
      else insertCond.map(c => coalesce(expr(c), lit(false)))
        .getOrElse(lit(true))
    // ONE source-driven LEFT OUTER join classifies every source row
    // (round-13 optimization — the matched inner join and the
    // unmatched anti-join used to scan the pruned target TWICE and
    // checkpoint twice): matched rows split D/U by Delta's clause
    // order, unmatched rows become inserts.
    val classified: DataFrame = target match {
      case Some(t) =>
        val joined = srcCk.alias("s")
          .join(t.withColumn("__graft_m", lit(1)).alias("t"),
            joinCond, "left_outer")
          .withColumn("__cls",
            when(col("t.__graft_m").isNotNull,
              when(delExpr, "D").when(updExpr, "U"))
            .otherwise(when(insExpr, "I")))
          .where(col("__cls").isNotNull)
        joined.select((tCols.map(c =>
            when(col("__cls") === "I", col(s"s.`$c`"))
              .when(col("__cls") === "U",
                expr(updateSet.getOrElse(c, s"t.`$c`")))
              .otherwise(col(s"t.`$c`")).as(c)) :+
            col("__cls")): _*)
      case None =>
        srcCk.alias("s").where(insExpr)
          .select((tCols.map(c => col(s"s.`$c`").as(c)) :+
            lit("I").as("__cls")): _*)
    }
    // ONE fused pass (round-14, guide §1.2): the classification join
    // runs EXACTLY once, inside the staging write — per-class counts,
    // the replaced/inserted key TUPLE SETS, and the constraint
    // counters (gated to the rows that will land, U/I) all ride the
    // write as observed metrics whose CollectMetrics sits BELOW the
    // D-filter, so they see every classified row while only U/I rows
    // reach the files. Replaces r13's classification localCheckpoint +
    // grouped collect (two jobs and a driver block per batch). The
    // write runs unconditionally — counts aren't known until the plan
    // executes — and an all-delete or no-op batch just deletes the
    // empty staged dir (the footer audit still cross-checks U+I
    // against what landed).
    import org.apache.spark.sql.functions.{struct, sum, collect_set}
    val cons = constraintViolationAggs(gate = Some(col("__cls") =!= "D"))
    def clsCount(c: String) = coalesce(
      sum(when(col("__cls") === c, 1L).otherwise(0L)), lit(0L)).as(s"__m$c")
    val keyStruct = struct(keys.map(col): _*)
    val rel = newStagedRel()
    val stagedPath = root.resolve(rel)
    val metrics =
      try runObserved(classified,
        Seq(clsCount("D"), clsCount("U"), clsCount("I"),
          collect_set(when(col("__cls") =!= "I", keyStruct)).as("__repl"),
          collect_set(when(col("__cls") === "I", keyStruct)).as("__ins")) ++
          cons.map(_._3))(
        _.where(col("__cls") =!= "D").drop("__cls")
          .write.mode("error").parquet(stagedPath.toString))
      catch { case e: Throwable => deleteTree(stagedPath); throw e }
    val (nDel, nUpd, nIns) = (metrics("__mD").asInstanceOf[Long],
      metrics("__mU").asInstanceOf[Long], metrics("__mI").asInstanceOf[Long])
    val n = nUpd + nIns
    val landed = footerRows(stagedPath)
    if (landed != n) {
      deleteTree(stagedPath)
      throw new IllegalStateException(
        s"stage audit failed: wrote $landed rows, expected $n ($stagedPath)")
    }
    checkConstraintMetrics(cons, metrics, Some(rel))
    if (n == 0) deleteTree(stagedPath) // all-delete or no-op batch
    if (nDel == 0 && nUpd == 0 && nIns == 0) return MergeStats(0, 0, 0)
    def tuplesOf(alias: String): Set[Seq[String]] =
      Option(metrics(alias)).map(_.asInstanceOf[Seq[org.apache.spark.sql.Row]])
        .getOrElse(Nil)
        .map(r => keys.indices.map(i =>
          if (r.isNullAt(i)) null else r.get(i).toString): Seq[String]).toSet
    val replTuples = tuplesOf("__repl")
    val insTuples = tuplesOf("__ins")
    val incoming = classified.where(col("__cls") =!= "D").drop("__cls")
    val staged = if (n == 0) Nil else Seq(rel)
    // an insert-only merge is a plain scoped append: no replace mask,
    // so metadata reads (statsAggregate & co.) stay servable
    val manifest = Manifest(n, staged,
      partitions = Some((replTuples ++ insTuples).map(encodePartition)),
      partitionCols = keys,
      replaceCols = if (replTuples.isEmpty) Nil else keys,
      replaceKeys = replTuples.map(sepEncode),
      schema = if (staged.isEmpty) None else Some(incoming.schema.json))
    publishLoop("mergeInto", beforePublish)((_, _) => MergeStats(nIns, nUpd, nDel))(
      () => Claim(version() + 1, manifest))
  }

  /** UPDATE WHERE — SQL UPDATE as ONE atomic commit, completing the
    * row-grain DML triad next to [[deleteWhere]] and [[mergeInto]]:
    * the manifest carries BOTH the predicate (masking the old matching
    * rows in every earlier commit — [[dataOf]]'s delete semantics) and
    * the rewritten rows as its own files — and a commit's masks never
    * apply to its own files, so the pair IS the update: readers at
    * this version see each matching row exactly once, post-SET. One
    * manifest, one version; time travel reads the pre-update rows at
    * pre-update versions; the CDF shows the textbook UPDATE pair
    * (old rows as 'D' at v−1, rewritten rows as 'I').
    *
    * `set` maps columns to SQL expressions over the OLD row (standard
    * UPDATE semantics — `cents -> "cents + 7"` reads the pre-update
    * value); a NULL predicate evaluation leaves the row untouched on
    * both faces (not rewritten, not masked). Cost: one PUSHED-filter
    * read of the matching rows plus their rewrite — never a table
    * rewrite; the mask joins the merge-on-read lifecycle ([[compact]]
    * materializes it, [[maintainIfNeeded]] bounds the pile-up).
    * Concurrency is snapshot-pinned: a lost race recomputes the rewrite
    * from the new snapshot. Returns rows updated. */
  def updateWhere(spark: SparkSession, predicateSql: String,
      set: Map[String, String],
      beforePublish: () => Unit = () => ()): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit}
    require(set.nonEmpty, "updateWhere needs at least one SET column")
    // pin the snapshot VERSION the rewrite is computed from: the commit
    // must land at exactly snapV+1, else a row appended concurrently
    // (after this read, before our publish) that matches the predicate
    // would be masked with no rewritten counterpart — a silent
    // concurrent-UPDATE data loss. A lost race therefore RECOMPUTES
    // from the new snapshot (the Delta OCC shape for UPDATE: re-read,
    // re-rewrite, re-stage) instead of republishing the stale rewrite
    // at a higher version.
    publishLoop("updateWhere", beforePublish, stale = true)((_, m) => m.rows) { () =>
      val snapV = version()
      readVersion(spark, snapV) match {
        case None => Done(0L)
        case Some(snap) =>
          val resolved = snap.select(expr(predicateSql).as("__pred")).schema.head
          require(resolved.dataType == org.apache.spark.sql.types.BooleanType,
            s"updateWhere predicate must be boolean, got ${resolved.dataType}: $predicateSql")
          require(set.keys.forall(snap.columns.contains),
            s"updateWhere SET names unknown columns " +
              s"(${set.keys.filterNot(snap.columns.contains).mkString(",")})")
          val cols = snap.columns.toSeq
          val rewritten = snap
            .where(coalesce(expr(predicateSql), lit(false)))
            .select(cols.map(c =>
              (if (set.contains(c)) expr(set(c)) else col(c)).as(c)): _*)
          // ONE pass (round-13 optimization): the rewrite used to be
          // checkpointed, counted, constraint-checked and then staged —
          // four runs' worth of jobs; it now runs exactly once, inside
          // the staging write, with the count and constraints observed
          val cons = constraintViolationAggs()
          val (staged, n, metrics) = stageObserved(rewritten, cons.map(_._3))
          if (n > 0) {
            checkConstraintMetrics(cons, metrics, Some(staged))
            Claim(snapV + 1, Manifest(n, Seq(staged),
              deletePred = Some(predicateSql), schema = Some(rewritten.schema.json)))
          } else {
            deleteTree(root.resolve(staged))
            // no matching row in snapshot snapV: the UPDATE serializes at
            // snapV as a no-op (later concurrent appends serialize after
            // it) — unless something landed while we validated: re-read
            if (version() == snapV) Done(0L) else Reread
          }
      }
    }
  }

  /** AUTO-MAINTENANCE POLICY — compact when the effective log carries
    * more than `maskBudget` row-hiding commits (replace masks /
    * predicate deletes). This turns a measured cost law into an
    * enforced bound: every masking commit masks all EARLIER commits
    * differently, so an unmaintained merge/delete target's snapshot
    * read degrades to O(masking commits) distinct scan groups — the
    * month-sliced streamed-merge first cut measured ~16 s/merge by
    * commit 38 at sf0.01 — and metadata reads (statsAggregate,
    * momentsAggregate, tableSketch) refuse masked logs outright. A
    * base rewrite resolves every mask, so reads after maintenance are
    * one multi-path scan again and the metadata tier resumes (modulo
    * re-profiling). Writers call this after their commit (the
    * [[graft.streaming.StreamMerge.mergeBatch]] hook); the policy is
    * deliberately NOT inside the commit path — maintenance amortizes
    * across commits and a lost compact race is harmless (the next call
    * re-checks). Returns the base version when it compacted. */
  def maintainIfNeeded(spark: SparkSession, maskBudget: Int = 8): Option[Long] = {
    val masked = resolvedCommits().count(_._2.hidesRows)
    if (masked > maskBudget) Some(compact(spark)) else None
  }

  /** DELETE WHERE — row-level delete as an O(1) METADATA commit, the
    * Delta/Iceberg "merge-on-read" deletion shape: the commit carries
    * only the predicate (no files, no data work at ANY table size);
    * READERS apply `NOT <predicate IS TRUE>` to every EARLIER commit's
    * rows ([[dataOf]]), so a simple predicate reaches the parquet scan
    * as a pushed filter and row-group stats prune whole deleted ranges.
    * Rows appended AFTER the delete are untouched (the predicate masks
    * only the snapshot it landed over — re-inserting a deleted key
    * works), time travel still reads pre-delete rows at pre-delete
    * versions, and the erasure becomes PHYSICAL through the existing
    * lifecycle: [[compact]] materializes the mask into the base rewrite
    * and [[truncateHistory]] forgets the pre-base bytes — the same
    * overwrite→compact→truncate pipeline, now at row grain. At 100 TB
    * this is the difference between a GDPR delete rewriting terabytes
    * synchronously and a constant-time commit whose rewrite happens in
    * the next maintenance window.
    *
    * Contract: the predicate is a SQL boolean expression over columns
    * present in the commits it masks (validated against the CURRENT
    * snapshot before publishing — an unresolvable or non-boolean
    * predicate throws here, never at read time); NULL evaluations keep
    * the row (SQL DELETE semantics). Concurrency is version-relative
    * like [[overwritePartitions]]: the landed delete masks everything
    * below its final version. Returns the published version, or −1 on
    * an empty table (nothing to delete from — masking nothing is a
    * no-op commit not worth a version). */
  def deleteWhere(spark: SparkSession, predicateSql: String,
      beforePublish: () => Unit = () => ()): Long = {
    import org.apache.spark.sql.functions.expr
    val snap = readSnapshot(spark).getOrElse(return -1L)
    // analysis-time validation: resolve the predicate against the
    // current snapshot schema and require a RESOLVED BOOLEAN — fail the
    // COMMIT, not every later read (Spark's implicit coercions would
    // otherwise let a string expression slip into a filter)
    val resolved = snap.select(expr(predicateSql).as("__pred")).schema.head
    require(resolved.dataType == org.apache.spark.sql.types.BooleanType,
      s"deleteWhere predicate must be boolean, got ${resolved.dataType}: $predicateSql")
    val manifest = Manifest(0, Nil, deletePred = Some(predicateSql))
    publishLoop("deleteWhere", beforePublish)((v, _) => v)(
      () => Claim(version() + 1, manifest))
  }

  /** CHANGE DATA FEED — the row-level change log between two versions,
    * reconstructed from the manifests (nothing extra is written at
    * commit time; the log IS the feed). For every commit `v` with
    * `fromV < v ≤ toV`, emits the rows the commit logically changed,
    * tagged `_change_type` ('I' insert / 'D' delete) and `_version`:
    *
    *  - append/merge commits: their staged rows as inserts (a merge's
    *    staged rows are exactly its post-anti-join inserts);
    *  - [[overwritePartitions]]: the replaced partitions' rows AS OF
    *    `v−1` as deletes, plus the commit's own rows as inserts;
    *  - [[deleteWhere]]: the predicate-matching rows as of `v−1` as
    *    deletes;
    *  - [[compact]] bases: nothing — a rewrite changes no logical row.
    *
    * This is what makes the sink a CDC SOURCE: a downstream consumer
    * (the [[Cdc]]/[[Ivm]] pattern) applies the I/D stream instead of
    * re-reading snapshots, and the spec pins the replay invariant —
    * folding the feed over the `fromV` snapshot reproduces the `toV`
    * snapshot exactly. Cost: O(commits in range) metadata plus, for
    * each overwrite/delete commit in range, one pruned read of the
    * masked rows (partition-predicate / pushed-filter scans — never a
    * full-history replay). `fromV = -1` feeds from the table's
    * beginning; a range below [[truncateHistory]]'s horizon throws
    * (the pre-base manifests are gone — the feed would be silently
    * incomplete, which a CDC consumer must never see). */
  def changesBetween(spark: SparkSession, fromV: Long, toV: Long): Option[DataFrame] = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    val cs = commits()
    val horizon = cs.headOption.map(_._1).getOrElse(0L)
    require(fromV >= horizon - 1,
      s"changesBetween($fromV, $toV): history below version $horizon was " +
        "truncated — the feed would silently miss commits")
    val inRange = cs.filter { case (v, _) => v > fromV && v <= toV }
    val frames = inRange.flatMap { case (v, m) =>
      val inserts: Option[DataFrame] =
        if (m.base || m.files.isEmpty) None
        else {
          // single-commit read: the recorded schema (when present)
          // skips the mergeSchema footer job — same contract as dataOf
          val reader = m.schema match {
            case Some(s) => spark.read.schema(
              org.apache.spark.sql.types.DataType.fromJson(s)
                .asInstanceOf[org.apache.spark.sql.types.StructType])
            case None => spark.read.option("mergeSchema", "true")
          }
          Some(reader
            .parquet(m.files.map(f => root.resolve(f).toString): _*)
            .withColumn("_change_type", lit("I"))
            .withColumn("_version", lit(v)))
        }
      val deletes: Option[DataFrame] =
        if (m.replaceCols.nonEmpty)
          readVersion(spark, v - 1).map(_
            .where(not(dropPredicate(m.replaceCols, m.replaceKeys)))
            .withColumn("_change_type", lit("D"))
            .withColumn("_version", lit(v)))
        else m.deletePred.map { pred =>
          readVersion(spark, v - 1)
            .map(_.where(coalesce(expr(pred), lit(false)))
              .withColumn("_change_type", lit("D"))
              .withColumn("_version", lit(v)))
            .getOrElse(spark.emptyDataFrame)
        }.filter(_.columns.nonEmpty)
      deletes.toSeq ++ inserts.toSeq
    }
    frames.reduceOption(_.unionByName(_, allowMissingColumns = true))
  }

  /** SHALLOW CLONE — Delta's CLONE move: publish a new table whose log
    * REFERENCES this table's data files without copying a byte. The
    * clone copies the source's EFFECTIVE commit list (same versions,
    * same masks/stats/blooms — replace semantics, predicate deletes and
    * data skipping all carry over) with every file path rewritten to an
    * ABSOLUTE path into the source, so at any table size the clone
    * costs O(commits) driver metadata and zero data work — the cheap
    * branch-for-an-experiment primitive. The clone is INDEPENDENT from
    * its first commit on: appends/deletes/overwrites land in the
    * clone's own log and dir, the source never sees them, and new
    * source commits are invisible to the clone (it pinned the source's
    * state at clone time). Full materialization is the existing
    * lifecycle: [[compact]] on the clone rewrites the snapshot into
    * clone-local files, after which [[truncateHistory]] forgets the
    * source references and the clone owns every byte it reads.
    *
    * Caveats (exactly Delta's): the clone's external references share
    * fate with the SOURCE's retention passes — a source
    * [[truncateHistory]] deletes pre-base bytes a clone may still
    * reference (source [[vacuumOrphans]] is safe: it never touches
    * committed directories). And a clone's own maintenance never
    * deletes source bytes: [[truncateHistory]] skips external
    * (absolute) references — they are not ours to delete — and
    * [[vacuumOrphans]] only scans the clone-local data dir. Returns
    * the clone's tip version. */
  def cloneTo(target: TxParquetSink): Long = {
    require(target.version() == -1L,
      s"cloneTo: target ${target.dir} is not empty")
    val cs = resolvedCommits()
    require(cs.nonEmpty, s"cloneTo: source $dir has no commits")
    def abs(f: String): String = root.resolve(f).toString
    cs.foreach { case (v, m) =>
      val rewritten = m.copy(
        files = m.files.map(abs),
        fileStats = m.fileStats.map { case (f, s) => abs(f) -> s },
        fileBlooms = m.fileBlooms.map { case (f, b) => abs(f) -> b })
      require(target.tryPublish(v, rewritten),
        s"cloneTo: version $v already exists in ${target.dir}")
    }
    if (cs.head._2.base) target.writeBasePointer(cs.head._1)
    // CLONE copies table metadata too: the clone starts life under the
    // source's CHECK constraints (Delta CLONE's table-properties copy)
    if (Files.exists(constraintsFile)) target.writeConstraints(constraints())
    cs.last._1
  }

  /** EXTERNAL-READER MANIFEST EXPORT — Delta's
    * `symlink_format_manifest` move: the current snapshot as a plain
    * list of parquet paths any engine can read (Presto/Trino/Hive — or
    * a bare `spark.read.parquet`) with NO knowledge of the commit
    * protocol. Sound only when the snapshot is SELF-DESCRIBING:
    * row-hiding masks (partition replaces, predicate deletes) live in
    * the manifests, and an external reader that unions the files would
    * RESURRECT masked rows — so a masked log REFUSES, with
    * [[compact]] as the stated fix (the base materializes every mask
    * into plain files; an append-only log exports directly). The
    * export is a point-in-time view, stale the moment a new commit
    * lands — the same contract Delta documents; regenerate after
    * maintenance. */
  def exportManifest(): Seq[String] = {
    val cs = resolvedCommits()
    require(cs.nonEmpty, s"exportManifest: $dir has no commits")
    require(cs.forall { case (_, m) =>
      m.replaceCols.isEmpty && m.deletePred.isEmpty },
      s"exportManifest: the snapshot of $dir carries row-hiding masks " +
        "an external reader cannot apply — run compact() first")
    cs.flatMap(_._2.files).map(f => root.resolve(f).toString)
  }

  /** DESCRIBE HISTORY — the commit log as a queryable frame (version,
    * operation kind, row count, file count): the audit surface every
    * table format exposes, derived purely from the manifests (nothing
    * extra recorded at commit time — the kind is READ OFF the
    * manifest's shape, so history can never disagree with what readers
    * actually resolve). Driver-side O(commits) metadata; rows below
    * the truncation horizon disappear with their manifests, exactly
    * like every other history reader. */
  def history(spark: SparkSession): DataFrame = {
    import spark.implicits._
    commits().map { case (v, m) =>
      val kind =
        if (m.base) "base"
        else if (m.deletePred.nonEmpty) "delete"
        else if (m.replaceCols.nonEmpty) "overwrite"
        else if (m.txn.nonEmpty) "append_txn"
        else "append"
      (v, kind, m.rows, m.files.size.toLong)
    }.toDF("version", "operation", "n_rows", "n_files")
  }

  /** CHECK-constraint registry file: `name=<urlencoded sql>` lines,
    * rewritten atomically ([[TxLog.replace]]) like the base pointer. */
  private val constraintsFile: Path = TxLog.constraintsFile(root)

  /** The registered CHECK constraints, in registration order. */
  def constraints(): Seq[(String, String)] =
    if (!Files.exists(constraintsFile)) Nil
    else new String(Files.readAllBytes(constraintsFile), UTF_8)
      .linesIterator.filter(_.nonEmpty).map { line =>
        val i = line.indexOf('=')
        require(i > 0, s"malformed constraint line: $line")
        (line.substring(0, i),
          java.net.URLDecoder.decode(line.substring(i + 1), UTF_8.name()))
      }.toSeq

  /** ADD a CHECK constraint — Delta's `ALTER TABLE ADD CONSTRAINT`:
    * from now on every write path that introduces rows ([[append]],
    * [[appendWithStats]], [[mergeUpsert]], [[overwritePartitions]])
    * REJECTS its whole batch before PUBLISH if any incoming row makes
    * the predicate FALSE (SQL CHECK semantics: a NULL evaluation
    * PASSES — constraints reject known-bad data, they don't demand
    * known-good). Since round 13 the violation counters ride the
    * staging write itself (one fused pass, zero extra jobs), so a
    * violating batch IS fully staged before rejection — the staged dir
    * is deleted on reject and was never visible (nothing published);
    * a crash inside that window leaves an orphan for [[vacuum]]. Like
    * Delta, adding requires the EXISTING table to satisfy the
    * constraint — otherwise readers could never trust it — and the
    * validation read prunes nothing (one full scan, the documented
    * price of a late constraint). Maintenance passes ([[compact]] and
    * friends) restate rows that already passed, so they do not
    * re-check. */
  def addConstraint(spark: SparkSession, name: String, predicateSql: String): Unit = {
    require(name.nonEmpty && !name.contains('=') && !name.contains('\n'),
      s"constraint name must be non-empty without '=' or newline: $name")
    require(constraints().forall(_._1 != name),
      s"constraint $name already exists on $dir")
    readSnapshot(spark).foreach { snap =>
      val bad = violations(snap, predicateSql).limit(1).count()
      require(bad == 0L,
        s"cannot add CHECK constraint $name: existing rows violate $predicateSql")
    }
    writeConstraints(constraints() :+ (name -> predicateSql))
  }

  /** Remove a CHECK constraint (no-op if absent). */
  def dropConstraint(name: String): Unit =
    writeConstraints(constraints().filterNot(_._1 == name))

  private def writeConstraints(cs: Seq[(String, String)]): Unit =
    TxLog.replace(constraintsFile, cs.map { case (n, p) =>
      s"$n=${java.net.URLEncoder.encode(p, UTF_8.name())}"
    }.mkString("", "\n", "\n").getBytes(UTF_8))

  /** Rows of `df` that VIOLATE the predicate: FALSE violates, TRUE and
    * NULL pass (SQL CHECK semantics). */
  private def violations(df: DataFrame, predicateSql: String): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    df.where(not(coalesce(expr(predicateSql), lit(true))))
  }

  private def existingKeysAt(
      spark: SparkSession, snap: Seq[(Long, Manifest)],
      keys: Seq[String], schemaSource: DataFrame): DataFrame =
    dataOf(spark, effective(snap))
      .map(_.select(keys.head, keys.tail: _*))
      .getOrElse(WarehouseSink.emptyKeys(spark, keys, schemaSource))

  /** CONVERT in place — adopt an existing plain parquet directory as
    * commit 0 of a FRESH log without rewriting a byte (Delta's
    * `CONVERT TO DELTA`, the on-ramp for data that already exists):
    * every part file HARD-LINKS into the table's data directory
    * (same-filesystem metadata op — zero copy; the audit count below
    * reads THROUGH the links, proving the adopted bytes serve), then
    * one ordinary manifest publishes them. The source directory is
    * never touched — deleting it later only drops its directory
    * entries, the table owns the inodes through its links. After
    * conversion the log is a normal table: appends, merges, deletes,
    * time travel, compaction all apply. A crash mid-link leaves an
    * uncommitted staged directory — [[vacuumOrphans]]' existing
    * territory. Refuses a non-fresh table (conversion is an adoption
    * of history position 0, not an append — use the write paths for
    * that). */
  def convertFrom(spark: SparkSession, parquetDir: String): Long = {
    require(version() == -1L,
      s"convertFrom requires a fresh table, found version ${version()}")
    val src = Paths.get(parquetDir)
    require(Files.isDirectory(src), s"no such directory: $parquetDir")
    val parts = {
      val s = Files.list(src)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator.asScala.filter(_.getFileName.toString.endsWith(".parquet"))
          .toSeq.sortBy(_.getFileName.toString)
      } finally s.close()
    }
    require(parts.nonEmpty, s"no parquet part files in $parquetDir")
    val rel = newStagedRel()
    val stagedRoot = root.resolve(rel)
    Files.createDirectories(stagedRoot)
    parts.foreach(p =>
      Files.createLink(stagedRoot.resolve(p.getFileName.toString), p))
    // audit from the linked files' parquet footers (driver-side, zero
    // Spark jobs — round-13 optimization): the footers are read THROUGH
    // the hard links, proving the adopted bytes serve
    val rows = footerRows(stagedRoot)
    if (!tryPublish(0L, Manifest(rows, Seq(rel)))) {
      deleteTree(stagedRoot)
      throw new IllegalStateException(
        "convertFrom lost the version-0 race — another writer initialized the table")
    }
    rows
  }

  /** FULL REPLACEMENT as one BASE commit — SQL `INSERT OVERWRITE`
    * through the catalog ([[graft.catalog.GraftTable]]), and the
    * programmatic "reload the table" shape: stages the new contents,
    * audits the row count, and publishes a base manifest, so the
    * replacement is atomic (readers see old or new, never a mix),
    * history stays time-travelable across it (the base is a commit
    * like any other), and the pre-base prefix remains reclaimable by
    * [[truncateHistory]]. An empty frame publishes an empty base —
    * SQL overwrite-with-nothing truncates the table. Returns the new
    * version. */
  def replaceAll(spark: SparkSession, df: DataFrame): Long = {
    // one fused staging pass — the [[append]] discipline; an empty
    // result deletes its (empty) staged dir and publishes a bare base
    val cons = constraintViolationAggs()
    val (rel, n, metrics) = stageObserved(df, cons.map(_._3))
    checkConstraintMetrics(cons, metrics, Some(rel))
    val staged =
      if (n == 0) { deleteTree(root.resolve(rel)); Nil }
      else Seq(rel)
    // record the incoming schema as catalog DDL (best effort): an
    // EMPTY base has no files to read a schema from, and without this
    // an adopted table truncated through SQL `INSERT OVERWRITE ...
    // WHERE false` would become unreadable through the catalog
    // (review finding r13). Written on every replace so the recorded
    // DDL also tracks schema evolution.
    try TxLog.replace(TxLog.schemaFile(root), df.schema.toDDL.getBytes(UTF_8))
    catch { case e: Exception => // advisory, never fails a commit —
      // but visible: a silently missing DDL reinstates the
      // truncated-table unreadability this record exists to prevent
      System.err.println(
        s"[tx] replaceAll: could not record the schema DDL for $dir: $e")
    }
    val m = Manifest(n, staged, base = true,
      schema = if (staged.isEmpty) None else Some(df.schema.json))
    publishLoop("replaceAll")((v, _) => v)(() => Claim(version() + 1, m))
  }

  private def stageAudited(spark: SparkSession, df: DataFrame, expected: Long): String = {
    val (rel, n, _) = stageObserved(df)
    if (n != expected) {
      deleteTree(root.resolve(rel))
      throw new IllegalStateException(
        s"stage audit failed: wrote $n rows, expected $expected ($rel)")
    }
    rel
  }

  /** SINGLE-PASS staging (optimization round 13, guide §1.2 "per-task
    * work" + §2.4 "remove passes outright"): the old write path ran the
    * batch plan once to count it, once to write it, and then re-read
    * the staged files to audit the landed count — three passes (plus
    * one more per stats profile). This stages in ONE pass: the write
    * job carries a [[org.apache.spark.sql.Observation]] computing the
    * row count and any caller-supplied aggregates (constraint
    * violations, min/max/sum stats) over exactly the rows written, and
    * the audit reads the landed row count from the parquet FOOTERS on
    * the driver — O(files) metadata I/O, zero Spark jobs, and still
    * ground truth for "what is on disk" (the footers are the files'
    * own row accounting, written by the committed tasks). Running the
    * plan exactly once also removes the old path's window for a
    * non-deterministic source to count one thing and write another —
    * the audit now cross-checks the single execution against the disk.
    * Returns (rel, rows, metrics-by-alias). Callers delete the staged
    * dir on their own aborts; a failure INSIDE staging (observation
    * timeout, write error) deletes it here — nothing for vacuum.
    *
    * CLUSTER CAVEAT (advisory, review r13): observed metrics ride task
    * accumulators, so a duplicated successful task attempt (speculative
    * execution, stage retry after a fetch failure) can inflate the
    * observed side while the committed files stay correct — the audit
    * would then abort a commit whose on-disk data is fine (fail-loud,
    * never corrupting). Impossible in `local[n]` (no speculation, no
    * fetch failures — the bench/verify environment); a cluster
    * deployment that enables speculation should treat the FOOTER count
    * as authoritative and downgrade `observed > footers` to a warning. */
  private def stageObserved(df: DataFrame,
      extraAggs: Seq[org.apache.spark.sql.Column] = Nil)
      : (String, Long, Map[String, Any]) = {
    import org.apache.spark.sql.functions.{count, lit}
    val rel = newStagedRel()
    val p = root.resolve(rel)
    val metrics =
      try runObserved(df, count(lit(1)).as("__n") +: extraAggs)(
        _.write.mode("error").parquet(p.toString))
      catch { case e: Throwable => // staged bytes may already be on disk
        deleteTree(p); throw e
      }
    val n = metrics("__n").asInstanceOf[Long]
    val landed = footerRows(p)
    if (landed != n) {
      deleteTree(p)
      throw new IllegalStateException(
        s"stage audit failed: wrote $landed rows, expected $n ($p)")
    }
    (rel, n, metrics)
  }

  /** Run `action` over `df` with the named aggregates observed (the
    * CollectMetrics mechanics behind [[org.apache.spark.sql.Observation]])
    * and return the metrics by alias. A HAND-ROLLED listener instead of
    * `Observation` itself deliberately: Spark's Observation listener
    * inspects every later execution in the session — including FAILED
    * ones, whose lazily re-thrown analysis errors land in the listener
    * bus as spurious ERROR logs under the deliberate-failure specs;
    * this listener touches successful executions only and matches its
    * own unique metric name. */
  private def runObserved(df: DataFrame,
      aggs: Seq[org.apache.spark.sql.Column])(
      action: DataFrame => Unit): Map[String, Any] = {
    val name = "graft-obs-" + java.util.UUID.randomUUID()
    val listener = new StageMetricsListener(name)
    val lm = df.sparkSession.listenerManager
    lm.register(listener)
    try {
      action(df.observe(name, aggs.head, aggs.tail: _*))
      listener.await()
    } finally lm.unregister(listener)
  }

  /** A fresh staging directory, relative to the table root:
    * `data/tx-<uuid>`, the first two components of every staged path
    * ([[stagedRoot]]). */
  private def newStagedRel(): String =
    "data/tx-" + java.util.UUID.randomUUID().toString

  /** The staging directory a manifest file entry lives in: the entry
    * itself, or the bucketed root of a `data/tx-<uuid>/__bucket=<b>`
    * entry ([[stageBuckets]]). */
  private def stagedRoot(file: String): String =
    Paths.get(file).subpath(0, 2).toString

  /** CHECK-constraint enforcement as observe-fusable aggregates: one
    * violation counter per declared constraint (FALSE violates, TRUE
    * and NULL pass — SQL CHECK semantics), evaluated inside the
    * staging write instead of as its own aggregate pass.
    * [[checkConstraintMetrics]] reads the counters back and rejects a
    * violating batch before anything publishes — the staged dir is
    * deleted, the table untouched. */
  private def constraintViolationAggs(
      gate: Option[org.apache.spark.sql.Column] = None)
      : Seq[(String, String, org.apache.spark.sql.Column)] = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not, sum, when}
    constraints().zipWithIndex.map { case ((n, p), i) =>
      val violates = not(coalesce(expr(p), lit(true)))
      (n, p, coalesce(sum(when(
        gate.map(_ && violates).getOrElse(violates), 1L)
        .otherwise(0L)), lit(0L)).as(s"__cons$i"))
    }
  }

  private def checkConstraintMetrics(
      cons: Seq[(String, String, org.apache.spark.sql.Column)],
      metrics: Map[String, Any], stagedRel: Option[String]): Unit =
    cons.zipWithIndex.foreach { case ((n, p, _), i) =>
      val bad = metrics(s"__cons$i").asInstanceOf[Long]
      if (bad != 0L) {
        stagedRel.foreach(rel => deleteTree(root.resolve(rel)))
        throw new IllegalArgumentException(
          s"CHECK constraint $n violated by $bad incoming rows: $p")
      }
    }

  /** The single atomicity point: publish manifest `m` as version `v`
    * iff no commit at `v` exists AND `v` is beyond the current tip.
    * [[TxLog.createExclusive]] is the atomic create-if-absent (the swap
    * target for object stores). The tip guard exists because
    * [[truncateHistory]] deletes pre-base manifest FILES, freeing
    * their names: a stale writer could otherwise re-publish at a
    * truncated version and commit a manifest `effective()` never
    * resolves (an invisible commit = silently lost rows). The check
    * is race-free: the tip never decreases (truncation always keeps
    * the newest base), and versions are allocated contiguously, so a
    * name above the tip at check time can only be taken by an
    * interleaved commit at exactly `v` — which the link then loses
    * to, as intended. */
  private def tryPublish(v: Long, m: Manifest): Boolean = {
    // fencing-token check (no-op unless a catalog transaction
    // installed one): a holder whose lease lock was stolen must fail
    // HERE, before its manifest becomes visible — a thrown fence
    // leaves only an unreferenced staged dir for vacuum
    publishFence()
    // Fail LOUD, not corrupt: if a mistimed vacuum (retention window
    // shorter than this commit) deleted a staged dir, publishing would
    // commit a manifest of dangling files and break every later
    // snapshot read. A races-with-vacuum deployment must raise the
    // vacuum TTL; this check turns the common mistiming into an
    // aborted commit instead of a poisoned table.
    m.files.find(f => !Files.isDirectory(root.resolve(f))).foreach { f =>
      throw new IllegalStateException(
        s"staged directory $f of $dir vanished before publish (vacuumed " +
          "mid-commit?) — aborting instead of committing a dangling manifest")
    }
    if (v <= version()) return false
    TxLog.createExclusive(logDir.resolve(TxLog.entryName(v, TxLog.Txn)),
      TxLog.renderManifest(m).getBytes(UTF_8))
  }

  /** THE OPTIMISTIC PUBLISH LOOP — the one concurrency policy of every
    * commit that can lose a race. Each attempt asks `turn` what to do:
    *  - [[Claim]]: run `beforePublish` (the test seam where a concurrent
    *    writer interleaves; production callers leave the no-op), then
    *    [[tryPublish]] the manifest at the claimed version. A win
    *    records a base manifest in the base pointer and returns
    *    `won(version, manifest)`.
    *    A lost race keeps the claim's staged dirs for the next attempt
    *    (REPUBLISH: the same or a re-filtered manifest at a fresh
    *    version) or, when `stale`, deletes them (RECOMPUTE: the staged
    *    rows were derived from the snapshot that just moved);
    *  - [[Reread]]: nothing to publish from this snapshot yet — try
    *    again;
    *  - [[Done]]: return without publishing.
    * After [[MaxPublishAttempts]] attempts the loop deletes the staged
    * dirs it still holds and throws: a commit under unending contention
    * fails loudly, bounded in time, instead of spinning. */
  private def publishLoop[T](op: String, beforePublish: () => Unit = () => (),
      stale: Boolean = false)(won: (Long, Manifest) => T)(
      turn: () => Turn[T]): T = {
    var held: Seq[String] = Nil
    def release(): Unit = { held.foreach(f => deleteTree(root.resolve(f))); held = Nil }
    var attempts = 0
    while (attempts < MaxPublishAttempts) {
      attempts += 1
      turn() match {
        case Done(result) => return result
        case Reread => ()
        case Claim(v, m) =>
          held = m.files.map(stagedRoot).distinct
          beforePublish()
          if (tryPublish(v, m)) {
            if (m.base) writeBasePointer(v)
            return won(v, m)
          }
          if (stale) release()
      }
    }
    release()
    throw new IllegalStateException(
      s"$op: gave up after $MaxPublishAttempts publish attempts on $dir")
  }

  /** LOG TRUNCATION — the deliberate history-retention pass the
    * time-travel scaladoc reserves: permanently forget every version
    * BEFORE the newest base commit by deleting the pre-base manifests
    * and every data directory ONLY they referenced. This is the third
    * leg of the table lifecycle (compact bounds the read fan-in,
    * vacuum removes crashed-writer litter, truncate bounds HISTORY)
    * and the step that makes an erasure PHYSICAL: an
    * overwrite/restatement only hides rows logically — the bytes stay
    * readable via time travel until the pre-base history is truncated
    * (GDPR art. 17 needs overwrite → compact → truncate → the files
    * are gone). Refuses to run without a base commit (truncating a
    * base-less log would delete live data) and never touches the
    * base or anything after it, so `readSnapshot`/`readVersion` at or
    * above the base are unchanged; `readVersion` below the horizon now
    * returns the post-base view of that empty prefix (None). Returns
    * the deleted paths (manifests + data dirs). OPERATIONAL contract
    * (the Delta VACUUM discipline): run from a maintenance window, not
    * concurrently with writers — a writer holding a pre-truncation
    * snapshot can still publish safely: [[mergeUpsert]]'s conflict
    * delta is computed by VERSION (never by log position), so commits
    * the truncation hid are covered by the surviving base (a full
    * rewrite containing their rows, at a newer version), and the
    * writer's key re-filter runs against that base — sound but
    * whole-table-conservative; quiesce writers to avoid paying it. */
  def truncateHistory(): Seq[String] = {
    val cs = commits()
    val baseIdx = cs.lastIndexWhere(_._2.base)
    if (baseIdx < 0) return Nil // no base: nothing is safely forgettable
    val (before, fromBase) = cs.splitAt(baseIdx)
    if (before.isEmpty) return Nil
    val keepDirs = fromBase.flatMap(_._2.files).toSet
    val dropDirs = before.flatMap(_._2.files).toSet -- keepDirs
    val manifests = before.map { case (v, _) => logDir.resolve(TxLog.entryName(v, TxLog.Txn)) }
    // a shallow clone ([[cloneTo]]) references the SOURCE's files by
    // absolute path — truncating the clone forgets the references but
    // must never delete bytes it does not own
    val dirs = dropDirs.toSeq.sorted
      .filterNot(f => Paths.get(f).isAbsolute)
      .map(root.resolve(_))
    dirs.foreach(deleteTree)
    manifests.foreach(Files.deleteIfExists(_))
    (manifests ++ dirs).map(_.toString)
  }

  /** Remove crashed-writer litter: staged data directories no manifest
    * references (they staged, never published, so their data was never
    * visible) and [[TxLog]]'s scratch files in `_txlog` left by a
    * writer that died between writing one and its link, rename or
    * delete. Gated on an age TTL
    * exactly like Delta's VACUUM retention window: anything younger
    * than `minAgeMs` is presumed to belong to an IN-FLIGHT commit and
    * is left alone — deleting a live writer's staged dir aborts its
    * commit ([[tryPublish]] refuses a manifest whose staged dir
    * vanished). The default retention is deliberately much longer than
    * any sane commit; a deployment that vacuums aggressively must keep
    * the TTL above its slowest writer's stage→publish window. Returns
    * the removed paths. */
  def vacuumOrphans(minAgeMs: Long = DefaultVacuumRetentionMs): Seq[String] = {
    val now = System.currentTimeMillis()
    def oldEnough(p: Path): Boolean =
      try now - Files.getLastModifiedTime(p).toMillis >= minAgeMs
      catch { case _: java.io.IOException => false } // raced a deletion: skip
    val tmps =
      if (!Files.isDirectory(logDir)) Nil
      else listDir(logDir)
        .filter(p => TxLog.isScratch(p.getFileName.toString))
        .filter(oldEnough)
    tmps.foreach(Files.deleteIfExists(_))
    val dataDir = root.resolve("data")
    val orphans =
      if (!Files.isDirectory(dataDir)) Nil
      else {
        // prefix-aware: a bucketed base ([[compactRanged]]) references
        // SUBDIRECTORIES of its staged root — the root itself must
        // count as referenced or the vacuum would delete live data
        val referenced = commits().flatMap(_._2.files).toSet
        def isReferenced(p: Path): Boolean = {
          val rel = root.relativize(p).toString
          referenced.contains(rel) || referenced.exists(_.startsWith(rel + "/"))
        }
        listDir(dataDir).filterNot(isReferenced).filter(oldEnough)
      }
    orphans.foreach(deleteTree)
    (orphans ++ tmps).map(_.toString)
  }

  /** LOG COMPACTION — the OPTIMIZE/checkpoint maintenance pass every
    * log-structured table needs: rewrite the current snapshot into ONE
    * staged directory and publish it as a BASE commit, after which
    * readers resolve from that commit alone (the append-only manifest
    * codec makes `base=true` invisible to older readers of other
    * fields). Without it a long-lived table accumulates one directory
    * per commit and every snapshot read unions an O(commits) file
    * list. Concurrency is [[compactLoop]]'s: a commit that lands
    * between read and publish makes the WHOLE read-stage-publish cycle
    * run again — a base manifest may never hide a commit it did not
    * contain. Historical directories stay on disk (still referenced by
    * pre-base manifests, so [[vacuumOrphans]] never touches them) —
    * time travel across the compaction keeps working; log truncation
    * would be a separate, deliberate retention pass. Returns the
    * published base version, or −1 on an empty table. */
  def compact(spark: SparkSession, beforePublish: () => Unit = () => ()): Long =
    compactLoop(spark, "compact", beforePublish) { df =>
      // ONE pass over the table (round-13 optimization): the rewrite
      // used to checkpoint the snapshot, count it, write it, and read
      // it back — four table-sized passes; it now runs exactly once
      // inside the staging write, with the count observed and the
      // audit served from the parquet footers
      val (staged, n, _) = stageObserved(df)
      Manifest(n, Seq(staged), base = true, schema = Some(df.schema.json))
    }

  /** RANGE-BUCKETED compaction — the maintenance pass that makes data
    * skipping SURVIVE compaction: [[compact]]'s single base directory
    * carries whole-table stats (useless for pruning — they span
    * everything); this one range-partitions the snapshot on `column`
    * into `numBuckets` directories ([[stageBuckets]]) and records
    * PER-FILE min/max in the base manifest, so a [[readSnapshotWhere]]
    * after compaction prunes buckets exactly as it pruned the original
    * commits — Delta's OPTIMIZE-preserves-stats behavior. Same
    * concurrency and time travel as [[compact]]; the bucket column is
    * synthetic (range-partition id) and never lands in the data.
    * `bloomCols` rebuilds PER-FILE bloom filters for the base's
    * buckets (one distinct-positions aggregate grouped by bucket —
    * ≤ buckets·m ints reach the driver), so POINT skipping survives
    * the compaction too. */
  def compactRanged(spark: SparkSession, column: String,
      numBuckets: Int = 8,
      bloomCols: Seq[String] = Nil,
      beforePublish: () => Unit = () => ()): Long =
    compactLoop(spark, "compactRanged", beforePublish) { df =>
      import org.apache.spark.sql.functions.col
      val (buckets, back) = stageBuckets(df, column, numBuckets, Seq(column))
      val blooms = bloomCols.map(c => c -> bloomsBy(back, c, col("__file")))
      // per-file min/max and blooms only: without per-file row counts
      // the base's files stay boundary scans for count credit
      Manifest(buckets.map(_.rows).sum, buckets.map(_.files.head), base = true,
        fileStats = perBucket(buckets)(_.stats),
        fileBlooms = perBucket(buckets)(m =>
          blooms.flatMap { case (c, bs) => bs.get(m.files.head).map(c -> _) }.toMap),
        schema = Some(df.schema.json))
    }

  /** CLUSTERED compaction WITH PER-FILE METADATA — `OPTIMIZE ...
    * ZORDER BY (x, y)` on this log, with [[compactRanged]]'s
    * bucket-directory mechanics: the snapshot is keyed by the chosen
    * space-filling curve (`curve = "zorder"`: the [[ZOrder.zValue]]
    * interleave; `"hilbert"`: the continuous [[Hilbert]] curve, whose
    * segments are contiguous in space and so have tighter (x, y)
    * boxes), range-partitioned on that key into `numBuckets`
    * pairwise-disjoint segments and sorted within each. The manifest
    * records each segment's (x, y) min/max (`fstat=`), exact row count
    * (`frows=`) and sum (`fsum=`), plus their commit-level folds — so
    * a 2-D box predicate auto-prunes through
    * [[readSnapshotWhere]] and [[countWhere]] credits interior
    * segments without reading them. Hilbert locality keeps per-file
    * boxes tight (the measured HilbertSpec claim), which is what makes
    * box pruning effective: OPTIMIZE chooses the layout, the metadata
    * makes it consultable. At 100 TB this is `OPTIMIZE ZORDER BY` plus
    * data skipping in one commit — the pattern every lakehouse pairs. */
  def compactClustered(spark: SparkSession, x: String, y: String,
      curve: String = "hilbert", bits: Int = 16, numBuckets: Int = 8,
      beforePublish: () => Unit = () => ()): Long =
    compactLoop(spark, "compactClustered", beforePublish) { df =>
      import org.apache.spark.sql.functions.col
      val keyed = curve match {
        case "hilbert" => Hilbert.withHilbert(df, col(x), col(y), "__ck", bits)
        case "zorder" => df.withColumn("__ck", ZOrder.zValue(col(x), col(y), bits))
        case other => throw new IllegalArgumentException(s"unknown curve: $other")
      }
      // the commit-level records are the manifest fold over the
      // segments — so statsAggregate and momentsAggregate keep
      // answering AFTER this OPTIMIZE
      val (segs, _) = stageBuckets(keyed, "__ck", numBuckets, Seq(x, y),
        synthetic = true)
      val folds = Seq(x, y).map(c => c -> foldColumn(wholeCommits(segs), c))
      Manifest(segs.map(_.rows).sum, segs.map(_.files.head), base = true,
        stats = folds.flatMap { case (c, fo) =>
          fo.profile.map(p => c -> ColStats(p.num, p.min, p.max)) }.toMap,
        fileStats = perBucket(segs)(_.stats),
        fileRows = segs.map(m => m.files.head -> m.rows).toMap,
        nullCounts = Seq(x, y).map(c => c -> segs.map(_.nullCounts(c)).sum).toMap,
        sums = folds.flatMap { case (c, fo) => fo.sum.map(c -> _.toString) }.toMap,
        fileSums = perBucket(segs)(_.sums),
        sumsqs = folds.flatMap { case (c, fo) => fo.sumsq.map(c -> _.toString) }.toMap,
        schema = Some(df.schema.json))
    }

  /** The optimistic shape every compaction shares: `stage` rewrites
    * the current snapshot into a base manifest claimed at exactly
    * snapshot-tip + 1; a commit landing in between makes the staged
    * rewrite stale, so the loser deletes it and the next attempt reads,
    * stages and claims afresh. −1 on an empty table. */
  private def compactLoop(spark: SparkSession, op: String,
      beforePublish: () => Unit)(stage: DataFrame => Manifest): Long =
    publishLoop(op, beforePublish, stale = true)((v, _) => v) { () =>
      val snap = commits()
      if (snap.isEmpty) Done(-1L)
      else Claim(snap.last._1 + 1, stage(dataOf(spark, effective(snap)).get))
    }

  /** BUCKETED STAGING — the write half of [[compactRanged]] and
    * [[compactClustered]]: range-partitions `df` on `key` into
    * `numBuckets` directories `<staged>/__bucket=<b>` (an explicit
    * count: an unsized repartitionByRange gets AQE-coalesced and the
    * bucketing evaporates — the TextOps.shingleSet lesson) in one
    * write with the row count observed, then reads the staged root
    * back ONCE grouped by bucket (partition discovery restores
    * `__bucket`): the audit against the observed count and each
    * bucket's [[statsAggsFor]] record over `statsCols`, decoded into
    * one single-file manifest per bucket. A `synthetic` key (a curve
    * value) also orders each bucket and is dropped before the write.
    * Returns the bucket manifests and the read-back frame, whose
    * `__file` column names each row's bucket file (per-file blooms). */
  private def stageBuckets(df: DataFrame, key: String, numBuckets: Int,
      statsCols: Seq[String], synthetic: Boolean = false)
      : (Seq[Manifest], DataFrame) = {
    import org.apache.spark.sql.functions.{col, concat, count, lit, spark_partition_id}
    val ranged = df.repartitionByRange(numBuckets, col(key))
    val laid = if (synthetic) ranged.sortWithinPartitions(key).drop(key) else ranged
    val rel = newStagedRel()
    val stagedRoot = root.resolve(rel)
    val n =
      try runObserved(laid.withColumn("__bucket", spark_partition_id()),
        Seq(count(lit(1)).as("__n")))(
        _.write.mode("error").partitionBy("__bucket")
          .parquet(stagedRoot.toString))("__n").asInstanceOf[Long]
      catch { case e: Throwable => deleteTree(stagedRoot); throw e }
    val back = df.sparkSession.read.parquet(stagedRoot.toString)
      .withColumn("__file",
        concat(lit(s"$rel/__bucket="), col("__bucket").cast("string")))
    val buckets = back.groupBy("__file")
      .agg(count(lit(1)).as("__n"), statsAggsFor(df.schema, statsCols): _*)
      .collect().toSeq.map { r =>
        val bn = r.getAs[Long]("__n")
        val (st, nc, sm, sq) =
          decodeStatsMetrics(r.getAs[Any](_), bn, statsCols, df.schema)
        Manifest(bn, Seq(r.getAs[String]("__file")),
          stats = st, nullCounts = nc, sums = sm, sumsqs = sq)
      }
    val audited = buckets.map(_.rows).sum
    if (audited != n) {
      deleteTree(stagedRoot)
      throw new IllegalStateException(
        s"stage audit failed: wrote $audited rows, expected $n ($stagedRoot)")
    }
    (buckets, back)
  }

  /** A bucketed base's per-file record map, one entry per bucket
    * manifest that carries the record. */
  private def perBucket[T](buckets: Seq[Manifest])(
      rec: Manifest => Map[String, T]): Map[String, Map[String, T]] =
    buckets.filter(rec(_).nonEmpty).map(m => m.files.head -> rec(m)).toMap

  /** RESTORE TABLE TO VERSION — roll the table back to a historical
    * version AS A NEW COMMIT (Delta's RESTORE): the target version's
    * snapshot is restated as a base at tip+1, so the rollback is
    * itself versioned — every commit it undid stays readable below it
    * (time travel across the restore works both ways) until a
    * deliberate [[truncateHistory]] makes the rollback permanent.
    * Unlike Delta (whose commits carry materialized absolute file
    * lists, so RESTORE is metadata-only), this log's masks are
    * CROSS-COMMIT (replace sets and delete predicates apply to every
    * earlier commit), so a single manifest cannot express a masked
    * prefix — restore pays one snapshot rewrite, the merge-on-read
    * trade documented on [[deleteWhere]]. Concurrency: restore wins by
    * design — an interleaved commit lands below the restore base and
    * is rolled back with everything else (a rollback that spared
    * late-arriving writes would not be a rollback), so a lost race
    * republishes the same staged snapshot at the next version.
    * `toVersion = -1` restores the PRE-HISTORY EMPTY state (an empty
    * base commit, zero files — what rolling back a table's very first
    * transaction means; [[graft.etl.TxCatalog]]'s repair of orphans
    * above an empty pin needs exactly this). Returns the restore
    * commit's version. */
  def restore(spark: SparkSession, toVersion: Long): Long = {
    require(toVersion <= version(),
      s"restore: version $toVersion is beyond the tip of $dir")
    val m =
      if (toVersion < 0L) Manifest(0, Nil, base = true, restated = true)
      else {
        val df = readVersion(spark, toVersion).getOrElse(
          throw new IllegalArgumentException(
            s"restore: version $toVersion of $dir is not readable " +
              "(never existed, or truncated away)"))
        val (staged, n, _) = stageObserved(df)
        Manifest(n, Seq(staged), base = true, restated = true,
          schema = Some(df.schema.json))
      }
    publishLoop("restore")((v, _) => v)(() => Claim(version() + 1, m))
  }

  /** TRUE iff any commit in (fromV, toV] RESTATED table contents (a
    * [[restore]] base). The change feed ([[changesBetween]]) emits no
    * rows for base commits — correct for content-preserving
    * compactions, but a restore CHANGES contents, so an incremental
    * consumer folding a feed across one silently diverges; this is
    * the O(commits) driver check such consumers (e.g.
    * [[graft.plans.MvCatalog.refresh]]) use to fall back to a
    * rebuild instead. */
  def restatedBetween(fromV: Long, toV: Long): Boolean =
    commits().exists { case (v, m) => v > fromV && v <= toV && m.restated }

  /** TRUE iff any commit in (fromV, toV] carries a row-hiding mask (a
    * predicate delete or a merge/replace) — i.e. the change feed over
    * the range contains RETRACTIONS. O(commits) driver metadata: the
    * check semilattice-fold consumers ([[graft.plans.MvRewrite]]'s
    * stale-view compensation) use to decide whether MIN/MAX can fold
    * through the tail (insert-only) or must stand down (Gupta &
    * Mumick: extremes are not self-maintainable under retraction). */
  def maskedBetween(fromV: Long, toV: Long): Boolean =
    commits().exists { case (v, m) => v > fromV && v <= toV && m.hidesRows }

  /** Directory listing with the stream CLOSED before returning —
    * `Files.list` leaks a file descriptor per call otherwise, and
    * `commits()` runs inside the optimistic-retry loop and on every
    * snapshot read. */
  private def listDir(d: Path): Seq[Path] = {
    val s = Files.list(d)
    try s.iterator.asScala.toSeq
    finally s.close()
  }
}

object TxParquetSink {

  /** Default [[TxParquetSink.vacuumOrphans]] retention: 24 h, far above
    * any sane stage→publish window (Delta ships 7 days for the same
    * guard; commits here are one batch, not a day of them). */
  val DefaultVacuumRetentionMs: Long = 24L * 60 * 60 * 1000

  /** Row count of a parquet directory from its footers alone —
    * driver-side metadata reads (one footer per part file), no Spark
    * job, no data pages touched. Shared by the sink's staging audit
    * and the MV catalog's post-write cardinality read (round-14: the
    * read-back `count()` job per refresh tick replaced with this). */
  private[graft] def footerRows(p: Path): Long = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = new org.apache.hadoop.conf.Configuration(false)
    conf.set("fs.file.impl", classOf[org.apache.hadoop.fs.RawLocalFileSystem].getName)
    val files = {
      val s = Files.list(p)
      try s.iterator.asScala.toSeq finally s.close()
    }
    files.filter { f =>
      val n = f.getFileName.toString
      n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
    }.map { f =>
      val in = HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toUri), conf)
      val r = ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** The listener half of [[TxParquetSink.runObserved]]: waits for the
    * one successful execution carrying its metric name, ignores every
    * other event (in particular FAILED executions — see runObserved's
    * scaladoc for why Spark's own Observation listener is not used).
    * Listener-bus delivery is asynchronous, so [[await]] blocks with a
    * generous timeout and fails LOUDLY if the metrics never arrive —
    * a silent default would let an unaudited commit publish.
    *
    * Why a listener at all (checked against Spark 4.1.2): there is no
    * synchronous handle on a write's observed metrics. `Observation`
    * itself is completed by `classic.ObservationManager`'s
    * `QueryExecutionListener` on this same asynchronous bus, so it
    * would wait exactly as long; and `DataFrameWriter.save` returns
    * Unit, not its command's `QueryExecution`, so the metrics the
    * write computed on the driver cannot be read from the call. */
  private[etl] final class StageMetricsListener(name: String)
      extends org.apache.spark.sql.util.QueryExecutionListener {
    @volatile private var metrics: Option[Map[String, Any]] = None
    private val latch = new java.util.concurrent.CountDownLatch(1)
    override def onSuccess(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution,
        durationNs: Long): Unit =
      try qe.observedMetrics.get(name).foreach { row =>
        metrics = Some(row.getValuesMap[Any](row.schema.fieldNames.toSeq))
        latch.countDown()
      } catch { case scala.util.control.NonFatal(_) => () }
    override def onFailure(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution,
        exception: Exception): Unit = ()
    def await(): Map[String, Any] = {
      if (!latch.await(300, java.util.concurrent.TimeUnit.SECONDS))
        throw new IllegalStateException(
          s"observed staging metrics '$name' never arrived — cannot " +
            "audit the staged write")
      metrics.get
    }
  }

  /** TIMESTAMP stats rendering: Spark's cast-to-string formatter,
    * pinned to UTC ([[TxParquetSink.statValue]]). */
  private lazy val UtcTimestamps = org.apache.spark.sql.catalyst.util
    .TimestampFormatter.getFractionFormatter(java.time.ZoneOffset.UTC)

  /** The shared no-op publish fence (plain sinks). */
  private val NoFence: () => Unit = () => ()

  /** Publish attempts a commit makes before [[TxParquetSink.publishLoop]]
    * gives up. */
  private val MaxPublishAttempts = 20

  /** One attempt of [[TxParquetSink.publishLoop]]: claim a version
    * with a manifest, re-read without publishing, or finish. */
  private sealed trait Turn[+T]
  private final case class Claim(version: Long, manifest: Manifest)
      extends Turn[Nothing]
  private case object Reread extends Turn[Nothing]
  private final case class Done[T](result: T) extends Turn[T]

  /** A bloom filter with the given bit positions set. */
  private def bloomOf(positions: Iterable[Int]): BloomBits = {
    val bs = new java.util.BitSet(BloomM)
    positions.foreach(bs.set)
    BloomBits(BloomM, BloomK,
      java.util.Base64.getUrlEncoder.withoutPadding.encodeToString(bs.toByteArray))
  }

  /** One table's commit log as [[TxParquetSink.cachedLog]] caches it:
    * the validating sorted `.txn` name listing, the effective suffix
    * (newest base onward) snapshot reads resolve from, and the full
    * history parsed LAZILY — only the callers that genuinely walk
    * pre-base commits (time travel, change feeds, truncation) force
    * it. */
  private[graft] final class LogSnapshot(val fp: (Long, Long),
      val names: Seq[String],
      val suffix: Seq[(Long, Manifest)],
      allParse: () => Seq[(Long, Manifest)]) {
    lazy val all: Seq[(Long, Manifest)] = allParse()
    /** Eviction recency — touched on every cache hit; the bound scan
      * in [[TxParquetSink.cachedLog]] evicts the minimum. */
    @volatile var lastAccess: Long = System.nanoTime()
  }

  private[graft] val logCache =
    new java.util.concurrent.ConcurrentHashMap[String, LogSnapshot]()

  /** Write-once per-(dir lifecycle, manifest name) parse memo backing
    * [[TxParquetSink.cachedLog]]: the (inode, head-manifest mtime)
    * lifecycle fingerprint guards the whole per-dir map, so a
    * reincarnated table can never reuse its predecessor's parses —
    * even when the filesystem recycles the inode number. */
  private[graft] val parsedLogs = new java.util.concurrent.ConcurrentHashMap[
    String, ((Long, Long), java.util.concurrent.ConcurrentHashMap[String, (Long, Manifest)])]()

  /** Manifest-file parse counter — the counted-I/O hook the snapshot
    * cache's spec asserts on (N plans against an unchanged table must
    * parse the log once, not N times). */
  private[graft] val manifestParses =
    new java.util.concurrent.atomic.AtomicLong()

  /** One memoized head-snapshot resolution: the validating pair plus
    * the resolved frame (and its owning session, for stopped-session
    * pruning — keyed by the session's UUID string deliberately, so no
    * WeakHashMap key↔value cycle can pin sessions). */
  private[graft] final class CachedRelation(val fp: (Long, Long),
      val names: Seq[String], val session: SparkSession,
      val df: Option[DataFrame])

  /** Process-unique id per session, held WEAKLY (string values carry
    * no reference back to the key, so collected sessions really do
    * leave the map — unlike keying [[relationCache]] by the session
    * object itself, whose cached frames would pin it forever). */
  private val sessionIds = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())

  private[graft] def sessionId(spark: SparkSession): String =
    sessionIds.computeIfAbsent(spark,
      _ => java.util.UUID.randomUUID().toString)

  /** The resolved-relation cache behind [[TxParquetSink.readSnapshot]],
    * keyed (session id, table dir) — one live entry per table per
    * session, revalidated per read against the current log listing. */
  private[graft] val relationCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), CachedRelation]()

  /** Scan-relation construction counter — [[relationCache]]'s
    * counted-work spec hook (N snapshot reads of an unchanged table
    * must build the parquet relation once). */
  private[graft] val relationBuilds =
    new java.util.concurrent.atomic.AtomicLong()

  /** Bounds [[relationCache]]: STOPPED sessions' entries are swept on
    * EVERY insert (review finding r13 — waiting for the 512 bound
    * would pin each stopped session's plan graph indefinitely in
    * exactly the create-and-stop session patterns the catalog
    * targets; the sweep is one scan of ≤ 512 entries on the rare
    * insert path), then arbitrary other-key entries go if still over
    * the bound — never a wholesale clear. */
  private def pruneRelationCache(current: (String, String)): Unit = {
    import scala.jdk.CollectionConverters._
    relationCache.entrySet().asScala
      .filter(e => e.getValue.session.sparkContext.isStopped)
      .foreach(e => relationCache.remove(e.getKey))
    while (relationCache.size > 512) {
      relationCache.keySet().asScala.find(_ != current) match {
        case Some(k) => relationCache.remove(k); ()
        case None => return
      }
    }
  }

  /** [[TxParquetSink.metaProfile]]'s per-column answer: the comparison
    * domain flag and extremes in their cast-to-string form, total rows,
    * and the optional non-null count / exact integral sum. */
  final case class ColMetaProfile(num: Boolean, min: String, max: String,
      rows: Long, nonNull: Option[Long], sum: Option[BigInt])

  /** [[TxParquetSink.classifyFiles]]' per-file classes. */
  private final val Excluded = 0
  private final val Boundary = 1
  private final val Full = 2

  /** One classified file: (manifest, path, class, exact rows if known). */
  private type Classed = (Manifest, String, Int, Option[Long])

  /** One unit a manifest fold credits: (manifest, file, rows) — `None`
    * credits the whole commit, `Some(f)` one of its files. */
  private type Credit = (Manifest, Option[String], Long)

  private def wholeCommits(ms: Seq[Manifest]): Seq[Credit] =
    ms.map(m => (m, None, m.rows))

  /** The Full files of a classification, as fold units. */
  private def credited(classed: Seq[Classed]): Seq[Credit] =
    classed.collect { case (m, f, Full, Some(n)) => (m, Some(f), n) }

  /** One column's manifest fold ([[foldColumn]]): total `rows`;
    * `domain` (numeric or not) iff every unit carries min/max stats
    * for the column and all agree on it; the non-null count, exact sum
    * and exact sum of squares, each None unless every unit carries its
    * record. */
  private final class ColFold(val rows: Long, val domain: Option[Boolean],
      stats: Seq[ColStats], val nonNull: Option[Long],
      val sum: Option[BigInt], val sumsq: Option[BigInt]) {
    /** (min, max) in the domain's order; throws NumberFormatException
      * on an unparseable numeric stat (a legacy NaN record). */
    lazy val extremes: Option[(String, String)] = domain.map(num =>
      (minOf(stats.map(_.min), num), maxOf(stats.map(_.max), num)))
    /** The quiet form: None unless stats fold cleanly. */
    def profile: Option[ColMetaProfile] =
      try for (num <- domain; (mn, mx) <- extremes)
        yield ColMetaProfile(num, mn, mx, rows, nonNull, sum)
      catch { case _: NumberFormatException => None }
  }

  /** THE MANIFEST FOLD — the one reduction behind every metadata
    * aggregate and profile ([[TxParquetSink.statsAggregate]],
    * [[TxParquetSink.momentsAggregate]], their `Where` forms'
    * Full-file credit, [[TxParquetSink.metaProfile]], and
    * [[TxParquetSink.compactClustered]]'s commit-level records): min/max
    * in the BigDecimal or [[utf8Cmp]] domain, rows, non-null count,
    * sum and sum of squares over the credited units. A file's stats
    * and sums are its own per-file records when present; the
    * commit-grain records (null counts, commit sums, sums of squares)
    * credit a file only when it is its commit's only file. */
  private def foldColumn(units: Seq[Credit], c: String): ColFold = {
    def all[T](rec: (Manifest, Option[String]) => Option[T]): Option[Seq[T]] = {
      val vs = units.map { case (m, f, _) => rec(m, f) }
      if (vs.forall(_.isDefined)) Some(vs.flatten) else None
    }
    def whole(m: Manifest, f: Option[String]) = f.isEmpty || m.files.size == 1
    def exact(vs: Seq[String]): Option[BigInt] =
      try Some(vs.map(BigInt(_)).sum)
      catch { case _: NumberFormatException => None }
    val rows = units.map(_._3).sum
    val stats = all((m, f) =>
      f.flatMap(m.fileStats.get(_).flatMap(_.get(c))).orElse(m.stats.get(c)))
    val domain = stats.flatMap(ss =>
      ss.headOption.map(_.num).filter(num => ss.forall(_.num == num)))
    val nulls = all((m, f) => if (whole(m, f)) m.nullCounts.get(c) else None)
    val sum = all((m, f) => f.flatMap(m.fileSums.get(_).flatMap(_.get(c)))
      .orElse(if (whole(m, f)) m.sums.get(c) else None)).flatMap(exact)
    val sumsq = all((m, f) =>
      if (whole(m, f)) m.sumsqs.get(c) else None).flatMap(exact)
    new ColFold(rows, domain, stats.getOrElse(Nil),
      nulls.map(rows - _.sum), sum, sumsq)
  }

  /** [[TxParquetSink.mergeInto]]'s outcome: rows inserted (not
    * matched), updated (matched, update clause), deleted (matched,
    * delete clause). Matched rows no clause claimed are not counted —
    * they were never rewritten. */
  final case class MergeStats(inserted: Long, updated: Long, deleted: Long)

  /** Manifest sketch size: [[graft.ext.SketchOps.JoinCardK]]'s 64 —
    * ±1/√k ≈ 12 % relative error on distinct counts, the planning
    * accuracy CBOs operate at. */
  // hard-linked to the ndv_estimate aggregate's default: the
  // MetadataAggregates sketch fold only substitutes when the query's
  // k equals the persisted k, so the two must never drift
  val SketchK: Int = graft.functions.KmvNdvAgg.DefaultK

  /** Distinct-count estimate from a folded sketch — the driver-side
    * mirror of [[graft.functions.KmvSketchAgg.estimateExpr]], same
    * IEEE ops in the same order (exact below k, `(k−1)·2³²/h_k` at
    * capacity), so a DuckDB twin reproduces it bit-for-bit. */
  def kmvEstimate(s: KmvMins): Double =
    if (s.mins.size < s.k) s.mins.size.toDouble
    else (s.k - 1).toDouble * 4294967296.0 / s.mins(s.k - 1).toDouble

  val BloomM: Int = 8192
  val BloomK: Int = 6

  /** Driver-side membership test: false ⇒ the value is provably absent
    * from the commit (its files may be skipped); true ⇒ maybe present. */
  private[etl] def mightContain(b: BloomBits, value: String): Boolean = {
    val bs = java.util.BitSet.valueOf(
      java.util.Base64.getUrlDecoder.decode(b.bits))
    (0 until b.k).forall { i =>
      bs.get((graft.functions.Md5Prefix32.hash(s"bloom$i:$value") % b.m).toInt)
    }
  }

  /** A pruning constraint derived from one WHERE conjunct by
    * [[TxParquetSink.readSnapshotWhere]]. `litNum` records the
    * literal's comparison domain (numeric vs string) and `litIntegral`
    * whether its rendering is bloom-probe-safe against integral-formed
    * column casts — see the method scaladoc for the soundness rules. */
  private[etl] sealed trait PruneCons
  private[etl] final case class RangeCons(col: String, lo: Option[String],
      hi: Option[String], litNum: Boolean,
      loStrict: Boolean = false, hiStrict: Boolean = false) extends PruneCons
  private[etl] final case class EqCons(col: String, v: String,
      litNum: Boolean, litIntegral: Boolean) extends PruneCons
  private[etl] final case class InCons(col: String, vs: Seq[String],
      litNum: Boolean, litIntegral: Boolean) extends PruneCons
  /** `col IS NOT NULL` — the conjunct the optimizer infers next to
    * every comparison. Never excludes a file (pruning by null counts
    * alone isn't worth the read of the rule); a file is FULL under it
    * iff its recorded null count is zero, which [[classifyFiles]]'s
    * existing per-constraint null-count gate already enforces. Parsing
    * it (instead of treating it as unrecognized) keeps `complete` true
    * for the inferred-filter spelling, so [[metaProfile]] can
    * credit Full files on plans the optimizer has already decorated. */
  private[etl] final case class NotNullCons(col: String) extends PruneCons

  /** Does a cast-to-string stat prove the column renders integrally?
    * (DOUBLE min/max always carry '.'/'E'; integral and scale-0 decimal
    * casts never do.) */
  private[etl] def integralForm(s: String): Boolean = s.matches("-?\\d+")

  /** The -separated tuple key used by the OVERWRITE read filter —
    * a second encoding of the same tuples because this one must be
    * reproducible as a COLUMN EXPRESSION inside the scan
    * ([[sepKeyExpr]]: regexp_replace chains — URL-encoding is not
    * expressible there). '%'→'%25' and the separator→'%01' make it
    * collision-free, INCLUDING for NULL: a SQL NULL value encodes as
    * "null", while a value that IS the literal string "null" escapes
    * to "%6Eull" (applied after '%'-escaping, so a genuine "%6Eull"
    * value becomes "%256Eull") — overwriting the NULL partition can
    * never also logically delete the "null"-string partition, or
    * vice versa. */
  private[etl] val SepChar = "\u0001"
  private[etl] def sepEncode(values: Seq[String]): String =
    values.map { v =>
      if (v == null) "null"
      else {
        val esc = v.replace("%", "%25").replace(SepChar, "%01")
        if (esc == "null") "%6Eull" else esc
      }
    }.mkString(SepChar)

  /** [[sepEncode]] as an expression over the partition columns. */
  private[etl] def sepKeyExpr(cols: Seq[String]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    concat_ws(SepChar, cols.map { c =>
      val esc = regexp_replace(
        regexp_replace(col(c).cast("string"), "%", "%25"), SepChar, "%01")
      when(col(c).isNull, lit("null"))
        .otherwise(when(esc === lit("null"), lit("%6Eull")).otherwise(esc))
    }: _*)
  }

  /** The drop-exclusion predicate for one replace set. Single-column
    * replace sets whose values carry no escapes take the FAST PATH —
    * a plain `NOT col IN (values)`: Catalyst coerces the literals to
    * the column's type and the filter TRANSLATES TO A DATA-SOURCE
    * FILTER, so parquet row-group statistics can skip whole replaced
    * partitions at the scan (`PushedFilters: [Not(In(day, …))]` —
    * pinned by the spec). Multi-column sets or escaped values fall
    * back to the expression form, which filters post-scan but is
    * always correct. */
  private[etl] def dropPredicate(cols: Seq[String],
      keys: Set[String]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    if (cols.size == 1 && keys.forall(k => !k.contains("%")) &&
        !keys.contains("null")) {
      // keys ARE the raw values when nothing was escaped; a null
      // partition value nulls the In() — keep those rows explicitly
      // (the "null" marker key, which WOULD drop them, routes to the
      // expression path above)
      not(col(cols.head).isin(keys.toSeq: _*)) || col(cols.head).isNull
    } else not(sepKeyExpr(cols).isin(keys.toSeq: _*))
  }

  /** True iff the stats' [min, max] cannot intersect [lo, hi] (a
    * missing bound never excludes) — the only case data skipping may
    * drop a file. Unparseable numeric stats (a float column's min/max
    * can be "NaN"/"Infinity" — Spark propagates NaN through min/max)
    * NEVER throw at read time: they fall back to conservative keep,
    * honoring the superset contract for manifests written before the
    * write-side [[finiteNumeric]] filter existed. */
  private[etl] def boundDisjoint(s: ColStats, lo: Option[String],
      hi: Option[String]): Boolean =
    if (s.num)
      (try lo.exists(l => BigDecimal(s.max) < BigDecimal(l)) ||
           hi.exists(h => BigDecimal(s.min) > BigDecimal(h))
       catch { case _: NumberFormatException => false })
    else lo.exists(utf8Cmp(s.max, _) < 0) || hi.exists(utf8Cmp(s.min, _) > 0)

  /** String comparison in the ENGINE's collation — UTF8String binary,
    * i.e. UTF-8 byte order == code-point order. The manifest's string
    * extremes were computed by Spark's MIN/MAX (UTF8String order), so
    * every fold or comparison against them must use the same order:
    * Java's `String.compareTo` ranks UTF-16 code units, which disagrees
    * for supplementary-plane characters (U+10000..: surrogates 0xD800..
    * sort BELOW 0xE000.. in UTF-16 but ABOVE in code points) — enough
    * to wrongly exclude a matching file or report a wrong metadata
    * MIN/MAX on emoji-bearing columns. */
  private[etl] def utf8Cmp(a: String, b: String): Int =
    org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))

  /** Extremes in the stats' comparison domain: exact BigDecimal for
    * numeric stats, engine collation ([[utf8Cmp]]) otherwise. */
  private def minOf(vs: Seq[String], num: Boolean): String =
    if (num) vs.minBy(BigDecimal(_))
    else vs.reduce((a, b) => if (utf8Cmp(a, b) <= 0) a else b)

  private def maxOf(vs: Seq[String], num: Boolean): String =
    if (num) vs.maxBy(BigDecimal(_))
    else vs.reduce((a, b) => if (utf8Cmp(a, b) >= 0) a else b)

  /** A scanned exact sum (a decimal cast may print a scale) as BigInt. */
  private def exactSum(v: String): BigInt = BigDecimal(v).toBigInt

  /** The integral types — where addition is exact and associative (so
    * sums are recorded) and the cast-to-string form has no '.' (so an
    * integral literal's rendering is bloom-probe-safe). */
  private[graft] def integralType(t: org.apache.spark.sql.types.DataType): Boolean =
    t match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
      case _ => false
    }

  /** Write-side stats admission rule for numeric columns: record only
    * min/max that parse as finite decimals. A NaN/±Infinity extremum
    * (floats) would otherwise poison every later range read with a
    * NumberFormatException; skipping the entry is the conservative
    * always-read posture the contract already allows. */
  private[etl] def finiteNumeric(num: Boolean, mn: String, mx: String): Boolean =
    !num || (try { BigDecimal(mn); BigDecimal(mx); true }
             catch { case _: NumberFormatException => false })

}
