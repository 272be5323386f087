package graft.etl

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

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
  *     ATOMICALLY via hard-link creation (`Files.createLink` is an
  *     atomic create-if-absent on POSIX — unlike create-then-rename,
  *     which `rename(2)` makes last-writer-wins). Losing the race throws
  *     `FileAlreadyExistsException` → optimistic-concurrency retry.
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
  * commits, not the table. The one deployment-specific primitive is
  * atomic create-if-absent, provided here by the POSIX filesystem
  * (local disk, NFS, anything with atomic `link(2)`); an object-store
  * deployment swaps exactly this one method for a conditional PUT /
  * DynamoDB-style log store, as Delta's LogStore does — the protocol
  * above it is unchanged.
  */
final case class TxParquetSink(dir: String) extends WarehouseSink {
  import TxParquetSink._

  private val root: Path = Paths.get(dir)
  private val logDir: Path = root.resolve("_txlog")

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
    * [[maskedBetween]], [[columnMetaProfile]], and through them
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
    val names: Seq[String] =
      if (!Files.isDirectory(logDir)) Nil
      else {
        val s = Files.list(logDir)
        try s.iterator.asScala.map(_.getFileName.toString)
          .filter(_.matches("\\d{20}\\.txn")).toSeq.sorted
        finally s.close()
      }
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
        (nn.stripSuffix(".txn").toLong, parseManifest(
          new String(Files.readAllBytes(logDir.resolve(nn)), UTF_8)))
      })
    val suffix = {
      val probed =
        try {
          if (!Files.exists(basePointer)) None
          else {
            val v0 =
              new String(Files.readAllBytes(basePointer), UTF_8).trim.toLong
            val n0 = f"$v0%020d.txn"
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
  private val basePointer: Path = logDir.resolve("_last_base")

  private def writeBasePointer(v: Long): Unit =
    try {
      Files.createDirectories(logDir)
      val tmp = Files.createTempFile(logDir, ".bp-", ".txn.tmp")
      Files.write(tmp, v.toString.getBytes(UTF_8))
      Files.move(tmp, basePointer,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } catch { case _: java.io.IOException => () } // advisory — never fails a commit

  /** Snapshot-resolution commit list: the effective suffix (newest
    * base onward), served from the log snapshot cache — one readdir
    * on a hit, base-pointer-guided incremental parses on a miss. */
  private[etl] def resolvedCommits(): Seq[(Long, Manifest)] =
    cachedLog().suffix

  /** Snapshot read: the union of every committed data directory; None
    * before the first commit. Uncommitted staged directories are never
    * visible here — that is the isolation guarantee.
    *
    * Served from the RESOLVED-RELATION CACHE: [[MetaPlanBench]]
    * measured the round-12 log snapshot cache at 2.17× on the
    * metadata surface but only 1.14× end-to-end, because plan time
    * is dominated by SCAN-RELATION construction — per-directory file
    * listing and mergeSchema footer reads inside `spark.read.parquet`
    * — not manifest parsing. The head snapshot's resolved DataFrame
    * is therefore memoized per (session, table dir) and validated by
    * the SAME (fingerprint, sorted manifest names) pair as the log
    * cache: manifests are write-once, so an identical name set under
    * an identical lifecycle fingerprint implies an identical file
    * set, masks included. Pruned reads ([[readSnapshotWhere]], time
    * travel) construct fresh — their path sets are query-specific.
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
    * publish with retry. Appends never conflict with each other — a lost
    * race just re-publishes the same staged directory at the next
    * version. */
  def append(df: DataFrame): Unit = {
    // ONE pass (round-13 optimization): count + constraint check fused
    // into the staging write via observe; audit from the footers — the
    // old count→constrain→write→re-read path ran the batch plan twice
    // and read it back once more.
    val cons = constraintViolationAggs()
    val (staged, n, metrics) = stageObserved(df, cons.map(_._3))
    if (n == 0) { deleteRecursively(root.resolve(staged)); return }
    checkConstraintMetrics(cons, metrics, Some(staged))
    var v = version() + 1
    while (!tryPublish(v, Manifest(n, Seq(staged),
      schema = Some(df.schema.json)))) v = version() + 1
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
    if (n == 0) { deleteRecursively(root.resolve(staged)); return false }
    checkConstraintMetrics(cons, metrics, Some(staged))
    val manifest = Manifest(n, Seq(staged), txn = Some((appId, txnVersion)),
      schema = Some(df.schema.json))
    while (true) {
      // pin the target version BEFORE re-checking the mark: a twin
      // writer landing between the check and the publish necessarily
      // takes this version, so our publish fails and the next loop
      // iteration sees its mark — no TOCTOU double-commit
      val v = version() + 1
      if (txnVersion <= lastTxnVersion(appId)) { // raced a twin writer
        deleteRecursively(root.resolve(staged))
        return false
      }
      if (tryPublish(v, manifest)) return true
    }
    false // unreachable
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
    import org.apache.spark.sql.functions.{col, explode, array, pmod, concat, lit}
    val spark = df.sparkSession
    // count + constraints + min/max/nulls/sums profile fused into the
    // ONE staging write (round-13 optimization — this path used to run
    // the batch plan twice and re-read the staged files twice more);
    // only the bloom/KMV passes below still read the staged files, and
    // only when those columns are requested.
    val cons = constraintViolationAggs()
    val (staged, n, metrics) = stageObserved(df,
      cons.map(_._3) ++ statsAggsFor(df.schema, statsCols))
    if (n == 0) { deleteRecursively(root.resolve(staged)); return }
    checkConstraintMetrics(cons, metrics, Some(staged))
    lazy val stagedDf = spark.read.parquet(root.resolve(staged).toString)
    val (stats, nullCounts, sums, sumsqs) =
      decodeStatsMetrics(metrics(_), n, statsCols, df.schema)
    // bloom bits computed DISTRIBUTED (the batch may be huge): k hash
    // positions per row fused into the scan, one bounded distinct —
    // at most BloomM ints per column ever reach the driver
    val blooms = bloomCols.map { c =>
      val positions = stagedDf
        .where(col(c).isNotNull)
        .select(explode(array((0 until BloomK).map(i =>
          pmod(graft.ext.TextOps.h32(
            concat(lit(s"bloom$i:"), col(c).cast("string"))), lit(BloomM))
            .cast("int")): _*)).as("p"))
        .distinct().collect().map(_.getInt(0))
      val bs = new java.util.BitSet(BloomM)
      positions.foreach(bs.set)
      c -> BloomBits(BloomM, BloomK,
        java.util.Base64.getUrlEncoder.withoutPadding.encodeToString(bs.toByteArray))
    }.toMap
    // per-column KMV sketch: one bounded aggregate fused with the
    // read-back scan; at most SketchK longs per column reach the driver
    val sketches = sketchCols.map { c =>
      val arr = stagedDf
        .select(graft.ext.TextOps.h32(col(c).cast("string")).as("h"))
        .agg(graft.functions.KmvSketchAgg.kmvSketch(col("h"), SketchK).as("sk"))
        .head().getSeq[Long](0)
      c -> KmvMins(SketchK, arr)
    }.toMap
    var v = version() + 1
    while (!tryPublish(v, Manifest(n, Seq(staged), stats = stats, blooms = blooms,
      sketches = sketches, nullCounts = nullCounts, sums = sums,
      sumsqs = sumsqs, schema = Some(df.schema.json))))
      v = version() + 1
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
    * numeric literals against numeric stats (exact BigDecimal), string
    * literals against string stats (engine collation). A bloom probes
    * only when the stored cast form provably equals the literal's
    * rendering — proven by the file's stats when recorded (string col ↔
    * string lit, or integral-formed numeric stats ↔ integral lit — a
    * DOUBLE column stores "5.0", so probing it with `= 5`'s "5" is
    * refused rather than wrongly pruned), else by the manifest's
    * recorded `schema` (STRING column ↔ string lit, integral column ↔
    * integral lit). Any mismatch, or neither proof, ⇒ the file is read.
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

  /** OPTIMIZER-GRADE METADATA COUNT — `Some(count)` iff COUNT(*) under
    * the (optional) predicate is answerable from manifests WITHOUT any
    * scan: the log carries no row-hiding masks, and — when a predicate
    * is given — [[classifyFiles]] proves every file Full or Excluded
    * (one Boundary file would need data). `None` means "stay silent":
    * this is the driver-side kernel behind
    * [[graft.plans.MetadataAggregates]], the Catalyst rule that
    * rewrites whole count aggregates into literal results, so a wrong
    * answer is never an option and an unanswerable one costs nothing
    * (the scan plan stands). Unlike [[countWhere]] this NEVER launches
    * a job — pure O(commits) metadata, safe inside the optimizer. */
  def countFromMetadata(spark: SparkSession,
      predicateSql: Option[String]): Option[Long] = {
    val cs = resolvedCommits()
    if (cs.isEmpty || cs.exists(_._2.hidesRows)) return None
    predicateSql match {
      case None => Some(cs.map(_._2.rows).sum)
      case Some(p) =>
        try {
          val classed = classifyFiles(spark, p, cs)
          if (classed.exists(_._3 == Boundary)) None
          else Some(credited(classed).map(_._3).sum)
        } catch { case scala.util.control.NonFatal(_) => None }
    }
  }

  /** OPTIMIZER-GRADE COLUMN PROFILE — the quiet (Option, never-throw,
    * never-scan) sibling of [[statsAggregate]]/[[momentsAggregate]],
    * for [[graft.plans.MetadataAggregates]]' MIN/MAX/SUM rewrites:
    * Some iff the log is mask-free and EVERY data commit carries
    * min/max stats for `column`. `nonNull`/`sum` are themselves
    * optional (each needs its record on every commit); `sum` folds as
    * BigInt — the caller decides whether it fits the engine type. */
  def columnMetaProfile(column: String): Option[ColMetaProfile] =
    maskFreeData().flatMap(data => foldColumn(wholeCommits(data), column).profile)

  /** OPTIMIZER-GRADE FILTERED PROFILE — [[columnMetaProfile]] under a
    * predicate: `Some((rows, per-column profile))` iff every aggregate
    * ingredient is provable from manifests with ZERO data reads —
    * [[classifyFiles]] classifies every file Full or Excluded (one
    * Boundary file would need a scan; the predicate must have parsed
    * completely) and every Full file carries min/max stats for every
    * requested column. Per-column `nonNull` needs the file's null
    * count (single-directory commits only — null counts are
    * commit-grain) and `sum` a per-file or single-directory sum
    * record; each is independently absent rather than wrong. An
    * all-Excluded classification returns `Some((0, empty))` — the
    * predicate provably matches nothing. Never launches a job: this
    * is [[graft.plans.MetadataAggregates]]' filtered branch, so a
    * `df.where(commit-aligned range).agg(min/max/sum)` plans to a
    * literal — the boundary-exact [[statsAggregateWhere]] capability,
    * reachable from a plain DataFrame aggregate when (and only when)
    * no boundary scan would be needed. */
  def filteredMetaProfile(spark: SparkSession, predicateSql: String,
      columns: Seq[String]): Option[(Long, Map[String, ColMetaProfile])] =
    try {
      val classed = classifyFiles(spark, predicateSql,
        fullAlso = (m, f) => columns.forall(c => statsFor(m, f, c).isDefined))
      if (classed.exists(_._3 == Boundary)) return None
      val fulls = credited(classed)
      val rows = fulls.map(_._3).sum
      if (rows == 0L) return Some((0L, Map.empty))
      Some((rows, columns.map(c =>
        c -> foldColumn(fulls, c).profile.getOrElse(return None)).toMap))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** OPTIMIZER-GRADE GROUPED PROFILE — the `GROUP BY <cols>` sibling
    * of [[columnMetaProfile]]: `Some` iff the log is mask-free and
    * EVERY data commit is SINGLE-VALUED in EVERY group column (recorded
    * min == max and a recorded zero null count) — the partition-grain
    * load shape (one commit per day, per (day, region), …) where a
    * grouped profile is just a per-group fold of per-commit records.
    * One entry per distinct group tuple: (rendered group values in
    * `groupCols` order, per-column numeric flags, tuple rows, per
    * `aggCols` column the group's [[ColMetaProfile]] — every commit of
    * the group must carry the column's stats, or the whole answer is
    * None). O(commits) driver metadata, never a job: the kernel behind
    * [[graft.plans.MetadataAggregates]]' grouped rewrite, which turns
    * `SELECT g, count(*), min(x), max(x), sum(x) … GROUP BY g` over a
    * partition-grain table into a literal LocalRelation with no scan
    * stage at any table size. */
  def groupedMetaProfileMulti(groupCols: Seq[String], aggCols: Seq[String])
      : Option[Seq[(Seq[String], Seq[Boolean], Long, Map[String, ColMetaProfile])]] = {
    val data = maskFreeData().filter(_ => groupCols.nonEmpty).getOrElse(return None)
    if (!data.forall(m => groupCols.forall(g =>
      m.stats.get(g).exists(s => s.min == s.max) &&
        m.nullCounts.get(g).contains(0L)))) return None
    val gNums = groupCols.map(g => data.head.stats(g).num)
    if (!data.forall(m => groupCols.zip(gNums).forall {
      case (g, n) => m.stats(g).num == n })) return None
    Some(data.groupBy(m => groupCols.map(g => m.stats(g).min)).toSeq.map {
      case (gv, gms) =>
        (gv, gNums, gms.map(_.rows).sum, aggCols.map(c =>
          c -> foldColumn(wholeCommits(gms), c).profile.getOrElse(return None)).toMap)
    })
  }

  /** The data commits (rows > 0) of a mask-free effective log — what
    * the quiet whole-table profiles fold; None on an empty, masked or
    * data-less log. */
  private def maskFreeData(): Option[Seq[Manifest]] = {
    val ms = resolvedCommits().map(_._2)
    if (ms.exists(_.hidesRows)) None
    else Some(ms.filter(_.rows > 0)).filter(_.nonEmpty)
  }

  /** The loud twin of [[maskFreeData]] behind [[statsAggregate]] and
    * [[momentsAggregate]]: masked or data-less logs are REFUSED. */
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
    * [[countFromMetadata]], [[filteredMetaProfile]]): per file of `cs`,
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
    boundary.flatMap(r => Option(r.getAs[String](s"__${rec}_$c")))

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

  private def consKeeps(m: Manifest, f: String, c: PruneCons): Boolean = c match {
    case RangeCons(col, lo, hi, litNum, _, _) =>
      statsFor(m, f, col).forall(s =>
        s.num != litNum || !boundDisjoint(s, lo, hi))
    case EqCons(col, v, litNum, litIntegral) =>
      val stats = statsFor(m, f, col)
      val statsOk = stats.forall(s =>
        s.num != litNum || !boundDisjoint(s, Some(v), Some(v)))
      // bloom probes only under a PROVEN cast-form match (see
      // readSnapshotWhere): from the stats, else the recorded schema
      val bloomSafe = stats match {
        case Some(s) =>
          if (litNum) litIntegral && s.num &&
            integralForm(s.min) && integralForm(s.max)
          else !s.num
        case None => m.fieldTypes.get(col).exists(t =>
          if (litNum) litIntegral && integralType(t)
          else t == org.apache.spark.sql.types.StringType)
      }
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
    * ([[classifiedScan]]): per-column min/max (cast-to-string domain),
    * non-null counts, and — for INTEGRAL columns, the domain where
    * addition is exact and associative — the column SUM and SUM OF
    * SQUARES (the second moment: a long² always fits decimal(38,0)). */
  private def statsAggsFor(schema: org.apache.spark.sql.types.StructType,
      statsCols: Seq[String]): Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min, try_sum}
    val integral = schema.fields.map(f => f.name -> integralType(f.dataType)).toMap
    // sums fold in decimal(38,0) via try_sum: exact up to 38 digits
    // (a wrapped int64 sum would be recorded as truth otherwise), and
    // an overflow NULLS OUT under ANSI mode too instead of throwing —
    // stats recording is advisory and must never fail the commit
    def integralSum(c: String, term: org.apache.spark.sql.Column) =
      if (integral.getOrElse(c, false)) try_sum(term).cast("string")
      else lit(null).cast("string")
    statsCols.flatMap(c => Seq(
      min(col(c)).cast("string").as(s"__min_$c"),
      max(col(c)).cast("string").as(s"__max_$c"),
      count(col(c)).as(s"__cnt_$c"),
      integralSum(c, col(c).cast("decimal(38,0)")).as(s"__sum_$c"),
      integralSum(c, col(c).cast("decimal(19,0)") * col(c).cast("decimal(19,0)"))
        .as(s"__sumsq_$c")))
  }

  /** Decode [[statsAggsFor]]'s aliases back into the manifest records,
    * from any alias→value lookup (an agg Row or an observe metrics
    * map), with the [[finiteNumeric]] admission rule on the extremes. */
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
    def str(k: String): String = lookup(k).asInstanceOf[String]
    val st = statsCols.flatMap { c =>
      val (mn, mx) = (str(s"__min_$c"), str(s"__max_$c"))
      val num = numeric.getOrElse(c, false)
      if (mn == null || mx == null || !finiteNumeric(num, mn, mx)) None
      else Some(c -> ColStats(num, mn, mx))
    }.toMap
    val nc = statsCols.map(c =>
      c -> (n - lookup(s"__cnt_$c").asInstanceOf[Long])).toMap
    // render as a plain integer string (decimal cast may print a
    // scale); BigDecimal normalizes "123" and "123.000" alike
    def exact(k: String) = statsCols.flatMap(c =>
      Option(str(s"__${k}_$c")).map(v => c -> exactSum(v).toString)).toMap
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
    * as [[appendWithStats]] captured them (Spark's `CAST(x AS STRING)`),
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
    * actually inserted. `beforePublish` is a test seam invoked between
    * audit and publish (it is where a concurrent writer interleaves);
    * production callers leave the default no-op.
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
      maxAttempts: Int = 20,
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
    if (n == 0) { deleteRecursively(root.resolve(staged)); return 0 }
    checkConstraintMetrics(cons, metrics, Some(staged))
    val touched: Option[Set[String]] =
      if (partitionCols.isEmpty) None
      else Some(decodeTouchedPartitions(metrics, partitionCols)
        .map(encodePartition))

    var attempts = 0
    while (true) {
      attempts += 1
      if (attempts > maxAttempts) {
        deleteRecursively(root.resolve(staged))
        throw new IllegalStateException(
          s"mergeUpsert: gave up after $maxAttempts publish attempts on $dir")
      }
      beforePublish()
      // Fail LOUD, not corrupt: if a mistimed vacuum (retention window
      // shorter than this commit) deleted the staged dir, publishing
      // would commit a manifest of dangling files and break every
      // subsequent snapshot read. A races-with-vacuum deployment must
      // raise the vacuum TTL; this check converts the common mistiming
      // into an aborted commit instead of a poisoned table.
      if (!Files.isDirectory(root.resolve(staged)))
        throw new IllegalStateException(
          s"mergeUpsert: staged directory $staged vanished before publish " +
            "(vacuumed mid-commit?) — aborting instead of committing a " +
            "dangling manifest")
      if (tryPublish(snap.lastOption.map(_._1).getOrElse(-1L) + 1,
          Manifest(n, Seq(staged), partitions = touched,
            partitionCols = partitionCols,
            schema = Some(toAdd.schema.json))))
        return n

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
      // and lands in the delta.
      val now = resolvedCommits()
      val lastSeen = snap.lastOption.map(_._1).getOrElse(-1L)
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
        dataOf(spark, delta) match {
          case Some(deltaDf) =>
            val remaining = spark.read.parquet(root.resolve(staged).toString)
              .join(deltaDf.select(keys.map(org.apache.spark.sql.functions.col): _*).distinct(),
                keys, "left_anti")
              .localCheckpoint(eager = true)
            val m = remaining.count()
            if (m < n) {
              deleteRecursively(root.resolve(staged))
              if (m == 0) return 0
              n = m
              staged = stageAudited(spark, remaining, n)
            }
          case None => ()
        }
      }
    }
    n // unreachable
  }

  /** Distinct partition tuples of one staged batch, as raw value
    * sequences — driver-side collect of a batch-local distinct, small
    * by the same argument as the commit's key set; call sites pick the
    * encoding ([[encodePartition]] for conflict sets, [[sepEncode]]
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
    * earlier version"), so a lost publish race retries with ZERO data
    * work — overwrites never re-filter; an insert writer interleaving
    * with a disjoint same-cols overwrite keeps ITS metadata-only fast
    * path (see [[mergeUpsert]]). Returns the committed row count. */
  def overwritePartitions(
      spark: SparkSession,
      incoming: DataFrame,
      partitionCols: Seq[String],
      beforePublish: () => Unit = () => (),
      maxAttempts: Int = 20,
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
    if (n == 0) { deleteRecursively(root.resolve(staged)); return 0 }
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
    var attempts = 0
    while (true) {
      attempts += 1
      if (attempts > maxAttempts) {
        deleteRecursively(root.resolve(staged))
        throw new IllegalStateException(
          s"overwritePartitions: gave up after $maxAttempts publish attempts on $dir")
      }
      beforePublish()
      if (!Files.isDirectory(root.resolve(staged)))
        throw new IllegalStateException(
          s"overwritePartitions: staged directory $staged vanished before " +
            "publish (vacuumed mid-commit?) — aborting")
      if (tryPublish(version() + 1, manifest)) return n
    }
    n // unreachable
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
    * [[overwritePartitions]]: a lost publish race retries with zero
    * data work, and the landed merge supersedes whatever its keys held
    * at any earlier version (last-writer-wins at key grain — writers
    * needing insert-only key reservation use [[mergeUpsert]]).
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
      beforePublish: () => Unit = () => (),
      maxAttempts: Int = 20): MergeStats = {
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
    val rel = "data/tx-" + java.util.UUID.randomUUID().toString
    val stagedPath = root.resolve(rel)
    val metrics =
      try runObserved(classified,
        Seq(clsCount("D"), clsCount("U"), clsCount("I"),
          collect_set(when(col("__cls") =!= "I", keyStruct)).as("__repl"),
          collect_set(when(col("__cls") === "I", keyStruct)).as("__ins")) ++
          cons.map(_._3))(
        _.where(col("__cls") =!= "D").drop("__cls")
          .write.mode("error").parquet(stagedPath.toString))
      catch { case e: Throwable => deleteRecursively(stagedPath); throw e }
    val (nDel, nUpd, nIns) = (metrics("__mD").asInstanceOf[Long],
      metrics("__mU").asInstanceOf[Long], metrics("__mI").asInstanceOf[Long])
    val n = nUpd + nIns
    val landed = footerRowCount(stagedPath)
    if (landed != n) {
      deleteRecursively(stagedPath)
      throw new IllegalStateException(
        s"stage audit failed: wrote $landed rows, expected $n ($stagedPath)")
    }
    checkConstraintMetrics(cons, metrics, Some(rel))
    if (n == 0) deleteRecursively(stagedPath) // all-delete or no-op batch
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
    var attempts = 0
    while (true) {
      attempts += 1
      if (attempts > maxAttempts) {
        staged.foreach(s => deleteRecursively(root.resolve(s)))
        throw new IllegalStateException(
          s"mergeInto: gave up after $maxAttempts publish attempts on $dir")
      }
      beforePublish()
      if (staged.exists(s => !Files.isDirectory(root.resolve(s))))
        throw new IllegalStateException(
          "mergeInto: staged directory vanished before publish " +
            "(vacuumed mid-commit?) — aborting")
      if (tryPublish(version() + 1, manifest))
        return MergeStats(nIns, nUpd, nDel)
    }
    MergeStats(nIns, nUpd, nDel) // unreachable
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
    * Concurrency is version-relative like [[deleteWhere]]: a lost race
    * retries the publish with zero data work. Returns rows updated. */
  def updateWhere(spark: SparkSession, predicateSql: String,
      set: Map[String, String],
      beforePublish: () => Unit = () => (),
      maxAttempts: Int = 20): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit}
    require(set.nonEmpty, "updateWhere needs at least one SET column")
    var attempts = 0
    while (true) {
      attempts += 1
      if (attempts > maxAttempts)
        throw new IllegalStateException(
          s"updateWhere: gave up after $maxAttempts publish attempts on $dir")
      // pin the snapshot VERSION the rewrite is computed from: the
      // commit must land at exactly snapV+1, else a row appended
      // concurrently (after this read, before our publish) that
      // matches the predicate would be masked with no rewritten
      // counterpart — a silent concurrent-UPDATE data loss. A lost
      // race therefore RECOMPUTES from the new snapshot (the Delta
      // OCC shape for UPDATE: re-read, re-rewrite, re-stage) instead
      // of republishing the stale rewrite at a higher version.
      val snapV = version()
      val snap = readVersion(spark, snapV).getOrElse(return 0L)
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
      // four runs' worth of jobs; it now runs exactly once, inside the
      // staging write, with the count and constraints observed
      val cons = constraintViolationAggs()
      val (staged, n, metrics) = stageObserved(rewritten, cons.map(_._3))
      if (n == 0) {
        deleteRecursively(root.resolve(staged))
        // no matching row in snapshot snapV: the UPDATE serializes at
        // snapV as a no-op; later concurrent appends serialize after it
        if (version() == snapV) return 0L
        // something landed while we validated — re-read and re-check
      } else {
        checkConstraintMetrics(cons, metrics, Some(staged))
        val manifest = Manifest(n, Seq(staged), deletePred = Some(predicateSql),
          schema = Some(rewritten.schema.json))
        beforePublish()
        if (!Files.isDirectory(root.resolve(staged)))
          throw new IllegalStateException(
            "updateWhere: staged directory vanished before publish " +
              "(vacuumed mid-commit?) — aborting")
        if (tryPublish(snapV + 1, manifest)) return n
        deleteRecursively(root.resolve(staged)) // stale rewrite: recompute
      }
    }
    0L // unreachable
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
    * like [[overwritePartitions]]: a lost race retries the publish with
    * zero data work, and the landed delete masks everything below its
    * final version. Returns the published version, or −1 on an empty
    * table (nothing to delete from — masking nothing is a no-op commit
    * not worth a version). */
  def deleteWhere(spark: SparkSession, predicateSql: String,
      beforePublish: () => Unit = () => (),
      maxAttempts: Int = 20): Long = {
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
    var attempts = 0
    while (true) {
      attempts += 1
      if (attempts > maxAttempts)
        throw new IllegalStateException(
          s"deleteWhere: gave up after $maxAttempts publish attempts on $dir")
      beforePublish()
      val v = version() + 1
      if (tryPublish(v, manifest)) return v
    }
    -1L // unreachable
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
    * rewritten atomically (temp + rename) like the base pointer. */
  private val constraintsFile: Path = logDir.resolve("_constraints")

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

  private def writeConstraints(cs: Seq[(String, String)]): Unit = {
    Files.createDirectories(logDir)
    val tmp = Files.createTempFile(logDir, ".cons-", ".txn.tmp")
    Files.write(tmp, cs.map { case (n, p) =>
      s"$n=${java.net.URLEncoder.encode(p, UTF_8.name())}"
    }.mkString("", "\n", "\n").getBytes(UTF_8))
    Files.move(tmp, constraintsFile,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

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
    val rel = "data/tx-" + java.util.UUID.randomUUID().toString
    val stagedRoot = root.resolve(rel)
    Files.createDirectories(stagedRoot)
    parts.foreach(p =>
      Files.createLink(stagedRoot.resolve(p.getFileName.toString), p))
    // audit from the linked files' parquet footers (driver-side, zero
    // Spark jobs — round-13 optimization): the footers are read THROUGH
    // the hard links, proving the adopted bytes serve
    val rows = footerRowCount(stagedRoot)
    if (!tryPublish(0L, Manifest(rows, Seq(rel)))) {
      deleteRecursively(stagedRoot)
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
      if (n == 0) { deleteRecursively(root.resolve(rel)); Nil }
      else Seq(rel)
    // record the incoming schema as catalog DDL (best effort): an
    // EMPTY base has no files to read a schema from, and without this
    // an adopted table truncated through SQL `INSERT OVERWRITE ...
    // WHERE false` would become unreadable through the catalog
    // (review finding r13). Written on every replace so the recorded
    // DDL also tracks schema evolution.
    locally {
      var tmp: Path = null
      try {
        Files.createDirectories(logDir)
        tmp = Files.createTempFile(logDir, ".ddl-", ".tmp")
        Files.write(tmp, df.schema.toDDL.getBytes(UTF_8))
        try Files.move(tmp, logDir.resolve("_schema.ddl"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        catch { // filesystems without atomic move still get the DDL
          case _: java.nio.file.AtomicMoveNotSupportedException =>
            Files.move(tmp, logDir.resolve("_schema.ddl"),
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        }
        ()
      } catch { case e: Exception => // advisory, never fails a commit —
        // but visible: a silently missing DDL reinstates the
        // truncated-table unreadability this record exists to prevent
        System.err.println(
          s"[tx] replaceAll: could not record _schema.ddl for $dir: $e")
      } finally {
        if (tmp != null) { Files.deleteIfExists(tmp); () } // no tmp litter
      }
    }
    var v = version() + 1
    val m = Manifest(n, staged, base = true,
      schema = if (staged.isEmpty) None else Some(df.schema.json))
    while (!tryPublish(v, m)) v = version() + 1
    v
  }

  private def stageAudited(spark: SparkSession, df: DataFrame, expected: Long): String = {
    val (rel, n, _) = stageObserved(df)
    if (n != expected) {
      deleteRecursively(root.resolve(rel))
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
    val rel = "data/tx-" + java.util.UUID.randomUUID().toString
    val p = root.resolve(rel)
    val metrics =
      try runObserved(df, count(lit(1)).as("__n") +: extraAggs)(
        _.write.mode("error").parquet(p.toString))
      catch { case e: Throwable => // staged bytes may already be on disk
        deleteRecursively(p); throw e
      }
    val n = metrics("__n").asInstanceOf[Long]
    val landed = footerRowCount(p)
    if (landed != n) {
      deleteRecursively(p)
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

  /** Row count of a staged directory from the parquet footers alone —
    * driver-side metadata reads (one footer per part file), no Spark
    * job, no data pages touched. */
  private def footerRowCount(p: Path): Long = TxParquetSink.footerRows(p)

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
        stagedRel.foreach(rel => deleteRecursively(root.resolve(rel)))
        throw new IllegalArgumentException(
          s"CHECK constraint $n violated by $bad incoming rows: $p")
      }
    }

  /** The single atomicity primitive: publish manifest `m` as version `v`
    * iff no commit at `v` exists AND `v` is beyond the current tip.
    * Hard-link creation is atomic create-if-absent on POSIX; a swap
    * target for object stores. The tip guard exists because
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
    if (v <= version()) return false
    Files.createDirectories(logDir)
    val tmp = Files.createTempFile(logDir, ".stage-", ".txn.tmp")
    try {
      Files.write(tmp, renderManifest(m).getBytes(UTF_8))
      try { Files.createLink(logDir.resolve(f"$v%020d.txn"), tmp); true }
      catch { case _: FileAlreadyExistsException => false }
    } finally Files.deleteIfExists(tmp)
  }

  /** Remove crashed-writer litter: staged data directories no manifest
    * references (they staged, never published, so their data was never
    * visible) and `.txn.tmp` manifest scratch files in `_txlog` left by a
    * committer that died between link and delete. Gated on an age TTL
    * exactly like Delta's VACUUM retention window: anything younger
    * than `minAgeMs` is presumed to belong to an IN-FLIGHT commit and
    * is left alone — deleting a live writer's staged dir would let its
    * publish commit a manifest of dangling files. The default retention
    * is deliberately much longer than any sane commit; a deployment
    * that vacuums aggressively must keep the TTL above its slowest
    * writer's stage→publish window (the publish path also re-checks the
    * staged dir and aborts loudly if it vanished). Returns the removed
    * paths. */
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
    val manifests = before.map { case (v, _) => logDir.resolve(f"$v%020d.txn") }
    // a shallow clone ([[cloneTo]]) references the SOURCE's files by
    // absolute path — truncating the clone forgets the references but
    // must never delete bytes it does not own
    val dirs = dropDirs.toSeq.sorted
      .filterNot(f => Paths.get(f).isAbsolute)
      .map(root.resolve(_))
    dirs.foreach(deleteRecursively)
    manifests.foreach(Files.deleteIfExists(_))
    (manifests ++ dirs).map(_.toString)
  }

  def vacuumOrphans(minAgeMs: Long = DefaultVacuumRetentionMs): Seq[String] = {
    val now = System.currentTimeMillis()
    def oldEnough(p: Path): Boolean =
      try now - Files.getLastModifiedTime(p).toMillis >= minAgeMs
      catch { case _: java.io.IOException => false } // raced a deletion: skip
    val tmps =
      if (!Files.isDirectory(logDir)) Nil
      else listDir(logDir)
        .filter(p => p.getFileName.toString.endsWith(".txn.tmp"))
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
    orphans.foreach(deleteRecursively)
    (orphans ++ tmps).map(_.toString)
  }

  /** LOG COMPACTION — the OPTIMIZE/checkpoint maintenance pass every
    * log-structured table needs: rewrite the current snapshot into ONE
    * staged directory and publish it as a BASE commit, after which
    * readers resolve from that commit alone (the append-only manifest
    * codec makes `base=true` invisible to older readers of other
    * fields). Without it a long-lived table accumulates one directory
    * per commit and every snapshot read unions an O(commits) file
    * list. Concurrency is the same optimistic protocol as
    * [[mergeUpsert]]: the base publishes at exactly snapshot-tip + 1,
    * so a commit that lands in between loses us the race and the
    * WHOLE read-stage-publish cycle retries — a base manifest may
    * never hide a commit it did not contain. Historical directories
    * stay on disk (still referenced by pre-base manifests, so
    * [[vacuumOrphans]] never touches them) — time travel across the
    * compaction keeps working; log truncation would be a separate,
    * deliberate retention pass. Returns the published base version, or
    * −1 on an empty table. `beforePublish` is the race-injection test
    * seam, as in [[mergeUpsert]]. */
  def compact(spark: SparkSession,
      beforePublish: () => Unit = () => (),
      maxAttempts: Int = 20): Long =
    compactWith(spark, identity, beforePublish, maxAttempts)

  /** RANGE-BUCKETED compaction — the maintenance pass that makes data
    * skipping SURVIVE compaction: [[compact]]'s single base directory
    * carries whole-table stats (useless for pruning — they span
    * everything); this one range-partitions the snapshot on `column`
    * into `numBuckets` directories and records PER-FILE min/max in the
    * base manifest, so a [[readSnapshotWhere]] after compaction prunes
    * buckets exactly as it pruned the original commits — Delta's
    * OPTIMIZE-preserves-stats behavior. Same optimistic protocol,
    * races, and time travel as [[compact]]; the bucket column is
    * synthetic (range-partition id) and never lands in the data.
    * `bloomCols` rebuilds PER-FILE bloom filters for the base's
    * buckets (one distinct-positions aggregate grouped by bucket —
    * ≤ buckets·m ints reach the driver), so POINT skipping survives
    * the compaction too. */
  def compactRanged(spark: SparkSession, column: String,
      numBuckets: Int = 8,
      bloomCols: Seq[String] = Nil,
      beforePublish: () => Unit = () => (),
      maxAttempts: Int = 20): Long = {
    import org.apache.spark.sql.functions.{col, min, max, count, lit, spark_partition_id, explode, array, pmod, concat}
    import org.apache.spark.sql.types.NumericType
    var attempts = 0
    while (true) {
      attempts += 1
      if (attempts > maxAttempts)
        throw new IllegalStateException(
          s"compactRanged: gave up after $maxAttempts publish attempts on $dir")
      val snap = commits()
      if (snap.isEmpty) return -1L
      // single pass (round-13 optimization): no checkpoint, no
      // up-front count — the rewrite plan runs once, inside the
      // bucketed staging write, with the row count observed; the
      // read-back below (needed for per-bucket stats anyway) audits
      // what landed against it
      val df = dataOf(spark, effective(snap)).get
      // explicit bucket count: an unsized repartitionByRange gets
      // AQE-coalesced and the bucketing evaporates (the TextOps.shingleSet lesson)
      val rel = "data/tx-" + java.util.UUID.randomUUID().toString
      val stagedRoot = root.resolve(rel)
      val n = runObserved(
        df.repartitionByRange(numBuckets, col(column))
          .withColumn("__bucket", spark_partition_id()),
        Seq(count(lit(1)).as("__n")))(
        _.write.mode("error").partitionBy("__bucket")
          .parquet(stagedRoot.toString))("__n").asInstanceOf[Long]
      // audit + per-bucket stats in one read-back pass (partition
      // discovery restores __bucket)
      val back = spark.read.parquet(stagedRoot.toString)
      val statRows = back.groupBy("__bucket")
        .agg(count(lit(1)).as("__n"),
          min(col(column)).cast("string").as("__min"),
          max(col(column)).cast("string").as("__max"))
        .collect()
      val audited = statRows.map(_.getAs[Long]("__n")).sum
      if (audited != n) {
        deleteRecursively(stagedRoot)
        throw new IllegalStateException(
          s"compactRanged stage audit failed: wrote $audited rows, expected $n")
      }
      val num = df.schema.fields.find(_.name == column)
        .exists(_.dataType.isInstanceOf[NumericType])
      val buckets = statRows.map(r => r.getAs[Any]("__bucket").toString)
      val files = buckets.map(b => s"$rel/__bucket=$b").toSeq
      val fileStats = statRows.flatMap { r =>
        val (mn, mx) = (r.getAs[String]("__min"), r.getAs[String]("__max"))
        if (mn == null || mx == null || !finiteNumeric(num, mn, mx)) None
        else Some(s"$rel/__bucket=${r.getAs[Any]("__bucket")}" ->
          Map(column -> ColStats(num, mn, mx)))
      }.toMap
      // per-bucket blooms: distinct (bucket, position) pairs —
      // ≤ buckets·BloomM ints to the driver
      val fileBlooms = bloomCols.flatMap { c =>
        back.where(col(c).isNotNull)
          .select(col("__bucket"),
            explode(array((0 until BloomK).map(i =>
              pmod(graft.ext.TextOps.h32(
                concat(lit(s"bloom$i:"), col(c).cast("string"))), lit(BloomM))
                .cast("int")): _*)).as("p"))
          .distinct().collect()
          .groupBy(_.getAs[Any]("__bucket").toString)
          .map { case (b, rows) =>
            val bs = new java.util.BitSet(BloomM)
            rows.foreach(r => bs.set(r.getAs[Int]("p")))
            (s"$rel/__bucket=$b", c, BloomBits(BloomM, BloomK,
              java.util.Base64.getUrlEncoder.withoutPadding
                .encodeToString(bs.toByteArray)))
          }
      }.groupBy(_._1).map { case (f, rows) =>
        f -> rows.map(r => r._2 -> r._3).toMap
      }
      beforePublish()
      if (!Files.isDirectory(stagedRoot))
        throw new IllegalStateException(
          s"compactRanged: staged directory $rel vanished before publish " +
            "(vacuumed mid-commit?) — aborting")
      if (tryPublish(snap.last._1 + 1,
          Manifest(n, files, base = true, fileStats = fileStats,
            fileBlooms = fileBlooms, schema = Some(df.schema.json)))) {
        writeBasePointer(snap.last._1 + 1)
        return snap.last._1 + 1
      }
      deleteRecursively(stagedRoot) // lost the race: stale by construction
    }
    -1L // unreachable
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
      beforePublish: () => Unit = () => (),
      maxAttempts: Int = 20): Long = {
    import org.apache.spark.sql.functions.{col, count, lit, spark_partition_id}
    var attempts = 0
    while (true) {
      attempts += 1
      if (attempts > maxAttempts)
        throw new IllegalStateException(
          s"compactClustered: gave up after $maxAttempts publish attempts on $dir")
      val snap = commits()
      if (snap.isEmpty) return -1L
      // single pass (round-13 optimization): the curve-keyed rewrite
      // runs once, inside the staging write, count observed — the
      // per-segment read-back below audits what landed against it
      val df0 = dataOf(spark, effective(snap)).get
      val keyed = curve match {
        case "hilbert" => Hilbert.withHilbert(df0, col(x), col(y), "__ck", bits)
        case "zorder" => df0.withColumn("__ck", ZOrder.zValue(col(x), col(y), bits))
        case other => throw new IllegalArgumentException(s"unknown curve: $other")
      }
      val rel = "data/tx-" + java.util.UUID.randomUUID().toString
      val stagedRoot = root.resolve(rel)
      val n = runObserved(
        keyed.repartitionByRange(numBuckets, col("__ck"))
          .sortWithinPartitions("__ck")
          .withColumn("__bucket", spark_partition_id())
          .drop("__ck"),
        Seq(count(lit(1)).as("__n")))(
        _.write.mode("error").partitionBy("__bucket")
          .parquet(stagedRoot.toString))("__n").asInstanceOf[Long]
      // audit + per-segment records in ONE read-back pass (partition
      // discovery restores __bucket): each segment decodes into a
      // single-file manifest, and the commit-level records are the
      // manifest fold over the segments — so statsAggregate and
      // momentsAggregate keep answering AFTER this OPTIMIZE
      val segs = spark.read.parquet(stagedRoot.toString).groupBy("__bucket")
        .agg(count(lit(1)).as("__n"), statsAggsFor(df0.schema, Seq(x, y)): _*)
        .collect().toSeq.map { r =>
          val bn = r.getAs[Long]("__n")
          val (st, nc, sm, sq) =
            decodeStatsMetrics(r.getAs[Any](_), bn, Seq(x, y), df0.schema)
          Manifest(bn, Seq(s"$rel/__bucket=${r.getAs[Any]("__bucket")}"),
            stats = st, nullCounts = nc, sums = sm, sumsqs = sq)
        }
      val audited = segs.map(_.rows).sum
      if (audited != n) {
        deleteRecursively(stagedRoot)
        throw new IllegalStateException(
          s"compactClustered stage audit failed: wrote $audited rows, expected $n")
      }
      def perFile[T](rec: Manifest => Map[String, T]) =
        segs.filter(rec(_).nonEmpty).map(m => m.files.head -> rec(m)).toMap
      val folds = Seq(x, y).map(c => c -> foldColumn(wholeCommits(segs), c))
      beforePublish()
      if (!Files.isDirectory(stagedRoot))
        throw new IllegalStateException(
          s"compactClustered: staged directory $rel vanished before publish " +
            "(vacuumed mid-commit?) — aborting")
      if (tryPublish(snap.last._1 + 1,
          Manifest(n, segs.map(_.files.head), base = true,
            stats = folds.flatMap { case (c, fo) =>
              fo.profile.map(p => c -> ColStats(p.num, p.min, p.max)) }.toMap,
            fileStats = perFile(_.stats),
            fileRows = segs.map(m => m.files.head -> m.rows).toMap,
            nullCounts = Seq(x, y).map(c => c -> segs.map(_.nullCounts(c)).sum).toMap,
            sums = folds.flatMap { case (c, fo) => fo.sum.map(c -> _.toString) }.toMap,
            fileSums = perFile(_.sums),
            sumsqs = folds.flatMap { case (c, fo) => fo.sumsq.map(c -> _.toString) }.toMap,
            schema = Some(df0.schema.json)))) {
        writeBasePointer(snap.last._1 + 1)
        return snap.last._1 + 1
      }
      deleteRecursively(stagedRoot) // lost the race: stale by construction
    }
    -1L // unreachable
  }

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
    * late-arriving writes would not be a rollback); the optimistic
    * loop only re-stages to keep the version allocation race-free.
    * `toVersion = -1` restores the PRE-HISTORY EMPTY state (an empty
    * base commit, zero files — what rolling back a table's very first
    * transaction means; [[graft.etl.TxCatalog]]'s repair of orphans
    * above an empty pin needs exactly this). Returns the restore
    * commit's version. */
  def restore(spark: SparkSession, toVersion: Long,
      maxAttempts: Int = 20): Long = {
    require(toVersion <= version(),
      s"restore: version $toVersion is beyond the tip of $dir")
    if (toVersion < 0L) {
      var attempts = 0
      while (true) {
        attempts += 1
        if (attempts > maxAttempts)
          throw new IllegalStateException(
            s"restore: gave up after $maxAttempts publish attempts on $dir")
        val v = version() + 1
        if (tryPublish(v, Manifest(0, Nil, base = true, restated = true))) {
          writeBasePointer(v)
          return v
        }
      }
    }
    val df = readVersion(spark, toVersion).getOrElse(
      throw new IllegalArgumentException(
        s"restore: version $toVersion of $dir is not readable " +
          "(never existed, or truncated away)"))
      .localCheckpoint(eager = true)
    var attempts = 0
    while (true) {
      attempts += 1
      if (attempts > maxAttempts)
        throw new IllegalStateException(
          s"restore: gave up after $maxAttempts publish attempts on $dir")
      // count fused into the staging write (round-13 optimization);
      // the eager checkpoint above still pins the historical snapshot
      // across publish retries
      val (staged, n, _) = stageObserved(df)
      val v = version() + 1
      if (tryPublish(v, Manifest(n, Seq(staged), base = true,
          restated = true, schema = Some(df.schema.json)))) {
        writeBasePointer(v)
        return v
      }
      deleteRecursively(root.resolve(staged))
    }
    -1L // unreachable
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

  private def compactWith(spark: SparkSession,
      layout: DataFrame => DataFrame,
      beforePublish: () => Unit,
      maxAttempts: Int): Long = {
    var attempts = 0
    while (true) {
      attempts += 1
      if (attempts > maxAttempts)
        throw new IllegalStateException(
          s"compact: gave up after $maxAttempts publish attempts on $dir")
      val snap = commits()
      if (snap.isEmpty) return -1L
      // ONE pass over the table (round-13 optimization): the rewrite
      // used to checkpoint the snapshot, count it, write it, and read
      // it back — four table-sized passes; the layout plan now runs
      // exactly once inside the staging write, with the count observed
      // and the audit served from the parquet footers. A lost publish
      // race recomputes from the fresh snapshot exactly as before.
      val df = layout(dataOf(spark, effective(snap)).get)
      val (staged, n, _) = stageObserved(df)
      beforePublish()
      if (!Files.isDirectory(root.resolve(staged)))
        throw new IllegalStateException(
          s"compact: staged directory $staged vanished before publish " +
            "(vacuumed mid-commit?) — aborting")
      if (tryPublish(snap.last._1 + 1, Manifest(n, Seq(staged), base = true,
          schema = Some(df.schema.json)))) {
        writeBasePointer(snap.last._1 + 1)
        return snap.last._1 + 1
      }
      // lost the race: a writer committed at our version — the staged
      // rewrite is stale by construction; drop it and redo the cycle
      deleteRecursively(root.resolve(staged))
    }
    -1L // unreachable
  }

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
    * a silent default would let an unaudited commit publish. */
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

  /** The shared no-op publish fence (plain sinks). */
  private val NoFence: () => Unit = () => ()

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

  /** Drops every process-wide cache (log snapshots, parse memos,
    * resolved relations) — the cold-path switch benchmarks and
    * corruption-simulating tests use. */
  private[graft] def dropCaches(): Unit = {
    logCache.clear(); parsedLogs.clear(); relationCache.clear()
  }

  /** [[TxParquetSink.columnMetaProfile]]'s answer: the comparison
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
    * Full-file credit, [[TxParquetSink.columnMetaProfile]],
    * [[TxParquetSink.filteredMetaProfile]],
    * [[TxParquetSink.groupedMetaProfileMulti]], and
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

  /** One commit's content: the row count audited at stage time, the
    * table-relative data directories this commit makes visible, whether
    * the commit is a BASE (a full-table rewrite — readers resolve
    * snapshots from the newest base onward; see
    * [[TxParquetSink.compact]]), and — when the writer declared
    * partition scope — the set of partition tuples the commit touches.
    * `partitions = None` means UNSCOPED: the commit conservatively
    * conflicts with everything, which is both the legacy-manifest
    * reading and the safe default. */
  final case class Manifest(rows: Long, files: Seq[String],
      base: Boolean = false, partitions: Option[Set[String]] = None,
      partitionCols: Seq[String] = Nil,
      replaceCols: Seq[String] = Nil, replaceKeys: Set[String] = Set.empty,
      stats: Map[String, ColStats] = Map.empty,
      blooms: Map[String, BloomBits] = Map.empty,
      fileStats: Map[String, Map[String, ColStats]] = Map.empty,
      fileBlooms: Map[String, Map[String, BloomBits]] = Map.empty,
      sketches: Map[String, KmvMins] = Map.empty,
      deletePred: Option[String] = None,
      txn: Option[(String, Long)] = None,
      nullCounts: Map[String, Long] = Map.empty,
      fileRows: Map[String, Long] = Map.empty,
      sums: Map[String, String] = Map.empty,
      fileSums: Map[String, Map[String, String]] = Map.empty,
      sumsqs: Map[String, String] = Map.empty,
      // a base commit that RESTATED contents (RESTORE) rather than
      // materializing them (compaction): the signal incremental CDC
      // consumers need, because the change feed emits no rows for
      // base commits — folding a feed across a restore silently
      // diverges. Advisory for readers (ignoring it risks only a
      // stale derived view, never wrong table reads).
      restated: Boolean = false,
      // the STAGED FILES' Spark schema (StructType JSON), recorded at
      // commit time — the Delta/Iceberg move of serving the table
      // schema from the LOG instead of the data: when every commit of
      // a scan group carries the same recorded schema, snapshot reads
      // pass it to the parquet reader explicitly and skip the
      // mergeSchema footer-reading job entirely (a per-relation-build
      // Spark job + O(files) footer I/O — the dominant driver cost of
      // replay-style commit loops, measured by JobProf in round 14).
      // Advisory: absent or divergent schemas fall back to
      // mergeSchema=true, the exact pre-round-14 read path.
      schema: Option[String] = None) {
    /** Does this commit hide rows of EARLIER commits (a predicate
      * delete or a partition/key replace set)? */
    private[etl] def hidesRows: Boolean =
      deletePred.nonEmpty || replaceCols.nonEmpty
    /** Top-level column types of the recorded `schema` (empty when
      * absent or unreadable) — the bloom-safety proof for columns
      * without stats. */
    @transient private[etl] lazy val fieldTypes
        : Map[String, org.apache.spark.sql.types.DataType] =
      try schema.map(s => org.apache.spark.sql.types.DataType.fromJson(s)
        .asInstanceOf[org.apache.spark.sql.types.StructType].fields
        .map(f => f.name -> f.dataType).toMap).getOrElse(Map.empty)
      catch { case scala.util.control.NonFatal(_) => Map.empty }
  }

  /** Per-commit KMV DISTINCT-VALUE sketch of a column — the third
    * metadata tier next to [[ColStats]] (ranges) and [[BloomBits]]
    * (membership): the k smallest md5-contract hashes of the commit's
    * distinct values, from which a reader estimates the column's
    * distinct count — and, across TWO tables, a join's cardinality —
    * from MANIFESTS ALONE, zero data reads (what a cost-based planner
    * consults before choosing a join strategy at 100 TB). Bottom-k is
    * a semilattice, so per-commit sketches union-truncate to exactly
    * the table-level sketch ([[tableSketch]]) no matter how ingestion
    * was batched. ~0.5 KiB per column per commit at k = 64. */
  final case class KmvMins(k: Int, mins: Seq[Long])

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

  /** Per-commit BLOOM FILTER over a column's value set — the POINT
    * companion to [[ColStats]]'s range skipping (min/max can't help a
    * key lookup when every commit's range spans it; a bloom can). Bits
    * are set from `pmod(md5_prefix32("bloom<i>:" || value), m)` for
    * i < k — the engine's cross-engine hash contract, so the
    * driver-side membership test ([[graft.functions.Md5Prefix32.hash]])
    * reproduces the distributed writer's bits exactly. m = 2¹³ bits
    * (1 KiB per column per commit in the manifest), k = 6: ≈ 1.9 %
    * false-positive rate at 1 000 distinct keys per commit — a false
    * positive only costs reading one extra commit (the superset
    * contract); a false NEGATIVE is impossible, which is the half that
    * matters. `bits` stays in its URL-safe base64 form. */
  final case class BloomBits(m: Int, k: Int, bits: String)

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

  /** Per-commit column statistics for DATA SKIPPING: min/max of a
    * column over the commit's files, captured at write time. `num`
    * selects the comparison domain — numeric stats compare as exact
    * BigDecimal, everything else lexicographically (dates/timestamps in
    * their canonical cast-to-string form are order-preserving). A
    * commit WITHOUT stats for a queried column is conservatively always
    * read — so old manifests, compaction bases, and overwrites keep
    * exactly their current semantics. */
  final case class ColStats(num: Boolean, min: String, max: String)

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
    * for the inferred-filter spelling, so [[countFromMetadata]] can
    * credit Full files on plans the optimizer has already decorated. */
  private[etl] final case class NotNullCons(col: String) extends PruneCons

  /** Does a cast-to-string stat prove the column renders integrally?
    * (DOUBLE min/max always carry '.'/'E'; integral and scale-0 decimal
    * casts never do.) */
  private[etl] def integralForm(s: String): Boolean = s.matches("-?\\d+")

  /** Line-oriented manifest codec (`rows=<n>` then one `file=<rel>` per
    * line, `pscope=true` + one `part=<tuple>` per touched partition for
    * scoped commits): trivially greppable, no parser dependency, and
    * append-only fields keep old readers working — an old reader
    * ignores `part=` lines and treats every commit as unscoped, which
    * only ever ADDS conflicts, never hides one. */
  private[etl] def renderManifest(m: Manifest): String =
    ((s"rows=${m.rows}" +: m.files.map(f => s"file=$f")) ++
      (if (m.base) Seq("base=true") else Nil) ++
      m.partitions.toSeq.flatMap(ps =>
        "pscope=true" +: ps.toSeq.sorted.map(p => s"part=$p")) ++
      (if (m.partitionCols.nonEmpty)
        Seq(s"pcols=${m.partitionCols.mkString(",")}") else Nil) ++
      (if (m.replaceCols.nonEmpty)
        s"rcols=${m.replaceCols.mkString(",")}" +:
          m.replaceKeys.toSeq.sorted.map(k => s"rkey=$k")
      else Nil) ++
      m.stats.toSeq.sortBy(_._1).map { case (c, s) =>
        s"stat=${encodePartition(Seq(c, if (s.num) "n" else "s", s.min, s.max))}"
      } ++
      m.blooms.toSeq.sortBy(_._1).map { case (c, b) =>
        s"bloom=${encodePartition(Seq(c, b.m.toString, b.k.toString, b.bits))}"
      } ++
      m.fileStats.toSeq.sortBy(_._1).flatMap { case (f, cols) =>
        cols.toSeq.sortBy(_._1).map { case (c, s) =>
          s"fstat=${encodePartition(Seq(f, c, if (s.num) "n" else "s", s.min, s.max))}"
        }
      } ++
      m.fileBlooms.toSeq.sortBy(_._1).flatMap { case (f, cols) =>
        cols.toSeq.sortBy(_._1).map { case (c, b) =>
          s"fbloom=${encodePartition(Seq(f, c, b.m.toString, b.k.toString, b.bits))}"
        }
      } ++
      // advisory metadata: a reader ignoring kmv= lines loses only the
      // planning estimate, never data — the append-only-is-safe class
      m.sketches.toSeq.sortBy(_._1).map { case (c, s) =>
        s"kmv=${encodePartition(Seq(c, s.k.toString, s.mins.mkString(",")))}"
      } ++
      // per-column null counts ([[appendWithStats]]): advisory — used
      // only to PROVE a file fully satisfies a predicate (countWhere);
      // ignoring them merely demotes Full files to Boundary scans
      m.nullCounts.toSeq.sortBy(_._1).map { case (c, n) =>
        s"nullc=${encodePartition(Seq(c, n.toString))}"
      } ++
      // per-file row counts ([[compactClustered]]): advisory — lets
      // countWhere credit individual files of a multi-file base
      m.fileRows.toSeq.sortBy(_._1).map { case (f, n) =>
        s"frows=${encodePartition(Seq(f, n.toString))}"
      } ++
      // per-column EXACT sums (integral columns only — the associative
      // domain): advisory, lets statsAggregate answer SUM with zero I/O
      m.sums.toSeq.sortBy(_._1).map { case (c, v) =>
        s"sum=${encodePartition(Seq(c, v))}"
      } ++
      // per-file sums ([[compactClustered]]): advisory — SUM credit for
      // individual segments of a multi-file base
      m.fileSums.toSeq.sortBy(_._1).flatMap { case (f, cols) =>
        cols.toSeq.sortBy(_._1).map { case (c, v) =>
          s"fsum=${encodePartition(Seq(f, c, v))}"
        }
      } ++
      // per-column EXACT sums of squares (the second moment): advisory,
      // lets momentsAggregate answer AVG/VARIANCE with zero I/O
      m.sumsqs.toSeq.sortBy(_._1).map { case (c, v) =>
        s"sumsq=${encodePartition(Seq(c, v))}"
      } ++
      // NOT covered by the append-only-is-safe argument above: a reader
      // that ignored delwhere= would RESURRECT deleted rows. The parser
      // below understands it, and no other reader of this log exists;
      // a multi-reader deployment versions the protocol (Delta's
      // minReaderVersion) before shipping a row-hiding field.
      m.deletePred.toSeq.map(p =>
        s"delwhere=${java.net.URLEncoder.encode(p, UTF_8.name())}") ++
      m.txn.toSeq.map { case (app, v) =>
        s"txn=${encodePartition(Seq(app, v.toString))}"
      } ++
      (if (m.restated) Seq("restated=true") else Nil) ++
      // advisory (append-only-is-safe): a reader ignoring schema= pays
      // the mergeSchema footer scan it always paid, never misreads
      m.schema.toSeq.map(s =>
        s"schema=${java.net.URLEncoder.encode(s, UTF_8.name())}")
      ).mkString("", "\n", "\n")

  private[etl] def parseManifest(s: String): Manifest = {
    val kv = s.linesIterator.filter(_.nonEmpty).map { line =>
      val i = line.indexOf('=')
      require(i > 0, s"malformed manifest line: $line")
      (line.substring(0, i), line.substring(i + 1))
    }.toSeq
    Manifest(
      kv.collectFirst { case ("rows", v) => v.toLong }
        .getOrElse(throw new IllegalArgumentException("manifest missing rows=")),
      kv.collect { case ("file", v) => v },
      kv.collectFirst { case ("base", v) => v.toBoolean }.getOrElse(false),
      if (kv.exists(_ == ("pscope", "true")))
        Some(kv.collect { case ("part", v) => v }.toSet)
      else None,
      kv.collectFirst { case ("pcols", v) => v.split(',').toSeq }.getOrElse(Nil),
      kv.collectFirst { case ("rcols", v) => v.split(',').toSeq }.getOrElse(Nil),
      kv.collect { case ("rkey", v) => v }.toSet,
      kv.collect { case ("stat", v) =>
        val parts = v.split('/').toSeq.map(p =>
          java.net.URLDecoder.decode(p, UTF_8.name()))
        require(parts.size == 4, s"malformed stat line: $v")
        parts(0) -> ColStats(parts(1) == "n", parts(2), parts(3))
      }.toMap,
      kv.collect { case ("bloom", v) =>
        val parts = v.split('/').toSeq.map(p =>
          java.net.URLDecoder.decode(p, UTF_8.name()))
        require(parts.size == 4, s"malformed bloom line: $v")
        parts(0) -> BloomBits(parts(1).toInt, parts(2).toInt, parts(3))
      }.toMap,
      kv.collect { case ("fstat", v) =>
        val parts = v.split('/').toSeq.map(p =>
          java.net.URLDecoder.decode(p, UTF_8.name()))
        require(parts.size == 5, s"malformed fstat line: $v")
        (parts(0), parts(1), ColStats(parts(2) == "n", parts(3), parts(4)))
      }.groupBy(_._1).map { case (f, rows) =>
        f -> rows.map(r => r._2 -> r._3).toMap
      },
      kv.collect { case ("fbloom", v) =>
        val parts = v.split('/').toSeq.map(p =>
          java.net.URLDecoder.decode(p, UTF_8.name()))
        require(parts.size == 5, s"malformed fbloom line: $v")
        (parts(0), parts(1), BloomBits(parts(2).toInt, parts(3).toInt, parts(4)))
      }.groupBy(_._1).map { case (f, rows) =>
        f -> rows.map(r => r._2 -> r._3).toMap
      },
      kv.collect { case ("kmv", v) =>
        val parts = v.split('/').toSeq.map(p =>
          java.net.URLDecoder.decode(p, UTF_8.name()))
        require(parts.size >= 2, s"malformed kmv line: $v")
        val mins =
          if (parts.size < 3 || parts(2).isEmpty) Nil
          else parts(2).split(',').toSeq.map(_.toLong)
        parts(0) -> KmvMins(parts(1).toInt, mins)
      }.toMap,
      kv.collectFirst { case ("delwhere", v) =>
        java.net.URLDecoder.decode(v, UTF_8.name())
      },
      kv.collectFirst { case ("txn", v) =>
        val parts = v.split('/').toSeq.map(p =>
          java.net.URLDecoder.decode(p, UTF_8.name()))
        require(parts.size == 2, s"malformed txn line: $v")
        (parts(0), parts(1).toLong)
      },
      kv.collect { case ("nullc", v) =>
        val parts = v.split('/').toSeq.map(p =>
          java.net.URLDecoder.decode(p, UTF_8.name()))
        require(parts.size == 2, s"malformed nullc line: $v")
        parts(0) -> parts(1).toLong
      }.toMap,
      kv.collect { case ("frows", v) =>
        val parts = v.split('/').toSeq.map(p =>
          java.net.URLDecoder.decode(p, UTF_8.name()))
        require(parts.size == 2, s"malformed frows line: $v")
        parts(0) -> parts(1).toLong
      }.toMap,
      kv.collect { case ("sum", v) =>
        val parts = v.split('/').toSeq.map(p =>
          java.net.URLDecoder.decode(p, UTF_8.name()))
        require(parts.size == 2, s"malformed sum line: $v")
        parts(0) -> parts(1)
      }.toMap,
      kv.collect { case ("fsum", v) =>
        val parts = v.split('/').toSeq.map(p =>
          java.net.URLDecoder.decode(p, UTF_8.name()))
        require(parts.size == 3, s"malformed fsum line: $v")
        (parts(0), parts(1), parts(2))
      }.groupBy(_._1).map { case (f, rows) =>
        f -> rows.map(r => r._2 -> r._3).toMap
      },
      kv.collect { case ("sumsq", v) =>
        val parts = v.split('/').toSeq.map(p =>
          java.net.URLDecoder.decode(p, UTF_8.name()))
        require(parts.size == 2, s"malformed sumsq line: $v")
        parts(0) -> parts(1)
      }.toMap,
      kv.collectFirst { case ("restated", v) => v.toBoolean }.getOrElse(false),
      kv.collectFirst { case ("schema", v) =>
        java.net.URLDecoder.decode(v, UTF_8.name())
      })
  }

  /** Canonical string for one partition tuple: URL-encoded values
    * joined by '/', so values containing the separator, '=' or
    * newlines cannot forge a different tuple or break the line codec.
    * A SQL NULL value (Scala null) encodes as "%N" — URL encoding
    * always escapes '%' to "%25", so no real string can collide with
    * it and NULL stays distinct from the literal string "null". */
  private[etl] def encodePartition(values: Seq[String]): String =
    values.map(v =>
      if (v == null) "%N"
      else java.net.URLEncoder.encode(v, UTF_8.name())).mkString("/")

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
  private def integralType(t: org.apache.spark.sql.types.DataType): Boolean =
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

  private def deleteRecursively(p: Path): Unit = deleteTree(p)

  /** THE recursive tree delete — shared with [[graft.catalog
    * .GraftCatalog]] and [[graft.plans.MvRewrite]]'s GC so the three
    * call sites cannot drift (review finding r13). Depth-first via
    * one listing snapshot; vanished entries are fine (deleteIfExists). */
  private[graft] def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      val all = try s.iterator.asScala.toSeq finally s.close()
      all.reverseIterator.foreach(Files.deleteIfExists(_))
    }
}
