package graft.etl

import java.net.{URLDecoder, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileAlreadyExistsException, Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._
import scala.math.Ordering.Implicits.seqOrdering

/** THE TRANSACTION LOG — everything on disk under a table's `_txlog/`
  * and a catalog's `_catlog/`, and the two ways the engine writes such
  * a file. [[TxParquetSink]], [[TxCatalog]], [[graft.catalog.GraftCatalog]],
  * [[graft.plans.ManifestBroadcastJoins]] and [[graft.plans.MvCatalog]]
  * read and write the log only through here:
  *
  *  - the LAYOUT: the log directories, versioned entries
  *    (`<20-digit version>.txn` per table commit, `.cat` per catalog
  *    commit), the advisory `_last_base` pointer, the `_constraints`
  *    registry, the `_schema.ddl` catalog DDL and the lease locks;
  *  - the two FILE PRIMITIVES: [[createExclusive]] (atomic
  *    create-if-absent, the commit point of every table and catalog
  *    publish and of lock acquisition) and [[replace]] (atomic
  *    last-writer-wins content swap). Each stages its bytes in a
  *    scratch file named `.<random>.tmp` beside the target, the one
  *    shape every log listing ignores and [[TxParquetSink.vacuumOrphans]]
  *    removes once aged. An object-store port swaps these two methods
  *    for a conditional PUT / DynamoDB-style log store, as Delta's
  *    LogStore does; the protocols above them are unchanged;
  *  - the MANIFEST CODEC ([[renderManifest]] / [[parseManifest]]): one
  *    field table drives both directions. */
object TxLog {

  // ---- layout ----

  /** A table's commit-log directory. */
  private[graft] def logDir(table: Path): Path = table.resolve("_txlog")

  /** Is `dir` a table root (it holds a commit log)? */
  private[graft] def isTable(dir: Path): Boolean = Files.isDirectory(logDir(dir))

  /** The advisory newest-base pointer ([[TxParquetSink]]'s
    * `_last_checkpoint`), the CHECK-constraint registry, and the
    * catalog DDL of a table's log. */
  private[graft] def basePointer(table: Path): Path = logDir(table).resolve("_last_base")
  private[graft] def constraintsFile(table: Path): Path = logDir(table).resolve("_constraints")
  private[graft] def schemaFile(table: Path): Path = logDir(table).resolve("_schema.ddl")

  /** A catalog's pin-set log and its lease locks: one `<table>.lock`
    * per locked table, URL-encoded, and a `<lock>.steal` claim file
    * while a stale lock is being stolen. */
  private[graft] def catalogLog(catalog: Path): Path = catalog.resolve("_catlog")
  private[graft] def lockFile(catalog: Path, table: String): Path =
    catalogLog(catalog).resolve("locks").resolve(URLEncoder.encode(table, UTF_8) + ".lock")
  private[graft] def claimFile(lock: Path): Path =
    lock.resolveSibling(lock.getFileName.toString + ".steal")

  /** Versioned log entries: table commits and catalog commits. */
  private[graft] val Txn = "txn"
  private[graft] val Cat = "cat"

  /** The entry name of version `v`: zero-padded, so names sort as
    * versions. */
  private[graft] def entryName(v: Long, ext: String): String = f"$v%020d.$ext"

  private[graft] def entryVersion(name: String): Long = name.take(20).toLong

  /** The sorted names of `dir`'s `ext` entries; empty without `dir`. */
  private[graft] def entries(dir: Path, ext: String): Seq[String] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val entry = java.util.regex.Pattern.compile(s"\\d{20}\\.$ext")
      val s = Files.list(dir)
      try s.iterator.asScala.map(_.getFileName.toString)
        .filter(entry.matcher(_).matches).toSeq.sorted
      finally s.close()
    }

  /** A primitive's scratch file: the only dot-prefixed `.tmp` names
    * in a log. */
  private[graft] def isScratch(name: String): Boolean =
    name.startsWith(".") && name.endsWith(".tmp")

  // ---- the two file primitives ----

  /** ATOMIC CREATE-IF-ABSENT: `target` appears with exactly `bytes`,
    * or — when it already exists — nothing changes and the result is
    * false. The hard link is the commit point: `link(2)` is an atomic
    * create-if-absent on POSIX (local disk, NFS), unlike
    * create-then-rename, which `rename(2)` makes last-writer-wins. */
  private[graft] def createExclusive(target: Path, bytes: Array[Byte]): Boolean =
    viaScratch(target, bytes) { tmp =>
      try { Files.createLink(target, tmp); true }
      catch { case _: FileAlreadyExistsException => false }
    }

  /** ATOMIC REPLACE: readers see the old content or `bytes`, never a
    * mix (one `rename(2)` over the target). No non-atomic fallback: a
    * filesystem without atomic move fails loudly. */
  private[graft] def replace(target: Path, bytes: Array[Byte]): Unit =
    viaScratch(target, bytes) { tmp =>
      Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.ATOMIC_MOVE)
      ()
    }

  /** Stage `bytes` in a scratch file beside `target` (creating the
    * directory), hand it to `install`, and delete what is left of it
    * — a no-op after a rename. Where a durable commit forces its bytes
    * before the link or rename, it does so here. */
  private def viaScratch[T](target: Path, bytes: Array[Byte])(install: Path => T): T = {
    Files.createDirectories(target.getParent)
    val tmp = Files.createTempFile(target.getParent, ".", ".tmp")
    try { Files.write(tmp, bytes); install(tmp) }
    finally { Files.deleteIfExists(tmp); () }
  }

  /** THE recursive tree delete: depth-first via one listing snapshot;
    * vanished entries are fine (deleteIfExists). */
  private[graft] def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      val all = try s.iterator.asScala.toSeq finally s.close()
      all.reverseIterator.foreach(Files.deleteIfExists(_))
    }

  // ---- the manifest ----

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
      // replay-style commit loops; measured round 14, see git history).
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

  /** Per-commit column statistics for DATA SKIPPING: min/max of a
    * column over the commit's files, captured at write time. `num`
    * selects the comparison domain — numeric stats compare as exact
    * BigDecimal, everything else lexicographically (dates in their
    * canonical cast-to-string form, timestamps in that form rendered
    * in UTC, are order-preserving). A commit WITHOUT stats for a
    * queried column is conservatively always read — so old manifests,
    * compaction bases, and overwrites keep exactly their current
    * semantics. */
  final case class ColStats(num: Boolean, min: String, max: String)

  /** Per-commit BLOOM FILTER over a column's value set — the POINT
    * companion to [[ColStats]]'s range skipping (min/max can't help a
    * key lookup when every commit's range spans it; a bloom can). Bits
    * are set from `pmod(md5_prefix32("bloom<i>:" || value), m)` for
    * i < k — the engine's cross-engine hash contract, so the
    * driver-side membership test ([[TxParquetSink.mightContain]])
    * reproduces the distributed writer's bits exactly. m = 2¹³ bits
    * (1 KiB per column per commit in the manifest), k = 6: ≈ 1.9 %
    * false-positive rate at 1 000 distinct keys per commit — a false
    * positive only costs reading one extra commit (the superset
    * contract); a false NEGATIVE is impossible, which is the half that
    * matters. `bits` stays in its URL-safe base64 form. */
  final case class BloomBits(m: Int, k: Int, bits: String)

  /** Per-commit KMV DISTINCT-VALUE sketch of a column — the third
    * metadata tier next to [[ColStats]] (ranges) and [[BloomBits]]
    * (membership): the k smallest md5-contract hashes of the commit's
    * distinct values, from which a reader estimates the column's
    * distinct count — and, across TWO tables, a join's cardinality —
    * from MANIFESTS ALONE, zero data reads (what a cost-based planner
    * consults before choosing a join strategy at 100 TB). Bottom-k is
    * a semilattice, so per-commit sketches union-truncate to exactly
    * the table-level sketch ([[TxParquetSink.tableSketch]]) no matter
    * how ingestion was batched. ~0.5 KiB per column per commit at
    * k = 64. */
  final case class KmvMins(k: Int, mins: Seq[Long])

  // ---- the manifest codec ----

  /** One manifest line kind, in render order: its key, the values one
    * manifest renders under it (in line order), and how every value of
    * the key, in file order, sets the parsed manifest. */
  private final case class Field(key: String, render: Manifest => Seq[String],
      parse: (Manifest, Seq[String]) => Manifest)

  /** A record value as the parts after its keys. */
  private final case class Rec[V](arity: Int, enc: V => Seq[String],
      dec: Seq[String] => V)

  private val StatRec = Rec[ColStats](3, s => Seq(if (s.num) "n" else "s", s.min, s.max),
    p => ColStats(p(0) == "n", p(1), p(2)))
  private val BloomRec = Rec[BloomBits](3, b => Seq(b.m.toString, b.k.toString, b.bits),
    p => BloomBits(p(0).toInt, p(1).toInt, p(2)))
  private val KmvRec = Rec[KmvMins](2, s => Seq(s.k.toString, s.mins.mkString(",")),
    p => KmvMins(p(0).toInt, if (p(1).isEmpty) Nil else p(1).split(',').toSeq.map(_.toLong)))
  private val LongRec = Rec[Long](1, n => Seq(n.toString), _.head.toLong)
  private val TextRec = Rec[String](1, Seq(_), _.head)
  private val TxnRec = Rec[(String, Long)](2, t => Seq(t._1, t._2.toString),
    p => (p(0), p(1).toLong))

  /** Lines of one record kind: `[keys/]parts`, every part URL-encoded
    * ([[encodePartition]]) and sorted by keys. `nKeys` is 0 for a
    * single record, 1 (the column) per commit, 2 (file, column) per
    * file — so each per-commit / per-file pair shares its [[Rec]]. */
  private def records[V](key: String, r: Rec[V], nKeys: Int)(
      get: Manifest => Seq[(Seq[String], V)],
      set: (Manifest, Seq[(Seq[String], V)]) => Manifest): Field =
    Field(key,
      m => get(m).sortBy(_._1).map { case (k, v) => encodePartition(k ++ r.enc(v)) },
      (m, lines) => set(m, lines.map { line =>
        val parts = line.split("/", -1).toSeq.map(URLDecoder.decode(_, UTF_8))
        check(parts.size == nKeys + r.arity, key, line)
        (parts.take(nKeys), r.dec(parts.drop(nKeys)))
      }))

  private def single[V](key: String, r: Rec[V])(get: Manifest => Option[V],
      set: (Manifest, Option[V]) => Manifest): Field =
    records(key, r, 0)(m => get(m).toSeq.map(v => (Nil, v)),
      (m, rs) => set(m, rs.headOption.map(_._2)))

  private def perCommit[V](key: String, r: Rec[V])(get: Manifest => Map[String, V],
      set: (Manifest, Map[String, V]) => Manifest): Field =
    records(key, r, 1)(m => get(m).toSeq.map { case (c, v) => (Seq(c), v) },
      (m, rs) => set(m, rs.map { case (k, v) => k.head -> v }.toMap))

  private def perFile[V](key: String, r: Rec[V])(
      get: Manifest => Map[String, Map[String, V]],
      set: (Manifest, Map[String, Map[String, V]]) => Manifest): Field =
    records(key, r, 2)(m => for ((f, cs) <- get(m).toSeq; (c, v) <- cs.toSeq) yield (Seq(f, c), v),
      (m, rs) => set(m, rs.groupBy(_._1.head).map { case (f, xs) =>
        f -> xs.map { case (k, v) => k(1) -> v }.toMap }))

  private def flag(key: String)(get: Manifest => Boolean,
      set: (Manifest, Boolean) => Manifest): Field =
    Field(key, m => if (get(m)) Seq("true") else Nil,
      (m, vs) => set(m, vs.headOption.exists(_.toBoolean)))

  private def columns(key: String)(get: Manifest => Seq[String],
      set: (Manifest, Seq[String]) => Manifest): Field =
    Field(key, m => if (get(m).isEmpty) Nil else Seq(get(m).mkString(",")),
      (m, vs) => set(m, vs.headOption.map(_.split(',').toSeq).getOrElse(Nil)))

  /** THE MANIFEST FORMAT — line-oriented `key=value`, in this order:
    * trivially greppable, no parser dependency, and append-only fields
    * keep old readers working — an old reader ignores lines it does
    * not know, and every field but `delwhere=` only ever ADDS
    * information (a reader ignoring `part=` treats every commit as
    * unscoped, which only adds conflicts; ignoring the advisory
    * records below costs pruning or metadata answers, never data). */
  private val Fields: Seq[Field] = Seq(
    Field("rows", m => Seq(m.rows.toString), (m, vs) => m.copy(rows = vs.headOption
      .getOrElse(throw new IllegalArgumentException("manifest missing rows=")).toLong)),
    Field("file", _.files, (m, vs) => m.copy(files = vs)),
    flag("base")(_.base, (m, b) => m.copy(base = b)),
    // scoped commits: `pscope=true`, then one `part=<tuple>` per
    // touched partition ([[encodePartition]]); `part=` without the
    // scope line is ignored
    Field("pscope", _.partitions.map(_ => "true").toSeq,
      (m, vs) => if (vs.contains("true")) m.copy(partitions = Some(Set.empty)) else m),
    Field("part", _.partitions.toSeq.flatMap(_.toSeq.sorted),
      (m, vs) => m.copy(partitions = m.partitions.map(_ => vs.toSet))),
    columns("pcols")(_.partitionCols, (m, cs) => m.copy(partitionCols = cs)),
    columns("rcols")(_.replaceCols, (m, cs) => m.copy(replaceCols = cs)),
    Field("rkey", m => if (m.replaceCols.isEmpty) Nil else m.replaceKeys.toSeq.sorted,
      (m, vs) => m.copy(replaceKeys = vs.toSet)),
    perCommit("stat", StatRec)(_.stats, (m, v) => m.copy(stats = v)),
    perCommit("bloom", BloomRec)(_.blooms, (m, v) => m.copy(blooms = v)),
    perFile("fstat", StatRec)(_.fileStats, (m, v) => m.copy(fileStats = v)),
    perFile("fbloom", BloomRec)(_.fileBlooms, (m, v) => m.copy(fileBlooms = v)),
    // advisory: a reader ignoring kmv= loses only the planning estimate
    perCommit("kmv", KmvRec)(_.sketches, (m, v) => m.copy(sketches = v)),
    // advisory: null counts only PROVE a file fully satisfies a
    // predicate; ignoring them demotes Full files to Boundary scans
    perCommit("nullc", LongRec)(_.nullCounts, (m, v) => m.copy(nullCounts = v)),
    // advisory: per-file row counts ([[TxParquetSink.compactClustered]])
    // let countWhere credit single files of a multi-file base
    perCommit("frows", LongRec)(_.fileRows, (m, v) => m.copy(fileRows = v)),
    // advisory: EXACT sums (integral columns — the associative domain)
    // per commit and per file, and sums of squares (the second moment)
    perCommit("sum", TextRec)(_.sums, (m, v) => m.copy(sums = v)),
    perFile("fsum", TextRec)(_.fileSums, (m, v) => m.copy(fileSums = v)),
    perCommit("sumsq", TextRec)(_.sumsqs, (m, v) => m.copy(sumsqs = v)),
    // NOT append-only-safe: a reader that ignored delwhere= would
    // RESURRECT deleted rows. No other reader of this log exists; a
    // multi-reader deployment versions the protocol (Delta's
    // minReaderVersion) before shipping a row-hiding field.
    single("delwhere", TextRec)(_.deletePred, (m, v) => m.copy(deletePred = v)),
    single("txn", TxnRec)(_.txn, (m, v) => m.copy(txn = v)),
    flag("restated")(_.restated, (m, b) => m.copy(restated = b)),
    // advisory: a reader ignoring schema= pays the mergeSchema footer
    // scan it always paid, never misreads
    single("schema", TextRec)(_.schema, (m, v) => m.copy(schema = v)))

  private[etl] def renderManifest(m: Manifest): String =
    Fields.flatMap(f => f.render(m).map(v => s"${f.key}=$v")).mkString("", "\n", "\n")

  private[etl] def parseManifest(s: String): Manifest = {
    val byKey = s.linesIterator.filter(_.nonEmpty).map { line =>
      val i = line.indexOf('=')
      check(i > 0, "manifest", line)
      (line.substring(0, i), line.substring(i + 1))
    }.toSeq.groupMap(_._1)(_._2)
    Fields.foldLeft(Manifest(0L, Nil))((m, f) => f.parse(m, byKey.getOrElse(f.key, Nil)))
  }

  private def check(ok: Boolean, key: String, line: String): Unit =
    if (!ok) throw new IllegalArgumentException(s"malformed $key line: $line")

  /** Canonical string for one partition tuple: URL-encoded values
    * joined by '/', so values containing the separator, '=' or
    * newlines cannot forge a different tuple or break the line codec.
    * A SQL NULL value (Scala null) encodes as "%N" — URL encoding
    * always escapes '%' to "%25", so no real string can collide with
    * it and NULL stays distinct from the literal string "null". */
  private[etl] def encodePartition(values: Seq[String]): String =
    values.map(v =>
      if (v == null) "%N"
      else URLEncoder.encode(v, UTF_8)).mkString("/")
}
