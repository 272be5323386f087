package graft.etl

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileAlreadyExistsException, Files, NoSuchFileException, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** CROSS-TABLE TRANSACTIONS — the multi-table atomicity tier on top of
  * [[TxParquetSink]], built the way catalog-governed lakehouses do it
  * (the Iceberg REST-catalog contract; Hive ACID's valid-write-id
  * lineage): a catalog is a tiny versioned log of PIN-SETS
  * `table → (dir, version)`, and a transaction is (1) apply each
  * table's writes through the sink's ordinary single-table commits,
  * then (2) advance the whole pin-set in ONE atomic catalog commit
  * (the same create-hard-link publish the sinks use). Readers who
  * resolve tables THROUGH the catalog ([[readAt]] = `readVersion` at
  * the pin of one CAPTURED catalog version) therefore see every
  * transaction's tables move TOGETHER or not at all — never a
  * half-transferred pair — and any two tables resolved under the same
  * captured version are mutually consistent snapshots ([[read]] is
  * the single-table convenience that re-captures per call).
  *
  * Crash atomicity comes from the pin indirection plus restore-based
  * repair: a writer that dies AFTER some table commits but BEFORE the
  * catalog publish leaves orphan commits above the pins — invisible to
  * every catalog-scoped reader (version-pinned reads never look past
  * the pin) — and the NEXT [[transact]] covering those tables rolls
  * each drifted one back to its pin ([[TxParquetSink.restore]], itself
  * a versioned commit, so history and in-flight pinned readers are
  * untouched) before applying its own writes. Abort is the same path:
  * a body that throws publishes nothing, and its partial table commits
  * are repaired away.
  *
  * CONCURRENCY is table-scoped, not catalog-scoped: [[transact]] takes
  * a `scope` (default: every table) and fences it with per-table LEASE
  * LOCKS under `_catlog/locks/` — acquired before repair, released
  * after publish — so two transactions over DISJOINT table sets commit
  * concurrently (each retries the catalog publish over the other's
  * head pin-set; in-scope pins cannot move underneath because the
  * locks hold), while overlapping scopes fail fast at acquisition with
  * `ConcurrentModificationException` instead of racing. The locks also
  * close the capture race an optimistic publish had: post-body head
  * versions of LOCKED tables can only be the body's own commits, so a
  * concurrent (lock-respecting) writer's commits can never be
  * published inside a foreign pin-set. A transactor that dies holding
  * a lock blocks that table only until the lease (`lockLeaseMs`)
  * expires; the next acquirer steals the stale lock and repairs the
  * orphans.
  *
  * Contract (the catalog OWNS the table pointer, exactly Iceberg's
  * rule): catalog-managed tables take writes only through [[transact]]
  * — a direct append to a managed table is indistinguishable from a
  * crashed transaction's orphan and will be rolled back at the next
  * covering transaction. Maintenance composes with the same caveat as
  * time travel: [[TxParquetSink.truncateHistory]] on a managed table
  * must keep the oldest pin a reader still uses.
  *
  * At 100 TB this is the missing piece single-table ACID can't give: a
  * fact+dimension pair republished together, a transfer that debits
  * one table and credits another, a GDPR erasure spanning every table
  * that mentions the subject — each one catalog commit, O(tables)
  * metadata, zero cross-table locks on the data path, and disjoint
  * pipelines (orders-side vs telemetry-side) committing through one
  * catalog without serializing on each other. */
final case class TxCatalog(dir: String,
    lockLeaseMs: Long = TxCatalog.DefaultLockLeaseMs) {

  private val root = Paths.get(dir)
  private val logDir = root.resolve("_catlog")
  private val locksDir = logDir.resolve("locks")

  /** Newest catalog version, −1 before [[TxCatalog.create]]. */
  def version(): Long = {
    if (!Files.isDirectory(logDir)) return -1L
    val s = Files.list(logDir)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".cat"))
        .map(_.stripSuffix(".cat").toLong)
        .maxOption.getOrElse(-1L)
    } finally s.close()
  }

  private def manifestAt(v: Long): String = {
    val f = logDir.resolve(f"$v%020d.cat")
    new String(Files.readAllBytes(f), UTF_8)
  }

  /** The pin-set at catalog version `v`: name → (table dir, pinned
    * table version). Lines starting with `#` are metadata (txn marks),
    * not tables. */
  def pinsAt(v: Long): Map[String, (String, Long)] =
    manifestAt(v).split("\n").iterator
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { line =>
        val Array(n, d, pv) = line.split("\t", 3)
        n -> (d, pv.toLong)
      }.toMap

  /** One manifest's txn marks and whether it carries the COMPLETE
    * carried-forward set (the `#txnall` sentinel every manifest this
    * code writes includes). */
  private def marksAt(v: Long): (Map[String, Long], Boolean) = {
    var complete = false
    val m = Map.newBuilder[String, Long]
    manifestAt(v).split("\n").iterator.foreach { line =>
      if (line == "#txnall") complete = true
      else if (line.startsWith("#txn\t")) {
        val Array(_, app, ver) = line.split("\t", 3)
        m += app -> ver.toLong
      }
    }
    (m.result(), complete)
  }

  /** Every app's committed high-water mark as of version `v`: newest
    * manifests win; the walk stops at the first manifest carrying the
    * complete carried-forward set — O(1) manifest reads on any catalog
    * this code created (every write re-emits all marks + `#txnall`),
    * O(commits) only across a legacy prefix. */
  private def allMarks(v: Long): Map[String, Long] = {
    var acc = Map.empty[String, Long]
    var cv = v
    while (cv >= 0) {
      val (m, complete) = marksAt(cv)
      // earlier reads win nothing: acc already holds newer marks
      acc = m ++ acc
      if (complete) return acc
      cv -= 1
    }
    acc
  }

  /** The highest committed application-transaction version for
    * `appId` across the catalog history, −1 if none — the
    * [[TxParquetSink.lastTxnVersion]] contract lifted to CROSS-TABLE
    * transactions: each [[transact]] invoked with a `txn` records the
    * mark in its catalog manifest (and CARRIES every known app's mark
    * forward, so this read costs O(1) manifests — a long-lived
    * streaming writer's per-batch idempotence check no longer scans
    * the whole catalog history). A redelivered transaction at or below
    * this high-water mark is skipped WHOLE (no table is touched),
    * which is what makes an at-least-once streaming writer's
    * multi-table batch exactly-once. */
  def lastTxn(appId: String): Long =
    allMarks(version()).getOrElse(appId, -1L)

  /** The current pin-set. */
  def pins(): Map[String, (String, Long)] = pinsAt(version())

  /** Catalog-scoped read AT A CAPTURED CATALOG VERSION: table `name`
    * at the pin catalog version `catVersion` recorded — THE read-set
    * primitive. A multi-table read that must be mutually consistent
    * captures `version()` ONCE and resolves every table through the
    * same `catVersion`; pins are immutable once published, so the set
    * can never straddle a concurrent transaction's publish. None
    * while the pin is −1 (registered empty, not yet written) or the
    * pinned table version reads empty. */
  def readAt(spark: SparkSession, catVersion: Long,
      name: String): Option[DataFrame] = {
    val (d, pv) = pinsAt(catVersion).getOrElse(name,
      throw new NoSuchElementException(
        s"catalog $dir@$catVersion has no table '$name'"))
    if (pv < 0) None else TxParquetSink(d).readVersion(spark, pv)
  }

  /** Single-table convenience read at the CURRENT catalog version.
    * Each call resolves the head pin-set independently — two `read`
    * calls can land on different catalog versions if a transaction
    * publishes in between, so a cross-table read set uses
    * [[readAt]] with one captured `version()` instead. */
  def read(spark: SparkSession, name: String): Option[DataFrame] =
    readAt(spark, version(), name)

  private def render(ps: Map[String, (String, Long)]): String =
    ps.toSeq.sortBy(_._1)
      .map { case (n, (d, v)) => s"$n\t$d\t$v" }.mkString("", "\n", "\n")

  private def renderMarks(marks: Map[String, Long]): String =
    marks.toSeq.sortBy(_._1)
      .map { case (app, ver) => s"#txn\t$app\t$ver" }
      .mkString("", "\n", if (marks.nonEmpty) "\n" else "") + "#txnall\n"

  private def tryPublish(v: Long, content: String): Boolean = {
    Files.createDirectories(logDir)
    val tmp = Files.createTempFile(logDir, ".stage-", ".cat.tmp")
    try {
      Files.write(tmp, content.getBytes(UTF_8))
      try { Files.createLink(logDir.resolve(f"$v%020d.cat"), tmp); true }
      catch { case _: FileAlreadyExistsException => false }
    } finally Files.deleteIfExists(tmp)
  }

  private def lockPath(name: String): Path = locksDir.resolve(
    java.net.URLEncoder.encode(name, UTF_8) + ".lock")

  /** One atomic lock acquisition with lease-steal: the hard link is
    * the linearization point; a holder past `lockLeaseMs` is presumed
    * dead and its lock STOLEN. The lock content is
    * `<timestamp>\t<owner token>`: release deletes only a lock still
    * carrying OUR token, so a long-running body whose lock was
    * legitimately stolen cannot free the THIEF's lock on its way out
    * (which would re-open the same-table race for a third party).
    *
    * The steal is fenced two ways (a bare delete-then-relink had two
    * live-lock-deletion races — the round-11 findings):
    *
    *  - A read that lands in the gap between a legitimate release
    *    (delete) and the next acquirer's link sees NO file — that is
    *    a free lock, not stale evidence, so the acquirer just retries
    *    the link (never deletes): a brand-new foreign lock in the gap
    *    makes the relink fail instead of being deleted.
    *  - An actual steal runs under a CLAIM file (`<lock>.steal`,
    *    created with the same atomic hard link): competing stealers
    *    serialize on the claim, and the claim holder re-reads the lock
    *    and proceeds only if it still carries the EXACT content it
    *    classified as expired — a fresh lock relinked by an earlier
    *    (completed) stealer fails the comparison and the late stealer
    *    stands down. The replacement itself is one atomic rename over
    *    the stale lock, so the lock file is never missing mid-steal
    *    and a fresh acquirer can never link into a half-stolen window.
    *    A claim whose own timestamp is past the lease (a stealer that
    *    died mid-steal) is cleared so the table is not wedged.
    *
    * Residual (inherent to lease locks without resource-side fencing):
    * a holder that is alive PAST its lease and releases in the
    * microseconds between the claim holder's re-read and its rename
    * can admit one extra acquirer; the publish-time pin verification
    * in [[transact]] is the backstop that turns that into a loud
    * failure instead of a merged pin-set.
    *
    * `beforeRead`/`beforeSteal` are test seams: the windows after the
    * failed link and after the stale classification, where the spec
    * interleaves competing acquirers deterministically. */
  private[etl] def tryAcquire(name: String, token: String,
      beforeRead: () => Unit = () => (),
      beforeSteal: () => Unit = () => ()): Boolean = {
    Files.createDirectories(locksDir)
    val p = lockPath(name)
    val tmp = Files.createTempFile(locksDir, ".stage-", ".lock.tmp")
    try {
      Files.write(tmp,
        s"${System.currentTimeMillis()}\t$token\n".getBytes(UTF_8))
      def link(): Boolean =
        try { Files.createLink(p, tmp); true }
        catch { case _: FileAlreadyExistsException => false }
      if (link()) return true
      beforeRead()
      val observed = try Some(new String(Files.readAllBytes(p), UTF_8))
      catch {
        case _: NoSuchFileException => None
        case _: Exception => Some("") // present but unreadable: malformed
      }
      val content = observed match {
        case None => return link() // release gap: free, not stale — relink
        case Some(c) => c
      }
      val age = try {
        System.currentTimeMillis() - content.trim.split("\t", 2).head.toLong
      } catch { case _: Exception => Long.MaxValue } // malformed: stale
      if (age <= lockLeaseMs) return false
      beforeSteal()
      val claim = locksDir.resolve(p.getFileName.toString + ".steal")
      val claimTmp = Files.createTempFile(locksDir, ".stage-", ".steal.tmp")
      try {
        Files.write(claimTmp,
          s"${System.currentTimeMillis()}\t$token\n".getBytes(UTF_8))
        val claimed =
          try { Files.createLink(claim, claimTmp); true }
          catch { case _: FileAlreadyExistsException => false }
        if (!claimed) {
          // another stealer is mid-steal; clear only a claim whose OWN
          // lease expired (its holder died mid-steal), then stand down —
          // the next acquisition attempt proceeds against a free claim.
          // The clear re-reads and compares CONTENT immediately before
          // the delete, so a fresh claim linked after our age read is
          // (outside a residual instruction-level window, backstopped
          // by the publish-time pin check) never the one deleted.
          val claimContent = try {
            Some(new String(Files.readAllBytes(claim), UTF_8))
          } catch {
            case _: NoSuchFileException => None // already finished
            case _: Exception => Some("")
          }
          val claimAge = claimContent.map { c =>
            try System.currentTimeMillis() - c.trim.split("\t", 2).head.toLong
            catch { case _: Exception => Long.MaxValue }
          }.getOrElse(0L)
          if (claimAge > lockLeaseMs) {
            // the re-read maps exceptions EXACTLY like the first read —
            // an asymmetric mapping (other-exception -> None here) would
            // make a persistently unreadable claim never compare equal,
            // wedging the table forever instead of clearing it
            val still = try {
              Some(new String(Files.readAllBytes(claim), UTF_8))
            } catch {
              case _: NoSuchFileException => None
              case _: Exception => Some("")
            }
            if (still == claimContent) Files.deleteIfExists(claim)
            ()
          }
          return false
        }
        try {
          // under the claim: the lock must STILL be the exact content
          // classified as expired — anything else means the world moved
          // on (a completed steal, a release + fresh acquire) and the
          // late stealer stands down instead of deleting a live lock
          val now = try Some(new String(Files.readAllBytes(p), UTF_8))
          catch {
            case _: NoSuchFileException => None
            case _: Exception => Some("")
          }
          now match {
            case None => link() // released under the claim: plain acquire
            case Some(c2) if c2 != content => false
            case _ =>
              // one atomic rename over the stale lock: the lock file is
              // never missing mid-steal, so no fresh acquirer can link
              // into the window. The MOVE is the success signal: the
              // claim already serialized competing stealers and the
              // content re-verify above established the preconditions,
              // so a post-move verification read would only ADD a
              // failure mode — a transient read error mapping to
              // "not acquired" would leave our published lock held by
              // nobody (never released, wedging the table for a full
              // lease) even though the rename atomically succeeded.
              Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING,
                StandardCopyOption.ATOMIC_MOVE)
              true
          }
        } finally { Files.deleteIfExists(claim); () }
      } finally { Files.deleteIfExists(claimTmp); () }
    } finally { Files.deleteIfExists(tmp); () } // no-op if moved over p
  }

  /** One lock-lease heartbeat: re-stamps `name`'s lock with a fresh
    * timestamp IF it still carries our token (atomic content replace —
    * the same rename primitive the steal uses, so a concurrent
    * stealer's content re-verify sees the change and stands down).
    * A lock that no longer carries our token is left alone: we
    * overran our lease and lost it; the publish-time pin check turns
    * that into a loud failure instead of a merged pin-set. */
  private def renewLock(name: String, token: String,
      stopped: () => Boolean = () => false): Unit = {
    val p = lockPath(name)
    val mine = try {
      new String(Files.readAllBytes(p), UTF_8).trim
        .split("\t", 2).lift(1).contains(token)
    } catch { case _: Exception => false }
    if (mine) {
      val tmp = Files.createTempFile(locksDir, ".renew-", ".lock.tmp")
      try {
        Files.write(tmp,
          s"${System.currentTimeMillis()}\t$token\n".getBytes(UTF_8))
        // last-instant shutdown check: a beat that was in flight when
        // the transaction finished must not re-create the lock AFTER
        // release() deleted it (an orphan lock under a dead token
        // would wedge the table for a full lease). transact() also
        // joins the renewer WITHOUT a timeout before releasing, so
        // this check is belt-and-braces for any future caller that
        // cannot join.
        if (!stopped()) {
          Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING,
            StandardCopyOption.ATOMIC_MOVE)
          ()
        }
      } catch { case _: Exception => () } // next beat retries
      finally { Files.deleteIfExists(tmp); () }
    }
  }

  /** The fence body installed on every scoped sink: throws unless
    * `name`'s lease lock still carries `token`. One small file read
    * per data commit — the price of structurally rejecting a
    * stolen-from holder's late publish. */
  private def requireLockToken(name: String, token: String): Unit = {
    val mine = try {
      new String(Files.readAllBytes(lockPath(name)), UTF_8).trim
        .split("\t", 2).lift(1).contains(token)
    } catch { case _: Exception => false }
    if (!mine) throw new IllegalStateException(
      s"catalog $dir: lease on table '$name' no longer carries this " +
        "transaction's token (lease overrun + steal) — data publish " +
        "fenced off; the staged write is abandoned for vacuum")
  }

  private[etl] def release(names: Seq[String], token: String): Unit =
    names.foreach { n =>
      val p = lockPath(n)
      val mine = try {
        new String(Files.readAllBytes(p), UTF_8).trim
          .split("\t", 2).lift(1).contains(token)
      } catch { case _: Exception => false }
      if (mine) Files.deleteIfExists(p)
      ()
    }

  /** ONE cross-table transaction over `scope` (default: every managed
    * table). Acquires the scope's table locks (failing fast with
    * `ConcurrentModificationException` if another live transactor
    * holds any — disjoint scopes proceed concurrently), repairs any
    * IN-SCOPE table whose head drifted past its pin (a previous
    * transactor's crash — rolled back to the pinned state), hands the
    * scope's sinks to `body`, and publishes the post-body heads as a
    * new catalog version in one atomic commit — retrying over a
    * concurrent disjoint transaction's head pin-set if one published
    * first (in-scope pins cannot move: the locks hold). Throws without
    * publishing if the body throws; its partial commits become orphans
    * the next covering transaction repairs.
    *
    * `txn = Some((appId, ver))` makes the transaction IDEMPOTENT
    * end-to-end (the Delta `txnAppId`/`txnVersion` writer contract at
    * catalog scope): if `ver` is at or below the appId's committed
    * high-water mark ([[lastTxn]], checked AFTER the locks are held so
    * concurrent redeliveries serialize) the call returns the current
    * version WITHOUT touching any table — so an at-least-once
    * streaming writer (foreachBatch retries, crash-restarted
    * backfills) re-delivering a multi-table batch converges even when
    * the body uses RELATIVE updates (`t.cents + s.cents`): the skip
    * happens before the body, not per table. A crash BEFORE the
    * catalog publish leaves the mark unset, so the redelivery
    * (post-repair) applies exactly once. Returns the new catalog
    * version (or the current one on a skip). */
  def transact(spark: SparkSession, txn: Option[(String, Long)] = None,
      scope: Set[String] = Set.empty,
      beforeLock: () => Unit = () => ())(
      body: Map[String, TxParquetSink] => Unit): Long = {
    val v0 = version()
    require(v0 >= 0, s"transact: catalog $dir was never created")
    // pre-lock read ONLY to resolve the scope's table names (the table
    // set is fixed at create); pins are re-read under the locks below —
    // a lock-holding transactor may legitimately publish between this
    // read and our acquisition, and repairing against ITS pin would
    // roll back a committed write
    val p0 = pinsAt(v0)
    val scopeNames =
      (if (scope.isEmpty) p0.keySet else scope).toSeq.sorted
    scope.foreach(n => require(p0.contains(n),
      s"transact: catalog $dir has no table '$n'"))
    txn.foreach { case (app, _) =>
      require(!app.contains("\t") && !app.contains("\n"),
        s"bad txn appId '$app'")
    }
    beforeLock() // test seam: the window between the name read and the
    // lock acquisition, where a concurrent transactor may publish
    val token = java.util.UUID.randomUUID().toString
    val held = scala.collection.mutable.ListBuffer.empty[String]
    scopeNames.foreach { n =>
      if (tryAcquire(n, token)) held += n
      else {
        release(held.toSeq, token)
        throw new java.util.ConcurrentModificationException(
          s"catalog $dir: table '$n' is locked by another live " +
            "transactor — overlapping scopes serialize; retry after it " +
            s"publishes (or after its ${lockLeaseMs} ms lease expires)")
      }
    }
    // LEASE RENEWAL HEARTBEAT — a transaction body longer than the
    // lease must not look dead: a daemon re-stamps every held lock at
    // a third of the lease period, so stealers only ever fire on
    // holders whose heartbeat actually STOPPED (a crash), never on a
    // merely slow body. Renewal is content-verified per beat, so a
    // lock legitimately lost (the process slept past its lease) is
    // never touched.
    val renewStop = new java.util.concurrent.CountDownLatch(1)
    val renewer = new Thread(() => {
      val interval = math.max(lockLeaseMs / 3, 1L)
      while (!renewStop.await(interval,
        java.util.concurrent.TimeUnit.MILLISECONDS)) {
        held.foreach(n => renewLock(n, token,
          stopped = () => renewStop.getCount == 0))
      }
    }, s"txcatalog-lease-renew-$dir")
    renewer.setDaemon(true)
    renewer.start()
    try {
      // the authoritative pin capture, now race-free for our scope
      val p = pinsAt(version())
      // idempotence check under the locks: concurrent redeliveries of
      // the same (appId, ver) serialize on the scope's locks, so the
      // second always sees the first's mark
      val alreadyCommitted = txn.exists { case (app, ver) =>
        lastTxn(app) >= ver
      }
      if (alreadyCommitted) return version()
      // FENCING TOKEN carried into every data commit: each scoped
      // sink's manifest publish re-verifies that the table's lease
      // lock still carries THIS transaction's token. A transactor
      // that slept past its lease and was stolen from now fails at
      // its own data publish (the staged dir becomes vacuum litter,
      // no manifest appears) — a structural rejection, closing the
      // residual lease-steal window the publish-time pin verification
      // only catches at catalog-commit time.
      val sinks = scopeNames.map(n =>
        n -> TxParquetSink(p(n)._1).withFence(() =>
          requireLockToken(n, token))).toMap
      sinks.foreach { case (n, s) =>
        val pv = p(n)._2
        if (s.version() != pv) {
          // a previous transactor's crash (or a rogue direct write):
          // roll the table back to its pin — restore(-1) lands the
          // pre-history empty state for a table orphaned above an
          // empty pin
          s.restore(spark, pv)
          ()
        }
      }
      body(sinks)
      // the locks guarantee these heads are the body's own commits —
      // no foreign write can land inside the published pin-set
      val updates = sinks.map { case (n, s) => n -> (p(n)._1, s.version()) }
      while (true) {
        val vh = version()
        val ph = pinsAt(vh)
        scopeNames.foreach { n =>
          require(ph(n) == p(n),
            s"catalog $dir: pin of locked table '$n' moved — a " +
              "transactor bypassed the lock protocol")
        }
        // merge marks with MAX per app: the same appId committing a
        // HIGHER version through a disjoint scope concurrently must
        // never be regressed by our lower mark (a regressed high-water
        // mark would re-admit an already-committed redelivery)
        val marks = (allMarks(vh).toSeq ++ txn.toSeq)
          .groupMapReduce(_._1)(_._2)(math.max)
        val content = render(ph ++ updates) + renderMarks(marks)
        if (tryPublish(vh + 1, content)) return vh + 1
        // lost the version race to a DISJOINT transactor: re-read its
        // head pin-set and re-publish ours on top (each retry is one
        // O(tables) head re-read + re-link — the contention price
        // measured round 12; see git history)
      }
      -1L // unreachable
    } finally {
      renewStop.countDown()
      // join WITHOUT a timeout: a beat is a handful of bounded local
      // file ops, and releasing while one is in flight could let it
      // re-create the lock after the delete (orphan lock under a dead
      // token = table wedged for a full lease). renewLock's own
      // stopped() re-check before its move is the second belt.
      renewer.join()
      release(held.toSeq, token)
    }
  }
}

object TxCatalog {

  /** How long a table lock outlives its last touch before another
    * transactor may presume the holder dead and steal it. Generous
    * relative to any reasonable transaction body; tests shrink it. */
  val DefaultLockLeaseMs: Long = 10L * 60 * 1000

  /** Creates the catalog at `dir`, pinning each table's CURRENT
    * version (−1 for a still-empty sink) as catalog version 0. */
  def create(dir: String, tables: Map[String, TxParquetSink]): TxCatalog = {
    require(tables.nonEmpty, "a catalog needs at least one table")
    tables.keys.foreach(n => require(
      !n.contains("\t") && !n.contains("\n") && n.nonEmpty &&
        !n.startsWith("#"),
      s"bad table name '$n' (no tabs/newlines, no leading '#')"))
    // dirs share the tab-separated line format: a tab or newline in a
    // sink path would make pinsAt's split mis-parse every later read
    tables.values.foreach(s => require(
      !s.dir.contains("\t") && !s.dir.contains("\n"),
      s"bad table dir '${s.dir}' (no tabs/newlines)"))
    val c = TxCatalog(dir)
    require(c.version() == -1L, s"catalog $dir already exists")
    val pins = tables.map { case (n, s) => n -> (s.dir, s.version()) }
    require(c.tryPublish(0L, c.render(pins) + c.renderMarks(Map.empty)),
      s"catalog $dir: lost the creation race")
    c
  }
}
