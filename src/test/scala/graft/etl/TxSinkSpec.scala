package graft.etl

import graft.SparkSpec
import java.nio.file.Files
import scala.concurrent.{Await, Future}
import scala.concurrent.duration._

/** The ACID commit protocol: snapshot isolation, MERGE idempotence, and
  * — the case the plain read-keys-then-append upsert cannot survive —
  * two INTERLEAVED writers upserting overlapping keys with no duplicate
  * and no lost row. Mirrors the guarantee the reference gets from MySQL
  * transactions around its insert-if-not-exists probes
  * (`/root/reference/src/Meshjoin.java:489-591`). */
class TxSinkSpec extends SparkSpec {
  import spark.implicits._

  private def batch(rows: (String, String)*) =
    rows.toDF("product_id", "product_name")
  private val keys = Seq("product_id")
  private val order = Seq("product_name")

  private def table() = TxParquetSink(
    Files.createTempDirectory("txsink").toString + "/t")

  private def keySet(t: TxParquetSink): Seq[String] =
    t.readSnapshot(spark).map(_.select("product_id").as[String].collect().toSeq.sorted)
      .getOrElse(Nil)

  test("merge is insert-if-absent and idempotent; snapshot reads see only commits") {
    val t = table()
    assert(t.readSnapshot(spark).isEmpty && t.version() == -1L)

    val n1 = t.mergeUpsert(spark, batch("P1" -> "Widget", "P2" -> "Gadget", "P1" -> "ZDupe"),
      keys, order)
    assert(n1 == 2) // in-batch dupe collapses first-wins (by orderCols) before the write
    assert(t.version() == 0L)

    val n2 = t.mergeUpsert(spark, batch("P1" -> "Replay", "P3" -> "Sprocket"), keys, order)
    assert(n2 == 1 && keySet(t) == Seq("P1", "P2", "P3"))
    // all-replay batch commits nothing — not even an empty version
    assert(t.mergeUpsert(spark, batch("P2" -> "Again"), keys, order) == 0)
    assert(t.version() == 1L)
    // first-wins value survived the replay attempts
    val p1 = t.readSnapshot(spark).get.where($"product_id" === "P1")
      .select("product_name").as[String].collect().toSeq
    assert(p1 == Seq("Widget"))
  }

  test("interleaved writer: conflicting commit between audit and publish drops the overlap") {
    val t = table()
    t.mergeUpsert(spark, batch("A" -> "a0"), keys, order)

    // Writer B fires exactly once, INSIDE writer A's commit window —
    // after A staged its anti-joined batch, before A publishes. B lands
    // keys {B, C}; A staged {B, D} against a snapshot of {A}. A's first
    // publish must lose, and its retry must re-filter to {D} only.
    var fired = false
    val interleaved: () => Unit = () => if (!fired) {
      fired = true
      assert(t.mergeUpsert(spark, batch("B" -> "fromB", "C" -> "fromB"), keys, order) == 2)
    }
    val nA = t.mergeUpsert(spark, batch("B" -> "fromA", "D" -> "fromA"),
      keys, order, beforePublish = interleaved)
    assert(nA == 1, "writer A must insert only the non-conflicting key D")
    assert(keySet(t) == Seq("A", "B", "C", "D"))
    val bVal = t.readSnapshot(spark).get.where($"product_id" === "B")
      .select("product_name").as[String].collect().toSeq
    assert(bVal == Seq("fromB"), "the committed-first writer wins the key")
  }

  test("interleaved writer whose keys fully overlap leaves no empty commit") {
    val t = table()
    var fired = false
    val interleaved: () => Unit = () => if (!fired) {
      fired = true; t.mergeUpsert(spark, batch("X" -> "fromB"), keys, order); ()
    }
    assert(t.mergeUpsert(spark, batch("X" -> "fromA"), keys, order,
      beforePublish = interleaved) == 0)
    assert(keySet(t) == Seq("X") && t.version() == 0L)
  }

  test("hammer: concurrent writers over overlapping key ranges — no dupes, no lost rows") {
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val t = table()
    // 4 writers × 3 batches; every key is claimed by at least two writers
    val writers = Future.traverse(1 to 4) { w =>
      Future {
        for (b <- 0 until 3) {
          val ks = (0 until 20).map(i => (b * 20 + i) % 50)
          t.mergeUpsert(spark,
            ks.map(k => (f"K$k%03d", s"w$w")).toDF("product_id", "product_name"),
            keys, order)
        }
      }
    }
    Await.result(writers, 120.seconds)
    val rows = t.readSnapshot(spark).get
      .select("product_id").as[String].collect().toSeq
    assert(rows.size == rows.distinct.size, "duplicate keys committed")
    assert(rows.sorted == (0 until 50).map(k => f"K$k%03d"),
      "some key was lost in a conflict retry")
  }

  test("vacuum removes crashed-writer litter, never committed data") {
    val t = table()
    t.mergeUpsert(spark, batch("P1" -> "Widget"), keys, order)
    // a writer that staged and died before publish: visible to nobody
    batch("ZZ" -> "orphan").write.parquet(
      java.nio.file.Paths.get(t.dir, "data", "tx-orphan").toString)
    // a committer that died between manifest link and tmp delete
    val tmp = java.nio.file.Paths.get(t.dir, "_txlog", ".stage-dead.txn.tmp")
    Files.write(tmp, "rows=1\n".getBytes)
    // a replaceAll that died between writing its DDL scratch and the rename
    val ddlTmp = java.nio.file.Paths.get(t.dir, "_txlog", ".ddl-dead.tmp")
    Files.write(ddlTmp, "k STRING".getBytes)
    assert(keySet(t) == Seq("P1"), "staged-but-unpublished data leaked into reads")
    val removed = t.vacuumOrphans(minAgeMs = 0)
    assert(removed.exists(_.endsWith("tx-orphan")))
    assert(removed.exists(_.endsWith(".txn.tmp")) && !Files.exists(tmp),
      "crashed-committer manifest scratch must be vacuumed too")
    assert(!Files.exists(ddlTmp), "every aged log scratch file is vacuumed")
    assert(removed.size == 3)
    assert(keySet(t) == Seq("P1"))
  }

  test("vacuum retention TTL protects an in-flight writer's staged dir") {
    val t = table()
    t.mergeUpsert(spark, batch("P1" -> "Widget"), keys, order)
    // mid-commit writer: staged seconds ago, not yet published
    batch("ZZ" -> "inflight").write.parquet(
      java.nio.file.Paths.get(t.dir, "data", "tx-inflight").toString)
    // default retention (24 h) must leave it alone
    assert(t.vacuumOrphans().isEmpty,
      "a freshly staged dir was vacuumed under the default retention")
    assert(Files.isDirectory(java.nio.file.Paths.get(t.dir, "data", "tx-inflight")))
    // and a zero-TTL vacuum inside a writer's commit window makes the
    // writer ABORT (dangling-manifest publish is refused), not corrupt
    var vacuumed = false
    val sabotage: () => Unit = () => if (!vacuumed) {
      vacuumed = true; t.vacuumOrphans(minAgeMs = 0); ()
    }
    val e = intercept[IllegalStateException] {
      t.mergeUpsert(spark, batch("Q1" -> "victim"), keys, order,
        beforePublish = sabotage)
    }
    assert(e.getMessage.contains("vanished before publish"))
    // table still healthy: committed prefix intact, snapshot readable
    assert(keySet(t) == Seq("P1"))
  }

  test("append and replaceAll refuse to publish a staged dir vacuumed mid-commit") {
    val t = table()
    t.append(batch("P1" -> "Widget"))
    // the fence runs at publish time, after staging: a zero-TTL vacuum
    // there deletes the commit's staged dir, as a mistimed vacuum would
    val sabotaged = t.withFence(() => { t.vacuumOrphans(minAgeMs = 0L); () })
    val e1 = intercept[IllegalStateException] {
      sabotaged.append(batch("Q1" -> "victim"))
    }
    assert(e1.getMessage.contains("vanished before publish"))
    assert(keySet(t) == Seq("P1"))
    val e2 = intercept[IllegalStateException] {
      sabotaged.replaceAll(spark, batch("Q2" -> "victim"))
    }
    assert(e2.getMessage.contains("vanished before publish"))
    assert(keySet(t) == Seq("P1") && t.version() == 0L)
  }

  test("mid-commit writer survives a concurrent default-TTL vacuum") {
    // The other face of the TTL guard (ADVICE r6): not just that a
    // synthetic staged dir is left alone, but that a REAL writer whose
    // commit window a default-TTL vacuum lands inside publishes
    // successfully — the vacuum must report nothing removed and the
    // merge must land its rows.
    val t = table()
    t.mergeUpsert(spark, batch("P1" -> "Widget"), keys, order)
    var removed: Seq[String] = null
    val n = t.mergeUpsert(spark, batch("P2" -> "Gadget"), keys, order,
      beforePublish = () => { removed = t.vacuumOrphans() })
    assert(removed != null && removed.isEmpty,
      "a default-TTL vacuum inside a live commit window must skip the staged dir")
    assert(n == 1 && keySet(t) == Seq("P1", "P2"))
  }

  test("time travel: every historical version reads as the exact committed prefix") {
    val t = table()
    t.mergeUpsert(spark, batch("P1" -> "Widget"), keys, order)
    t.mergeUpsert(spark, batch("P2" -> "Gadget"), keys, order)
    t.mergeUpsert(spark, batch("P3" -> "Sprocket"), keys, order)
    assert(t.version() == 2L)
    def at(v: Long): Seq[String] =
      t.readVersion(spark, v).map(_.select("product_id").as[String].collect().toSeq.sorted)
        .getOrElse(Nil)
    assert(at(-1L) == Nil) // before the first commit
    assert(at(0L) == Seq("P1"))
    assert(at(1L) == Seq("P1", "P2"))
    assert(at(2L) == Seq("P1", "P2", "P3"))
    assert(at(99L) == Seq("P1", "P2", "P3")) // future asOf = latest
    // vacuum never makes history unreadable: committed dirs are not orphans
    assert(t.vacuumOrphans(0L).isEmpty)
    assert(at(0L) == Seq("P1"))
    // current snapshot is the time travel of the head version
    assert(keySet(t) == at(t.version()))
  }

  test("manifest codec round-trips") {
    val m = TxLog.Manifest(42L, Seq("data/tx-a", "data/tx-b"))
    assert(TxLog.parseManifest(TxLog.renderManifest(m)) == m)
    val b = TxLog.Manifest(7L, Seq("data/tx-c"), base = true)
    assert(TxLog.parseManifest(TxLog.renderManifest(b)) == b)
    // schema= line (round-14: metadata-served read schema) — JSON with
    // URL-hostile characters survives the line codec
    val s = TxLog.Manifest(1L, Seq("data/tx-d"),
      schema = Some(batch("P" -> "x").schema.json))
    assert(TxLog.parseManifest(TxLog.renderManifest(s)) == s)
    // every field set, codec-hostile characters included; the rendered
    // bytes are pinned, so tables already on disk keep reading back
    import TxLog.{BloomBits, ColStats, KmvMins}
    val full = TxLog.Manifest(5L, Seq("data/tx-e", "data/tx-f/__bucket=0"),
      base = true, partitions = Some(Set("2024-01-01/eu", "a%2Fb/%N")),
      partitionCols = Seq("day", "region"),
      replaceCols = Seq("day"), replaceKeys = Set("2024-01-01", "null"),
      stats = Map("amount" -> ColStats(num = true, "-1", "30"),
        "day" -> ColStats(num = false, "", "z/=\n%\u00e9")),
      blooms = Map("k" -> BloomBits(8192, 6, "AAEC_w")),
      fileStats = Map("data/tx-e" -> Map(
        "amount" -> ColStats(num = true, "1", "2"),
        "day" -> ColStats(num = false, "a", "b"))),
      fileBlooms = Map("data/tx-e" -> Map("k" -> BloomBits(64, 2, "AQ"))),
      sketches = Map("k" -> KmvMins(64, Seq(3L, 17L)), "e" -> KmvMins(64, Nil)),
      deletePred = Some("day = 'a/b' AND x <> '='"),
      txn = Some(("app/1", 9L)),
      nullCounts = Map("amount" -> 0L, "day" -> 2L),
      fileRows = Map("data/tx-e" -> 3L, "data/tx-f/__bucket=0" -> 2L),
      sums = Map("amount" -> "465"),
      fileSums = Map("data/tx-e" -> Map("amount" -> "3")),
      sumsqs = Map("amount" -> "9455"),
      restated = true,
      schema = Some("""{"type":"struct","fields":[]}"""))
    assert(TxLog.renderManifest(full) == Seq(
      "rows=5",
      "file=data/tx-e",
      "file=data/tx-f/__bucket=0",
      "base=true",
      "pscope=true",
      "part=2024-01-01/eu",
      "part=a%2Fb/%N",
      "pcols=day,region",
      "rcols=day",
      "rkey=2024-01-01",
      "rkey=null",
      "stat=amount/n/-1/30",
      "stat=day/s//z%2F%3D%0A%25%C3%A9",
      "bloom=k/8192/6/AAEC_w",
      "fstat=data%2Ftx-e/amount/n/1/2",
      "fstat=data%2Ftx-e/day/s/a/b",
      "fbloom=data%2Ftx-e/k/64/2/AQ",
      "kmv=e/64/",
      "kmv=k/64/3%2C17",
      "nullc=amount/0",
      "nullc=day/2",
      "frows=data%2Ftx-e/3",
      "frows=data%2Ftx-f%2F__bucket%3D0/2",
      "sum=amount/465",
      "fsum=data%2Ftx-e/amount/3",
      "sumsq=amount/9455",
      "delwhere=day+%3D+%27a%2Fb%27+AND+x+%3C%3E+%27%3D%27",
      "txn=app%2F1/9",
      "restated=true",
      "schema=%7B%22type%22%3A%22struct%22%2C%22fields%22%3A%5B%5D%7D").mkString("", "\n", "\n"))
    assert(TxLog.parseManifest(TxLog.renderManifest(full)) == full)
  }

  test("commits record their schema; snapshot reads serve it without footer merging") {
    val t = table()
    t.append(batch("P1" -> "A"))
    t.append(batch("P2" -> "B"))
    // every file-carrying manifest recorded the staged schema
    assert(t.commits().forall(_._2.schema.isDefined))
    assert(t.commits().map(_._2.schema.get).distinct.size == 1)
    // the metadata-served relation reads back exactly the written rows
    assert(keySet(t) == Seq("P1", "P2"))
    assert(t.readSnapshot(spark).get.schema.fieldNames.toSeq ==
      Seq("product_id", "product_name"))
  }

  test("schema evolution across commits still reads old rows null-filled") {
    val t = table()
    t.append(batch("P1" -> "A"))
    // a later commit ADDS a column: per-group schemas now differ, so the
    // read falls back to mergeSchema (the pre-round-14 path) and the
    // old commit's rows come back with a typed null in the new column
    t.append(Seq(("P2", "B", 7L)).toDF("product_id", "product_name", "qty"))
    val snap = t.readSnapshot(spark).get
      .select("product_id", "qty").orderBy("product_id")
      .collect().map(r => (r.getString(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
    assert(snap.toSeq == Seq(("P1", -1L), ("P2", 7L)))
  }

  test("compaction: one-base snapshot equality, time travel intact, appends continue") {
    val t = table()
    t.mergeUpsert(spark, batch("P1" -> "A", "P2" -> "B"), keys, order)
    t.mergeUpsert(spark, batch("P3" -> "C"), keys, order)
    t.mergeUpsert(spark, batch("P4" -> "D"), keys, order)
    val preKeys = keySet(t)
    val preTip = t.version()
    val v = t.compact(spark)
    assert(v == preTip + 1)
    assert(keySet(t) == preKeys) // snapshot unchanged by the rewrite
    // the effective snapshot now reads ONE directory
    val eff = t.commits().filter(_._1 == v)
    assert(eff.head._2.base && eff.head._2.files.size == 1)
    // time travel to a pre-compaction version still sees the old prefix
    assert(t.readVersion(spark, 0L).get.select("product_id")
      .as[String].collect().sorted.toSeq == Seq("P1", "P2"))
    // post-compaction merges keep de-duplicating against the base
    val n = t.mergeUpsert(spark, batch("P1" -> "Replay", "P5" -> "E"), keys, order)
    assert(n == 1 && keySet(t) == preKeys :+ "P5")
  }

  test("compaction racing a writer retries and never hides the interleaved commit") {
    val t = table()
    t.mergeUpsert(spark, batch("P1" -> "A"), keys, order)
    var fired = false
    val v = t.compact(spark, beforePublish = () => {
      if (!fired) { // the interleaved writer lands between stage and publish
        fired = true
        t.mergeUpsert(spark, batch("P9" -> "Interleaved"), keys, order)
      }
    })
    assert(fired)
    // the retried base INCLUDES the racing commit's row
    assert(keySet(t) == Seq("P1", "P9"))
    val base = t.commits().filter(_._1 == v).head._2
    assert(base.base && base.rows == 2L)
  }

  // ---- partition-scoped conflict detection (VERDICT r7 #1) ----------

  private def pbatch(rows: (String, String, String)*) =
    rows.toDF("day", "product_id", "product_name")
  private val pkeys = Seq("day", "product_id")
  private val pcols = Seq("day")

  test("disjoint-partition writers both commit with a metadata-only retry") {
    val t = table()
    var refiltersA = 0
    var fired = false
    // Writer B (partition d2) lands INSIDE writer A's (partition d1)
    // commit window. A loses the version race — but the manifests prove
    // the partition sets are disjoint, so A must re-publish with ZERO
    // data work: no anti-join against B's commit, no re-stage.
    val interleaved: () => Unit = () => if (!fired) {
      fired = true
      assert(t.mergeUpsert(spark, pbatch(("d2", "P1", "fromB"), ("d2", "P2", "fromB")),
        pkeys, order, partitionCols = pcols) == 2)
    }
    val nA = t.mergeUpsert(spark, pbatch(("d1", "P1", "fromA"), ("d1", "P3", "fromA")),
      pkeys, order, beforePublish = interleaved, partitionCols = pcols,
      onRefilter = () => refiltersA += 1)
    assert(fired)
    assert(nA == 2, "disjoint-partition writer must land its full batch")
    assert(refiltersA == 0,
      "a provably-disjoint interleaved commit must not trigger a data re-filter")
    assert(t.version() == 1L)
    assert(t.readSnapshot(spark).get.count() == 4L)
    // both manifests carry their partition scope
    val parts = t.commits().map(_._2.partitions)
    assert(parts == Seq(Some(Set("d2")), Some(Set("d1"))))
  }

  test("overlapping-partition writers still conflict and re-filter the overlap") {
    val t = table()
    var refilters = 0
    var fired = false
    val interleaved: () => Unit = () => if (!fired) {
      fired = true
      t.mergeUpsert(spark, pbatch(("d1", "P1", "fromB")), pkeys, order,
        partitionCols = pcols); ()
    }
    val nA = t.mergeUpsert(spark,
      pbatch(("d1", "P1", "fromA"), ("d1", "P2", "fromA")),
      pkeys, order, beforePublish = interleaved, partitionCols = pcols,
      onRefilter = () => refilters += 1)
    assert(refilters >= 1, "same-partition interleave must take the re-filter path")
    assert(nA == 1, "only the non-conflicting key survives")
    val p1 = t.readSnapshot(spark).get.where($"product_id" === "P1")
      .select("product_name").as[String].collect().toSeq
    assert(p1 == Seq("fromB"), "the committed-first writer wins the key")
  }

  test("an unscoped interleaved commit conservatively conflicts with a scoped writer") {
    val t = table()
    var refilters = 0
    var fired = false
    val interleaved: () => Unit = () => if (!fired) {
      fired = true // legacy writer: no partitionCols declared → unscoped manifest
      t.mergeUpsert(spark, pbatch(("d9", "P9", "legacy")), pkeys, order); ()
    }
    val nA = t.mergeUpsert(spark, pbatch(("d1", "P1", "fromA")), pkeys, order,
      beforePublish = interleaved, partitionCols = pcols,
      onRefilter = () => refilters += 1)
    assert(refilters >= 1,
      "an unscoped commit proves nothing — the loser must re-filter")
    assert(nA == 1 && t.readSnapshot(spark).get.count() == 2L)
  }

  test("a base compaction interleaving a scoped writer forces the re-filter path") {
    val t = table()
    t.mergeUpsert(spark, pbatch(("d1", "P1", "A")), pkeys, order, partitionCols = pcols)
    var refilters = 0
    var fired = false
    val interleaved: () => Unit = () => if (!fired) {
      fired = true; t.compact(spark); ()
    }
    val nA = t.mergeUpsert(spark, pbatch(("d2", "P2", "fromA")), pkeys, order,
      beforePublish = interleaved, partitionCols = pcols,
      onRefilter = () => refilters += 1)
    assert(refilters >= 1, "a base rewrite conflicts with every in-flight commit")
    assert(nA == 1 && keySet2(t) == Seq("d1/P1", "d2/P2"))
  }

  test("partition-scoped hammer: disjoint writers, no dupes, no lost rows") {
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val t = table()
    // 4 writers, each owning its own partition — the 100-TB parallel
    // loader shape. All rows from all writers must land.
    val writers = Future.traverse(1 to 4) { w =>
      Future {
        for (b <- 0 until 3) {
          t.mergeUpsert(spark,
            (0 until 10).map(i => (s"d$w", f"K${b * 10 + i}%03d", s"w$w"))
              .toDF("day", "product_id", "product_name"),
            pkeys, order, partitionCols = pcols)
        }
      }
    }
    Await.result(writers, 120.seconds)
    val rows = keySet2(t)
    assert(rows.size == rows.distinct.size, "duplicate keys committed")
    assert(rows.size == 4 * 30, "some disjoint-partition row was lost")
  }

  private def keySet2(t: TxParquetSink): Seq[String] =
    t.readSnapshot(spark)
      .map(_.select(org.apache.spark.sql.functions.concat_ws("/", $"day", $"product_id"))
        .as[String].collect().toSeq.sorted)
      .getOrElse(Nil)

  test("partitionCols must be a subset of keys") {
    val t = table()
    val e = intercept[IllegalArgumentException] {
      t.mergeUpsert(spark, pbatch(("d1", "P1", "A")), Seq("product_id"), order,
        partitionCols = Seq("day"))
    }
    assert(e.getMessage.contains("partitionCols"))
  }

  // ---- partition overwrite (REPLACE WHERE) --------------------------

  test("overwrite replaces exactly the touched partitions, atomically") {
    val t = table()
    t.append(pbatch(("d1", "P1", "old1"), ("d1", "P2", "old2"), ("d2", "P3", "keep")))
    val n = t.overwritePartitions(spark,
      pbatch(("d1", "P9", "new")), Seq("day"))
    assert(n == 1)
    // d1's two old rows are gone, d2 untouched, the new row visible
    assert(keySet2(t) == Seq("d1/P9", "d2/P3"))
    // deletion is logical: time travel to the pre-overwrite version
    // still reads the replaced rows
    assert(t.readVersion(spark, 0L).get.count() == 3L)
    val names = t.readVersion(spark, 0L).get
      .select("product_name").as[String].collect().sorted.toSeq
    assert(names == Seq("keep", "old1", "old2"))
  }

  test("overwrite then compact: the base resolves the deletion, history survives") {
    val t = table()
    t.append(pbatch(("d1", "P1", "old"), ("d2", "P2", "keep")))
    t.overwritePartitions(spark, pbatch(("d1", "P3", "new")), Seq("day"))
    val v = t.compact(spark)
    assert(keySet2(t) == Seq("d1/P3", "d2/P2"))
    val base = t.commits().filter(_._1 == v).head._2
    assert(base.base && base.rows == 2L, "base must hold the RESOLVED snapshot")
    // pre-base, pre-overwrite history still readable
    assert(t.readVersion(spark, 0L).get.count() == 2L)
    // and post-compaction merges de-duplicate against the resolved state
    assert(t.mergeUpsert(spark, pbatch(("d1", "P3", "replay")), pkeys, order) == 0)
  }

  test("overwrite losing a race retries metadata-only and supersedes the interleaver") {
    val t = table()
    t.append(pbatch(("d2", "Q1", "other")))
    var fired = false
    // an insert lands INSIDE the overwrite's commit window: one row in
    // the replaced partition d1, one elsewhere
    val interleaved: () => Unit = () => if (!fired) {
      fired = true
      t.append(pbatch(("d1", "X1", "doomed"), ("d3", "X2", "survives")))
    }
    val n = t.overwritePartitions(spark, pbatch(("d1", "P1", "new")), Seq("day"),
      beforePublish = interleaved)
    assert(fired && n == 1)
    // replace is version-relative: the interleaved commit published
    // FIRST, so its d1 row is superseded; its d3 row survives
    assert(keySet2(t) == Seq("d1/P1", "d2/Q1", "d3/X2"))
  }

  test("a commit that loses every race gives up after 20 attempts and deletes its staging") {
    val t = table()
    t.append(pbatch(("d1", "P1", "kept")))
    // a concurrent commit lands inside every publish window
    var landed = 0
    val alwaysRaced: () => Unit = () => { t.deleteWhere(spark, "false"); landed += 1 }
    val republish = intercept[IllegalStateException] {
      t.overwritePartitions(spark, pbatch(("d1", "P2", "lost")), Seq("day"),
        beforePublish = alwaysRaced)
    }
    assert(republish.getMessage.contains("gave up after 20 publish attempts"))
    assert(landed == 20)
    val recompute = intercept[IllegalStateException] {
      t.compact(spark, beforePublish = alwaysRaced)
    }
    assert(recompute.getMessage.contains("gave up after 20 publish attempts"))
    assert(landed == 40)
    // neither loser left a staged dir behind, and the table is intact
    import scala.jdk.CollectionConverters._
    val referenced = t.commits().flatMap(_._2.files).toSet
    val staged = Files.list(java.nio.file.Paths.get(t.dir, "data"))
    val dirs = try staged.iterator().asScala.map(p => s"data/${p.getFileName}").toSeq
      finally staged.close()
    assert(dirs.forall(referenced.contains), s"unreferenced staging: $dirs")
    assert(keySet2(t) == Seq("d1/P1"))
  }

  test("merge keeps its metadata-only fast path across a disjoint same-cols overwrite") {
    val t = table()
    t.append(pbatch(("d2", "P0", "seed")))
    var refilters = 0
    var fired = false
    val interleaved: () => Unit = () => if (!fired) {
      fired = true
      t.overwritePartitions(spark, pbatch(("d2", "P7", "restated")), Seq("day")); ()
    }
    val n = t.mergeUpsert(spark, pbatch(("d1", "P1", "fromA")), pkeys, order,
      beforePublish = interleaved, partitionCols = pcols,
      onRefilter = () => refilters += 1)
    assert(refilters == 0,
      "a disjoint same-cols overwrite must not force the merge to re-filter")
    assert(n == 1 && keySet2(t) == Seq("d1/P1", "d2/P7"))
  }

  test("differing partition-col scopes prove nothing: the merge must re-filter") {
    val t = table()
    var refilters = 0
    var fired = false
    // interleaved writer scopes by product_id — its partition-set
    // strings can never be compared with a day-scoped writer's
    val interleaved: () => Unit = () => if (!fired) {
      fired = true
      t.mergeUpsert(spark, pbatch(("d9", "P9", "other")), pkeys, order,
        partitionCols = Seq("product_id")); ()
    }
    t.mergeUpsert(spark, pbatch(("d1", "P1", "fromA")), pkeys, order,
      beforePublish = interleaved, partitionCols = pcols,
      onRefilter = () => refilters += 1)
    assert(refilters >= 1,
      "partition sets over different column sets are incomparable")
  }

  test("mixed hammer: concurrent merges and a restating overwriter converge exactly") {
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val t = table()
    // three disjoint-day merge writers, plus one writer repeatedly
    // RESTATING day d9 via overwrite — the mixed production workload
    val merges = (1 to 3).map { w =>
      Future {
        for (b <- 0 until 3) {
          t.mergeUpsert(spark,
            (0 until 8).map(i => (s"d$w", f"K${b * 8 + i}%02d", s"w$w"))
              .toDF("day", "product_id", "product_name"),
            pkeys, order, partitionCols = pcols)
        }
      }
    }
    val restater = Future {
      for (r <- 1 to 4) {
        t.overwritePartitions(spark,
          (0 until r).map(i => ("d9", f"R$i%02d", s"rev$r"))
            .toDF("day", "product_id", "product_name"),
          Seq("day"))
      }
    }
    Await.result(Future.sequence(merges :+ restater), 120.seconds)
    val rows = keySet2(t)
    assert(rows.size == rows.distinct.size, "duplicate keys committed")
    // every merge row landed; d9 holds exactly the LAST restatement
    assert(rows.count(_.startsWith("d9/")) == 4, s"d9 state wrong: $rows")
    assert(rows.size == 3 * 24 + 4)
    val rev = t.readSnapshot(spark).get.where($"day" === "d9")
      .select("product_name").as[String].collect().toSet
    assert(rev == Set("rev4"), s"d9 must hold only the final restatement, got $rev")
  }

  test("overwrite exclusion pushes to the parquet scan as Not(In(day, ...))") {
    val t = table()
    t.append(pbatch(("d1", "P1", "old"), ("d2", "P2", "keep")))
    t.overwritePartitions(spark, pbatch(("d1", "P9", "new")), Seq("day"))
    val plan = t.readSnapshot(spark).get.queryExecution.executedPlan.toString
    // the single-column fast path must reach the data source as a
    // TRANSLATABLE filter so row-group stats can skip replaced
    // partitions — not run as a post-scan expression (Spark renders a
    // 1-value In as Not(EqualTo(day, ...)), wider sets as Not(In(day, ...)))
    assert(plan.matches("(?s).*PushedFilters: \\[[^\\]]*Not\\((?:In|EqualTo)\\(day.*"),
      s"drop exclusion did not push down:\n$plan")
    // and values containing escape characters fall back safely
    t.overwritePartitions(spark, pbatch(("d%3", "P5", "esc")), Seq("day"))
    assert(keySet2(t).contains("d%3/P5"))
    assert(t.readSnapshot(spark).get.count() == 3L)
  }

  /** Every base file entry of `t`'s newest base — one directory per
    * clustered segment ([[TxParquetSink.compactClustered]]). */
  private def baseEntries(t: TxParquetSink): Seq[String] =
    t.commits().filter(_._2.base).last._2.files
      .map(f => java.nio.file.Paths.get(t.dir, f).toString)

  test("z-ordered compaction: snapshot equal, per-file z-ranges pairwise disjoint") {
    import org.apache.spark.sql.functions.{col, max, min}
    val t = table()
    // scatter a 2-D grid across several unclustered commits
    val rows = for (x <- 0 until 16; y <- 0 until 16)
      yield (x.toLong, y.toLong, s"v$x-$y")
    rows.grouped(64).foreach { g =>
      t.append(g.toDF("cx", "cy", "payload"))
    }
    val pre = t.readSnapshot(spark).get.count()
    val v = t.compactClustered(spark, "cx", "cy", curve = "zorder", bits = 8)
    assert(v >= 0 && t.readSnapshot(spark).get.count() == pre,
      "clustered rewrite must not change the snapshot")
    // physical pin: every base file entry covers a z-range disjoint
    // from every other's (range partitioning on the interleave
    // guarantees it)
    val ranges = baseEntries(t).map { p =>
      val zf = spark.read.parquet(p)
        .select(ZOrder.zValue(col("cx"), col("cy"), 8).as("zk"))
        .agg(min("zk"), max("zk")).head()
      (zf.getLong(0), zf.getLong(1))
    }
    assert(ranges.size > 1, "clustered base should hold multiple range files")
    val sorted = ranges.sortBy(_._1)
    sorted.zip(sorted.tail).foreach { case (a, b) =>
      assert(a._2 < b._1, s"z-ranges overlap: $a vs $b")
    }
    // and the log keeps working after the clustered base
    t.append(Seq((99L, 99L, "post")).toDF("cx", "cy", "payload"))
    assert(t.readSnapshot(spark).get.count() == pre + 1)
  }

  test("hilbert compaction: snapshot equal, disjoint key ranges, tighter file boxes than z") {
    import org.apache.spark.sql.functions.{col, min, max}
    // 12 files over a 32x32 grid: segments NOT aligned to power-of-two
    // subsquares — the regime where the curves' locality actually
    // differs (8 files would split both curves into perfect rectangles)
    val rows = for (x <- 0 until 32; y <- 0 until 32)
      yield (x.toLong, y.toLong, s"v$x-$y")
    def load(): TxParquetSink = {
      val t = table()
      rows.grouped(200).foreach(g => t.append(g.toDF("cx", "cy", "payload")))
      t
    }
    def fileBoxes(t: TxParquetSink): Seq[(Long, Long, Long, Long)] =
      baseEntries(t).map { p =>
        val r = spark.read.parquet(p)
          .agg(min("cx"), max("cx"), min("cy"), max("cy")).head()
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      }
    val th = load()
    val pre = th.readSnapshot(spark).get.count()
    assert(th.compactClustered(spark, "cx", "cy", curve = "hilbert",
      bits = 5, numBuckets = 12) >= 0)
    assert(th.readSnapshot(spark).get.count() == pre,
      "clustered rewrite must not change the snapshot")
    // per-file hilbert ranges pairwise disjoint (range partitioning)
    val hk = baseEntries(th).map { p =>
      val r = Hilbert.withHilbert(spark.read.parquet(p),
          col("cx"), col("cy"), "hk", 5)
        .agg(min("hk"), max("hk")).head()
      (r.getLong(0), r.getLong(1))
    }
    assert(hk.size > 1, "clustered base should hold multiple range files")
    val sorted = hk.sortBy(_._1)
    sorted.zip(sorted.tail).foreach { case (a, b) =>
      assert(a._2 < b._1, s"hilbert ranges overlap: $a vs $b")
    }
    // the measured locality claim: total per-file (x, y) bounding-box
    // area is strictly smaller than the z-clustered rewrite's
    val tz = load()
    assert(tz.compactClustered(spark, "cx", "cy", curve = "zorder",
      bits = 5, numBuckets = 12) >= 0)
    def area(bs: Seq[(Long, Long, Long, Long)]): Long =
      bs.map { case (x0, x1, y0, y1) => (x1 - x0 + 1) * (y1 - y0 + 1) }.sum
    val (ha, za) = (area(fileBoxes(th)), area(fileBoxes(tz)))
    assert(ha < za, s"hilbert boxes must be tighter: $ha vs z $za")
  }

  // ---- log truncation (history retention) ---------------------------

  test("truncation forgets pre-base history, keeps the snapshot, and is physical") {
    val t = table()
    t.mergeUpsert(spark, batch("P1" -> "secret"), keys, order)
    t.mergeUpsert(spark, batch("P2" -> "keep"), keys, order)
    // base-less log: truncation refuses (nothing is safely forgettable)
    assert(t.truncateHistory().isEmpty && t.version() == 1L)
    // the GDPR path: overwrite-style restatement via merge is not
    // enough — P1's bytes stay time-travel readable until truncation
    val v = t.compact(spark)
    assert(t.readVersion(spark, 0L).get.count() == 1L, "history readable pre-truncate")
    val removed = t.truncateHistory()
    assert(removed.nonEmpty)
    // snapshot at and after the base is unchanged
    assert(keySet(t) == Seq("P1", "P2") && t.version() == v)
    // pre-base versions are gone — reads below the horizon see the
    // post-base resolution of an empty prefix
    assert(t.readVersion(spark, 0L).isEmpty)
    // PHYSICAL: no data directory outside the base's survives
    val dataDirs = java.nio.file.Files.list(
      java.nio.file.Paths.get(t.dir, "data")).iterator()
    var n = 0
    while (dataDirs.hasNext) { dataDirs.next(); n += 1 }
    assert(n == 1, "only the base's directory may remain")
    // idempotent: a second truncation is a no-op
    assert(t.truncateHistory().isEmpty)
    // and the table keeps working
    assert(t.mergeUpsert(spark, batch("P3" -> "new"), keys, order) == 1)
    assert(keySet(t) == Seq("P1", "P2", "P3"))
  }

  test("truncation never deletes a directory the base still references") {
    // compact() stages a NEW directory, so pre-base dirs are normally
    // all droppable — but a future shallow/incremental base might
    // reference old dirs; pin the reference-counting rule directly on
    // a hand-written manifest pair.
    val t = table()
    t.mergeUpsert(spark, batch("P1" -> "a"), keys, order)
    val shared = t.commits().head._2.files.head
    // hand-publish a base that REUSES the first commit's directory
    val logDir = java.nio.file.Paths.get(t.dir, "_txlog")
    java.nio.file.Files.write(logDir.resolve(f"${1L}%020d.txn"),
      TxLog.renderManifest(
        TxLog.Manifest(1L, Seq(shared), base = true)).getBytes)
    val removed = t.truncateHistory()
    // the version-0 manifest goes; the shared data directory must stay
    assert(removed.exists(_.endsWith(".txn")))
    assert(!removed.exists(_.endsWith(shared.stripPrefix("data/"))))
    assert(keySet(t) == Seq("P1"), "shared directory must survive truncation")
  }

  test("scoped manifest codec round-trips; separator chars cannot forge a tuple") {
    val m = TxLog.Manifest(3L, Seq("data/tx-a"),
      partitions = Some(Set("d1", "d2/x")), partitionCols = Seq("day"))
    assert(TxLog.parseManifest(TxLog.renderManifest(m)) == m)
    val ow = TxLog.Manifest(2L, Seq("data/tx-b"),
      partitions = Some(Set("d1")), partitionCols = Seq("day"),
      replaceCols = Seq("day"),
      replaceKeys = Set(TxParquetSink.sepEncode(Seq("d1"))))
    assert(TxLog.parseManifest(TxLog.renderManifest(ow)) == ow)
    // a value containing the tuple separator encodes differently from a
    // genuine two-column tuple with the same rendered characters
    assert(TxLog.encodePartition(Seq("a/b")) !=
      TxLog.encodePartition(Seq("a", "b")))
    assert(TxLog.encodePartition(Seq("a=b\nc")) // codec-hostile chars
      .forall(c => c != '=' && c != '\n'))
  }

  test("data skipping: range read prunes disjoint commits, keeps the superset contract") {
    val t = table()
    val days = (1 to 30).map(d => (f"2024-01-$d%02d", d.toLong))
    // three commits of ten days each, month-day stats recorded
    days.grouped(10).foreach { g =>
      t.appendWithStats(g.toDF("day", "amount"), Seq("day", "amount"))
    }
    // a narrow range touches exactly one commit
    val narrow = "day >= '2024-01-12' AND day <= '2024-01-14'"
    val (total, skipped) = t.skippingAuditWhere(spark, narrow)
    assert(total == 3 && skipped == 2,
      s"expected 2 of 3 commits skipped, got ($total, $skipped)")
    // the pruned read holds every in-range row, and only those (the
    // read applies the predicate on top of the kept commit)
    val inRange = t.readSnapshotWhere(spark, narrow).get
      .select("day").as[String].collect().sorted
    assert(inRange.toSeq == Seq("2024-01-12", "2024-01-13", "2024-01-14"))
    // numeric stats compare numerically, not lexicographically:
    // amount 9 vs 10 would invert under string compare
    val (t2, s2) = t.skippingAuditWhere(spark, "amount >= 9 AND amount <= 10")
    assert(t2 == 3 && s2 == 2, s"numeric stats compare: ($t2, $s2)")
    // a column with no recorded stats is never pruned
    assert(t.skippingAuditWhere(spark, "absent >= 'a' AND absent <= 'b'") == ((3, 0)))
  }

  /** A TIMESTAMP column committed under two session zones: a UTC
    * commit at 2024-01-01T00:00Z (k = 1) and an America/New_York
    * commit at 02:00Z and 01:00Z (k = 2, 5) — with its scan's extremes
    * in the (UTC) test session. */
  private def twoZoneCommits(): TxParquetSink = {
    val t = table()
    def at(i: String) = java.sql.Timestamp.from(java.time.Instant.parse(i))
    try Seq("UTC" -> Seq((1L, at("2024-01-01T00:00:00Z"))),
        "America/New_York" -> Seq((2L, at("2024-01-01T02:00:00Z")),
          (5L, at("2024-01-01T01:00:00Z")))).foreach { case (zone, rows) =>
      spark.conf.set("spark.sql.session.timeZone", zone)
      t.appendWithStats(rows.toDF("k", "ts"), Seq("k", "ts"))
    } finally spark.conf.set("spark.sql.session.timeZone", "UTC")
    t
  }

  private def scanExtremes(t: TxParquetSink, pred: String): (String, String) = {
    val r = t.readSnapshot(spark).get.where(pred)
      .selectExpr("CAST(min(ts) AS STRING)", "CAST(max(ts) AS STRING)").head()
    (r.getString(0), r.getString(1))
  }

  test("statsAggregate answers count/min/max from manifests alone — zero data reads") {
    val t = table()
    val days = (1 to 30).map(d => (f"2024-01-$d%02d", d.toLong))
    days.grouped(10).foreach { g =>
      t.appendWithStats(g.toDF("day", "amount"), Seq("day", "amount"))
    }
    def snap() = t.statsAggregate(spark, Seq("amount", "day"))
      .as[(String, Long, String, String, String)].collect().toSeq.sortBy(_._1)
    val expected = Seq(
      // numeric fold: "1" < "30" by VALUE ("9" > "10" lexicographically);
      // integral sum folds exactly across commits (55+155+255)
      ("amount", 30L, "1", "30", "465"),
      ("day", 30L, "2024-01-01", "2024-01-30", null))
    assert(snap() == expected)
    // the metadata-only proof: remove every DATA file (keep the log) —
    // a data-reading path dies, the manifest fold answers identically
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(t.dir)
    val walk = java.nio.file.Files.walk(root)
    val victims = try walk.iterator.asScala.toSeq finally walk.close()
    victims.reverseIterator
      .filterNot(p => p.toString.contains("_txlog") || p == root)
      .foreach(java.nio.file.Files.deleteIfExists(_))
    assert(snap() == expected, "statsAggregate must not touch data files")
    assertThrows[Exception](
      t.readSnapshot(spark).get.count()) // the scan path DOES need them
    // soundness: a row-hiding mask refuses the metadata answer
    val t2 = table()
    t2.appendWithStats(Seq(("a", 1L), ("b", 2L)).toDF("day", "amount"),
      Seq("amount"))
    t2.deleteWhere(spark, "day = 'a'")
    assertThrows[IllegalArgumentException](
      t2.statsAggregate(spark, Seq("amount")))
    // and a column with no recorded stats errors instead of guessing
    val t3 = table()
    t3.appendWithStats(Seq(("a", 1L)).toDF("day", "amount"), Seq("amount"))
    assertThrows[IllegalArgumentException](
      t3.statsAggregate(spark, Seq("day")))
    // TIMESTAMP extremes compare as instants whatever zone each writer ran in
    val t4 = twoZoneCommits()
    val (mn, mx) = scanExtremes(t4, "true")
    assert(t4.statsAggregate(spark, Seq("ts"))
      .as[(String, Long, String, String, String)].collect().toSeq ==
      Seq(("ts", 3L, mn, mx, null)))
  }

  test("momentsAggregate: exact AVG/VAR ingredients from manifests alone") {
    val t = table()
    // amount is NULL every 5th day: the moment fold must count and sum
    // only non-null values, exactly as SQL AVG/VAR do
    val days = (1 to 30).map(d =>
      (f"2024-01-$d%02d", if (d % 5 == 0) None else Some(d.toLong)))
    days.grouped(10).foreach { g =>
      t.appendWithStats(g.toDF("day", "amount"), Seq("day", "amount"))
    }
    def snap() = t.momentsAggregate(spark, Seq("amount", "day"))
      .as[(String, Long, String, String, String, String)]
      .collect().toSeq.sortBy(_._1)
    // Σd (d∤5) = 465−105 = 360; Σd² = 9455−2275 = 7180;
    // var_num = 24·7180 − 360² = 42720 — all exact integers
    val expected = Seq(
      ("amount", 30L, "24", "360", "7180", "42720"),
      ("day", 30L, null, null, null, null)) // string column: no moments
    assert(snap() == expected)
    // the metadata-only proof: remove every DATA file (keep the log) —
    // the fold answers identically
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(t.dir)
    val walk = java.nio.file.Files.walk(root)
    val victims = try walk.iterator.asScala.toSeq finally walk.close()
    victims.reverseIterator
      .filterNot(p => p.toString.contains("_txlog") || p == root)
      .foreach(java.nio.file.Files.deleteIfExists(_))
    assert(snap() == expected, "momentsAggregate must not touch data files")
    // a row-hiding mask refuses; a compaction base drops the records —
    // moments go NULL (never wrong), n_rows stays served
    val t2 = table()
    t2.appendWithStats(Seq(("a", 1L), ("b", 2L)).toDF("day", "amount"),
      Seq("amount"))
    t2.deleteWhere(spark, "day = 'a'")
    assertThrows[IllegalArgumentException](
      t2.momentsAggregate(spark, Seq("amount")))
    val t3 = table()
    t3.appendWithStats(Seq(("a", 1L), ("b", 2L)).toDF("day", "amount"),
      Seq("amount"))
    t3.compact(spark)
    assert(t3.momentsAggregate(spark, Seq("amount"))
      .as[(String, Long, String, String, String, String)].collect().toSeq ==
      Seq(("amount", 2L, null, null, null, null)))
  }

  test("momentsAggregateWhere credits interior moments, scans boundaries") {
    val t = table()
    // amount NULL every 5th day — the credited non-null counts must
    // match SQL count(amount) over the predicate's rows
    val days = (1 to 30).map(d =>
      (f"2024-01-$d%02d", if (d % 5 == 0) None else Some(d.toLong)))
    days.grouped(10).foreach { g =>
      t.appendWithStats(g.toDF("day", "amount"), Seq("day", "amount"))
    }
    def agg(pred: String) =
      t.momentsAggregateWhere(spark, Seq("amount"), pred)
        .as[(String, Long, String, String, String, String)]
        .collect().toSeq
    // boundary cut on both sides: days 05..25 → n 21; non-null 16
    // (drops 5,10,15,20,25); Σ = 315−75 = 240; Σ² = (Σ1..25²−Σ1..4²)
    // − (25+100+225+400+625) = (5525−30) − 1375 = 4120;
    // var_num = 16·4120 − 240² = 65920 − 57600 = 8320
    assert(agg("day >= '2024-01-05' AND day <= '2024-01-25'") ==
      Seq(("amount", 21L, "16", "240", "4120", "8320")))
    // interior-only predicate (commit 2 exactly): zero data reads —
    // proven by deleting every data file first
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(t.dir)
    val walk = java.nio.file.Files.walk(root)
    val victims = try walk.iterator.asScala.toSeq finally walk.close()
    victims.reverseIterator
      .filterNot(p => p.toString.contains("_txlog") || p == root)
      .foreach(java.nio.file.Files.deleteIfExists(_))
    // days 11..20: non-null 8 (drops 15,20); Σ = 155−35 = 120;
    // Σ² = (Σ11..20²) − (225+400) = 2485 − 625 = 1860;
    // var_num = 8·1860 − 120² = 14880 − 14400 = 480
    assert(agg("day >= '2024-01-11' AND day <= '2024-01-20'") ==
      Seq(("amount", 10L, "8", "120", "1860", "480")),
      "interior-only moments must come from manifests alone")
  }

  test("readSnapshotWhere derives pruning from the predicate, stays exact") {
    val t = table()
    val days = (1 to 30).map(d => (f"2024-01-$d%02d", d.toLong))
    days.grouped(10).foreach { g =>
      t.appendWithStats(g.toDF("day", "amount"), Seq("day", "amount"))
    }
    def rows(pred: String): Seq[Long] =
      t.readSnapshotWhere(spark, pred).map(
        _.select("amount").as[Long].collect().toSeq.sorted).getOrElse(Nil)
    // string range: middle commit only
    assert(t.skippingAuditWhere(spark,
      "day >= '2024-01-12' AND day <= '2024-01-14'") == ((3, 2)))
    assert(rows("day >= '2024-01-12' AND day <= '2024-01-14'") == Seq(12L, 13L, 14L))
    // numeric bounds compare by VALUE ("30" < "9" lexicographically);
    // strict bounds prune with their closed form — commit2 (max=20) is
    // conservatively kept for `> 20`, correctness unharmed
    assert(t.skippingAuditWhere(spark, "amount > 20") == ((3, 1)))
    assert(rows("amount > 20") == (21L to 30L))
    assert(t.skippingAuditWhere(spark, "amount > 9 AND amount < 11") == ((3, 1)))
    assert(rows("amount > 9 AND amount < 11") == Seq(10L))
    // literal-first spellings flip correctly
    assert(rows("9 < amount AND 11 > amount") == Seq(10L))
    // IN prunes to the union of its members' commits
    assert(t.skippingAuditWhere(spark, "amount IN (5, 25)") == ((3, 1)))
    assert(rows("amount IN (5, 25)") == Seq(5L, 25L))
    // an OR tree derives nothing — zero pruning, still exact
    assert(t.skippingAuditWhere(spark, "amount = 5 OR amount = 25") == ((3, 0)))
    assert(rows("amount = 5 OR amount = 25") == Seq(5L, 25L))
    // type-mismatched conjunct (numeric literal vs string column)
    // contributes no pruning and the residual filter stays exact
    assert(t.skippingAuditWhere(spark, "day > 5") == ((3, 0)))
    // all-pruned read is None, not an error
    assert(t.readSnapshotWhere(spark, "amount > 1000").isEmpty)
  }

  test("readSnapshotWhere bloom probe refuses unproven cast forms") {
    // integral column: equality bloom-prunes (stats prove integral form)
    val t = table()
    Seq(Seq(("a", 10L), ("b", 20L)), Seq(("c", 70L), ("d", 80L))).foreach(g =>
      t.appendWithStats(g.toDF("k", "v"), Seq("v"), bloomCols = Seq("v")))
    // v=70: commit1's range [10,20] excludes it; commit2 kept by range
    // AND its bloom lights up. v=15: in commit1's range, bloom decides.
    assert(t.skippingAuditWhere(spark, "v = 70") == ((2, 1)))
    assert(t.readSnapshotWhere(spark, "v = 70").get.count() == 1)
    val (_, skBloom) = t.skippingAuditWhere(spark, "v = 15")
    assert(skBloom >= 1, "bloom must prune the absent-but-in-range key")
    assert(t.readSnapshotWhere(spark, "v = 15").map(_.count()).getOrElse(0L) == 0)
    // DOUBLE column stores "5.0": probing `= 5`'s "5" would wrongly
    // prune — the derivation must refuse the bloom and keep the file
    val td = table()
    td.appendWithStats(Seq(("a", 5.0), ("b", 6.5)).toDF("k", "v"),
      Seq("v"), bloomCols = Seq("v"))
    assert(td.skippingAuditWhere(spark, "v = 5") == ((1, 0)))
    assert(td.readSnapshotWhere(spark, "v = 5").get.count() == 1)
    // typed literals (DATE) render internally — never pruned on
    val tt = table()
    tt.appendWithStats(Seq(("2024-01-05", 1L)).toDF("day", "amount"),
      Seq("day"))
    assert(tt.skippingAuditWhere(spark, "day = DATE '2024-01-05'") == ((1, 0)))
  }

  test("bloom probes without stats are proven safe by the manifest's recorded schema") {
    // bloom-only columns (no stats): a LONG key and a DOUBLE measure
    val t = table()
    Seq(1L to 50L, 51L to 100L, 101L to 150L).foreach { ks =>
      t.appendWithStats(ks.map(k => (k, k.toDouble, s"v$k")).toDF("k", "d", "payload"),
        Nil, bloomCols = Seq("k", "d"))
    }
    val ms = t.commits().map(_._2)
    assert(ms.forall(m => m.stats.isEmpty && m.schema.isDefined))
    // LONG column + integral literal: the recorded type proves the cast
    // form, so `k = 75` skips exactly the commits whose bloom rules the
    // key out — the per-commit bloom probe, now reached from SQL
    val bloomMiss = ms.count(m => !TxParquetSink.mightContain(m.blooms("k"), "75"))
    assert(bloomMiss >= 1)
    assert(t.skippingAuditWhere(spark, "k = 75") == ((3, bloomMiss)))
    assert(t.readSnapshotWhere(spark, "k = 75").get
      .select("payload").as[String].collect().toSeq == Seq("v75"))
    // DOUBLE column stores "5.0": `d = 5` must not probe with "5"
    assert(t.skippingAuditWhere(spark, "d = 5") == ((3, 0)))
    assert(t.readSnapshotWhere(spark, "d = 5").get.count() == 1L)
    // a manifest without a recorded schema proves nothing: every file is read
    val legacy = table()
    val logDir = java.nio.file.Paths.get(legacy.dir, "_txlog")
    Files.createDirectories(logDir)
    t.commits().foreach { case (v, m) =>
      Files.write(logDir.resolve(f"$v%020d.txn"), TxLog.renderManifest(
        m.copy(files = m.files.map(f => java.nio.file.Paths.get(t.dir, f).toString),
          schema = None)).getBytes)
    }
    assert(legacy.skippingAuditWhere(spark, "k = 75") == ((3, 0)))
    assert(legacy.readSnapshotWhere(spark, "k = 75").get
      .select("payload").as[String].collect().toSeq == Seq("v75"))
  }

  test("a string literal prunes only a column the recorded schema proves STRING") {
    // Spark casts a string literal to a DATE/TIMESTAMP column's type
    // before comparing, so the cast-to-string stats ("2024-01-01",
    // "2024-01-01 00:00:00") cannot judge '2024-1-1' or '2024-01-01'
    // as strings: such files are kept and never credited Full
    val t = table()
    Seq(("2024-01-01", "a"), ("2024-01-05", "b")).foreach { case (day, tag) =>
      t.appendWithStats(
        Seq((java.sql.Timestamp.from(java.time.Instant.parse(s"${day}T00:00:00Z")),
          java.sql.Date.valueOf(day), tag)).toDF("ts", "d", "tag"),
        Seq("ts", "d", "tag"), bloomCols = Seq("ts", "d", "tag"))
    }
    def unpruned(p: String) = t.readSnapshot(spark).get.where(p).count()
    Seq("ts <= '2024-01-01'", "ts = '2024-01-01'", "d = '2024-1-1'",
      "d IN ('2024-1-5')", "d <= '2024-1-1'", "tag = 'b'").foreach { p =>
      assert(unpruned(p) == 1L, s"fixture: '$p' matches one row")
      assert(t.readSnapshotWhere(spark, p).map(_.count()).getOrElse(0L) == 1L, p)
      assert(t.countWhere(spark, p) == 1L, p)
    }
    // the STRING column still prunes and credits from its stats
    assert(t.skippingAuditWhere(spark, "tag = 'b'") == ((2, 1)))
    assert(t.countWhereAudit(spark, "tag = 'b'") == ((1L, 1, 0, 1)))
    assert(t.skippingAuditWhere(spark, "d = '2024-1-1'") == ((2, 0)))
  }

  test("countWhere credits full files from manifests, scans only boundaries") {
    val t = table()
    (1 to 30).map(d => (f"2024-01-$d%02d", d.toLong)).grouped(10).foreach(g =>
      t.appendWithStats(g.toDF("day", "amount"), Seq("day", "amount")))
    // [11, 30]: commit1 excluded, commits 2+3 FULL — zero boundary reads
    assert(t.countWhereAudit(spark, "amount >= 11 AND amount <= 30") ==
      ((20L, 2, 0, 1)))
    // strict bound: `> 10` is full for commit2 (min=11 > 10) while
    // commit1 (max=10) survives the CLOSED-form prune as a boundary
    // scan of zero matches; `> 11` is NOT full for commit2 (min=11
    // fails the strict test) — boundary, still exact
    assert(t.countWhereAudit(spark, "amount > 10 AND amount <= 30") ==
      ((20L, 2, 1, 0)))
    assert(t.countWhereAudit(spark, "amount > 11 AND amount <= 30") ==
      ((19L, 1, 1, 1)))
    // an OR conjunct kills completeness: same count, no full credit
    assert(t.countWhereAudit(spark,
      "amount >= 11 AND amount <= 30 AND (amount > 0 OR day = '')") ==
      ((20L, 0, 2, 1)))
    // equality: only a constant file can be full — boundary here
    val (nEq, fEq, _, _) = t.countWhereAudit(spark, "amount = 15")
    assert(nEq == 1L && fEq == 0)

    // NULLs: min/max ignore them, so full credit requires the recorded
    // zero null count — a committed null demotes to boundary and the
    // count stays exact (NULL fails the comparison)
    val tn = table()
    tn.appendWithStats(Seq(("a", Some(1L)), ("b", None), ("c", Some(3L)))
      .toDF("day", "amount"), Seq("amount"))
    assert(tn.countWhereAudit(spark, "amount >= 1 AND amount <= 3") ==
      ((2L, 0, 1, 0)))

    // a later deleteWhere hides rows: full credit withdrawn for prior
    // commits (they scan through the mask), count reflects the delete
    t.deleteWhere(spark, "amount = 25")
    assert(t.countWhere(spark, "amount >= 11 AND amount <= 30") == 19L)
    val (_, fMasked, _, _) =
      t.countWhereAudit(spark, "amount >= 11 AND amount <= 30")
    assert(fMasked == 0, "masked commits must not take manifest credit")

    // multi-file compaction base: exact per-file rows unknown — bounded
    // to boundary scans, count still exact post-OPTIMIZE
    val tc = table()
    (1 to 30).map(d => (f"2024-01-$d%02d", d.toLong)).grouped(10).foreach(g =>
      tc.appendWithStats(g.toDF("day", "amount"), Seq("day", "amount")))
    tc.compactRanged(spark, "amount", numBuckets = 3)
    val (nC, fC, _, _) = tc.countWhereAudit(spark, "amount >= 11 AND amount <= 30")
    assert(nC == 20L && fC == 0)
  }

  test("compactClustered: per-segment boxes prune 2-D predicates, countWhere credits interiors") {
    val t = table()
    val rows = for (x <- 0 until 32; y <- 0 until 32)
      yield (x.toLong, y.toLong, s"v$x-$y")
    rows.grouped(200).foreach(g => t.append(g.toDF("cx", "cy", "payload")))
    val pre = t.readSnapshot(spark).get.count()
    assert(t.compactClustered(spark, "cx", "cy",
      curve = "hilbert", bits = 5, numBuckets = 12) >= 0)
    assert(t.readSnapshot(spark).get.count() == pre,
      "clustered rewrite must not change the snapshot")
    val base = t.commits().filter(_._2.base).last._2
    assert(base.files.size > 1 && base.fileRows.values.sum == pre,
      "per-segment rows must be recorded and sum to the table")
    assert(base.nullCounts == Map("cx" -> 0L, "cy" -> 0L))
    // a small box prunes most segments from metadata alone
    val box = "cx >= 2 AND cx <= 9 AND cy >= 2 AND cy <= 9"
    val (total, skipped) = t.skippingAuditWhere(spark, box)
    assert(total == base.files.size && skipped >= total / 2,
      s"hilbert boxes should exclude most segments: ($total, $skipped)")
    assert(t.readSnapshotWhere(spark, box).get.count() == 64L)
    // a big box: interior segments credited from frows, never read
    val big = "cx >= 0 AND cx <= 31 AND cy >= 0 AND cy <= 15"
    val (n, full, boundary, _) = t.countWhereAudit(spark, big)
    assert(n == 512L, s"boundary-exact count wrong: $n")
    assert(full >= 1, s"interior segments must take manifest credit ($full full, $boundary boundary)")
    // the whole space: every segment is interior — zero data reads
    assert(t.countWhereAudit(spark,
      "cx >= 0 AND cx <= 31 AND cy >= 0 AND cy <= 31") ==
      ((1024L, base.files.size, 0, 0)))
    // the clustered base carries commit-level folds: the zero-I/O
    // statsAggregate keeps answering AFTER this OPTIMIZE (each cx
    // appears 32 times: sum = 32·(0+…+31) = 15872)
    assert(t.statsAggregate(spark, Seq("cx"))
      .as[(String, Long, String, String, String)].collect().toSeq ==
      Seq(("cx", 1024L, "0", "31", "15872")))
    // per-segment fsum= records: the half-space SUM combines interior
    // segments' credited sums with the boundary scans (16·496 = 7936)
    val half = t.statsAggregateWhere(spark, Seq("cx"), big)
      .as[(String, Long, String, String, String)].collect().head
    assert(half == (("cx", 512L, "0", "31", "7936")), half.toString)
    // the base carries the SECOND moment too: momentsAggregate keeps
    // answering after OPTIMIZE (Σcx² = 32·10416 = 333312,
    // var_num = 1024·333312 − 15872² = 89391104)
    assert(t.momentsAggregate(spark, Seq("cx"))
      .as[(String, Long, String, String, String, String)].collect().toSeq ==
      Seq(("cx", 1024L, "1024", "15872", "333312", "89391104")))
  }

  test("statsAggregateWhere combines manifest extremes with boundary scans") {
    val t = table()
    (1 to 30).map(d => (f"2024-01-$d%02d", d.toLong)).grouped(10).foreach(g =>
      t.appendWithStats(g.toDF("day", "amount"), Seq("day", "amount")))
    def agg(pred: String, cols: Seq[String] = Seq("amount")) =
      t.statsAggregateWhere(spark, cols, pred)
        .as[(String, Long, String, String, String)].collect().toSeq.sortBy(_._1)
    // boundary cut on both sides: min/max/sum combine the boundary
    // scans (5..10 and 21..28) with commit2's manifest records
    assert(agg("amount >= 5 AND amount <= 28") ==
      Seq(("amount", 24L, "5", "28", "396")))
    // interior-only predicate: extremes AND sum from manifests alone —
    // proven by deleting every data file and asking again
    assert(agg("amount >= 11 AND amount <= 30") ==
      Seq(("amount", 20L, "11", "30", "410")))
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(t.dir)
    val walk = java.nio.file.Files.walk(root)
    val victims = try walk.iterator.asScala.toSeq finally walk.close()
    victims.reverseIterator
      .filterNot(p => p.toString.contains("_txlog") || p == root)
      .foreach(java.nio.file.Files.deleteIfExists(_))
    assert(agg("amount >= 11 AND amount <= 30", Seq("amount", "day")) ==
      Seq(("amount", 20L, "11", "30", "410"),
        ("day", 20L, "2024-01-11", "2024-01-30", null)),
      "interior aggregate must not touch data files")
    // all excluded: zero count, NULL extremes (the SQL empty-agg shape)
    val t2 = table()
    t2.appendWithStats(Seq(("a", 1L)).toDF("day", "amount"), Seq("amount"))
    val r = t2.statsAggregateWhere(spark, Seq("amount"), "amount > 99")
      .collect().head
    assert(r.getLong(1) == 0L && r.isNullAt(2) && r.isNullAt(3) && r.isNullAt(4))
    // two-zone TIMESTAMP commits: both Full (k >= 1), and the
    // New_York commit on the boundary (k <= 4)
    val t3 = twoZoneCommits()
    Seq("k >= 1" -> 3L, "k <= 4" -> 2L).foreach { case (pred, n) =>
      val (mn, mx) = scanExtremes(t3, pred)
      assert(t3.statsAggregateWhere(spark, Seq("ts"), pred)
        .as[(String, Long, String, String, String)].collect().toSeq ==
        Seq(("ts", n, mn, mx, null)), pred)
    }
  }

  test("data skipping: a pruned overwrite still masks earlier commits") {
    val t = table()
    t.appendWithStats(Seq(("2024-01-01", 1L), ("2024-01-02", 2L))
      .toDF("day", "amount"), Seq("day"))
    t.appendWithStats(Seq(("2024-02-01", 3L)).toDF("day", "amount"), Seq("day"))
    // restate day 2 (overwrite commits carry no stats — always read)
    t.overwritePartitions(spark,
      Seq(("2024-01-02", 20L)).toDF("day", "amount"), Seq("day"))
    // range read over January: the February commit is skipped, the
    // overwrite's mask still applies to the kept January commit
    val january = "day >= '2024-01-01' AND day <= '2024-01-31'"
    val (total, skipped) = t.skippingAuditWhere(spark, january)
    assert(total == 3 && skipped == 1)
    val jan = t.readSnapshotWhere(spark, january).get
      .select("day", "amount").as[(String, Long)].collect().sorted
    assert(jan.toSeq == Seq(("2024-01-01", 1L), ("2024-01-02", 20L)),
      s"pruned read must apply the overwrite mask: ${jan.toSeq}")
    // plain appends (no stats) round-trip through the manifest codec
    val m = TxLog.Manifest(1, Seq("data/x"),
      stats = Map("day" -> TxLog.ColStats(num = false, "a", "b"),
        "amount" -> TxLog.ColStats(num = true, "1", "2")))
    assert(TxLog.parseManifest(TxLog.renderManifest(m)) == m)
  }

  test("bloom skipping: point lookup prunes commits the key never landed in, never loses a row") {
    val t = table()
    // three commits with disjoint key populations
    val commitsKeys = Seq(1L to 50L, 51L to 100L, 101L to 150L)
    commitsKeys.foreach { ks =>
      t.appendWithStats(ks.map(k => (k, s"v$k")).toDF("k", "payload"),
        Nil, bloomCols = Seq("k"))
    }
    // a key from the middle commit: the other two are provably absent
    // (modulo the ~2% per-commit false-positive rate — with 3 commits
    // the chance of ANY false positive here is ~4%, so assert >= 1
    // skipped and exact row recovery, not an exact skip count)
    val (total, skipped) = t.skippingAuditWhere(spark, "k = 75")
    assert(total == 3 && skipped >= 1, s"bloom never fired: ($total, $skipped)")
    val rows = t.readSnapshotWhere(spark, "k = 75").get
      .select("payload").as[String].collect().toSeq
    assert(rows == Seq("v75"))
    // every present key is found through the pruned path (no false negatives)
    val probes = Seq(1L, 50L, 51L, 100L, 101L, 150L)
    probes.foreach { k =>
      val got = t.readSnapshotWhere(spark, s"k = $k").get.count()
      assert(got == 1L, s"bloom path lost key $k")
    }
    // an absent key may be skipped everywhere — the read is then empty
    val (_, skAbsent) = t.skippingAuditWhere(spark, "k = 999999")
    assert(skAbsent >= 2, "absent key should prune nearly every commit")
    // bloom manifest codec round-trips
    val m = TxLog.Manifest(1, Seq("data/y"),
      blooms = Map("k" -> TxLog.BloomBits(8192, 6, "AAEC_w")))
    assert(TxLog.parseManifest(TxLog.renderManifest(m)) == m)
  }

  test("ranged compaction: skipping survives the base rewrite; vacuum spares the bucketed root") {
    val t = table()
    val days = (1 to 30).map(d => (f"2024-01-$d%02d", d.toLong))
    days.grouped(10).foreach { g =>
      t.appendWithStats(g.toDF("day", "amount"), Seq("day"))
    }
    val before = t.readSnapshot(spark).get
      .select("day", "amount").as[(String, Long)].collect().sorted.toSeq
    val baseV = t.compactRanged(spark, "day", numBuckets = 3)
    assert(baseV == 3L)
    // snapshot is bit-unchanged across the rewrite
    val after = t.readSnapshot(spark).get
      .select("day", "amount").as[(String, Long)].collect().sorted.toSeq
    assert(after == before)
    // the base's per-file stats prune buckets exactly as the original
    // commits pruned: a narrow range skips 2 of 3 bucket dirs
    val narrow = "day >= '2024-01-12' AND day <= '2024-01-14'"
    val (total, skipped) = t.skippingAuditWhere(spark, narrow)
    assert(total == 3 && skipped == 2,
      s"post-compaction skipping: ($total, $skipped)")
    val pruned = t.readSnapshotWhere(spark, narrow).get
      .select("day").as[String].collect().sorted
    assert(pruned.toSeq == Seq("2024-01-12", "2024-01-13", "2024-01-14"))
    // buckets are genuinely disjoint day ranges (range partitioning)
    val manifest = t.commits().last._2
    assert(manifest.base && manifest.files.size == 3)
    val ranges = manifest.files.map(f => manifest.fileStats(f)("day"))
      .map(s => (s.min, s.max)).sortBy(_._1)
    ranges.sliding(2).foreach { case Seq(a, b) => assert(a._2 < b._1); case _ => }
    // vacuum (TTL 0) must NOT delete the bucketed base root — its
    // manifest references subdirectories, not the root itself
    t.vacuumOrphans(minAgeMs = 0L)
    assert(t.readSnapshot(spark).get.count() == 30L,
      "vacuum deleted live bucketed data")
    // time travel to a pre-base version still reads the old commits
    assert(t.readVersion(spark, 1L).get.count() == 20L)
  }

  test("ranged compaction rebuilds per-file blooms: point skipping survives OPTIMIZE") {
    val t = table()
    // keys cluster by range: compaction on k gives each bucket a
    // disjoint key population, so per-bucket blooms genuinely prune
    t.appendWithStats((1L to 90L).map(k => (k, s"v$k")).toDF("k", "payload"),
      Nil, bloomCols = Seq("k"))
    t.compactRanged(spark, "k", numBuckets = 3, bloomCols = Seq("k"))
    val (total, skipped) = t.skippingAuditWhere(spark, "k = 45")
    assert(total == 3 && skipped >= 1,
      s"post-compaction bloom never fired: ($total, $skipped)")
    // no false negatives through the compacted bloom path
    Seq(1L, 45L, 90L).foreach { k =>
      val got = t.readSnapshotWhere(spark, s"k = $k").get.count()
      assert(got == 1L, s"compacted bloom path lost key $k")
    }
    // file-level blooms round-trip the codec
    val m = t.commits().last._2
    assert(m.base && m.fileBlooms.nonEmpty)
    assert(TxLog.parseManifest(TxLog.renderManifest(m)) == m)
  }

  // ---- round-9 regressions ------------------------------------------

  test("merge delta is computed by version: truncation mid-retry cannot hide a conflict") {
    // Writer A stages {B, D} against a snapshot of {A}. Inside A's
    // commit window, writer B lands {B, C}, the log is COMPACTED, and
    // truncateHistory deletes the pre-base manifests — so A's retry
    // sees a SHORTER commit list than its snapshot. A positional
    // delta (drop(snap.size)) would come up empty, skip the key
    // re-filter, and commit a duplicate B; the version-based delta
    // must still catch the conflict via the surviving base commit.
    val t = table()
    t.mergeUpsert(spark, batch("A" -> "a0"), keys, order)
    var fired = false
    val interleaved: () => Unit = () => if (!fired) {
      fired = true
      assert(t.mergeUpsert(spark, batch("B" -> "fromB", "C" -> "fromB"), keys, order) == 2)
      assert(t.compact(spark) >= 0)
      assert(t.truncateHistory().nonEmpty, "truncation must actually shrink the log")
    }
    val nA = t.mergeUpsert(spark, batch("B" -> "fromA", "D" -> "fromA"),
      keys, order, beforePublish = interleaved)
    assert(nA == 1, "writer A must insert only the non-conflicting key D")
    assert(keySet(t) == Seq("A", "B", "C", "D"))
    val bVal = t.readSnapshot(spark).get.where($"product_id" === "B")
      .select("product_name").as[String].collect().toSeq
    assert(bVal == Seq("fromB"),
      "truncation between snapshot and retry must not let the loser duplicate B")
  }

  test("overwrite of the NULL partition never deletes the \"null\"-string partition") {
    import org.apache.spark.sql.functions.{col, lit}
    val t = table()
    t.append(Seq((Option.empty[String], "P1", "isNull"),
        (Some("null"), "P2", "isNullString"),
        (Some("x"), "P3", "plain"))
      .toDF("day", "product_id", "product_name"))
    // replace ONLY the NULL partition
    val n = t.overwritePartitions(spark,
      Seq((Option.empty[String], "P9", "newNull")).toDF("day", "product_id", "product_name"),
      Seq("day"))
    assert(n == 1)
    val after = t.readSnapshot(spark).get
    assert(after.count() == 3L)
    assert(after.where(col("product_id") === "P1").isEmpty, "NULL partition replaced")
    assert(after.where(col("product_id") === "P2").count() == 1L,
      "the literal-string \"null\" partition must survive a NULL overwrite")
    assert(after.where(col("day").isNull).select("product_name")
      .as[String].collect().toSeq == Seq("newNull"))
    // and the mirror image: replacing the "null"-string partition
    // leaves the (new) NULL rows alone
    t.overwritePartitions(spark,
      Seq((Some("null"), "P8", "newNullString")).toDF("day", "product_id", "product_name"),
      Seq("day"))
    val after2 = t.readSnapshot(spark).get
    assert(after2.count() == 3L)
    assert(after2.where(col("product_id") === "P2").isEmpty)
    assert(after2.where(col("day").isNull).count() == 1L,
      "NULL rows must survive a \"null\"-string overwrite")
    assert(after2.where(col("product_id") === "P8").count() == 1L)
  }

  test("base pointer bounds resolution: snapshot reads never parse pre-base manifests") {
    val t = table()
    t.mergeUpsert(spark, batch("P1" -> "a"), keys, order)
    t.mergeUpsert(spark, batch("P2" -> "b"), keys, order)
    assert(t.compact(spark) == 2L)
    t.mergeUpsert(spark, batch("P3" -> "c"), keys, order)
    val logDir = java.nio.file.Paths.get(t.dir, "_txlog")
    assert(java.nio.file.Files.exists(logDir.resolve("_last_base")),
      "compaction must publish the newest-base pointer")
    // corrupt a PRE-BASE manifest, then simulate a PROCESS RESTART
    // (cold log cache): resolution that parses it would throw, so a
    // clean snapshot read PROVES the pointer-guided suffix parse reads
    // only post-base manifests even with nothing memoized
    java.nio.file.Files.write(logDir.resolve(f"${0L}%020d.txn"),
      "garbage, not a manifest".getBytes)
    TxParquetSink.logCache.clear(); TxParquetSink.parsedLogs.clear()
    assert(keySet(t) == Seq("P1", "P2", "P3"))
    assert(t.version() == 3L)
    assert(t.mergeUpsert(spark, batch("P4" -> "d"), keys, order) == 1,
      "the merge path must also resolve through the pointer")
    // control: WITHOUT the pointer, a cold resolution falls back to
    // the full listing and hits the corrupt manifest — the suffix
    // parse above wasn't accidentally reading everything
    java.nio.file.Files.delete(logDir.resolve("_last_base"))
    TxParquetSink.logCache.clear(); TxParquetSink.parsedLogs.clear()
    intercept[Exception] { t.readSnapshot(spark).get.count() }
    // restore the manifest: full-listing resolution works again and
    // sees the same table
    java.nio.file.Files.write(logDir.resolve(f"${0L}%020d.txn"),
      TxLog.renderManifest(TxLog.Manifest(0L, Nil)).getBytes)
    assert(keySet(t) == Seq("P1", "P2", "P3", "P4"))
  }

  test("a table deleted and recreated at the same path is never served the dead table\'s log") {
    // second-review finding: a name(-and-even-size) validator cannot
    // tell reincarnations apart when the recreated manifests are
    // byte-length-identical (parquet part names are fixed-width
    // UUIDs); the log directory inode fingerprint can.
    val t = table()
    t.mergeUpsert(spark, batch("P1" -> "a"), keys, order)
    assert(keySet(t) == Seq("P1"))
    val deadFiles = t.commits().flatMap(_._2.files)
    // reincarnate: same path, same shape, same manifest byte sizes
    val root = java.nio.file.Paths.get(t.dir)
    def rmTree(p: java.nio.file.Path): Unit = {
      val w = java.nio.file.Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        w.sorted(java.util.Comparator.reverseOrder())
          .iterator().asScala.foreach(java.nio.file.Files.deleteIfExists(_))
      } finally w.close()
    }
    rmTree(root)
    val t2 = TxParquetSink(t.dir)
    t2.mergeUpsert(spark, batch("P2" -> "b"), keys, order)
    // NO manual cache clearing: the fresh lifecycle must be seen
    assert(keySet(t2) == Seq("P2"),
      "the reincarnated table must read its OWN data, not the dead log's")
    assert(t2.commits().flatMap(_._2.files).toSet.intersect(deadFiles.toSet)
      != deadFiles.toSet || deadFiles.isEmpty,
      "sanity: the new lifecycle wrote its own files")
  }

  test("log snapshot cache: repeated metadata reads against an unchanged table parse the log once") {
    // round-11 "What's missing #3": each optimization against a
    // tx-table scan re-read version/commits/restatedBetween/
    // the column profile from disk — per-plan driver I/O at dashboard
    // QPS. The counted-I/O contract: N reads, ONE parse per manifest.
    val t = table()
    t.appendWithStats(batch("P1" -> "a"), statsCols = Seq("product_id"))
    t.appendWithStats(batch("P2" -> "b"), statsCols = Seq("product_id"))
    t.readSnapshot(spark).get.count() // warm the cache
    val before = TxParquetSink.manifestParses.get()
    val buildsBefore = TxParquetSink.relationBuilds.get()
    (1 to 20).foreach { _ =>
      assert(t.version() == 1L)
      assert(t.commits().size == 2)
      assert(!t.restatedBetween(0L, 1L))
      assert(!t.maskedBetween(0L, 1L))
      assert(t.metaProfile(spark, None, Nil, Seq("product_id"))
        .exists(_.head._3.contains("product_id")))
      t.readSnapshot(spark).get // plan-time resolution, no job needed
    }
    assert(TxParquetSink.manifestParses.get() === before,
      "120 metadata reads against an unchanged log must parse nothing")
    // the round-13 extension: the RESOLVED RELATION is memoized too —
    // repeated snapshot reads of an unchanged table must not re-list
    // or re-read parquet footers (relation construction dominated
    // plan time once manifest parses were cached)
    assert(TxParquetSink.relationBuilds.get() === buildsBefore,
      "20 snapshot reads against an unchanged log must build nothing")
    // a new commit invalidates by NAME: only the new manifest parses
    t.append(batch("P3" -> "c"))
    t.version(); t.commits()
    val afterCommit = TxParquetSink.manifestParses.get()
    assert(afterCommit - before <= 2,
      s"a post-commit re-resolution must parse O(new commits), " +
        s"parsed ${afterCommit - before}")
    // and the post-commit snapshot re-resolves through a FRESH relation
    val b2 = TxParquetSink.relationBuilds.get()
    assert(t.readSnapshot(spark).get.count() === 3L)
    assert(TxParquetSink.relationBuilds.get() > b2,
      "a new commit must invalidate the cached relation")
    // and a foreign (cross-process-shaped) log change is SEEN: delete
    // the newest manifest out from under the cache
    java.nio.file.Files.delete(java.nio.file.Paths.get(
      t.dir, "_txlog", f"${2L}%020d.txn"))
    assert(t.version() == 1L,
      "a name-set change must invalidate the snapshot immediately")
  }

  test("NaN/Infinity float stats never poison range reads") {
    import org.apache.spark.sql.functions.col
    val t = table()
    // a float column whose min/max propagate NaN: the stats entry must
    // be skipped at write time, and the range read must stay correct
    t.appendWithStats(
      Seq(("2024-01-01", Double.NaN), ("2024-01-02", 2.5))
        .toDF("day", "score"), Seq("day", "score"))
    t.appendWithStats(
      Seq(("2024-02-01", Double.PositiveInfinity), ("2024-02-02", 7.0))
        .toDF("day", "score"), Seq("day", "score"))
    // no throw, superset contract intact: both commits are read and
    // the predicate keeps exactly the finite in-range rows
    val score = "score >= 2 AND score <= 8"
    assert(t.skippingAuditWhere(spark, score) == ((2, 0)),
      "non-finite stats must mean conservative keep, not a skip")
    assert(t.readSnapshotWhere(spark, score).get.count() == 2L)
    // the day column's (clean, string) stats still prune as before
    val (total, skipped) =
      t.skippingAuditWhere(spark, "day >= '2024-02-01' AND day <= '2024-02-28'")
    assert(total == 2 && skipped == 1)
    // a legacy manifest that DID record "NaN" stats: conservative keep, no throw
    assert(!TxParquetSink.boundDisjoint(
      TxLog.ColStats(num = true, "NaN", "NaN"), Some("1"), Some("2")))
    assert(!TxParquetSink.boundDisjoint(
      TxLog.ColStats(num = true, "-Infinity", "Infinity"), Some("1"), Some("2")))
  }

  test("deleteWhere: O(1) metadata commit hides matches; later appends unaffected") {
    val t = table()
    assert(t.deleteWhere(spark, "product_id = 'B'") == -1L) // empty table: no-op
    t.append(batch("A" -> "a", "B" -> "b", "C" -> "c"))
    val v = t.deleteWhere(spark, "product_id = 'B'")
    assert(v == 1L)
    // the delete commit carries NO data: zero rows, zero files
    val m = t.commits().find(_._1 == v).get._2
    assert(m.rows == 0 && m.files.isEmpty && m.deletePred.contains("product_id = 'B'"))
    assert(keySet(t) == Seq("A", "C"))
    // a row appended AFTER the delete is untouched even though it matches
    t.append(batch("B" -> "reborn"))
    assert(keySet(t) == Seq("A", "B", "C"))
    val name = t.readSnapshot(spark).get.where($"product_id" === "B")
      .select("product_name").as[String].collect().toSeq
    assert(name == Seq("reborn"))
    // SQL DELETE semantics: a NULL predicate evaluation KEEPS the row
    val t2 = table()
    t2.append(Seq(("N1", null), ("N2", "zzz")).toDF("product_id", "product_name"))
    t2.deleteWhere(spark, "product_name < 'a'")
    assert(keySet(t2) == Seq("N1", "N2"), "NULL comparison must keep, not delete")
    // commit-time validation: an unresolvable predicate never reaches the log
    intercept[Exception] { t2.deleteWhere(spark, "no_such_column = 1") }
    intercept[Exception] { t2.deleteWhere(spark, "product_id") } // non-boolean
    assert(t2.version() == 1L, "a rejected predicate must not have committed")
  }

  test("deleteWhere: time travel intact; compact materializes; truncate is physical") {
    val t = table()
    t.append(batch("A" -> "a", "B" -> "b"))
    t.append(batch("C" -> "c"))
    val vBefore = t.version()
    t.deleteWhere(spark, "product_id = 'B'")
    // pre-delete versions still read the deleted row
    assert(t.readVersion(spark, vBefore).get.count() == 3)
    assert(keySet(t) == Seq("A", "C"))
    // compact: the base MATERIALIZES the mask — no predicate survives
    // into the effective log, and the base's files physically lack B
    t.compact(spark)
    assert(keySet(t) == Seq("A", "C"))
    val baseM = t.resolvedCommits().map(_._2)
    assert(baseM.forall(_.deletePred.isEmpty))
    val baseFiles = baseM.flatMap(_.files)
      .map(f => java.nio.file.Paths.get(t.dir).resolve(f).toString)
    val physical = spark.read.parquet(baseFiles: _*)
      .select("product_id").as[String].collect().toSeq.sorted
    assert(physical == Seq("A", "C"), "compaction must rewrite the mask physically")
    // truncation then forgets the pre-base bytes entirely
    assert(t.truncateHistory().nonEmpty)
    assert(keySet(t) == Seq("A", "C"))
  }

  test("change feed reconstructs every commit's row-level effect; replay converges") {
    import org.apache.spark.sql.functions.col
    def dayBatch(rows: (String, String, String)*) =
      rows.toDF("day", "product_id", "product_name")
    val t = table()
    t.append(dayBatch(("d1", "A", "a"), ("d1", "B", "b")))
    t.append(dayBatch(("d2", "C", "c")))
    t.overwritePartitions(spark, dayBatch(("d1", "A", "a2")), Seq("day"))
    t.deleteWhere(spark, "product_id = 'C'")
    val tip = t.version()
    val feed = t.changesBetween(spark, -1L, tip).get
      .select(col("_version").as[Long], col("_change_type").as[String],
        col("product_id").as[String], col("product_name").as[String])
      .collect().toSeq.sortBy(r => (r._1, r._2, r._3))
    // v0: I{A,B}; v1: I{C}; v2 overwrite d1: D{A,B} I{A(a2)}; v3 delete: D{C}
    assert(feed.map(r => (r._1, r._2, r._3)) == Seq(
      (0L, "I", "A"), (0L, "I", "B"), (1L, "I", "C"),
      (2L, "D", "A"), (2L, "D", "B"), (2L, "I", "A"), (3L, "D", "C")))
    assert(feed.collect { case (2L, "I", "A", n) => n } == Seq("a2"))
    // replay invariant: folding the feed over the empty table reproduces
    // the final snapshot (keys are unique per version here)
    val replayed = feed.groupBy(_._1).toSeq.sortBy(_._1)
      .foldLeft(Map.empty[String, String]) { case (state, (_, evs)) =>
        val afterD = evs.filter(_._2 == "D").map(_._3)
          .foldLeft(state)(_ - _)
        evs.filter(_._2 == "I").foldLeft(afterD)((s, e) => s + (e._3 -> e._4))
      }
    val snap = t.readSnapshot(spark)
      .get.select("product_id", "product_name").as[(String, String)]
      .collect().toMap
    assert(replayed == snap)
    // a partial range feeds only its commits
    assert(t.changesBetween(spark, tip - 1, tip).get
      .select(col("_change_type").as[String]).collect().toSeq == Seq("D"))
    // a compaction base changes no logical row: the feed over it is empty
    t.compact(spark)
    assert(t.changesBetween(spark, tip, t.version()).isEmpty)
    // below the truncation horizon the feed REFUSES (it would be
    // silently incomplete) instead of feeding a partial history
    t.truncateHistory()
    intercept[IllegalArgumentException] { t.changesBetween(spark, -1L, t.version()) }
  }

  test("a delete interleaving a merge serializes as delete-then-merge") {
    val t = table()
    t.append(batch("A" -> "a", "B" -> "b"))
    var fired = false
    val interleaved: () => Unit = () => if (!fired) {
      fired = true
      t.deleteWhere(spark, "product_id = 'A' OR product_id = 'C'"); ()
    }
    // the merge stages C against snapshot {A, B}; the delete lands
    // inside its commit window; the merge retries (a delete commit has
    // no keys to re-filter against) and publishes AFTER the delete —
    // so C survives even though it matches the predicate, and A is
    // gone: exactly the delete-then-merge serial order
    val n = t.mergeUpsert(spark, batch("C" -> "c"), keys, order,
      beforePublish = interleaved)
    assert(n == 1)
    assert(keySet(t) == Seq("B", "C"))
  }

  test("any-of bloom pruning skips commits containing none of the probe keys") {
    val t = table()
    // three commits with DISJOINT key ranges — the clustered shape
    // dynamic file pruning exists for
    Seq(0, 100, 200).foreach { base =>
      t.appendWithStats(
        (base until base + 10).map(k => (k.toLong, s"v$k")).toDF("k", "v"),
        Nil, bloomCols = Seq("k"))
    }
    val probes = "k IN (5, 105)" // keys from two of the three commits
    val (total, skipped) = t.skippingAuditWhere(spark, probes)
    assert(total == 3 && skipped == 1, "the commit with neither key must prune")
    val r = t.readSnapshotWhere(spark, probes).get
      .select("v").as[String].collect().toSeq.sorted
    assert(r == Seq("v105", "v5"))
  }

  test("shallow clone: zero bytes copied, reads equal, divergence isolated both ways") {
    val src = table()
    src.append(batch("A" -> "a", "B" -> "b"))
    src.append(batch("C" -> "c"))
    src.deleteWhere(spark, "product_id = 'B'")
    val clone = table()
    assert(src.cloneTo(clone) == src.version())
    // zero-copy: the clone has a log but NO data directory of its own
    assert(!Files.isDirectory(
      java.nio.file.Paths.get(clone.dir).resolve("data")))
    // reads equal, masks carried over (B stays deleted through the clone)
    assert(keySet(clone) == keySet(src) && keySet(clone) == Seq("A", "C"))
    // time travel works in the clone too (pre-delete version still has B)
    assert(clone.readVersion(spark, 1L).get.count() == 3)
    // divergence: clone-side writes are invisible to the source...
    clone.append(batch("D" -> "d"))
    clone.deleteWhere(spark, "product_id = 'A'")
    assert(keySet(clone) == Seq("C", "D") && keySet(src) == Seq("A", "C"))
    // ...and post-clone source commits are invisible to the clone
    src.append(batch("E" -> "e"))
    assert(keySet(src) == Seq("A", "C", "E") && keySet(clone) == Seq("C", "D"))
    // a clone may not land on a non-empty table
    intercept[IllegalArgumentException] { src.cloneTo(clone) }
  }

  test("clone materialization: compact+truncate never deletes a source byte") {
    val src = table()
    src.append(batch("A" -> "a", "B" -> "b"))
    src.append(batch("C" -> "c"))
    val clone = table()
    src.cloneTo(clone)
    clone.deleteWhere(spark, "product_id = 'B'")
    clone.compact(spark)
    val removed = clone.truncateHistory()
    // everything deleted by the clone's maintenance lives under the clone
    assert(removed.nonEmpty)
    assert(removed.forall(p => p.startsWith(clone.dir) ||
      java.nio.file.Paths.get(p).startsWith(java.nio.file.Paths.get(clone.dir))),
      s"truncate removed a path outside the clone: $removed")
    // the source is byte-for-byte alive and both snapshots are right
    assert(keySet(src) == Seq("A", "B", "C"))
    assert(keySet(clone) == Seq("A", "C"))
    // the clone now owns its bytes: no external references remain
    assert(clone.resolvedCommits().flatMap(_._2.files)
      .forall(f => !java.nio.file.Paths.get(f).isAbsolute))
  }

  test("clone carries per-file stats and blooms: skipping works through borrowed files") {
    val src = table()
    Seq(0, 100, 200).foreach { base =>
      src.appendWithStats(
        (base until base + 10).map(k => (k.toLong, s"v$k")).toDF("k", "v"),
        Seq("k"), bloomCols = Seq("k"))
    }
    val clone = table()
    src.cloneTo(clone)
    assert(clone.skippingAuditWhere(spark, "k = 105") == ((3, 2)))
    val r = clone.readSnapshotWhere(spark, "k >= 100 AND k <= 109").get.count()
    assert(r == 10L)
  }

  // "reject before PUBLISH": since r13 the violation counters ride the
  // staging write (the batch IS staged, then deleted on reject — never
  // visible; a crash in that window leaves an orphan for vacuum).
  test("CHECK constraints: reject before publish, NULL passes, existing rows validated") {
    val t = table()
    t.append(batch("A" -> "a"))
    // adding a constraint the existing table violates must refuse
    intercept[IllegalArgumentException] {
      t.addConstraint(spark, "upper", "product_name = upper(product_name)")
    }
    t.addConstraint(spark, "id_nonempty", "length(product_id) > 0")
    assert(t.constraints().map(_._1) == Seq("id_nonempty"))
    // violating append: whole batch rejected, no version consumed
    val v0 = t.version()
    intercept[IllegalArgumentException] { t.append(batch("" -> "bad", "B" -> "ok")) }
    assert(t.version() == v0 && keySet(t) == Seq("A"))
    // NULL evaluation PASSES (SQL CHECK semantics)
    t.append(Seq((null.asInstanceOf[String], "nullid"))
      .toDF("product_id", "product_name"))
    assert(t.readSnapshot(spark).get.count() == 2)
    // merge and overwrite enforce too
    intercept[IllegalArgumentException] {
      t.mergeUpsert(spark, batch("" -> "viaMerge"), keys, order)
    }
    intercept[IllegalArgumentException] {
      t.overwritePartitions(spark, batch("" -> "viaOw"), Seq("product_id"))
    }
    // a merge whose violating rows are all REPLAYS stages nothing → fine
    assert(t.mergeUpsert(spark, batch("A" -> "replay"), keys, order) == 0)
    // dropConstraint lifts enforcement
    t.dropConstraint("id_nonempty")
    t.append(batch("" -> "nowOk"))
    assert(t.readSnapshot(spark).get.count() == 3)
  }

  test("restore rolls back as a versioned commit; history readable until truncated") {
    val t = table()
    t.append(batch("A" -> "a", "B" -> "b"))     // v0
    val goodV = t.version()
    t.append(batch("C" -> "c"))                  // v1 — damage
    t.deleteWhere(spark, "product_id = 'A'")     // v2 — damage
    assert(keySet(t) == Seq("B", "C"))
    val rv = t.restore(spark, goodV)             // v3 — the rollback
    assert(rv == 3L && keySet(t) == Seq("A", "B"))
    // the rollback is versioned: the damaged state is still below it
    assert(t.readVersion(spark, 2L).get.select("product_id")
      .as[String].collect().toSeq.sorted == Seq("B", "C"))
    // appends continue on top of the restore
    t.append(batch("D" -> "d"))
    assert(keySet(t) == Seq("A", "B", "D"))
    // restore-of-restore: roll FORWARD to the damaged state again
    t.restore(spark, 2L)
    assert(keySet(t) == Seq("B", "C"))
    // truncation makes the newest rollback permanent — only the
    // newest base and after survive
    t.truncateHistory()
    assert(keySet(t) == Seq("B", "C"))
    intercept[IllegalArgumentException] { t.restore(spark, goodV) }
    // a version that never existed refuses too
    intercept[IllegalArgumentException] { t.restore(spark, 99L) }
  }

  test("idempotent append: high-water mark dedup, per-app isolation, compaction survival") {
    val t = table()
    assert(t.lastTxnVersion("app") == -1L)
    assert(t.appendIdempotent(batch("A" -> "a"), "app", 0L))
    assert(t.appendIdempotent(batch("B" -> "b"), "app", 1L))
    // redelivery at and below the mark: dropped, no version consumed
    val v = t.version()
    assert(!t.appendIdempotent(batch("B" -> "dupe"), "app", 1L))
    assert(!t.appendIdempotent(batch("X" -> "stale"), "app", 0L))
    assert(t.version() == v && keySet(t) == Seq("A", "B"))
    // versions are per-app: another stream's 0 is fresh
    assert(t.appendIdempotent(batch("C" -> "c"), "other", 0L))
    assert(t.lastTxnVersion("app") == 1L && t.lastTxnVersion("other") == 0L)
    // gaps allowed (an empty delivery consumes no version but a
    // skipped one is fine)
    assert(!t.appendIdempotent(batch(), "app", 2L)) // empty batch
    assert(t.appendIdempotent(batch("D" -> "d"), "app", 5L))
    // the mark survives compaction (pre-base manifests keep txn records)
    t.compact(spark)
    assert(t.lastTxnVersion("app") == 5L)
    assert(!t.appendIdempotent(batch("E" -> "late"), "app", 5L))
    // ...but not truncation — the documented retention caveat
    t.truncateHistory()
    assert(t.lastTxnVersion("app") == -1L)
  }

  test("two racing writers of the same (appId, version) land exactly one commit") {
    val t = table()
    t.append(batch("Z" -> "z"))
    import scala.concurrent.ExecutionContext.Implicits.global
    val results = Await.result(Future.sequence((1 to 4).map(i => Future {
      t.appendIdempotent(batch(s"K$i" -> s"v$i"), "racer", 7L)
    })), 2.minutes)
    assert(results.count(identity) == 1,
      s"exactly one of the racing deliveries may commit: $results")
    // exactly one K-row landed, and the mark is set
    val ks = keySet(t).filter(_.startsWith("K"))
    assert(ks.size == 1 && t.lastTxnVersion("racer") == 7L)
  }

  test("manifest export: masked logs refuse, compacted logs hand externals the snapshot") {
    val t = table()
    t.append(batch("A" -> "a", "B" -> "b"))
    // append-only log: exports directly, bare read sees the snapshot
    val files0 = t.exportManifest()
    assert(spark.read.parquet(files0: _*).count() == 2)
    // a mask makes the file list a LIE to an external reader: refuse
    t.deleteWhere(spark, "product_id = 'A'")
    intercept[IllegalArgumentException] { t.exportManifest() }
    t.overwritePartitions(spark, batch("B" -> "b2"), Seq("product_id"))
    intercept[IllegalArgumentException] { t.exportManifest() }
    // compact materializes: export again, external read = masked snapshot
    t.compact(spark)
    val ext = spark.read.parquet(t.exportManifest(): _*)
      .select("product_id", "product_name").as[(String, String)]
      .collect().toMap
    assert(ext == Map("B" -> "b2"))
    // empty table refuses (nothing to hand over)
    intercept[IllegalArgumentException] { table().exportManifest() }
  }

  test("convert adopts a parquet dir by hard link: zero copy, source untouched, full citizen after") {
    val plain = Files.createTempDirectory("txconv-src").toString + "/p"
    batch("A" -> "a", "B" -> "b", "C" -> "c").repartition(2)
      .write.mode("error").parquet(plain)
    val srcFiles = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(plain))
      try {
        import scala.jdk.CollectionConverters._
        s.iterator.asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      } finally s.close()
    }
    val t = table()
    assert(t.convertFrom(spark, plain) == 3L && t.version() == 0L)
    assert(keySet(t) == Seq("A", "B", "C"))
    // hard links: same inode, no bytes copied; source untouched
    val base = t.commits().head._2.files.head
    srcFiles.foreach { p =>
      val linked = java.nio.file.Paths.get(t.dir, base, p.getFileName.toString)
      assert(java.nio.file.Files.isSameFile(p, linked),
        s"adopted file must be a hard link, not a copy: $p")
    }
    // the adopted table is a normal log: append, delete, time travel
    t.append(batch("D" -> "d"))
    t.deleteWhere(spark, "product_id = 'B'")
    assert(keySet(t) == Seq("A", "C", "D"))
    assert(t.readVersion(spark, 0L).get.count() == 3L, "time travel to the adopted commit")
    // conversion refuses a non-fresh table
    intercept[IllegalArgumentException] { t.convertFrom(spark, plain) }
  }

  test("manifest kmv sketches: codec round-trip, batching-invariant fold, capacity estimate, refusals") {
    import TxLog.KmvMins
    import TxParquetSink.{kmvEstimate, SketchK}
    // codec round-trip (including an empty sketch from an all-null column)
    val m = TxLog.Manifest(3, Seq("f1"),
      sketches = Map("a" -> KmvMins(SketchK, Seq(5L, 9L, 123456789L)),
        "b" -> KmvMins(SketchK, Nil)))
    assert(TxLog.parseManifest(TxLog.renderManifest(m)) == m)

    // 200 distinct keys (> k, exercising the at-capacity estimator)
    // loaded in three UNEVEN commits with overlap — the fold must equal
    // the one-shot sketch of the union (semilattice), and the estimate
    // must land near 200
    def rows(r: Range) = r.map(i => (s"K$i", s"v$i")).toDF("product_id", "product_name")
    val t = table()
    t.appendWithStats(rows(0 until 30), Nil, sketchCols = Seq("product_id"))
    t.appendWithStats(rows(20 until 150), Nil, sketchCols = Seq("product_id"))
    t.appendWithStats(rows(150 until 200), Nil, sketchCols = Seq("product_id"))
    val folded = t.tableSketch("product_id")
    val one = table()
    one.appendWithStats(rows(0 until 200), Nil, sketchCols = Seq("product_id"))
    assert(folded == one.tableSketch("product_id"),
      "per-commit fold must equal the one-shot sketch")
    val est = kmvEstimate(folded)
    // distinct = 220 rows / 200 keys; 1/sqrt(64) ~ 12.5% — allow 3x
    assert(math.abs(est - 200.0) / 200.0 < 0.4, s"estimate $est too far from 200")

    // a commit without the sketch poisons the fold -> refuse
    val t2 = table()
    t2.appendWithStats(rows(0 until 10), Nil, sketchCols = Seq("product_id"))
    t2.append(rows(10 until 20))
    intercept[IllegalArgumentException] { t2.tableSketch("product_id") }
    // a row-hiding mask would resurrect values -> refuse
    val t3 = table()
    t3.appendWithStats(rows(0 until 10), Nil, sketchCols = Seq("product_id"))
    t3.deleteWhere(spark, "product_id = 'K3'")
    intercept[IllegalArgumentException] { t3.tableSketch("product_id") }
  }

  test("history reads every operation kind off the manifest shape") {
    val t = table()
    t.append(batch("A" -> "a"))
    t.appendIdempotent(batch("B" -> "b"), "app", 0L)
    t.overwritePartitions(spark, batch("A" -> "a2"), Seq("product_id"))
    t.deleteWhere(spark, "product_id = 'B'")
    t.compact(spark)
    val h = t.history(spark)
      .select("version", "operation", "n_rows", "n_files")
      .as[(Long, String, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(h.map(_._2) ==
      Seq("append", "append_txn", "overwrite", "delete", "base"))
    assert(h(3)._3 == 0L && h(3)._4 == 0L, "delete is a zero-row commit")
    // truncation trims history like every other reader
    t.truncateHistory()
    assert(t.history(spark).select("operation").as[String].collect().toSeq
      == Seq("base"))
  }

  test("constraints survive a shallow clone") {
    val src = table()
    src.addConstraint(spark, "id_nonempty", "length(product_id) > 0")
    src.append(batch("A" -> "a"))
    val clone = table()
    src.cloneTo(clone)
    assert(clone.constraints().map(_._1) == Seq("id_nonempty"))
    intercept[IllegalArgumentException] { clone.append(batch("" -> "bad")) }
  }

  test("string stats fold and prune in engine collation (UTF-8), not UTF-16 units") {
    import org.apache.spark.sql.functions.{col, max, min}
    val t = table()
    // U+10000 is a surrogate pair: UTF-16 code units rank it BELOW
    // U+E000, code points (Spark's UTF8String order) rank it ABOVE —
    // every fold against manifest stats must agree with the scan
    val hi = new String(Character.toChars(0x10000))
    val lo = ""
    t.appendWithStats(Seq((lo, 1L)).toDF("day", "amount"), Seq("day"))
    t.appendWithStats(Seq((hi, 2L)).toDF("day", "amount"), Seq("day"))
    val scan = t.readSnapshot(spark).get
      .agg(min(col("day")), max(col("day")))
      .as[(String, String)].head()
    assert(scan == ((lo, hi)), "scan ground truth")
    val meta = t.statsAggregate(spark, Seq("day"))
      .select("min_value", "max_value").as[(String, String)].head()
    assert(meta == scan, "metadata extremes must match the scan's collation")
    val p = t.metaProfile(spark, None, Nil, Seq("day")).get.head._3("day")
    assert((p.min, p.max) == scan)
    // pruning: a range starting at U+E000 must KEEP the pair's commit
    // (UTF-16 comparison would call it disjoint and silently lose the row)
    val top = new String(Character.toChars(0x10FFFF))
    val got = t.readSnapshotWhere(spark, s"day >= '$lo' AND day <= '$top'").get
    assert(got.count() == 2L, "supplementary-plane row lost to pruning")
  }

  test("log cache: an in-place reincarnation with identical names and inode is caught by the mtime fingerprint") {
    // ADVICE round-12: ext4 can recycle inode numbers, so a table
    // deleted and recreated at the same path could in principle
    // revalidate the dead table's cached parses under a name+ino
    // validator. The head-manifest mtime folded into the fingerprint
    // closes it: manifests are write-once, so within one lifecycle
    // the mtime never moves, and a recreated manifest carries a later
    // one. Simulated here as the worst case a recycled inode could
    // produce — same dir, same manifest NAME, different content.
    val t = table(); val u = table()
    t.mergeUpsert(spark, batch("P1" -> "a"), keys, order)
    u.mergeUpsert(spark, batch("P2" -> "b"), keys, order)
    assert(keySet(t) == Seq("P1")) // warm t's cache entry
    val tLog = java.nio.file.Paths.get(t.dir, "_txlog", f"${0L}%020d.txn")
    val uLog = java.nio.file.Paths.get(u.dir, "_txlog", f"${0L}%020d.txn")
    java.nio.file.Files.write(tLog, java.nio.file.Files.readAllBytes(uLog))
    java.nio.file.Files.setLastModifiedTime(tLog,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() + 2000))
    // NO manual cache clearing: same dir inode, same sorted name set —
    // only the mtime component can tell the lifecycles apart
    assert(t.commits().flatMap(_._2.files) ==
      u.commits().flatMap(_._2.files),
      "the rewritten manifest must be re-parsed, not served stale")
  }

  test("log cache bound: overflow evicts one cold table, not the world") {
    // ADVICE round-12: the previous bound check cleared BOTH maps
    // wholesale at >512 tables — one table over the bound forced every
    // hot table to re-list and re-parse. Now a single cold entry is
    // evicted and every other table's memo survives. Exercised
    // directly against the cache maps (512 real tables would dominate
    // the suite's runtime for no extra coverage).
    val t = table()
    t.appendWithStats(batch("P1" -> "a"), statsCols = Seq("product_id"))
    assert(t.version() == 0L) // warm: t is now cached and RECENT
    val n0 = TxParquetSink.logCache.size
    val fakes = (1 to (520 - n0)).map(i => s"/nonexistent-fake-$i")
    fakes.foreach { d =>
      val snap = new TxParquetSink.LogSnapshot((0L, 0L), Nil, Nil, () => Nil)
      snap.lastAccess = i2n(d) // strictly older than any real entry
      TxParquetSink.logCache.put(d, snap)
    }
    val before = TxParquetSink.manifestParses.get()
    val t2 = table()
    t2.appendWithStats(batch("P2" -> "b"), statsCols = Seq("product_id"))
    assert(t2.version() == 0L) // insert over the bound: must evict, not clear
    assert(TxParquetSink.logCache.size <= 513,
      s"bound not enforced: ${TxParquetSink.logCache.size}")
    assert(TxParquetSink.logCache.containsKey(t.dir),
      "a recently-touched table must survive the eviction")
    assert(t.version() == 0L)
    assert(TxParquetSink.manifestParses.get() == before +
      t2.commits().size,
      "the hot table's parse memo must survive: only t2's commit parses")
    fakes.foreach(TxParquetSink.logCache.remove) // drain the fodder
  }

  /** Deterministic "ancient" lastAccess for the fake eviction fodder. */
  private def i2n(d: String): Long = Long.MinValue / 2 + d.hashCode.abs
}
