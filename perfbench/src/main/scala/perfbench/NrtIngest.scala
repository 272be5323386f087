package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.etl.TxParquetSink
import graft.sources.CsvSources
import graft.streaming.StreamETL

/** `nrt_ingest`: the paper's pipeline, open loop.
  *
  * A generator thread publishes the pre-generated transaction CSV
  * micro-files into the stream's source directory on a fixed schedule (a
  * nominal step, then an overload step); the schedule never waits for the
  * pipeline. The pipeline is `cleanTransactions -> withStreamDedup ->
  * meshJoin -> withMeasures`, and each micro-batch lands through
  * `TxParquetSink.mergeUpsert` on `order_id`. A poller thread runs a star
  * aggregate on every new table version. The raw timelines (due, written,
  * polled, committed) go to the result; run.py turns them into freshness
  * and the drain rate. */
object NrtIngest {
  private val OrderCols = Seq("product_id", "customer_id", "quantity_ordered", "order_ts")

  final case class Commit(endMs: Long, rows: Long, ms: Double, stageMs: Double,
      publishMs: Double, attempts: Int, refilters: Int)

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val trace = ctx.trace
    val nrt = s"${ctx.data}/nrt"
    val staged = Paths.get(s"$nrt/files")
    val maxFiles = ctx.param("max_files_per_trigger").toInt
    val warmFiles = ctx.param("warm_files").toInt
    val nNominal = ctx.param("n_nominal_files").toInt
    val nMeasured = ctx.param("n_measured_files").toInt
    val nominalRate = ctx.param("nominal_files_per_s").toDouble
    val overloadRate = ctx.param("overload_files_per_s").toDouble
    val triggerSeconds = ctx.param("trigger_s").toDouble

    val commits = mutable.ArrayBuffer.empty[Commit]
    var products: DataFrame = null
    var customers: DataFrame = null
    var query: StreamingQuery = null
    var sink: TxParquetSink = null
    var src: Path = null

    def deliver(i: Int): Long = {
      val name = f"tx-$i%06d.csv"
      val tmp = src.resolve("." + name)
      Files.copy(staged.resolve(name), tmp)
      Files.move(tmp, src.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      System.currentTimeMillis()
    }

    def commitBatch(batch: DataFrame): Unit = {
      var first, last = 0L
      var attempts, refilters = 0
      val t0 = System.nanoTime()
      val n = sink.mergeUpsert(spark, batch, Seq("order_id"), OrderCols,
        beforePublish = () => {
          last = System.nanoTime()
          if (attempts == 0) first = last
          attempts += 1
        },
        onRefilter = () => refilters += 1)
      val t1 = System.nanoTime()
      commits.synchronized {
        commits += Commit(System.currentTimeMillis(), n, (t1 - t0) / 1e6,
          if (attempts > 0) (first - t0) / 1e6 else (t1 - t0) / 1e6,
          if (attempts > 0) (t1 - last) / 1e6 else 0.0, attempts, refilters)
      }
    }

    def start(rep: Int): Unit = {
      val base = s"${ctx.work}/nrt$rep"
      src = Files.createDirectories(Paths.get(s"$base/src"))
      sink = TxParquetSink(s"$base/table")
      val enriched = StreamETL.withMeasures(StreamETL.meshJoin(
        StreamETL.withStreamDedup(StreamETL.cleanTransactions(
          CsvSources.transactionStream(spark, src.toString, maxFiles))),
        products, customers))
      val observed =
        if (trace.on) enriched.observe("enrich", count(lit(1)).as("rows_out")) else enriched
      query = observed.writeStream
        .trigger(Trigger.ProcessingTime((triggerSeconds * 1000).toLong))
        .option("checkpointLocation", s"$base/checkpoint")
        .foreachBatch((batch: DataFrame, _: Long) => trace.span("etl.commit")(commitBatch(batch)))
        .start()
    }

    ctx.setup(ctx.param("setup_reps").toInt) { (rep, artifact) =>
      if (query != null) {
        query.stop()
        products.unpersist()
        customers.unpersist()
      }
      products = artifact("master_products") {
        val p = CsvSources.products(spark, s"$nrt/master/products.csv")
          .where(col("price").isNotNull).cache()
        p.count()
        p
      }
      customers = artifact("master_customers") {
        val c = CsvSources.customers(spark, s"$nrt/master/customers.csv").cache()
        c.count()
        c
      }
      artifact("stream_start")(start(rep))
    }

    val polls = mutable.ArrayBuffer.empty[(Long, Long, Double, Long)]
    @volatile var stopPolling = false
    val poller = new Thread(() => {
      var seen = -1L
      while (!stopPolling) {
        val v = sink.version()
        if (v > seen) {
          val t0 = System.nanoTime()
          val n = trace.span("poller") {
            sink.readSnapshot(spark).map(_.groupBy("store_id")
              .agg(count(lit(1)).as("n"), sum("total_revenue").as("revenue"))
              .collect().map(_.getLong(1)).sum).getOrElse(0L)
          }
          polls.synchronized(polls += ((System.currentTimeMillis(), n, (System.nanoTime() - t0) / 1e6, v)))
          seen = v
        } else Thread.sleep(5)
      }
    }, "perfbench-poller")

    val dueMs = new Array[Long](nMeasured)
    val writtenMs = new Array[Long](nMeasured)
    val generator = new Thread(() => {
      val t0 = System.currentTimeMillis() + 100
      (0 until nMeasured).foreach { i =>
        val offset =
          if (i < nNominal) i * 1000.0 / nominalRate
          else nNominal * 1000.0 / nominalRate + (i - nNominal) * 1000.0 / overloadRate
        dueMs(i) = t0 + offset.round
        val wait = dueMs(i) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        writtenMs(i) = deliver(warmFiles + i)
      }
    }, "perfbench-generator")
    generator.setPriority(Thread.MAX_PRIORITY)

    // Untimed warm-up at the nominal rate, poller included: a fresh JVM
    // still compiles the streaming and commit paths over its first dozen
    // micro-batches, which are up to several times slower.
    poller.start()
    (0 until warmFiles).foreach { i =>
      deliver(i)
      Thread.sleep((1000 / nominalRate).toLong)
    }
    query.processAllAvailable()
    commits.synchronized(commits.clear())

    trace.measure(true)
    val measureStart = System.currentTimeMillis()
    generator.start()
    generator.join()
    query.processAllAvailable()
    val finalCount = sink.readSnapshot(spark).map(_.count()).getOrElse(0L)
    val pollDeadline = System.currentTimeMillis() + 10000
    while (polls.synchronized(polls.lastOption.forall(_._2 < finalCount)) &&
        System.currentTimeMillis() < pollDeadline) Thread.sleep(10)
    stopPolling = true
    poller.join()
    trace.measure(false)
    // (start ms, input rows, busy ms) of the recent micro-batches
    val batches = query.recentProgress.toSeq.map(p => Json.arr(Seq(
      java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble, p.numInputRows.toDouble,
      Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0))))
    query.stop()
    val progress = trace.progress.synchronized(trace.progress.toList)

    val finalTable = s"${ctx.work}/nrt_final"
    sink.readSnapshot(spark).foreach(_.select("order_id", "product_id", "customer_id",
      "quantity_ordered", "total_revenue").write.parquet(finalTable))

    ctx.out("attempted") = (nMeasured + warmFiles).toString
    ctx.out("failed") = (if (query.exception.isDefined) 1 else 0).toString
    ctx.out("delivered_files") = (nMeasured + warmFiles).toString
    ctx.out("final_table") = Json.str(finalTable)
    ctx.out("measure_start_ms") = measureStart.toString
    ctx.out("overload_start_ms") = (if (nMeasured > nNominal) dueMs(nNominal) else 0L).toString
    ctx.out("due_ms") = Json.arr(dueMs.toSeq.map(_.toDouble))
    ctx.out("written_ms") = Json.arr(writtenMs.toSeq.map(_.toDouble))
    ctx.out("polls") = Json.arrRaw(polls.toSeq.map { case (t, n, ms, v) => Json.arr(Seq(t.toDouble, n.toDouble, ms, v.toDouble)) })
    ctx.out("batches") = Json.arrRaw(batches)
    ctx.out("commits") = Json.arrRaw(commits.toSeq.map(c => Json.arr(Seq(c.endMs.toDouble, c.rows.toDouble, c.ms))))

    if (trace.on) {
      val real = commits.toSeq.filter(_.attempts > 0)
      def dur(k: String) = progress.flatMap(p => Option(p.progress.durationMs.get(k)).map(_.doubleValue))
      val states = progress.flatMap(_.progress.stateOperators.headOption)
      val inRows = progress.map(_.progress.numInputRows).sum
      val outRows = progress.flatMap(p => Option(p.progress.observedMetrics.get("enrich")))
        .map(_.getAs[Long]("rows_out")).sum
      ctx.layers ++= Seq(
        "sources.latest_offset_ms" -> Stats.median(dur("latestOffset")),
        "sources.get_batch_ms" -> Stats.median(dur("getBatch")),
        "sources.input_rows" -> inRows.toDouble,
        "streaming.batches" -> progress.size.toDouble,
        "streaming.trigger_ms" -> Stats.median(dur("triggerExecution")),
        "streaming.query_planning_ms" -> Stats.median(dur("queryPlanning")),
        "streaming.add_batch_ms" -> Stats.median(dur("addBatch")),
        "streaming.wal_commit_ms" -> Stats.median(dur("walCommit")),
        "streaming.dedup_state_rows" -> states.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
        "streaming.dedup_dropped_rows" -> states.map(s =>
          Option(s.customMetrics.get("numDroppedDuplicateRows")).map(_.doubleValue).getOrElse(0.0)).sum,
        "streaming.state_memory_bytes" -> (if (states.isEmpty) 0.0 else states.map(_.memoryUsedBytes).max.toDouble),
        "streaming.enrich_rows_out_per_in" -> (if (inRows == 0) 0.0 else outRows.toDouble / inRows),
        "etl.commit_ms" -> Stats.median(real.map(_.ms)),
        "etl.stage_ms" -> Stats.median(real.map(_.stageMs)),
        "etl.publish_ms" -> Stats.median(real.map(_.publishMs)),
        "etl.publish_attempts" -> Stats.mean(real.map(_.attempts.toDouble)),
        "etl.refilters" -> real.map(_.refilters).sum.toDouble,
        "etl.rows_committed" -> real.map(_.rows).sum.toDouble,
        "etl.files_per_commit" -> filesPerCommit(sink),
        "etl.log_versions" -> (sink.version() + 1).toDouble,
        "poller.query_ms" -> Stats.median(trace.durations("poller")))
    }
    ctx.finishLayers()
  }

  /** Mean number of parquet files per data-carrying commit in the log. */
  private def filesPerCommit(sink: TxParquetSink): Double =
    Stats.mean(sink.commits().map(_._2).filter(_.files.nonEmpty).map(_.files.map { f =>
      val p = Paths.get(sink.dir).resolve(f)
      if (!Files.isDirectory(p)) 1
      else {
        val s = Files.list(p)
        try s.iterator.asScala.count(_.getFileName.toString.endsWith(".parquet")) finally s.close()
      }
    }.sum.toDouble))
}
