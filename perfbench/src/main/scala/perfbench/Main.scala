package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: runs one workload against the engine's public
  * functions and writes its raw measurements as JSON. `run.py` generates the
  * inputs, launches this, checks the outputs and prints the metrics.
  *
  * Arguments (all `--name value`): workload, data (generated inputs), work
  * (scratch dir for tables and checkpoints), seconds, trace (0|1), seed,
  * cores, out (result JSON path), plus workload parameters read by the
  * workloads through [[Ctx.param]]. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val cores = opts("cores").toInt
    val work = opts("work")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ctx = new Ctx(spark, opts, new Trace(spark, opts("trace") == "1"))
    try {
      opts("workload") match {
        case "olap_star" => OlapStar.run(ctx)
        case "nrt_ingest" => NrtIngest.run(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      ctx.out("peak_rss_mb") = Json.num(peakRssMb())
      ctx.out("spark_version") = Json.str(spark.version)
      ctx.out("java_version") = Json.str(System.getProperty("java.version"))
      ctx.out("max_heap_mb") = Json.num(Runtime.getRuntime.maxMemory / 1048576.0)
    } catch {
      case e: Throwable =>
        ctx.out("fatal") = Json.str(s"${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
    } finally {
      Files.write(Paths.get(opts("out")), Json.obj(ctx.out.toSeq).getBytes(UTF_8))
      spark.stop()
    }
  }

  /** High-water resident set of this JVM, from /proc (Linux). */
  private def peakRssMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) -1.0
    else new String(Files.readAllBytes(status), UTF_8).linesIterator
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
  }
}

/** What a workload needs: the session, its options, the tracer, and the
  * output map it fills. */
final class Ctx(val spark: SparkSession, opts: Map[String, String], val trace: Trace) {
  val out: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap.empty
  val layers: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def param(k: String): String = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
  def data: String = param("data")
  def work: String = param("work")
  def seconds: Double = param("seconds").toDouble
  def seed: Long = param("seed").toLong

  /** Runs `build(rep, artifact)` `reps` times, recording each rep's wall
    * time and each named artifact's time. Workloads report the median, so
    * work moved into set-up shows in `setup_s`. */
  def setup(reps: Int)(build: (Int, Artifact) => Unit): Unit = {
    val total = mutable.ArrayBuffer.empty[Double]
    val artifact = new Artifact(trace)
    for (r <- 0 until reps) {
      val t0 = System.nanoTime()
      build(r, artifact)
      total += (System.nanoTime() - t0) / 1e9
    }
    out("setup_s") = Json.arr(total.toSeq)
    out("setup_artifacts_s") = Json.obj(artifact.times.toSeq.map { case (k, v) => k -> Json.arr(v.toSeq) })
  }

  def finishLayers(): Unit = {
    if (trace.on) {
      trace.settle()
      trace.sparkLayer().foreach { case (k, v) => layers(k) = v }
    }
    out("layers") = Json.obj(layers.toSeq.map { case (k, v) => k -> Json.num(v) })
  }
}

/** Times one named set-up artifact per call. */
final class Artifact(trace: Trace) {
  val times: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] = mutable.LinkedHashMap.empty
  def apply[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = trace.span(s"setup.$name")(body)
    times.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
    r
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(s.size - 1, lo + 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Just enough JSON writing for the result file. */
object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def arr(xs: Seq[Double]): String = xs.map(num).mkString("[", ",", "]")
  def arrRaw(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String = kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
