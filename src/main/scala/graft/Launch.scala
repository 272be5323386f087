package graft

import org.apache.spark.sql.SparkSession

/** The one local-session launcher behind the mains (Bench, Verify,
  * Explain, ScaleBench). Cores come from the machine unless
  * `SPARK_GRAFT_CPUS` overrides them; the heap is fixed where the JVM
  * is forked (build.sbt's MemTotal rule, `SPARK_DRIVER_MEM` overrides). */
object Launch {

  /** `SPARK_GRAFT_CPUS` when set, else the cores this JVM may run on
    * (what `nproc` reports). A set value must be a positive integer: a
    * malformed one fails here, naming the variable, instead of reaching
    * Spark as an opaque master-URL error. */
  def cores(env: Map[String, String]): Int = env.get("SPARK_GRAFT_CPUS") match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(raw) =>
      val n = raw.toIntOption.filter(_ > 0)
      require(n.isDefined, s"SPARK_GRAFT_CPUS must be a positive integer, got '$raw'")
      n.get
  }

  /** A `local[cores]` session with `partitions` shuffle partitions.
    * UTC pins time-derived grouping (hourly windows, time-dim
    * attributes) so results and per-query work do not depend on the
    * host's zone. */
  def session(partitions: Int = cores(sys.env)): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${cores(sys.env)}]")
      .config("spark.sql.shuffle.partitions", partitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
