package graft

import org.apache.spark.sql.SparkSession

/** The one place an engine-side SparkSession is built. Bench, Verify,
  * Smoke, the examples, the tools and the test sessions all share this
  * policy; a site passes `conf` only for a value it needs on top of it
  * (for example AQE off for static plan dumps).
  */
object GraftSession {

  /** A `local[cores]` session with graft's SQL functions registered,
    * one shuffle partition per core, UTC session time, no UI, and WARN
    * logging. `conf` pairs are applied after the shared policy, so they
    * override it. */
  def local(cores: Int, conf: (String, String)*): SparkSession = {
    val base = Seq(
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      // the ContextCleaner frees dead broadcasts/shuffle state only
      // after a GC, and its default periodic GC (30 min) is longer than
      // a whole bench or stress run
      "spark.cleaner.periodicGC.interval" -> "1min")
    val builder = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cores]")
    (base ++ conf).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Cores from `SPARK_GRAFT_CPUS` (default 4); anything but a positive
    * integer fails at startup. */
  def envCores: Int = parseCores(sys.env.get("SPARK_GRAFT_CPUS"))

  private[graft] def parseCores(value: Option[String]): Int =
    value.fold(4) { v =>
      val n = v.trim.toIntOption
      require(n.exists(_ >= 1),
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'")
      n.get
    }
}
