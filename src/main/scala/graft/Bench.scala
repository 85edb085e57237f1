package graft
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions.col
import org.json4s._

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.envCores
    // sbt wraps stdout in [info] decoration, which broke the driver's
    // JSON extraction in round 1 (BENCH_r01 "parsed": null) — the result
    // line is ALSO written verbatim to a file
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_OUT.json")
    // Snapshot the PRIOR committed artifact before this run clobbers it:
    // per-query ratios vs that run go INTO the new artifact, so the
    // throttle-vs-regression adjudication (this host inflates identical
    // binaries 1.4-70x in throttle windows; see BENCH_ISOLATED.json) is
    // one artifact instead of three cross-referenced ones.
    val prior: Map[String, Double] = priorQueries(outPath)
    val spark = GraftSession.local(cpus)
    // absorb session/codegen warm-up outside the timed region so the
    // first query's number is comparable to the rest
    try {
      spark.range(1000).groupBy(col("id") % 7).count().count()
      Tables(spark, sfDir, "region").count()
    } catch { case _: Throwable => () }
    val outcomes = QueryRun.names.map(name => QueryRun(spark, sfDir, "bench", name)(QueryRun.digest(_)))
    val results = outcomes.map(o => o.name -> o.seconds).toMap
    // failures are recorded IN the artifact: a time-to-failure summed
    // into the total would read as a plausible fast success
    val failed = outcomes.filterNot(_.ok).map(_.name)
    val lines = resultLines(results, failed, prior, cpus, sfDir)
    Files.writeString(Paths.get(outPath), lines.head + "\n")
    lines.foreach(println)
    spark.stop()
  }

  /** The result lines in print order. First the full artifact line
    * (metric "total_full": per-query map, ratios vs the prior run), which
    * is also the BENCH_OUT file. Last the short summary (metric "total"):
    * result parsers read only a 2,000-char stdout tail, so the short
    * line must be the last line and the only "metric":"total" one. It
    * names at most [[ShortFailedNames]] failed queries (the full line
    * names them all) and counts them in `failed_n`, so a mass failure
    * cannot push it past the tail. */
  def resultLines(results: Map[String, Double], failed: Seq[String],
                  prior: Map[String, Double], cpus: Int,
                  sfDir: String): Seq[String] = {
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.values.sum
    def names(ns: Seq[String]) = ns.map("\"" + _ + "\"").mkString("[", ",", "]")
    val failedJson = names(failed)
    // Per-query ratios vs the prior committed run. Sub-0.3s prior lines
    // are skipped (ratio of noise); the top offenders land in the
    // artifact so BenchIsolated's auto mode can re-measure exactly them.
    val ratios = results.toSeq.flatMap { case (k, v) =>
      prior.get(k).filter(_ >= 0.3).map(p => (k, v / p))
    }
    val median = ratios.map(_._2).sorted.lift(ratios.length / 2)
    val ratioJson = median.fold("null") { m =>
      val top = ratios.sortBy(-_._2).take(8)
        .map { case (k, r) => s""""$k":${num(r, 2)}""" }
        .mkString("{", ",", "}")
      s"""{"n":${ratios.length},"median":${num(m, 3)},"top":$top}"""
    }
    val medianStr = median.fold("null")(num(_, 3))
    val full =
      s"""{"metric":"total_full","value":$total,"unit":"sec","cpus":$cpus,"queries":$qs,"failed":$failedJson,"ratios_vs_prior":$ratioJson,"sf":"$sfDir"}"""
    val short =
      s"""{"metric":"total","value":$total,"unit":"sec","cpus":$cpus,"n":${results.size},"failed":${names(failed.take(ShortFailedNames))},"failed_n":${failed.size},"ratio_median":$medianStr,"sf":"$sfDir"}"""
    Seq(full, short)
  }

  /** Failed query names the short line carries. */
  val ShortFailedNames = 8

  // Locale.ROOT: f"" uses the JVM default locale, and a comma-decimal
  // locale (de_DE) would render 0,95 and corrupt the JSON artifact.
  private[graft] def num(v: Double, digits: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${digits}f",
      java.lang.Double.valueOf(v))

  /** The number fields of a JSON object, in order; other fields and
    * non-objects give nothing. */
  private[graft] def numbers(j: JValue): List[(String, Double)] = j match {
    case JObject(fs) => fs.collect {
      case (k, JDouble(v))  => k -> v
      case (k, JInt(v))     => k -> v.toDouble
      case (k, JDecimal(v)) => k -> v.toDouble
      case (k, JLong(v))    => k -> v.toDouble
    }
    case _ => Nil
  }

  /** Parse the per-query seconds map out of a prior bench artifact
    * (json4s ships with Spark; absent/corrupt artifact -> empty). */
  def priorQueries(path: String): Map[String, Double] =
    try numbers(jackson.JsonMethods.parse(Files.readString(Paths.get(path))) \ "queries").toMap
    catch { case _: Throwable => Map.empty }
}
