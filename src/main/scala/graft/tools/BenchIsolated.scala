package graft.tools

import java.nio.file.{Files, Paths}

import org.json4s.{JObject, JValue}
import org.json4s.jackson.JsonMethods.{compact, parse, parseOpt, render}

import graft.{GraftSession, QueryRun}
import graft.Bench.{num, numbers}

/** Isolated cold/warm timing for a set of declared queries, written as
  * one JSON file (`BENCH_ISOLATED.json`) committed alongside the round's
  * bench artifact — so a reader can separate host-throttle anomalies in
  * a driver bench run from genuine plan regressions without re-deriving
  * the isolation runs (this host's documented throttling windows have
  * inflated identical binaries 10-70x).
  *
  * cold = first materialization in the session (includes codegen +
  * plan warm-up for that query's operators); warm = best of the
  * remaining reps. Usage:
  *   sbt "runMain graft.tools.BenchIsolated <sfDir> <out.json> q1 q2 ..."
  */
object BenchIsolated {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.drop(1).headOption.getOrElse("BENCH_ISOLATED.json")
    // "auto" = adjudicate the FINAL run's actual outliers, not a
    // hand-picked list: read the bench artifact this session just wrote
    // (which embeds per-query ratios vs the prior committed run) and
    // measure every >2.5x line plus the top entries — so each committed
    // outlier carries a same-HEAD cold/warm pair.
    val names: Seq[String] = QueryRun.resolve(
      if (args.length > 2 && args(2) == "auto") {
        val artifact = if (args.length > 3) args(3) else "BENCH_OUT.json"
        val auto = autoOutliers(artifact)
        require(auto.nonEmpty,
          s"auto mode found no ratios_vs_prior in $artifact — run Bench first")
        System.err.println(s"[isolated] auto outliers: ${auto.mkString(", ")}")
        auto
      } else if (args.length > 2) args.drop(2).toSeq
      else Seq("dedup_keep_best_documents", "dedup_clusters_documents",
        "events_stream_interval_join", "dedup_ngram_documents",
        "pack_token_budget_documents"))
    // Append-keyed by round label + HEAD (never overwrite): prior
    // rounds' cold/warm history must survive in the committed artifact
    // so adjudication of older bench runs doesn't require re-deriving
    // the isolation pairs at a later HEAD. Read before any query runs.
    val prior = priorRounds(out)
    val cpus = GraftSession.envCores
    val spark = GraftSession.local(cpus)
    graft.Tables(spark, dir, "region").count() // absorb session warm-up
    // a name with a failed run is left out; its FAILED line says why
    val rows = names.flatMap { name =>
      val runs = Seq.fill(3)(QueryRun(spark, dir, "isolated", name)(QueryRun.digest(_)))
      Option.when(runs.forall(_.ok)) {
        val (cold, warm) = (num(runs.head.seconds, 3), num(runs.tail.map(_.seconds).min, 3))
        System.err.println(s"[isolated] $name cold=$cold warm=$warm")
        s"""    "$name": {"cold": $cold, "warm": $warm}"""
      }
    }
    val key = sys.env.getOrElse("BENCH_ISOLATED_KEY", s"r@${gitHead()}")
    // duplicate-key JSON silently loses an entry on the next parse, so
    // a re-run under the same key (same round label + short HEAD) must
    // not collide: pick the first free "<key>", "<key>-2", ... suffix
    val taken = prior.map(_._1).toSet
    val freeKey = (Iterator(key) ++
      Iterator.from(2).map(n => s"$key-$n")).find(!taken(_)).get
    val entry = rows.mkString(
      s"""  "$freeKey": {\n    "sf": "$dir", "cpus": $cpus,\n""",
      ",\n", "\n  }")
    val kept = prior.map { case (k, v) => s"""  "$k": ${compact(render(v))}""" }
    Files.writeString(Paths.get(out),
      (kept :+ entry).mkString("{\n", ",\n", "\n}\n"))
    spark.stop()
  }

  private def gitHead(): String =
    try scala.sys.process.Process(Seq("git", "rev-parse", "--short", "HEAD"))
      .!!.trim
    catch { case _: Throwable => "unknown" }

  /** The round entries of an existing artifact, in file order; a
    * missing file has none. A file that does not parse, or whose
    * top-level values are not all round objects, fails: rewriting it
    * with only the new entry would lose every earlier round. */
  private[graft] def priorRounds(path: String): List[(String, JValue)] =
    if (!Files.exists(Paths.get(path))) Nil
    else parseOpt(Files.readString(Paths.get(path))) match {
      case Some(JObject(fs)) if fs.forall(_._2.isInstanceOf[JObject]) => fs
      case _ => throw new IllegalStateException(
        s"$path is not a JSON object keyed by round; it is left as it is")
    }

  /** The outlier list embedded by Bench: every ratios_vs_prior.top
    * entry with ratio > 2.5, or (if none cross the bar) the single
    * worst one as a sanity anchor. */
  def autoOutliers(artifact: String): Seq[String] =
    try {
      val parsed = numbers(parse(Files.readString(Paths.get(artifact))) \ "ratios_vs_prior" \ "top")
      val over = parsed.filter(_._2 > 2.5).map(_._1)
      if (over.nonEmpty) over
      else parsed.sortBy(-_._2).take(1).map(_._1)
    } catch { case _: Throwable => Seq.empty }
}
