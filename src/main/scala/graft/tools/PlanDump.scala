package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{GraftSession, QueryRun}

/** Writes `<outDir>/<query>_<suffix>.txt` with the formatted physical
  * plan of each named declared query (every query when none is named)
  * and prints a one-line scorecard per query: shuffles, broadcasts,
  * scans and whole-stage codegen spans. Queries that TRAIN during
  * construction (PCA power iteration, Lloyd fits) run their expensive
  * jobs before the returned DataFrame exists, so a
  * QueryExecutionListener additionally captures every
  * construction-time job's formatted plan: the before/after diff for
  * those queries lives in the step plans, not the (tiny) final plan.
  * AQE is off so the static plan shows its codegen spans (production
  * sessions keep AQE on). Per-layer timings live in `perfbench/`. Run:
  *   sbt "runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> [q1 q2 ...]"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(dir, outDir, suffix) = args.take(3)
    val named = QueryRun.resolve(args.drop(3).toSeq)
    val names = if (named.nonEmpty) named else QueryRun.names.sorted
    val spark = GraftSession.local(4, "spark.sql.adaptive.enabled" -> "false")
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      val sb = new StringBuilder
      var jobN = 0
      val listener = new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution,
                               durationNs: Long): Unit = synchronized {
          jobN += 1
          sb.append(s"--- construction-time job $jobN ($funcName, " +
              f"${durationNs / 1e9}%.2fs) ---%n")
            .append(qe.explainString(ExplainMode.fromString("formatted")))
            .append("\n")
        }
        override def onFailure(funcName: String, qe: QueryExecution,
                               exception: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      QueryRun(spark, dir, "plandump", name) { df =>
        // the listener bus is async; drain it FULLY before
        // snapshotting (a fixed sleep could under-wait on slow
        // construction jobs and silently drop plans from the
        // evidence file — ADVICE r10)
        val drained = org.apache.spark.GraftSparkInternals
          .drainListenerBus(spark.sparkContext, 60000L)
        sb.insert(0, s"--- listener bus drained=$drained, " +
          s"$jobN construction jobs captured ---\n")
        sb.append(s"=== $name final plan ===\n")
          .append(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"),
          sb.toString)
        println(s"[plandump] wrote $outDir/${name}_$suffix.txt " +
          s"($jobN construction jobs)")
        println(scorecard(name, df.queryExecution.executedPlan.toString))
      }
      spark.listenerManager.unregister(listener)
    }
    spark.stop()
  }

  /** Plan-shape counts of an executed plan's tree string. */
  private def scorecard(name: String, plan: String): String = {
    def n(re: String) = re.r.findAllIn(plan).size
    // codegen'd operators print as "*(id) Op": one id = one fused span
    val spans = "\\*\\((\\d+)\\)".r.findAllMatchIn(plan).map(_.group(1)).toSet.size
    s"== $name: shuffles=${n("Exchange (hash|range)partitioning|Exchange SinglePartition")} " +
      s"broadcasts=${n("BroadcastExchange")} scans=${n("Scan parquet|FileScan")} " +
      s"codegenSpans=$spans"
  }
}
