package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum, xxhash64}

/** The one code path that runs catalog queries. Bench, Verify,
  * `tools.PlanDump` and `tools.BenchIsolated` each loop over names and
  * hand [[apply]] the sink that materializes a query their way: a
  * digest, a parquet write or a plan dump.
  */
object QueryRun {

  /** One query's run: its wall seconds (build plus sink) and its failure. */
  final case class Outcome(name: String, seconds: Double, error: Option[Throwable]) {
    def ok: Boolean = error.isEmpty
  }

  /** Every catalog name, in `SparkEntry.queries`' iteration order. */
  def names: Seq[String] = SparkEntry.queries.keys.toSeq

  /** `requested` unchanged once every name is in the catalog; the failure
    * names each unknown one. Call it before the session starts. */
  def resolve(requested: Seq[String]): Seq[String] = {
    val unknown = requested.filterNot(SparkEntry.queries.contains).distinct
    require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
    requested
  }

  /** Runs catalog query `name` on `sfDir` through `sink`. */
  def apply(spark: SparkSession, sfDir: String, tool: String, name: String)(
      sink: DataFrame => Unit): Outcome =
    run(spark, sfDir, tool, name, SparkEntry.queries(name))(sink)

  /** Runs `build` then `sink` under job group `name` (description
    * `name`, interrupt on cancel), so listeners attribute every Spark
    * job of the run to the query, jobs submitted through
    * [[DriverJobs.runAll]] included. A failure is printed as
    * `[<tool>] <name> FAILED: <message>` and returned, never thrown.
    * After the timing stops, the blocks the run persisted or
    * checkpointed are unpersisted (non-blocking): checkpoint-heavy
    * queries otherwise pile storage onto the heap and every later query
    * pays the GC drag. Blocks persisted before the run stay. */
  private[graft] def run(spark: SparkSession, sfDir: String, tool: String, name: String,
                         build: (SparkSession, String) => DataFrame)(
      sink: DataFrame => Unit): Outcome = {
    val sc = spark.sparkContext
    val persistedBefore = sc.getPersistentRDDs.keySet
    sc.setJobGroup(name, name, interruptOnCancel = true)
    val t0 = System.nanoTime()
    val error = try { sink(build(spark, sfDir)); None }
      catch {
        case t: Throwable =>
          System.err.println(s"[$tool] $name FAILED: ${t.getMessage}")
          Some(t)
      } finally sc.clearJobGroup()
    val seconds = (System.nanoTime() - t0) / 1e9
    sc.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!persistedBefore.contains(id)) rdd.unpersist(blocking = false)
    }
    Outcome(name, seconds, error)
  }

  /** Sum of `xxhash64` over all columns of `df`. It consumes every value
    * produced: a bare `count()` lets Catalyst prune unused projections,
    * so projection-heavy queries would time little more than the scan.
    * The sum is DECIMAL(38,0): summing raw longs overflows under ANSI
    * after ~2 random hashes and aborts the job mid-materialization. */
  def digest(df: DataFrame): java.math.BigDecimal =
    df.agg(sum(xxhash64(df.columns.toIndexedSeq.map(col): _*).cast("decimal(38,0)")))
      .collect().head.getDecimal(0)
}
