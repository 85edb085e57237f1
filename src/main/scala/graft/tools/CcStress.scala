package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.operators.Dedup

/** Connected-components stress (not part of the driver contract):
  * disjoint PATH components — the worst case for plain min-label
  * propagation (rounds = diameter without pointer jumping) — with a
  * closed-form expected result: nodes 0..n-1, edge i->i+1 except at
  * chain boundaries, so exactly n/chain components whose labels are
  * the chain heads. Run: sbt "runMain graft.tools.CcStress [n] [chain]"
  */
object CcStress {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(2000000L)
    val chain = args.drop(1).headOption.map(_.toInt).getOrElse(16)
    val spark = GraftSession.local(32, "spark.sql.shuffle.partitions" -> "64")

    val t0 = System.nanoTime()
    val pairs = spark.range(n - 1)
      .filter(pmod(col("id") + 1, lit(chain.toLong)) =!= 0)
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    val cc = Dedup.connectedComponents(pairs)
    val row = cc.agg(
      count(lit(1)).as("nodes"),
      countDistinct(col("cluster_id")).as("clusters"),
      max(col("id") - col("cluster_id")).as("max_offset")).collect()(0)
    val secs = (System.nanoTime() - t0) / 1e9
    val expectClusters = n / chain
    println(f"[stress] cc n=$n chain=$chain: ${secs}%.2fs " +
      s"nodes=${row.getLong(0)} clusters=${row.getLong(1)} " +
      s"(expect $expectClusters) maxOffset=${row.getLong(2)} " +
      s"(expect ${chain - 1})")
    spark.stop()
  }
}
