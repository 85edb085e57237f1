package graft

/** Local replica of the driver's t1 smoke gate: SparkEntry.entry must
  * return >0 rows on sf0.001. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(4)
    val df = SparkEntry.entry(spark)
    df.show(10, truncate = false)
    println(s"[smoke] rows=${df.count()}")
    spark.stop()
  }
}
