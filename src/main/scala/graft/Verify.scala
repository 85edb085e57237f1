package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: oracle_sql.json, then each catalog
  * query's result → parquet, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // builder-side iteration aid: restrict to a comma-separated subset
    // (driver never sets this -> full dump)
    val names = sys.env.get("SPARK_GRAFT_ONLY").fold(QueryRun.names) { only =>
      val picked = QueryRun.resolve(only.split(",").map(_.trim).filter(_.nonEmpty).toSeq).toSet
      QueryRun.names.filter(picked)
    }
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // keys sorted, so the dumps of two builds compare byte for byte;
    // written first, so a run killed mid-loop still leaves the oracles
    val json = SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val spark = GraftSession.local(GraftSession.envCores)
    names.foreach(name => QueryRun(spark, sfDir, "verify", name)(
      _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")))
    spark.stop()
  }
}
