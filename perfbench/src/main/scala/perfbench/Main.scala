package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum, xxhash64}

import graft.SparkEntry

/** JVM side of the benchmark. `perfbench/run.py` starts it, once per run
  * of `groups_many_small` and once per cold repetition of `catalog_sample`,
  * and reads the JSON it writes to `--out`. */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val result = opts("mode") match {
      case "groups" => groups(opts)
      case "catalog" => catalog(opts)
    }
    Files.writeString(Paths.get(opts("out")),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(result))
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.cleaner.periodicGC.interval", "1min")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def layerMap(l: Layers): Map[String, Double] = l.metrics.toMap

  /** Untimed warm-up passes of the group pipeline before the timed ones. */
  val Warmups = 3

  /** Fewest timed passes of a group workload; it keeps going until
    * `--seconds` have passed. */
  val MinIterations = 3

  /** The group workload over the corpus at `input`: session start, untimed
    * warm-up passes, then pack, stats and load iterations for `seconds`,
    * then output checks. */
  def groups(o: Map[String, String]): Map[String, Any] = {
    val workload = o("workload")
    val cores = o("cores").toInt
    val work = o("work")
    val trace = o("trace") == "1"
    val input = o("input")
    val limit = o("limit").toLong
    val calibStart = Host.calibrate()
    val t0 = System.nanoTime()
    val marks = mutable.LinkedHashMap.empty[String, Double]
    def mark(name: String): Unit = marks(name) = (System.nanoTime() - t0) / 1e9

    val spark = session(cores, work)
    mark("session")
    val pipeline = new Pipeline(spark, input, "client_id", limit, workload)
    // warm-up: untimed passes until the JIT has settled
    for (k <- 0 until Warmups) {
      pipeline.iteration(s"$work/warmup$k", -1 - k)
      Pipeline.delete(new File(s"$work/warmup$k"))
      mark(s"warmup$k")
    }
    mark("warmup")
    val listener = new LayerListener
    val phases = mutable.ArrayBuffer.empty[Map[String, Double]]
    val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
    val start = System.nanoTime()
    var iter = 0
    var last = ""
    while (iter < MinIterations ||
        (System.nanoTime() - start) / 1e9 < o("seconds").toDouble) {
      val traced = trace && iter % 2 == 0
      if (traced) spark.sparkContext.addSparkListener(listener)
      val out = s"$work/iter$iter"
      val (spans, first) = pipeline.iteration(out, iter)
      if (traced) {
        Timing.drain(spark)
        spark.sparkContext.removeSparkListener(listener)
        layers += layerMap(spans.map(s => Layers.of(s, listener.counters(s.tag), cores))
          .reduce(_ + _))
      }
      phases += Map("pack_s" -> spans(0).wallS, "stats_s" -> spans(1).wallS,
        "load_s" -> spans(2).wallS, "load_first_group_s" -> first,
        "traced" -> (if (traced) 1.0 else 0.0))
      if (last.nonEmpty) Pipeline.delete(new File(last))
      last = out
      iter += 1
    }

    mark("iterations")
    val probes = if (trace) {
      val (fetch, decode) = pipeline.loaderProbe(last)
      Codecs.measure(spark.read.parquet(input), "client_id", 4000)
        .map { case (k, v) => s"codec.$k" -> v } ++
        Map("loader.fetch_s" -> fetch, "loader.decode_s" -> decode)
    } else Map.empty[String, Double]
    mark("probes")
    val (checks, facts) = pipeline.check(last)
    mark("checks")
    spark.stop()
    Map(
      "marks_s" -> marks, "phases" -> phases, "layers" -> layers, "probes" -> probes,
      "checks" -> checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "facts" -> facts, "stats_dir" -> s"$last/stats",
      "calib_s" -> Seq(calibStart, Host.calibrate()), "peak_rss_mb" -> Host.peakRssMb())
  }

  /** The catalog sample: one query from each of five families (a family is
    * the first `_`-separated token of a query name). A fixed list, so that a
    * change to the catalog never changes which queries are timed; every run
    * and every seed times them in this order, and the seed makes the tables
    * they read. The first query also pays the session's first-job costs. */
  val Sample: Seq[String] = Seq(
    "eval_langid_confusion", "rel_orders_pivot", "split_positional_documents",
    "curriculum_bins_documents", "dsir_select_documents")

  /** Untimed warm-up and timed passes of the group pipeline in one catalog
    * repetition: fewer than the group workload's, as each repetition also
    * pays a JVM start and the cold queries. */
  val PipelineWarmups = 2
  val PipelinePasses = 3

  /** One cold catalog repetition: the sampled queries, timed from
    * the `fn(spark, dir)` call to the collected all-columns digest, then
    * passes of the group pipeline over the corpus at `--pipeline` under the
    * cap `--limit`. Given `--results`, it then runs the output checks and
    * writes the query results there. */
  def catalog(o: Map[String, String]): Map[String, Any] = {
    val missing = Sample.filterNot(n => SparkEntry.queries.contains(n) && SparkEntry.oracleSql.contains(n))
    require(missing.isEmpty, s"catalog sample queries without a query or an oracle: ${missing.mkString(", ")}")
    val cores = o("cores").toInt
    val work = o("work")
    val data = o("data")
    val trace = o("trace") == "1"
    val calibStart = Host.calibrate()
    val t0 = System.nanoTime()
    val marks = mutable.LinkedHashMap.empty[String, Double]
    def mark(name: String): Unit = marks(name) = (System.nanoTime() - t0) / 1e9
    val spark = session(cores, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    mark("session")
    val listener = new LayerListener
    if (trace) spark.sparkContext.addSparkListener(listener)
    val queries = mutable.ArrayBuffer.empty[Map[String, Any]]
    val frames = mutable.ArrayBuffer.empty[(String, DataFrame)]
    Sample.foreach { name =>
      val fn = SparkEntry.queries(name)
      val run = try {
        Right(Timing.call(spark, s"catalog_sample.$name") {
          fn(spark, data)
        } { df =>
          frames += name -> df
          val cs = df.columns.sorted.map(col).toIndexedSeq
          String.valueOf(df.agg(sum(xxhash64(cs: _*).cast("decimal(38,0)"))).head().get(0))
        })
      } catch { case t: Throwable => Left(t) }
      queries += (run match {
        case Right((digest, span)) =>
          val base = Map[String, Any]("name" -> name, "ok" -> true,
            "wall_s" -> span.wallS, "digest" -> digest)
          if (trace) {
            Timing.drain(spark)
            base ++ layerMap(Layers.of(span, listener.counters(span.tag), cores))
          } else base
        case Left(t) =>
          Map[String, Any]("name" -> name, "ok" -> false, "error" -> String.valueOf(t))
      })
    }
    if (trace) spark.sparkContext.removeSparkListener(listener)
    mark("queries")

    // the group pipeline over the few-capped-groups corpus: untimed
    // warm-up passes, then PipelinePasses timed ones
    val corpus = o("pipeline")
    val pipeline = new Pipeline(spark, corpus, "client_id", o("limit").toLong, "catalog_sample.pipeline")
    val w0 = System.nanoTime()
    for (k <- 0 until PipelineWarmups) {
      pipeline.iteration(s"$work/pipeline-warmup", -1 - k)
      Pipeline.delete(new File(s"$work/pipeline-warmup"))
    }
    val warmupS = (System.nanoTime() - w0) / 1e9
    val out = s"$work/pipeline"
    val phases = (0 until PipelinePasses).map { k =>
      Pipeline.delete(new File(out))
      val (spans, first) = pipeline.iteration(out, k)
      Map("pack_s" -> spans(0).wallS, "stats_s" -> spans(1).wallS,
        "load_s" -> spans(2).wallS, "load_first_group_s" -> first)
    }
    mark("pipeline")

    val full = o.get("results").map { dir =>
      val probes = if (trace) {
        val (fetch, decode) = pipeline.loaderProbe(out)
        Codecs.measure(spark.read.parquet(corpus), "client_id", 4000)
          .map { case (k, v) => s"codec.$k" -> v } ++
          Map("loader.fetch_s" -> fetch, "loader.decode_s" -> decode)
      } else Map.empty[String, Double]
      val (checks, facts) = pipeline.check(out)
      mark("checks")

      // results of the timed DataFrames for the oracle compare, written
      // after every query has run so that no query warms another
      val written = frames.map { case (name, df) =>
        val error = try {
          df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name")
          ""
        } catch { case t: Throwable => String.valueOf(t) }
        (s"result_written:$name", error.isEmpty, error)
      }
      Files.writeString(Paths.get(s"$dir/oracle_sql.json"),
        new ObjectMapper().registerModule(DefaultScalaModule)
          .writeValueAsString(Sample.map(n => n -> SparkEntry.oracleSql(n)).toMap))
      Map(
        "probes" -> probes,
        "checks" -> (checks ++ written).map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
        "facts" -> facts, "stats_dir" -> s"$out/stats")
    }.getOrElse(Map.empty[String, Any])
    mark("results")
    spark.stop()
    full ++ Map(
      "session_s" -> sessionS, "warmup_s" -> warmupS, "marks_s" -> marks, "queries" -> queries, "phases" -> phases,
      "calib_s" -> Seq(calibStart, Host.calibrate()), "peak_rss_mb" -> Host.peakRssMb())
  }
}
