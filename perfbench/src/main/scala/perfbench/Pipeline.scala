package perfbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.api.java.UDF1
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.{GroupCounts, Grouper, PartitionedDataset}
import graft.serialization.TFExampleCodec
import graft.sources.TFRecordIO

/** The paper's three jobs over one parquet input: partition-and-pack into
  * TFRecord shards, per-group statistics, and the group-stream loader. */
final class Pipeline(spark: SparkSession, input: String, key: String,
                     limit: Long, tagPrefix: String) {

  val schema: StructType = spark.read.parquet(input).schema
  private def grouper = Grouper.byColumn(key)

  /** One pass of all three jobs into `out`; returns the timed spans and
    * the time from the loader call to the first group at the driver. */
  def iteration(out: String, iter: Int): (Seq[Span], Double) = {
    val shards = s"$out/shards"
    val stats = s"$out/stats"
    val (_, pack) = Timing.call(spark, s"$tagPrefix.pack.$iter") {
      PartitionedDataset.packExamples(spark.read.parquet(input), grouper, limit)
    } { packed => PartitionedDataset.writeTFRecords(packed, shards) }
    val (_, st) = Timing.call(spark, s"$tagPrefix.stats.$iter") {
      GroupCounts(spark.read.parquet(input), grouper)
    } { counts => GroupCounts.writeFormatted(counts, stats) }
    val t0 = System.nanoTime()
    var first = -1.0
    val (_, load) = Timing.call(spark, s"$tagPrefix.load.$iter") {
      PartitionedDataset.decodeExamples(
        PartitionedDataset.loadTFRecords(spark, s"$shards/*"), schema)
    } { decoded =>
      val it = decoded.toLocalIterator()
      var n = 0L
      while (it.hasNext) {
        it.next()
        if (n == 0) first = (System.nanoTime() - t0) / 1e9
        n += 1
      }
      n
    }
    (Seq(pack, st, load), first)
  }

  /** Loader layers, timed apart: raw shard records streamed to the driver
    * (fetch), and parallel parse + decode with no driver transfer. */
  def loaderProbe(out: String): (Double, Double) = {
    val shards = s"$out/shards/*"
    val t0 = System.nanoTime()
    val it = TFRecordIO.read(spark, shards).toLocalIterator()
    while (it.hasNext) it.next()
    val t1 = System.nanoTime()
    PartitionedDataset.decodeExamples(
      PartitionedDataset.loadTFRecords(spark, shards), schema)
      .write.format("noop").mode("overwrite").save()
    val t2 = System.nanoTime()
    ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
  }

  /** Output checks on the shards of the last iteration. Returns
    * (check name, passed, detail) plus the measured pack facts. */
  def check(out: String): (Seq[(String, Boolean, String)], Map[String, Double]) = {
    val in = spark.read.parquet(input)
    // input rows: key, content hash, serialized size
    val inRows = in.select(col(key), Pipeline.rowHash(in).as("h"),
      octet_length(PartitionedDataset.serializeExpr(in.schema)).cast("long").as("b")).cache()
    // shard rows: record id, key, content hash (decoded with the row codec)
    val codec = new TFExampleCodec(schema)
    val decode = udf(new UDF1[Array[Byte], Row] {
      override def call(b: Array[Byte]): Row = codec.decode(b)
    }, schema)
    val examples = PartitionedDataset.loadTFRecords(spark, s"$out/shards/*")
      .withColumn("rid", monotonically_increasing_id())
      .select(col("rid"), explode(col("examples")).as("ex"))
      .select(col("rid"), octet_length(col("ex")).cast("long").as("b"),
        decode(col("ex")).as("r"))
    val decoded = examples.select(Seq(col("rid"), col("b")) ++
      schema.fieldNames.map(n => col(s"r.$n").as(n)): _*)
    val outRows = decoded.select(col("rid"), col("b"), col(key),
      xxhash64(schema.fieldNames.sorted.map(col).toIndexedSeq: _*).as("h")).cache()

    // records: one key each, distinct keys, bytes under the limit
    val records = outRows.groupBy("rid")
      .agg(countDistinct(col(key)).as("keys"), max(col(key)).as("k"), sum("b").as("bytes"))
      .agg(count(lit(1)), sum(when(col("keys") =!= 1, 1L).otherwise(0L)),
        max("bytes"), countDistinct(col("k")))
      .head()
    val nRecords = records.getLong(0)
    val mixed = records.getLong(1)
    val maxBytes = Option(records.get(2)).map(_.toString.toLong).getOrElse(0L)
    val nKeys = records.getLong(3)

    // multiset difference per (key, hash), split by whether the cap binds
    val capped = inRows.groupBy(key).agg((sum("b") >= limit).as("capped"))
    val n = (c: String) => coalesce(col(c), lit(0L))
    val diff = inRows.groupBy(key, "h").agg(count(lit(1)).as("n_in"))
      .join(outRows.groupBy(key, "h").agg(count(lit(1)).as("n_out")), Seq(key, "h"), "full_outer")
      .join(capped, Seq(key), "left")
      .agg(
        sum(greatest(n("n_out") - n("n_in"), lit(0L))),
        sum(when(coalesce(col("capped"), lit(false)), lit(0L))
          .otherwise(abs(n("n_out") - n("n_in")))),
        sum(n("n_in")), sum(n("n_out")),
        countDistinct(when(col("n_in").isNotNull, col(key))))
      .head()
    val extra = diff.getLong(0)
    val uncappedDiff = diff.getLong(1)
    val serialized = diff.getLong(2).toDouble
    val kept = diff.getLong(3).toDouble
    val nGroups = diff.getLong(4)
    val shardFiles = new File(out, "shards").listFiles()
      .filter(_.getName.startsWith("groups.tfrecord"))
    Seq(inRows, outRows).foreach(_.unpersist())

    (Seq(
      ("kept_subset_of_input", extra == 0, s"$extra shard rows not in the input"),
      ("uncapped_groups_round_trip", uncappedDiff == 0,
        s"$uncappedDiff rows differ in groups the cap does not touch"),
      ("one_record_per_group", nRecords == nGroups && nKeys == nGroups && mixed == 0,
        s"$nRecords records, $nKeys keys, $mixed mixed records, $nGroups groups"),
      ("records_under_limit", maxBytes < limit, s"largest record $maxBytes bytes, limit $limit")),
      Map(
        "kept_ratio" -> kept / serialized,
        "max_group_mb" -> maxBytes / (1024.0 * 1024.0),
        "shard_bytes" -> shardFiles.map(_.length).sum.toDouble,
        "shards" -> shardFiles.length.toDouble))
  }
}

object Pipeline {
  /** A 64-bit hash of every column of a row, taken in name order. */
  def rowHash(df: DataFrame): Column = xxhash64(df.columns.sorted.map(col).toIndexedSeq: _*)

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete(): Unit
  }
}
