package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.api.java.UDF1
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.expressions.{DecodeExample, EncodeExample}
import graft.serialization.{SequenceExampleCodec, TFExampleCodec}
import graft.sources.TFRecordIO

/** The full partition-and-pack pipeline plus the group-stream loader —
  * the reference's `tfds_to_tfrecords` (tfds_pipelines.py:25-78) and
  * `PartitionedDataset` (data_loaders.py:31-125) surfaces.
  *
  * Engine-native representation: groups are rows of
  * `(group_id, examples array<binary>, num_examples, num_bytes)` stored
  * as Parquet (columnar, splittable, self-describing — strictly better
  * than row-proto TFRecords for everything except TF interop). The
  * TFRecord/SequenceExample path is the wire-compat add-on, reproducing
  * the reference's exact on-disk format including the id-drop invariant
  * (the group id is REMOVED before the sink, tfds_pipelines.py:64-66).
  */
object PartitionedDataset {

  /** Proto-serialize each row (schema-driven boundary codec). */
  def serializeExpr(schema: StructType): Column =
    EncodeExample(struct(schema.fieldNames.map(col).toSeq: _*), schema)

  /** Key -> serialize -> capped pack: `(group_id, examples, num_examples,
    * num_bytes)`. One shuffle end-to-end (SURVEY §3.1). */
  def packExamples(df: DataFrame, grouper: Grouper,
                   limit: Long = Pack.BytesLimit): DataFrame =
    Pack.packGroups(df, grouper, serializeExpr(df.schema), limit)

  /** One group's examples as a serialized SequenceExample record. */
  private def sequenceExample(examples: Column): Column =
    udf(new UDF1[Seq[Array[Byte]], Array[Byte]] {
      override def call(ex: Seq[Array[Byte]]): Array[Byte] =
        SequenceExampleCodec.encode(ex)
    }, BinaryType).apply(examples)

  /** Write packed groups as TFRecords of SequenceExamples, dropping the
    * group id (reference invariant §1.4.2). One TFRecord record per
    * group. Returns shard paths. */
  def writeTFRecords(packed: DataFrame, dir: String,
                     prefix: String = "groups.tfrecord",
                     suffix: String = ""): Seq[String] = {
    val spark = packed.sparkSession
    import spark.implicits._
    val records = packed
      .select(sequenceExample(col("examples")).as("record"))
      .as[Array[Byte]]
    TFRecordIO.write(records, dir, prefix, suffix)
  }

  /** Engine-native sink: packed groups as Parquet (keeps the group id —
    * the optional upgrade SURVEY §1.4.2 allows). */
  def writeParquet(packed: DataFrame, dir: String): Unit =
    packed.write.mode("overwrite").parquet(dir)

  /** [[writeTFRecords]] with DETERMINISTIC shard assignment: each group
    * goes to shard `md5_bucket(group_id) mod nShards` via an explicit
    * identity partitioner, so the shard CONTENTS (not just the count)
    * are a pure function of the data — a retry, a different cluster, or
    * another engine produces byte-identical shard membership. This is
    * what makes a seeded-shuffle loader reproducible end to end: the
    * reference's `list_files(shuffle_seed=...)` (data_loaders.py:98-100)
    * only fixes the file ORDER; deterministic sharding fixes what is IN
    * each file. Empty shards are still written (every partition emits a
    * file), preserving the `-of-NNNNN` contract. */
  def writeTFRecordsSharded(packed: DataFrame, dir: String, nShards: Int,
                            prefix: String = "groups.tfrecord"): Seq[String] = {
    val spark = packed.sparkSession
    import spark.implicits._
    val shard = pmod(
      graft.expressions.Md5Hex.u32(col("group_id").cast("string")),
      lit(nShards.toLong))
    val pairs = packed
      .select(shard.as("__shard"),
        sequenceExample(col("examples")).as("record"))
      .as[(Long, Array[Byte])]
      .rdd
      .partitionBy(new org.apache.spark.Partitioner {
        override def numPartitions: Int = nShards
        override def getPartition(key: Any): Int =
          key.asInstanceOf[Long].toInt
      })
      .values
    TFRecordIO.write(spark.createDataset(pairs), dir, prefix)
  }

  /** Load TFRecord shards back into anonymous group rows
    * `(group_file, examples array<binary>)` — the dataset-of-datasets
    * shape, one row per group (data_loaders.py:70-125). */
  def loadTFRecords(spark: SparkSession, pattern: String): DataFrame = {
    import spark.implicits._
    // parsed by a typed map, which the explode-inferred `size(examples) > 0`
    // filter cannot be pushed below: one parse per record
    TFRecordIO.read(spark, pattern).as[(String, Array[Byte])]
      .map { case (file, record) => (file, SequenceExampleCodec.decode(record)) }
      .toDF("file", "examples")
  }

  /** Decode a group-rows DataFrame back to the original per-example
    * schema: explode the packed array and proto-decode each element.
    * Round-trip invariant: output schema == original input schema
    * (integration_test.py:52-59). */
  def decodeExamples(groups: DataFrame, schema: StructType): DataFrame = {
    groups
      .select(explode(col("examples")).as("__ex"))
      .select(DecodeExample(col("__ex"), schema).as("__row"))
      .select(schema.fieldNames.map(n => col(s"__row.$n")).toSeq: _*)
  }

  /** Per-group processing with the loader's ergonomics (a function over
    * one group's example iterator), without collecting groups to the
    * driver: the Spark-native equivalent of the reference's
    * dataset-of-datasets consumption (data_loaders.py:70-125 feeding
    * dataset_utils.py:48-82). */
  def mapGroups[T: org.apache.spark.sql.Encoder](
      packed: DataFrame, schema: StructType,
      f: (String, Iterator[Row]) => T,
      groupCol: String = Grouper.GroupCol): org.apache.spark.sql.Dataset[T] = {
    val codec = new TFExampleCodec(schema)
    import packed.sparkSession.implicits._
    packed
      .select(col(groupCol).cast("string"), col("examples"))
      .as[(String, Seq[Array[Byte]])]
      .map { case (gid, examples) => f(gid, examples.iterator.map(codec.decode)) }
  }
}
