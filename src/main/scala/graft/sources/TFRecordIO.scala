package graft.sources

import java.io.DataInputStream
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.serialization.TFRecordCodec

/** TFRecord source/sink (SURVEY §2.1 S2/S5). TFRecord files are NOT
  * splittable mid-file (no sync markers), so read parallelism is one
  * partition per file — the same granularity Beam/tf.data get
  * (data_loaders.py:116-122). Sharding on write is one file per Spark
  * partition (`num_shards` = `repartition(n)` upstream, auto = leave the
  * existing partitioning, mirroring tfds_pipelines.py:49-51).
  */
object TFRecordIO {

  /** Write one binary column as TFRecord shard files
    * `prefix-SSSSS-of-NNNNN<suffix>` (reference naming,
    * integration_test.py:46). Compression is AUTO by file name, the
    * Beam WriteToTFRecord contract (compression_type=AUTO infers from
    * file_name_suffix): a `.gz` suffix gzips each whole shard — the
    * layout `tf.data.TFRecordDataset(compression_type="GZIP")` reads.
    * Returns the shard paths. */
  def write(records: Dataset[Array[Byte]], dir: String,
            prefix: String = "groups.tfrecord", suffix: String = ""): Seq[String] = {
    val numShards = records.rdd.getNumPartitions
    val gzip = suffix.endsWith(".gz")
    HadoopFiles.writeEach(records.sparkSession, records.rdd, dir)(
      idx => f"$prefix-$idx%05d-of-$numShards%05d$suffix") { (raw, it) =>
      val out = if (gzip) new GZIPOutputStream(raw) else raw
      try it.foreach(TFRecordCodec.writeRecord(out, _))
      finally out.close()
    }
  }

  /** Read TFRecord files matching `pattern` into a DataFrame of
    * (file string, record binary), one read task per file, one record
    * in memory at a time (a record can be a ~2GB packed group).
    * Decompression is AUTO by file name, mirroring the write side (and
    * tf.data's compression_type="GZIP"). */
  def read(spark: SparkSession, pattern: String): DataFrame = {
    import spark.implicits._
    val files = HadoopFiles.glob(spark, pattern)
    require(files.nonEmpty, s"TFRecordIO.read: no files match $pattern")
    HadoopFiles.readEach(spark, files) { (f, in) =>
      new DataInputStream(if (f.endsWith(".gz")) new GZIPInputStream(in) else in)
    } { (f, din) =>
      Iterator.continually(TFRecordCodec.readRecord(din))
        .takeWhile(_.isDefined).map(r => (f, r.get))
    }.toDF("file", "record")
  }
}
