package graft

import java.net.URI
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.types._

import graft.sources.{AvroIO, TFRecordIO}

/** The local file system under the scheme `counting://`, counting the
  * streams it opens (for reading or writing) and the ones closed. */
class CountingFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("counting:///")
  override def getScheme: String = "counting"

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val id = CountingFileSystem.opened(f)
    new FSDataInputStream(super.open(f, bufferSize)) {
      override def close(): Unit = { CountingFileSystem.closed(id); super.close() }
    }
  }

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    val id = CountingFileSystem.opened(f)
    val out = super.create(f, overwrite, bufferSize, replication, blockSize,
      progress)
    new FSDataOutputStream(out, null) {
      override def close(): Unit = { CountingFileSystem.closed(id); super.close() }
    }
  }
}

object CountingFileSystem {
  private val next = new AtomicInteger
  /** Streams opened and not yet closed: id -> path. */
  val open = new ConcurrentHashMap[Int, String]
  val total = new AtomicInteger

  def opened(f: Path): Int = {
    val id = next.incrementAndGet()
    open.put(id, f.toString)
    total.incrementAndGet()
    id
  }

  def closed(id: Int): Unit = open.remove(id)
}

class HadoopFilesSpec extends SparkSpec {

  test("TFRecord and Avro I/O open files with the session's Hadoop conf and close every stream") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.counting.impl", classOf[CountingFileSystem].getName)
    val local = java.nio.file.Files.createTempDirectory("graft-hadoopfiles")
    try {
      val dir = s"counting://$local"
      val before = CountingFileSystem.total.get
      // two shards of three records each, so `limit(1)` leaves a reader
      // mid-file
      val records = spark.createDataset((1 to 6).map(i => Array.fill[Byte](i)(i.toByte)))(
        Encoders.BINARY).repartition(2)
      val shards = TFRecordIO.write(records, s"$dir/tf")
      shards should have size 2
      all(shards) should startWith("counting:")
      TFRecordIO.read(spark, s"$dir/tf/groups.tfrecord-*").limit(1).collect() should have size 1

      val schema = StructType(Seq(StructField("id", LongType, nullable = false)))
      AvroIO.write(spark.range(6).toDF("id").repartition(2), s"$dir/avro")
      AvroIO.read(spark, s"$dir/avro/part-*.avro", schema).limit(1).collect() should have size 1

      // 2 TFRecord + 2 Avro shards written, at least one of each read
      CountingFileSystem.total.get - before should be >= 6
      CountingFileSystem.open shouldBe empty
    } finally {
      conf.unset("fs.counting.impl")
      org.apache.commons.io.FileUtils.deleteDirectory(local.toFile)
    }
  }
}
