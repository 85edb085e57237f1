package graft.sources

import java.io.{Closeable, InputStream, OutputStream}

import scala.reflect.ClassTag

import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{GraftSql, SparkSession}

/** File plumbing of the hand-rolled sources and sinks ([[TFRecordIO]],
  * [[AvroIO]]): every file is globbed, opened and created with the
  * session's Hadoop conf, so `spark.hadoop.*` settings (object-store
  * credentials, `fs.<scheme>.impl`) reach them as they reach Spark's own
  * file sources. */
private[sources] object HadoopFiles {

  /** Files matching `pattern`, sorted by path. */
  def glob(spark: SparkSession, pattern: String): Seq[String] = {
    val path = new Path(pattern)
    val fs = path.getFileSystem(GraftSql.hadoopConf(spark))
    Option(fs.globStatus(path)).getOrElse(Array.empty)
      .filter(_.isFile).map(_.getPath.toString).sorted.toSeq
  }

  /** One task per file, in `files` order: `open` wraps the file's
    * stream, `records` iterates the wrapper lazily. The wrapper is
    * closed when the task ends, also when a consumer stops early
    * (`limit`, `first`) or the task fails. */
  def readEach[S <: Closeable, T: ClassTag](spark: SparkSession, files: Seq[String])(
      open: (String, InputStream) => S)(records: (String, S) => Iterator[T]): RDD[T] = {
    val conf = GraftSql.shippedHadoopConf(spark)
    spark.sparkContext.parallelize(files, files.length).mapPartitions {
      _.flatMap { f =>
        val p = new Path(f)
        val in = p.getFileSystem(conf()).open(p)
        val wrapped = try open(f, in) catch { case e: Throwable => in.close(); throw e }
        TaskContext.get().addTaskCompletionListener[Unit](_ => wrapped.close())
        records(f, wrapped)
      }
    }
  }

  /** One file `dir/name(i)` per partition i of `rdd`, written by
    * `write`, which closes the stream; returns the paths. */
  def writeEach[T](spark: SparkSession, rdd: RDD[T], dir: String)(name: Int => String)(
      write: (OutputStream, Iterator[T]) => Unit): Seq[String] = {
    val conf = GraftSql.shippedHadoopConf(spark)
    rdd.mapPartitionsWithIndex { (i, it) =>
      val path = new Path(dir, name(i))
      write(path.getFileSystem(conf()).create(path, true), it)
      Iterator.single(path.toString)
    }.collect().toSeq
  }
}
