package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.{DataFileStream, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Avro Object Container File source/sink, hand-rolled against the avro
  * core library (the `spark-avro` datasource module is not on this
  * classpath; the `org.apache.avro` runtime is). Completes the
  * interchange family (parquet / JSONL / CSV / ORC / TFRecord) with the
  * row-oriented format streaming buses and legacy warehouses exchange.
  *
  * Same topology discipline as [[TFRecordIO]]: the codec boundary is the
  * ONLY imperative code — one write task per Spark partition, one read
  * task per file, records streamed one at a time (never a whole shard on
  * heap). Schemas are carried as Avro JSON strings into tasks (parsed
  * per partition) so nothing relies on `Schema`'s Java serialization.
  * The Spark schema is pinned by the caller on read — no inference pass
  * over 100 TB of container headers.
  *
  * Type surface: the Spark primitives the engine's tables use (long,
  * int, string, double, float, boolean, binary) plus arrays of those;
  * nullable fields map to `union(null, T)`. Anything fancier belongs in
  * parquet/ORC, not an interchange dump.
  */
object AvroIO {

  private def avroPrimitive(dt: DataType): Schema = dt match {
    case LongType    => Schema.create(Schema.Type.LONG)
    case IntegerType => Schema.create(Schema.Type.INT)
    case StringType  => Schema.create(Schema.Type.STRING)
    case DoubleType  => Schema.create(Schema.Type.DOUBLE)
    case FloatType   => Schema.create(Schema.Type.FLOAT)
    case BooleanType => Schema.create(Schema.Type.BOOLEAN)
    case BinaryType  => Schema.create(Schema.Type.BYTES)
    case other => throw new IllegalArgumentException(
      s"AvroIO: unsupported field type $other")
  }

  private def nullable(s: Schema): Schema =
    Schema.createUnion(java.util.Arrays.asList(
      Schema.create(Schema.Type.NULL), s))

  /** Spark StructType -> Avro record schema (see type surface above). */
  def toAvroSchema(st: StructType, name: String = "GraftRecord"): Schema = {
    val fields = st.fields.map { f =>
      val base = f.dataType match {
        case ArrayType(elem, containsNull) =>
          val e = avroPrimitive(elem)
          Schema.createArray(if (containsNull) nullable(e) else e)
        case dt => avroPrimitive(dt)
      }
      if (f.nullable)
        new Schema.Field(f.name, nullable(base), null,
          Schema.Field.NULL_DEFAULT_VALUE)
      else new Schema.Field(f.name, base, null, null.asInstanceOf[Object])
    }
    Schema.createRecord(name, null, "graft", false, fields.toSeq.asJava)
  }

  private def toAvroValue(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (b: Array[Byte], BinaryType) => java.nio.ByteBuffer.wrap(b)
    case (s: scala.collection.Seq[_], ArrayType(elem, _)) =>
      s.map(x => toAvroValue(x, elem)).asJava
    case (x, _) => x
  }

  private def fromAvroValue(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (u: org.apache.avro.util.Utf8, StringType) => u.toString
    case (s: CharSequence, StringType) => s.toString
    case (b: java.nio.ByteBuffer, BinaryType) =>
      val arr = new Array[Byte](b.remaining()); b.duplicate().get(arr); arr
    case (l: java.util.Collection[_], ArrayType(elem, _)) =>
      l.asScala.map(x => fromAvroValue(x, elem)).toSeq
    case (x, _) => x
  }

  /** Write `df` as Avro container files `prefix-SSSSS.avro`, one per
    * Spark partition (shard count = upstream partitioning, as with the
    * TFRecord sink). Returns the file paths. */
  def write(df: DataFrame, dir: String, prefix: String = "part"): Seq[String] = {
    val sparkSchema = df.schema
    val avroJson = toAvroSchema(sparkSchema).toString
    HadoopFiles.writeEach(df.sparkSession, df.rdd, dir)(
      idx => f"$prefix-$idx%05d.avro") { (out, it) =>
      val schema = new Schema.Parser().parse(avroJson)
      val writer = new DataFileWriter(
        new GenericDatumWriter[GenericRecord](schema))
      writer.create(schema, out) // takes ownership of `out`
      try {
        it.foreach { row =>
          val rec = new GenericData.Record(schema)
          var i = 0
          while (i < sparkSchema.length) {
            rec.put(i, toAvroValue(row.get(i), sparkSchema(i).dataType))
            i += 1
          }
          writer.append(rec)
        }
      } finally writer.close()
    }
  }

  /** Read Avro container files matching `pattern` with a caller-pinned
    * Spark schema (reader-schema projection: fields are fetched by
    * NAME from each record, so column order and pruning follow
    * `sparkSchema`, not the file). One read task per file; records are
    * streamed lazily. */
  def read(spark: SparkSession, pattern: String,
           sparkSchema: StructType): DataFrame = {
    val files = HadoopFiles.glob(spark, pattern)
    require(files.nonEmpty, s"AvroIO.read: no files match $pattern")
    val fieldTypes = sparkSchema.fields.map(f => (f.name, f.dataType)).toSeq
    val rows = HadoopFiles.readEach(spark, files) { (_, in) =>
      new DataFileStream(in, new GenericDatumReader[GenericRecord]())
    } { (_, reader) =>
      (reader: java.util.Iterator[GenericRecord]).asScala.map { rec =>
        Row.fromSeq(fieldTypes.map { case (n, dt) => fromAvroValue(rec.get(n), dt) })
      }
    }
    spark.createDataFrame(rows, sparkSchema)
  }
}
