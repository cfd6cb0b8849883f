package graft.cdc

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.conf.HadoopParquetConfiguration
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.hadoop.api.{InitContext, ReadSupport}
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.hadoop.{ParquetReader, ParquetWriter}
import org.apache.parquet.io.api.{
  Binary, Converter, GroupConverter, PrimitiveConverter, RecordMaterializer}
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimestampLogicalTypeAnnotation, TimeUnit}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.parquet.schema.{GroupType, LogicalTypeAnnotation, MessageType, Type, Types}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** Scalar parquet ⇄ InternalRow codec for the DSv2 streaming surface —
  * built on parquet-hadoop's PUBLIC example Group API (no
  * `org.apache.spark.sql.execution.*`):
  *
  *  - the `graft-changelog` PartitionReaders read the lake's own data
  *    files (column-projected via a requested-schema pushdown, so a
  *    before-side key probe reads only (url, _lsn));
  *  - the `graft-lake` StreamingWrite DataWriters stage micro-batch rows
  *    as parquet the driver-side merge then reads back vectorized.
  *
  * Scope is the lake's column universe: scalar types only (the web-pages
  * shape plus anything ALTER TABLE can mint — add-column / widen-type
  * registry rules keep it scalar). Nested/array/map columns raise a
  * clear error rather than corrupting silently. Widening (INT32 file →
  * LONG/DOUBLE declared, FLOAT → DOUBLE) follows the schema registry;
  * timestamps handle INT64 MICROS/MILLIS/NANOS and legacy INT96
  * (stats-less pre-pin files) transparently.
  */
private[graft] object ParquetRowCodec {

  /** The driver session's FULL effective hadoopConfiguration as plain
    * pairs, for executor-side readers/writers to rebuild — a bare
    * `new Configuration()` on the executor drops what Spark injected
    * (`spark.hadoop.*`: FS impls, credentials) AND, in client mode,
    * whatever only the driver's HADOOP_CONF_DIR site XMLs carry
    * (review r5, twice: a driver-relative delta was still wrong when
    * executor containers lack the driver's XMLs). Values are read
    * expanded via get(). This is Spark's own SerializableConfiguration
    * pattern re-expressed without the private[spark] class; executors
    * turn it into a conf through [[confFrom]].
    */
  def hadoopConfDelta(spark: org.apache.spark.sql.SparkSession)
      : Seq[(String, String)] = {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.asScala.flatMap(e => Option(hc.get(e.getKey)).map(e.getKey -> _))
      .toSeq
  }

  /** Executor side: the driver's effective conf, built once per JVM and
    * shared by every task for as long as the payload stays the same — a
    * build parses the classpath default XMLs and sets ~1k keys, more work
    * per task than decoding a bucket. Entries apply over a classpath
    * default (quiet on executors that DO have the site XMLs — same values
    * win). The cache holds the last payload and compares by content, so a
    * session conf change reaches the next scan as a rebuild. Callers only
    * read the shared instance: parquet's reader and writer builders never
    * set a key in their conf (HadoopConfCacheSpec pins that).
    */
  def confFrom(delta: Seq[(String, String)]): Configuration = synchronized {
    if (cached == null || cached._1 != delta) {
      val c = new Configuration()
      delta.foreach { case (k, v) => c.set(k, v) }
      cached = (delta, c)
    }
    cached._2
  }
  private var cached: (Seq[(String, String)], Configuration) = _

  // ---------- read side ----------

  /** Column-projecting DIRECT-to-row read support (round-6): materializes
    * each record straight into an `Array[Any]` laid out by the caller's
    * `target` StructType — no intermediate `SimpleGroup` (whose per-field
    * ArrayLists and boxing made the original Group path ~3× slower than
    * Spark's vectorized reader on narrow columns; measured via MorBench's
    * local-vs-agg A/B). Field mapping is by NAME against the file's own
    * schema: fields the file lacks stay null (schema-evolution
    * null-backfill), present fields widen per the registry rules, and
    * only `target`'s fields are requested from the column store (the
    * reader-side analog of Catalyst column pruning). Dictionary-encoded
    * binary/string columns convert each dictionary entry ONCE and reuse
    * it per row.
    */
  final class RowReadSupport(target: StructType)
      extends ReadSupport[Array[Any]] {
    private val wanted: Set[String] = target.fieldNames.toSet
    override def init(context: InitContext): ReadSupport.ReadContext = {
      val fs = context.getFileSchema
      val kept = fs.getFields.asScala.filter(f => wanted.contains(f.getName))
      new ReadSupport.ReadContext(new MessageType(fs.getName, kept.asJava))
    }
    override def prepareForRead(conf: Configuration,
        meta: java.util.Map[String, String], fileSchema: MessageType,
        ctx: ReadSupport.ReadContext): RecordMaterializer[Array[Any]] =
      new RowMaterializer(ctx.getRequestedSchema, target)
  }

  private final class RowMaterializer(requested: MessageType,
      target: StructType) extends RecordMaterializer[Array[Any]] {
    private val root = new RowGroupConverter(requested, target)
    override def getCurrentRecord: Array[Any] = root.current
    override def getRootConverter: GroupConverter = root
  }

  private final class RowGroupConverter(requested: MessageType,
      target: StructType) extends GroupConverter {
    var current: Array[Any] = _
    private val fields: Array[Converter] =
      requested.getFields.asScala.map { f =>
        fieldConverter(this, target.fieldIndex(f.getName),
          target(f.getName).dataType, f)
      }.toArray
    override def getConverter(i: Int): Converter = fields(i)
    // a FRESH array per record: consumers buffer rows (layer-resolve
    // maps, before-side key sets), so the holder must never be recycled
    override def start(): Unit = { current = new Array[Any](target.length) }
    override def end(): Unit = ()
  }

  private def fieldConverter(row: RowGroupConverter, ti: Int,
      target: DataType, f: Type): Converter = {
    require(f.isPrimitive, s"ParquetRowCodec: non-scalar column " +
      s"'${f.getName}' ($f) is outside the lake's streaming column universe")
    val prim = f.asPrimitiveType.getPrimitiveTypeName
    def unsupported = throw new UnsupportedOperationException(
      s"ParquetRowCodec: cannot read parquet $prim as Spark $target " +
        s"for column '${f.getName}'")
    // binary/string converters opt into dictionary decoding: each
    // dictionary entry converts once, rows then reuse the object
    abstract class DictConverter extends PrimitiveConverter {
      protected var dict: Array[AnyRef] = _
      protected def convertEntry(b: Binary): AnyRef
      override def hasDictionarySupport: Boolean = true
      override def setDictionary(
          d: org.apache.parquet.column.Dictionary): Unit = {
        dict = new Array[AnyRef](d.getMaxId + 1)
        var i = 0
        while (i < dict.length) { dict(i) = convertEntry(d.decodeToBinary(i)); i += 1 }
      }
      override def addValueFromDictionary(id: Int): Unit =
        row.current(ti) = dict(id)
    }
    (target, prim) match {
      case (StringType, PrimitiveTypeName.BINARY) =>
        new DictConverter {
          override protected def convertEntry(b: Binary): AnyRef =
            UTF8String.fromBytes(b.getBytes)
          override def addBinary(b: Binary): Unit =
            row.current(ti) = UTF8String.fromBytes(b.getBytes)
        }
      case (BinaryType, PrimitiveTypeName.BINARY |
          PrimitiveTypeName.FIXED_LEN_BYTE_ARRAY) =>
        new DictConverter {
          override protected def convertEntry(b: Binary): AnyRef = b.getBytes
          override def addBinary(b: Binary): Unit =
            row.current(ti) = b.getBytes
        }
      case (LongType, PrimitiveTypeName.INT64) =>
        new PrimitiveConverter {
          override def addLong(v: Long): Unit = row.current(ti) = v
        }
      case (LongType, PrimitiveTypeName.INT32) =>
        new PrimitiveConverter {
          override def addInt(v: Int): Unit = row.current(ti) = v.toLong
        }
      case (IntegerType, PrimitiveTypeName.INT32) =>
        new PrimitiveConverter {
          override def addInt(v: Int): Unit = row.current(ti) = v
        }
      case (ShortType, PrimitiveTypeName.INT32) =>
        new PrimitiveConverter {
          override def addInt(v: Int): Unit = row.current(ti) = v.toShort
        }
      case (ByteType, PrimitiveTypeName.INT32) =>
        new PrimitiveConverter {
          override def addInt(v: Int): Unit = row.current(ti) = v.toByte
        }
      case (DoubleType, PrimitiveTypeName.DOUBLE) =>
        new PrimitiveConverter {
          override def addDouble(v: Double): Unit = row.current(ti) = v
        }
      case (DoubleType, PrimitiveTypeName.FLOAT) =>
        new PrimitiveConverter {
          override def addFloat(v: Float): Unit = row.current(ti) = v.toDouble
        }
      case (DoubleType, PrimitiveTypeName.INT32) =>
        new PrimitiveConverter {
          override def addInt(v: Int): Unit = row.current(ti) = v.toDouble
        }
      case (DoubleType, PrimitiveTypeName.INT64) =>
        new PrimitiveConverter {
          override def addLong(v: Long): Unit = row.current(ti) = v.toDouble
        }
      case (FloatType, PrimitiveTypeName.FLOAT) =>
        new PrimitiveConverter {
          override def addFloat(v: Float): Unit = row.current(ti) = v
        }
      case (BooleanType, PrimitiveTypeName.BOOLEAN) =>
        new PrimitiveConverter {
          override def addBoolean(v: Boolean): Unit = row.current(ti) = v
        }
      case (DateType, PrimitiveTypeName.INT32) =>
        new PrimitiveConverter {
          override def addInt(v: Int): Unit = row.current(ti) = v
        }
      case (TimestampType, PrimitiveTypeName.INT64) =>
        val toMicros: Long => Long =
          f.getLogicalTypeAnnotation match {
            case t: TimestampLogicalTypeAnnotation => t.getUnit match {
              case TimeUnit.MILLIS => _ * 1000L
              case TimeUnit.MICROS => identity
              case TimeUnit.NANOS => _ / 1000L
            }
            case _ => identity // our own writes are always annotated MICROS
          }
        new PrimitiveConverter {
          override def addLong(v: Long): Unit = row.current(ti) = toMicros(v)
        }
      case (TimestampType, PrimitiveTypeName.INT96) =>
        // legacy Spark INT96: 8 bytes nanos-of-day LE + 4 bytes julian day
        new PrimitiveConverter {
          private def micros(b: Binary): Long = {
            val buf = java.nio.ByteBuffer.wrap(b.getBytes)
              .order(java.nio.ByteOrder.LITTLE_ENDIAN)
            val nanosOfDay = buf.getLong
            val julianDay = buf.getInt
            (julianDay - 2440588L) * 86400000000L + nanosOfDay / 1000L
          }
          override def addBinary(b: Binary): Unit =
            row.current(ti) = micros(b)
        }
      case _ => unsupported
    }
  }

  /** Opens through an InputFile-based builder: the path-based
    * `ParquetReader.builder` creates (and parses) a throwaway
    * `new Configuration()` per file before `withConf` replaces it.
    */
  def openReader(path: String, target: StructType,
      conf: Configuration): ParquetReader[Array[Any]] =
    new RowReaderBuilder(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path), conf), conf, target).build()

  private final class RowReaderBuilder(file: HadoopInputFile,
      conf: Configuration, target: StructType)
      extends ParquetReader.Builder[Array[Any]](file,
        new HadoopParquetConfiguration(conf)) {
    override protected def getReadSupport: ReadSupport[Array[Any]] =
      new RowReadSupport(target)
  }

  // ---------- write side (sink staging) ----------

  def messageTypeFor(schema: StructType): MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach { f =>
      val t: Type = f.dataType match {
        case StringType => Types.optional(PrimitiveTypeName.BINARY)
          .as(LogicalTypeAnnotation.stringType()).named(f.name)
        case BinaryType =>
          Types.optional(PrimitiveTypeName.BINARY).named(f.name)
        case LongType => Types.optional(PrimitiveTypeName.INT64).named(f.name)
        case IntegerType =>
          Types.optional(PrimitiveTypeName.INT32).named(f.name)
        case ShortType => Types.optional(PrimitiveTypeName.INT32)
          .as(LogicalTypeAnnotation.intType(16, true)).named(f.name)
        case ByteType => Types.optional(PrimitiveTypeName.INT32)
          .as(LogicalTypeAnnotation.intType(8, true)).named(f.name)
        case DoubleType =>
          Types.optional(PrimitiveTypeName.DOUBLE).named(f.name)
        case FloatType => Types.optional(PrimitiveTypeName.FLOAT).named(f.name)
        case BooleanType =>
          Types.optional(PrimitiveTypeName.BOOLEAN).named(f.name)
        case TimestampType => Types.optional(PrimitiveTypeName.INT64)
          .as(LogicalTypeAnnotation.timestampType(true, TimeUnit.MICROS))
          .named(f.name)
        case DateType => Types.optional(PrimitiveTypeName.INT32)
          .as(LogicalTypeAnnotation.dateType()).named(f.name)
        case other => throw new UnsupportedOperationException(
          s"ParquetRowCodec: cannot stage Spark $other column '${f.name}' " +
            "(scalar lake columns only)")
      }
      b.addField(t)
    }
    b.named("graft_stage")
  }

  def openWriter(path: String, mt: MessageType,
      conf: Configuration): ParquetWriter[Group] =
    ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(path))
      .withConf(conf).withType(mt)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()

  /** One InternalRow → Group. Binary payloads go in as REUSED arrays so
    * parquet copies them immediately — the incoming row's buffers are
    * recycled by Spark after write() returns.
    */
  def toGroup(row: InternalRow, schema: StructType, mt: MessageType): Group = {
    val g = new SimpleGroup(mt)
    var i = 0
    while (i < schema.fields.length) {
      if (!row.isNullAt(i)) schema.fields(i).dataType match {
        case StringType =>
          g.add(i, Binary.fromReusedByteArray(row.getUTF8String(i).getBytes))
        case BinaryType =>
          g.add(i, Binary.fromReusedByteArray(row.getBinary(i)))
        case LongType | TimestampType => g.add(i, row.getLong(i))
        case IntegerType | DateType => g.add(i, row.getInt(i))
        case ShortType => g.add(i, row.getShort(i).toInt)
        case ByteType => g.add(i, row.getByte(i).toInt)
        case DoubleType => g.add(i, row.getDouble(i))
        case FloatType => g.add(i, row.getFloat(i))
        case BooleanType => g.add(i, row.getBoolean(i))
        case other => throw new UnsupportedOperationException(
          s"ParquetRowCodec: cannot stage Spark $other")
      }
      i += 1
    }
    g
  }
}
