package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream,
  DataOutputStream, EOFException, InputStream}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Java-serializable carrier for a Hadoop `Configuration` (which is
  * `Writable` but not `Serializable`) — lets the writer tasks open the
  * destination FileSystem with the real job configuration instead of a
  * default-constructed one (which would drop `fs.s3a.*`/HDFS settings
  * on a real cluster). */
private[sources] final class SerializableHadoopConf(
    @transient var value: Configuration) extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}

/** Native TFRecord source/sink — the reference's actual on-disk format
  * (`make_tf_record.py:86-97` writes `tf.train.Example` records through
  * `TFRecordWriter`; `data_queue.py:49-55` reads them back). Implemented
  * from the public format specs only:
  *
  *   - TFRecord framing (tensorflow/core/lib/io/record_writer.cc):
  *     `uint64 length (LE) · uint32 masked_crc32c(length) · data ·
  *     uint32 masked_crc32c(data)`, with
  *     `mask(crc) = rotl(crc, 17) + 0xa282ead8` over CRC32-Castagnoli
  *     (`java.util.zip.CRC32C`).
  *   - `tf.train.Example` (example.proto / feature.proto): a protobuf
  *     message `Example{ Features features = 1 }`,
  *     `Features{ map<string, Feature> feature = 1 }`,
  *     `Feature{ oneof { BytesList=1, FloatList=2, Int64List=3 } }`.
  *     The wire format is hand-rolled below (varints, length-delimited
  *     fields, packed scalars) — no protobuf dependency.
  *
  * Scale shape: a TFRecord file has no sync markers, so the FILE is the
  * unit of parallelism (exactly the reference's design — it shards each
  * split 5 ways for that reason, `make_tf_record.py:11`). The reader
  * rides `sc.binaryFiles` (streams, never whole-file buffers); the
  * writer emits one shard per partition through the Hadoop FileSystem
  * API with the real broadcast job configuration, so `hdfs://`/`s3a://`
  * destinations work the same as `file:`.
  */
object TfRecords {

  // ———— framing ————

  /** CRC32-Castagnoli of a byte range (the polynomial TFRecord uses). */
  private[graft] def crc32c(bytes: Array[Byte], off: Int, len: Int): Int = {
    val c = new java.util.zip.CRC32C()
    c.update(bytes, off, len)
    c.getValue.toInt
  }

  /** TFRecord's CRC mask: `rotl(crc, 17) + 0xa282ead8` (record_writer.h). */
  private[graft] def mask(crc: Int): Int =
    Integer.rotateLeft(crc, 17) + 0xa282ead8

  private def maskedCrc(bytes: Array[Byte]): Int =
    mask(crc32c(bytes, 0, bytes.length))

  private def putLongLE(v: Long): Array[Byte] = {
    val b = new Array[Byte](8)
    var i = 0
    while (i < 8) { b(i) = ((v >>> (8 * i)) & 0xff).toByte; i += 1 }
    b
  }

  private def writeIntLE(out: DataOutputStream, v: Int): Unit = {
    out.write(v & 0xff); out.write((v >>> 8) & 0xff)
    out.write((v >>> 16) & 0xff); out.write((v >>> 24) & 0xff)
  }

  private def readIntLE(in: DataInputStream): Int = {
    val b0 = in.read(); val b1 = in.read(); val b2 = in.read()
    val b3 = in.read()
    if ((b0 | b1 | b2 | b3) < 0) throw new EOFException()
    b0 | (b1 << 8) | (b2 << 16) | (b3 << 24)
  }

  /** Frame one record: length, masked length-CRC, payload, payload-CRC. */
  def writeRecord(out: DataOutputStream, data: Array[Byte]): Unit = {
    val lenBytes = putLongLE(data.length.toLong)
    out.write(lenBytes)
    writeIntLE(out, maskedCrc(lenBytes))
    out.write(data)
    writeIntLE(out, maskedCrc(data))
  }

  /** Read one framed record; `None` at clean end-of-file; throws on a
    * CRC mismatch or truncated tail (corrupt shard ⇒ fail the task —
    * same contract as TF's reader). */
  def readRecord(in: DataInputStream): Option[Array[Byte]] = {
    val lenBytes = new Array[Byte](8)
    val first = in.read()
    if (first < 0) return None // clean EOF between records
    lenBytes(0) = first.toByte
    in.readFully(lenBytes, 1, 7)
    val lenCrc = readIntLE(in)
    require(lenCrc == maskedCrc(lenBytes), "TFRecord length CRC mismatch")
    val len = java.lang.Long.reverseBytes(
      java.nio.ByteBuffer.wrap(lenBytes).getLong()) // stored LE
    require(len >= 0 && len <= Int.MaxValue, s"TFRecord length $len")
    val data = new Array[Byte](len.toInt)
    in.readFully(data)
    val dataCrc = readIntLE(in)
    require(dataCrc == maskedCrc(data), "TFRecord data CRC mismatch")
    Some(data)
  }

  // ———— tf.train.Example: typed model ————

  sealed trait TfFeature
  final case class BytesFeature(values: Seq[Array[Byte]]) extends TfFeature
  final case class FloatFeature(values: Seq[Float]) extends TfFeature
  final case class Int64Feature(values: Seq[Long]) extends TfFeature

  object BytesFeature {
    def one(v: Array[Byte]): BytesFeature = BytesFeature(Seq(v))
    def str(v: String): BytesFeature = one(v.getBytes(UTF_8))
  }

  // ———— protobuf wire format (write) ————

  private final class ProtoOut {
    private val buf = new java.io.ByteArrayOutputStream(64)
    def varint(v0: Long): this.type = {
      var v = v0
      while ((v & ~0x7fL) != 0) { buf.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      buf.write(v.toInt); this
    }
    def tag(field: Int, wire: Int): this.type = varint((field << 3) | wire)
    def lenDelim(field: Int, b: Array[Byte]): this.type = {
      tag(field, 2); varint(b.length.toLong); buf.write(b); this
    }
    def fixed32(v: Int): this.type = {
      buf.write(v & 0xff); buf.write((v >>> 8) & 0xff)
      buf.write((v >>> 16) & 0xff); buf.write((v >>> 24) & 0xff); this
    }
    def bytes: Array[Byte] = buf.toByteArray
  }

  private def encodeFeature(f: TfFeature): Array[Byte] = {
    val inner = new ProtoOut
    f match {
      case BytesFeature(vs) => // BytesList: repeated bytes value = 1
        vs.foreach(v => inner.lenDelim(1, v))
      case FloatFeature(vs) => // FloatList: repeated float value = 1 [packed]
        val packed = new ProtoOut
        vs.foreach(v => packed.fixed32(java.lang.Float.floatToIntBits(v)))
        inner.lenDelim(1, packed.bytes)
      case Int64Feature(vs) => // Int64List: repeated int64 value = 1 [packed]
        val packed = new ProtoOut
        vs.foreach(v => packed.varint(v))
        inner.lenDelim(1, packed.bytes)
    }
    val fieldNo = f match {
      case _: BytesFeature => 1
      case _: FloatFeature => 2
      case _: Int64Feature => 3
    }
    new ProtoOut().lenDelim(fieldNo, inner.bytes).bytes
  }

  /** Serialize one Example. Keys are written in sorted order so the
    * bytes are deterministic (protobuf map serialization order is
    * unspecified; sorting costs nothing and makes shards reproducible). */
  def encodeExample(features: Map[String, TfFeature]): Array[Byte] = {
    val fs = new ProtoOut // Features message
    features.toSeq.sortBy(_._1).foreach { case (k, v) =>
      val entry = new ProtoOut // map entry: key=1, value=2
      entry.lenDelim(1, k.getBytes(UTF_8))
      entry.lenDelim(2, encodeFeature(v))
      fs.lenDelim(1, entry.bytes)
    }
    new ProtoOut().lenDelim(1, fs.bytes).bytes // Example.features = 1
  }

  // ———— protobuf wire format (read) ————

  private final class ProtoIn(val b: Array[Byte], var pos: Int, val end: Int) {
    def hasMore: Boolean = pos < end
    def varint(): Long = {
      var shift = 0; var acc = 0L
      while (true) {
        val x = b(pos); pos += 1
        acc |= (x & 0x7fL) << shift
        if ((x & 0x80) == 0) return acc
        shift += 7
        require(shift < 64, "varint too long")
      }
      acc // unreachable
    }
    def fixed32(): Int = {
      val v = (b(pos) & 0xff) | ((b(pos + 1) & 0xff) << 8) |
        ((b(pos + 2) & 0xff) << 16) | ((b(pos + 3) & 0xff) << 24)
      pos += 4; v
    }
    def slice(): ProtoIn = { // length-delimited sub-message
      val len = varint().toInt
      val s = new ProtoIn(b, pos, pos + len)
      pos += len; s
    }
    def sliceBytes(): Array[Byte] = {
      val len = varint().toInt
      val out = java.util.Arrays.copyOfRange(b, pos, pos + len)
      pos += len; out
    }
    def skip(wire: Int): Unit = wire match {
      case 0 => varint()
      case 1 => pos += 8
      case 2 => pos += varint().toInt
      case 5 => pos += 4
      case w => throw new IllegalArgumentException(s"wire type $w")
    }
  }

  private def decodeFeature(p: ProtoIn): TfFeature = {
    var out: TfFeature = Int64Feature(Nil) // absent oneof ⇒ empty
    while (p.hasMore) {
      val t = p.varint(); val field = (t >>> 3).toInt; val wire = (t & 7).toInt
      field match {
        case 1 => // BytesList
          val bl = p.slice()
          val vs = Seq.newBuilder[Array[Byte]]
          while (bl.hasMore) {
            val bt = bl.varint()
            require((bt >>> 3).toInt == 1 && (bt & 7) == 2, "BytesList shape")
            vs += bl.sliceBytes()
          }
          out = BytesFeature(vs.result())
        case 2 => // FloatList: packed (wire 2) or unpacked (wire 5)
          val fl = p.slice()
          val vs = Seq.newBuilder[Float]
          while (fl.hasMore) {
            val ft = fl.varint()
            (ft & 7) match {
              case 2 =>
                val packed = fl.slice()
                while (packed.hasMore)
                  vs += java.lang.Float.intBitsToFloat(packed.fixed32())
              case 5 => vs += java.lang.Float.intBitsToFloat(fl.fixed32())
              case w => throw new IllegalArgumentException(s"FloatList wire $w")
            }
          }
          out = FloatFeature(vs.result())
        case 3 => // Int64List: packed (wire 2) or unpacked (wire 0)
          val il = p.slice()
          val vs = Seq.newBuilder[Long]
          while (il.hasMore) {
            val it = il.varint()
            (it & 7) match {
              case 2 =>
                val packed = il.slice()
                while (packed.hasMore) vs += packed.varint()
              case 0 => vs += il.varint()
              case w => throw new IllegalArgumentException(s"Int64List wire $w")
            }
          }
          out = Int64Feature(vs.result())
        case _ => p.skip(wire)
      }
    }
    out
  }

  /** Parse one serialized Example back to its feature map. */
  def decodeExample(data: Array[Byte]): Map[String, TfFeature] = {
    val p = new ProtoIn(data, 0, data.length)
    val out = Map.newBuilder[String, TfFeature]
    while (p.hasMore) {
      val t = p.varint()
      if ((t >>> 3).toInt == 1 && (t & 7) == 2) { // Example.features
        val fs = p.slice()
        while (fs.hasMore) {
          val et = fs.varint()
          require((et >>> 3).toInt == 1 && (et & 7) == 2, "Features shape")
          val entry = fs.slice()
          var key: String = null
          var value: TfFeature = null
          while (entry.hasMore) {
            val kt = entry.varint()
            ((kt >>> 3).toInt, (kt & 7).toInt) match {
              case (1, 2) => key = new String(entry.sliceBytes(), UTF_8)
              case (2, 2) => value = decodeFeature(entry.slice())
              case (_, w) => entry.skip(w)
            }
          }
          if (key != null && value != null) out += key -> value
        }
      } else p.skip((t & 7).toInt)
    }
    out.result()
  }

  // ———— DataFrame ⇄ Example conversion (schema-driven) ————

  private def rowToExample(row: Row, schema: StructType)
      : Map[String, TfFeature] = {
    schema.fields.zipWithIndex.flatMap { case (f, i) =>
      if (row.isNullAt(i)) None // Example has no null; absent key = null
      else Some(f.name -> (f.dataType match {
        case StringType => BytesFeature.str(row.getString(i))
        case BinaryType => BytesFeature.one(row.getAs[Array[Byte]](i))
        case LongType => Int64Feature(Seq(row.getLong(i)))
        case IntegerType => Int64Feature(Seq(row.getInt(i).toLong))
        case ShortType => Int64Feature(Seq(row.getShort(i).toLong))
        case BooleanType =>
          Int64Feature(Seq(if (row.getBoolean(i)) 1L else 0L))
        case FloatType => FloatFeature(Seq(row.getFloat(i)))
        case ArrayType(FloatType, _) =>
          FloatFeature(row.getSeq[Float](i))
        case ArrayType(LongType, _) => Int64Feature(row.getSeq[Long](i))
        case ArrayType(StringType, _) =>
          BytesFeature(row.getSeq[String](i).map(_.getBytes(UTF_8)))
        case ArrayType(BinaryType, _) =>
          BytesFeature(row.getSeq[Array[Byte]](i))
        case dt => throw new IllegalArgumentException(
          s"no TFRecord Feature mapping for ${f.name}: ${dt.simpleString}" +
            " (Example supports bytes/float32/int64 lists only — cast" +
            " doubles explicitly if float32 narrowing is acceptable)")
      }))
    }.toMap
  }

  private def exampleToRow(ex: Map[String, TfFeature], schema: StructType)
      : Row = {
    Row.fromSeq(schema.fields.toIndexedSeq.map { f =>
      ex.get(f.name) match {
        case None => null
        // A present-but-EMPTY value list is legal in foreign TFRecords
        // (an absent oneof or an empty Int64List both decode to an
        // empty list): for a scalar column that is "no value" ⇒ null,
        // same as an absent key — never a head-of-empty crash. For
        // array columns the empty list IS the value (handled below).
        case Some(BytesFeature(Nil)) | Some(FloatFeature(Nil)) |
            Some(Int64Feature(Nil)) if !f.dataType.isInstanceOf[ArrayType] =>
          null
        case Some(feat) => (f.dataType, feat) match {
          case (StringType, BytesFeature(vs)) => new String(vs.head, UTF_8)
          case (BinaryType, BytesFeature(vs)) => vs.head
          case (LongType, Int64Feature(vs)) => vs.head
          case (IntegerType, Int64Feature(vs)) => vs.head.toInt
          case (BooleanType, Int64Feature(vs)) => vs.head != 0L
          case (FloatType, FloatFeature(vs)) => vs.head
          case (ArrayType(FloatType, _), FloatFeature(vs)) => vs
          case (ArrayType(LongType, _), Int64Feature(vs)) => vs
          case (ArrayType(StringType, _), BytesFeature(vs)) =>
            vs.map(new String(_, UTF_8))
          case (ArrayType(BinaryType, _), BytesFeature(vs)) => vs
          case (dt, got) => throw new IllegalArgumentException(
            s"feature '${f.name}' is ${got.getClass.getSimpleName}, " +
              s"schema wants ${dt.simpleString}")
        }
      }
    })
  }

  // ———— Spark sink ————

  /** Write `df` as `numShards` TFRecord files named
    * `<baseName>_%05d-of-%05d.tfrecord` (the reference's shard naming,
    * `make_tf_record.py:94-97`). One shard per partition, written
    * through the Hadoop FileSystem of the destination with the job's
    * broadcast configuration — works against any Hadoop-supported FS.
    * Returns (shardPath, recordCount) for audit. */
  def write(df: DataFrame, dir: String, baseName: String,
      numShards: Int, gzip: Boolean = false,
      codec: String = ""): Seq[(String, Long)] = {
    require(numShards > 0, s"numShards must be positive, got $numShards")
    // `codec` ("none"|"gzip"|"zstd") supersedes the older boolean;
    // empty string defers to it for source compatibility
    val c = if (codec.nonEmpty) codec else if (gzip) "gzip" else "none"
    require(Set("none", "gzip", "zstd")(c), s"unknown codec '$c'")
    val schema = df.schema
    val sc = df.sparkSession.sparkContext
    val confB = sc.broadcast(new SerializableHadoopConf(
      df.sparkSession.sessionState.newHadoopConf()))
    df.repartition(numShards).rdd.mapPartitionsWithIndex { (pid, rows) =>
      val ext = c match {
        case "gzip" => "tfrecord.gz"
        case "zstd" => "tfrecord.zst"
        case _      => "tfrecord"
      }
      val name = f"${baseName}_$pid%05d-of-$numShards%05d.$ext"
      val path = new Path(dir, name)
      val fs = path.getFileSystem(confB.value.value)
      val raw: java.io.OutputStream = fs.create(path, true)
      val out = new DataOutputStream(new BufferedOutputStream(
        c match {
          case "gzip" => new java.util.zip.GZIPOutputStream(raw)
          case "zstd" => new com.github.luben.zstd.ZstdOutputStream(raw)
          case _      => raw
        },
        1 << 16))
      var n = 0L
      try {
        rows.foreach { row =>
          writeRecord(out, encodeExample(rowToExample(row, schema)))
          n += 1
        }
      } finally out.close()
      Iterator.single(path.toString -> n)
    }.collect().toSeq.sortBy(_._1)
  }

  // ———— Spark source ————

  /** Read TFRecord shards matching `pattern` into rows of `schema`
    * (feature keys = column names; missing keys read as null).
    * Parallelism = files, the format's natural split unit — framing has
    * no sync markers, so a shard cannot be split mid-file; produce
    * enough shards at write time instead (the reference's own answer,
    * 5 shards/split). Streams each shard — never buffers a whole file.
    * Shards named `*.gz` are transparently gunzipped (foreign TF
    * corpora commonly ship gzip-compressed shards; gzip has no sync
    * markers either, so the shard stays the split unit). */
  def read(spark: SparkSession, pattern: String, schema: StructType,
      minPartitions: Int = 0): DataFrame = {
    val mp = if (minPartitions > 0) minPartitions
      else spark.sparkContext.defaultMinPartitions
    val rows = spark.sparkContext.binaryFiles(pattern, mp)
      .flatMap { case (path, pds) =>
        val raw: java.io.InputStream =
          new BufferedInputStream(pds.open(), 1 << 16)
        // close unconditionally at task end: the clean-EOF close below
        // never fires for a partially consumed partition (limit/take,
        // downstream exception), which would leak the file handle.
        // Registered on RAW before the gzip wrap — GZIPInputStream's
        // constructor eagerly reads the header and THROWS on a
        // corrupt/truncated shard, which would otherwise leak the
        // handle before any listener exists (closing raw releases the
        // fd; the gzip wrapper holds no other resource)
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ =>
            try raw.close() catch { case _: java.io.IOException => () }))
        // .zst rides the same path: zstd frames carry no sync markers
        // either, so the shard remains the split unit; ZstdInputStream
        // reads lazily, so the eager-header-throw note applies only to
        // gzip (a corrupt zstd shard throws at first readRecord, after
        // the completion listener exists)
        val in = new DataInputStream(
          if (path.endsWith(".gz"))
            try new BufferedInputStream(
              new java.util.zip.GZIPInputStream(raw), 1 << 16)
            catch {
              case e: java.io.IOException => raw.close(); throw e
            }
          else if (path.endsWith(".zst"))
            new BufferedInputStream(
              new com.github.luben.zstd.ZstdInputStream(raw), 1 << 16)
          else raw)
        new Iterator[Row] {
          private var nextRec: Option[Array[Byte]] = advance()
          private def advance(): Option[Array[Byte]] = {
            val r = readRecord(in)
            if (r.isEmpty) in.close()
            r
          }
          override def hasNext: Boolean = nextRec.isDefined
          override def next(): Row = {
            val r = exampleToRow(decodeExample(nextRec.get), schema)
            nextRec = advance()
            r
          }
        }
      }
    spark.createDataFrame(rows, schema)
  }

  /** The reference's image-record feature keys and their Spark types
    * (`make_tf_record.py:86-92`). */
  val ImageSchema: StructType = StructType(Seq(
    StructField("image/encoded", BinaryType),
    StructField("image/format", StringType),
    StructField("image/class/label", LongType),
    StructField("image/height", LongType),
    StructField("image/width", LongType)))

  /** Write a frame in the reference's 5-field image record shape
    * (columns encoded/format/label/height/width; FIXTURES.md §1.1)
    * with the reference's exact feature keys. */
  def writeImages(df: DataFrame, dir: String, split: String,
      numShards: Int = 5): Seq[(String, Long)] = {
    import org.apache.spark.sql.functions.col
    val keyed = df.select(
      col("encoded").as("image/encoded"),
      col("format").as("image/format"),
      col("label").cast("long").as("image/class/label"),
      col("height").cast("long").as("image/height"),
      col("width").cast("long").as("image/width"))
    write(keyed, dir, s"flowers_$split", numShards)
  }

  /** Read reference-keyed image shards back to the flat record schema. */
  def readImages(spark: SparkSession, pattern: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    read(spark, pattern, ImageSchema)
      .select(
        col("`image/encoded`").as("encoded"),
        col("`image/format`").as("format"),
        col("`image/class/label`").cast("int").as("label"),
        col("`image/height`").cast("int").as("height"),
        col("`image/width`").cast("int").as("width"))
  }
}
