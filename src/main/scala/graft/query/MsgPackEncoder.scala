package graft.query

import org.apache.spark.sql.DataFrame

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets

/** MessagePack result encoder — the columnar wire format of the
  * reference's `/api/v1/query/msgpack` endpoint
  * (internal/api/query_msgpack.go): the response is one map
  * `{columns: [names...], data: {name: [values...]...}, row_count: n}`
  * with column-oriented value arrays (better compression and decode
  * locality than row tuples).
  *
  * Values are packed per column from internal rows with type-specialized
  * loops (see [[RowCodec]]).
  */
object MsgPackEncoder {

  /** Growable byte sink without the per-call synchronization of
    * ByteArrayOutputStream (the packer writes values byte-by-byte). */
  private[query] final class FastByteBuffer(initial: Int = 1 << 16)
      extends java.io.OutputStream {
    private var buf = new Array[Byte](initial)
    private var len = 0
    private def ensure(n: Int): Unit = {
      // long arithmetic: `len + n` and the doubling both overflow Int
      // past 1 GiB, turning an over-cap envelope into an infinite loop
      // or a negative-size allocation instead of a clear error
      val need = len.toLong + n
      if (need > buf.length) {
        val max = Int.MaxValue - 16L // JVM array-size ceiling
        require(need <= max, s"msgpack envelope too large: $need bytes")
        var cap = buf.length.toLong << 1
        while (cap < need) cap <<= 1
        buf = java.util.Arrays.copyOf(buf, math.min(cap, max).toInt)
      }
    }
    override def write(b: Int): Unit = { ensure(1); buf(len) = b.toByte; len += 1 }
    override def write(bs: Array[Byte], off: Int, n: Int): Unit = {
      ensure(n); System.arraycopy(bs, off, buf, len, n); len += n
    }
    def toByteArray: Array[Byte] = java.util.Arrays.copyOf(buf, len)
  }

  final class Packer(out: java.io.OutputStream) {
    private def b(v: Int): Unit = out.write(v & 0xff)

    def packMapHeader(n: Int): Unit =
      if (n < 16) b(0x80 | n) else { b(0xde); b(n >> 8); b(n) }

    def packArrayHeader(n: Int): Unit =
      if (n < 16) b(0x90 | n)
      else if (n < 65536) { b(0xdc); b(n >> 8); b(n) }
      else { b(0xdd); b(n >> 24); b(n >> 16); b(n >> 8); b(n) }

    def packNil(): Unit = b(0xc0)
    def packBool(v: Boolean): Unit = b(if (v) 0xc3 else 0xc2)

    def packLong(v: Long): Unit =
      if (v >= 0 && v <= 0x7f) b(v.toInt)
      else if (v < 0 && v >= -32) b((v & 0xff).toInt)
      else { b(0xd3); var i = 56; while (i >= 0) { b((v >> i).toInt); i -= 8 } }

    def packDouble(v: Double): Unit = {
      b(0xcb)
      val bits = java.lang.Double.doubleToLongBits(v)
      var i = 56
      while (i >= 0) { b((bits >> i).toInt); i -= 8 }
    }

    def packString(s: String): Unit = {
      val bytes = s.getBytes(StandardCharsets.UTF_8)
      val n = bytes.length
      if (n < 32) b(0xa0 | n)
      else if (n < 256) { b(0xd9); b(n) }
      else if (n < 65536) { b(0xda); b(n >> 8); b(n) }
      else { b(0xdb); b(n >> 24); b(n >> 16); b(n >> 8); b(n) }
      out.write(bytes, 0, n)
    }

    def packValue(v: Any): Unit = v match {
      case null => packNil()
      case x: Boolean => packBool(x)
      case x: Long => packLong(x)
      case x: Int => packLong(x.toLong)
      case x: Short => packLong(x.toLong)
      case x: Byte => packLong(x.toLong)
      case x: Double => packDouble(x)
      case x: Float => packDouble(x.toDouble)
      case x: String => packString(x)
      case x: java.sql.Timestamp =>
        packLong(x.getTime * 1000L + (x.getNanos / 1000) % 1000) // µs
      case x: java.math.BigDecimal => packString(x.toPlainString)
      case x: scala.collection.Seq[_] =>
        packArrayHeader(x.length); x.foreach(packValue)
      case other => packString(String.valueOf(other))
    }
  }

  /** Type-specialized value packer for column `c`. */
  private def valuePacker(p: Packer, dt: org.apache.spark.sql.types.DataType,
      c: Int): org.apache.spark.sql.catalyst.InternalRow => Unit = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType | TimestampType | TimestampNTZType =>
        r => p.packLong(r.getLong(c))
      case IntegerType => r => p.packLong(r.getInt(c).toLong)
      case ShortType => r => p.packLong(r.getShort(c).toLong)
      case ByteType => r => p.packLong(r.getByte(c).toLong)
      case DoubleType => r => p.packDouble(r.getDouble(c))
      case FloatType => r => p.packDouble(r.getFloat(c).toDouble)
      case BooleanType => r => p.packBool(r.getBoolean(c))
      case StringType => r => p.packString(r.getUTF8String(c).toString)
      case d: DecimalType =>
        r => p.packString(
          r.getDecimal(c, d.precision, d.scale).toJavaBigDecimal.toPlainString)
      case DateType => // internal rep is epoch-day Int — render ISO date
        r => p.packString(
          java.time.LocalDate.ofEpochDay(r.getInt(c).toLong).toString)
      case ArrayType(et, _) =>
        r => p.packValue(r.getArray(c).toObjectArray(et).toSeq)
      case other => r => p.packString(String.valueOf(r.get(c, other)))
    }
  }

  /** Encode a result on the driver as the columnar msgpack envelope.
    * Timestamps pack as epoch-µs int64. */
  def encode(df: DataFrame, maxRows: Long = Long.MaxValue): Array[Byte] = {
    val capped = RowCodec.capped(df, maxRows)
    val (runs, n) = partitionColumnRuns(capped.schema.fields,
      RowCodec.internalRows(capped))
    // unsynchronized sink: BAOS.write locks per byte, and the packer
    // emits values byte-by-byte
    val out = new FastByteBuffer()
    writeEnvelope(out, capped.columns, n)(c => out.write(runs(c)))
    out.toByteArray
  }

  /** The envelope `{columns, data: {name: [values…]…}, row_count}` around
    * each column's packed values, which `column(c)` writes to `out`. */
  private def writeEnvelope(out: java.io.OutputStream, cols: Array[String],
      n: Long)(column: Int => Unit): Unit = {
    require(n <= Int.MaxValue, s"result too large for one envelope: $n rows")
    val p = new Packer(out)
    p.packMapHeader(3)
    p.packString("columns")
    p.packArrayHeader(cols.length)
    cols.foreach(p.packString)
    p.packString("data")
    p.packMapHeader(cols.length)
    var c = 0
    while (c < cols.length) {
      p.packString(cols(c))
      p.packArrayHeader(n.toInt)
      column(c)
      c += 1
    }
    p.packString("row_count")
    p.packLong(n)
  }

  /** One partition's msgpack element encodings, one byte run per column
    * (no array headers). Runs concatenate across partitions: a msgpack
    * array is `header + element stream`, so `header(Σn) + run(0) +
    * run(1) + …` is byte-identical to a single-pass encode. Rows are
    * consumed immediately (UnsafeRow reuse-safe). */
  private def partitionColumnRuns(
      fields: Array[org.apache.spark.sql.types.StructField],
      rows: Iterator[org.apache.spark.sql.catalyst.InternalRow])
      : (Array[Array[Byte]], Long) = {
    val nc = fields.length
    val bufs = Array.fill(nc)(new FastByteBuffer(1 << 14))
    val ps = bufs.map(new Packer(_))
    val packs = Array.tabulate(nc)(c => valuePacker(ps(c), fields(c).dataType, c))
    var n = 0L
    while (rows.hasNext) {
      val r = rows.next()
      var c = 0
      while (c < nc) {
        if (r.isNullAt(c)) ps(c).packNil() else packs(c)(r)
        c += 1
      }
      n += 1
    }
    (bufs.map(_.toByteArray), n)
  }

  /** Stream the columnar msgpack envelope to `out` with driver memory
    * bounded by one wave of partition chunks, whatever the result's size.
    *
    * The columnar envelope needs each column's array header (with the
    * TOTAL row count) before that column's values, so a single forward
    * pass can't write the socket directly. Instead of a count-first
    * second data pass (which would re-run the whole query per column),
    * partitions stream their column runs to the driver in waves
    * ([[RowCodec.foreachPartitionChunk]]) and the driver appends each
    * column's run to its own driver-LOCAL spool file. After the single
    * data pass, the spool files are spliced to the socket behind their
    * headers and deleted. Disk holds the response once; memory never
    * does. Byte-identical output to [[encode]].
    *
    * Returns the row count written. */
  def writeStream(df: DataFrame, out: java.io.OutputStream,
      maxRows: Long = Long.MaxValue): Long = {
    val capped = RowCodec.capped(df, maxRows)
    val fields = capped.schema.fields
    val spool = java.nio.file.Files.createTempDirectory("graft_msgpack_spool")
    val colFiles = Array.tabulate(fields.length)(c => spool.resolve(s"col$c.bin"))
    val streams = colFiles.map(f => new java.io.BufferedOutputStream(
      java.nio.file.Files.newOutputStream(f), 1 << 16))
    try {
      var n = 0L
      RowCodec.foreachPartitionChunk(capped)(partitionColumnRuns(fields, _)) {
        case (runs, cnt) =>
          var c = 0
          while (c < runs.length) { streams(c).write(runs(c)); c += 1 }
          n += cnt
      }
      streams.foreach(_.close())
      writeEnvelope(out, capped.columns, n)(c => java.nio.file.Files.copy(colFiles(c), out))
      n
    } finally {
      streams.foreach(s => try s.close() catch { case _: Throwable => () })
      colFiles.foreach(f => java.nio.file.Files.deleteIfExists(f))
      java.nio.file.Files.deleteIfExists(spool)
    }
  }
}
