package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecializedGetters
import org.apache.spark.sql.types._

import scala.reflect.ClassTag

/** Schema-specialized value encoding over Spark's internal row format.
  *
  * The result encoders used to iterate `df.toLocalIterator()` (external
  * `Row`s): every row pays a full Catalyst→Scala conversion and every
  * value a box + runtime pattern-match. Encoding from [[InternalRow]]
  * with per-column closures resolved ONCE from the schema removes both —
  * the reference encodes straight from its Arrow buffers for the same
  * reason (internal/api/query.go result marshalling).
  *
  * [[SpecializedGetters]] is implemented by rows, array data and nested
  * structs alike, so the appenders recurse through containers for free.
  */
private[query] object RowCodec {

  type JsonAppender = (SpecializedGetters, Int, StringBuilder) => Unit

  /** Rows of the dataframe in internal format, for the driver-side
    * encoders that return the whole result as one value: no external-Row
    * conversion, one parallel collect job, and none at all for a local
    * relation. The streaming writers use [[foreachPartitionChunk]]
    * instead. `executeCollect` copies rows itself, so aliasing is safe. */
  def internalRows(df: DataFrame): Iterator[InternalRow] =
    df.queryExecution.executedPlan.executeCollect().iterator

  /** Streams a result without holding it on the driver: `encode` turns
    * each partition's rows into one chunk on the executors, and `consume`
    * gets the chunks on the driver in partition order. Partitions run in
    * waves of `defaultParallelism`, one job per wave, so the driver holds
    * at most one wave of chunks whatever the result's size. `toRdd` runs
    * `encode` under the session's SQL conf (time zone, ANSI mode). */
  def foreachPartitionChunk[U: ClassTag](df: DataFrame)(
      encode: Iterator[InternalRow] => U)(consume: U => Unit): Unit = {
    val rdd = df.queryExecution.toRdd
    val sc = rdd.sparkContext
    val wave = math.max(1, sc.defaultParallelism)
    val nParts = rdd.getNumPartitions
    var start = 0
    while (start < nParts) {
      val end = start + math.min(wave, nParts - start)
      sc.runJob(rdd, encode, start until end).foreach(consume)
      start = end
    }
  }

  /** Appends `rows` as comma-joined `[v,…]` JSON arrays (no outer
    * brackets); returns the row count. */
  def appendJsonRows(schema: StructType, rows: Iterator[InternalRow],
      sb: StringBuilder): Long = {
    val apps = jsonAppenders(schema)
    var n = 0L
    while (rows.hasNext) {
      val row = rows.next()
      if (n > 0) sb.append(',')
      sb.append('[')
      var i = 0
      while (i < apps.length) {
        if (i > 0) sb.append(',')
        if (row.isNullAt(i)) sb.append("null") else apps(i)(row, i, sb)
        i += 1
      }
      sb.append(']')
      n += 1
    }
    n
  }

  /** Cap pushed into the plan — `executeCollect` on a LIMIT plan stops
    * early instead of collecting the full result and truncating. */
  def capped(df: DataFrame, maxRows: Long): DataFrame =
    if (maxRows < Long.MaxValue) df.limit(math.min(maxRows, Int.MaxValue.toLong).toInt)
    else df

  def timestampString(micros: Long): String = {
    val sb = new StringBuilder(27)
    appendTimestamp(sb, micros)
    sb.toString
  }

  private def pad(sb: StringBuilder, v: Int, w: Int): Unit = {
    var div = 1
    var i = 1
    while (i < w) { div *= 10; i += 1 }
    while (div > 0) { sb.append(('0' + (v / div) % 10).toChar); div /= 10 }
  }

  /** ISO-8601 UTC render of epoch-µs, byte-identical to
    * `Instant.toString` for the engine's range (no `Instant`/formatter
    * allocation — this runs once per result row). Civil-from-days via
    * the standard era/year-of-era arithmetic. */
  def appendTimestamp(sb: StringBuilder, micros: Long): Unit = {
    val days = Math.floorDiv(micros, 86400000000L)
    val usOfDay = Math.floorMod(micros, 86400000000L)
    val z = days + 719468L
    val era = Math.floorDiv(z, 146097L)
    val doe = (z - era * 146097L).toInt
    val yoe = (doe - doe / 1460 + doe / 36524 - doe / 146096) / 365
    val doy = doe - (365 * yoe + yoe / 4 - yoe / 100)
    val mp = (5 * doy + 2) / 153
    val d = doy - (153 * mp + 2) / 5 + 1
    val m = if (mp < 10) mp + 3 else mp - 9
    val y = (yoe + era * 400 + (if (m <= 2) 1 else 0)).toInt
    if (y < 0 || y > 9999) { // outside ISO basic range: delegate (rare)
      sb.append(java.time.Instant.ofEpochSecond(
        Math.floorDiv(micros, 1000000L),
        Math.floorMod(micros, 1000000L) * 1000L).toString)
      return
    }
    pad(sb, y, 4); sb.append('-'); pad(sb, m, 2); sb.append('-'); pad(sb, d, 2)
    sb.append('T')
    val secOfDay = (usOfDay / 1000000L).toInt
    val us = (usOfDay % 1000000L).toInt
    pad(sb, secOfDay / 3600, 2); sb.append(':')
    pad(sb, (secOfDay / 60) % 60, 2); sb.append(':')
    pad(sb, secOfDay % 60, 2)
    if (us != 0) {
      sb.append('.')
      if (us % 1000 == 0) pad(sb, us / 1000, 3) else pad(sb, us, 6)
    }
    sb.append('Z')
  }

  /** JSON string escape with a no-escape fast path (the common case —
    * one append, zero per-char allocation). */
  def appendJsonString(sb: StringBuilder, s: String): Unit = {
    sb.append('"')
    var needsEscape = false
    var i = 0
    while (i < s.length && !needsEscape) {
      val c = s.charAt(i)
      needsEscape = c == '"' || c == '\\' || c < ' '
      i += 1
    }
    if (!needsEscape) sb.append(s)
    else {
      i = 0
      while (i < s.length) {
        s.charAt(i) match {
          case '"' => sb.append("\\\"")
          case '\\' => sb.append("\\\\")
          case '\n' => sb.append("\\n")
          case '\r' => sb.append("\\r")
          case '\t' => sb.append("\\t")
          case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
          case c => sb.append(c)
        }
        i += 1
      }
    }
    sb.append('"')
  }

  def jsonAppender(dt: DataType): JsonAppender = dt match {
    case LongType => (r, i, sb) => sb.append(r.getLong(i))
    case IntegerType => (r, i, sb) => sb.append(r.getInt(i))
    case ShortType => (r, i, sb) => sb.append(r.getShort(i).toInt)
    case ByteType => (r, i, sb) => sb.append(r.getByte(i).toInt)
    case DoubleType => (r, i, sb) => {
      val d = r.getDouble(i)
      if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d))
        sb.append("null")
      else sb.append(d)
    }
    case FloatType => (r, i, sb) => {
      val f = r.getFloat(i)
      if (java.lang.Float.isNaN(f) || java.lang.Float.isInfinite(f))
        sb.append("null")
      else sb.append(f.toDouble)
    }
    case BooleanType => (r, i, sb) => sb.append(r.getBoolean(i))
    case StringType => (r, i, sb) => appendJsonString(sb, r.getUTF8String(i).toString)
    case TimestampType | TimestampNTZType => (r, i, sb) => {
      sb.append('"'); appendTimestamp(sb, r.getLong(i)); sb.append('"')
    }
    case DateType => (r, i, sb) => {
      sb.append('"')
      sb.append(java.time.LocalDate.ofEpochDay(r.getInt(i).toLong).toString)
      sb.append('"')
    }
    case d: DecimalType => (r, i, sb) =>
      sb.append(r.getDecimal(i, d.precision, d.scale).toJavaBigDecimal.toPlainString)
    case ArrayType(et, _) =>
      val elem = jsonAppender(et)
      (r, i, sb) => {
        val arr = r.getArray(i)
        sb.append('[')
        var j = 0
        while (j < arr.numElements()) {
          if (j > 0) sb.append(',')
          if (arr.isNullAt(j)) sb.append("null") else elem(arr, j, sb)
          j += 1
        }
        sb.append(']')
      }
    case st: StructType =>
      val fields = st.fields
      val apps = fields.map(f => jsonAppender(f.dataType))
      (r, i, sb) => {
        val row = r.getStruct(i, fields.length)
        sb.append('{')
        var j = 0
        while (j < fields.length) {
          if (j > 0) sb.append(',')
          appendJsonString(sb, fields(j).name)
          sb.append(':')
          if (row.isNullAt(j)) sb.append("null") else apps(j)(row, j, sb)
          j += 1
        }
        sb.append('}')
      }
    case other => // maps & exotic types: boxed fallback
      (r, i, sb) => appendJsonString(sb, String.valueOf(r.get(i, other)))
  }

  def jsonAppenders(schema: StructType): Array[JsonAppender] =
    schema.fields.map(f => jsonAppender(f.dataType))
}
