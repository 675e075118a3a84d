package graft.ingest

import graft.ingest.LineProtocol._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import scala.collection.mutable

/** The engine's columnar write batch — the analog of the reference's
  * ColumnarRecord (pkg/models/record.go:17-30) and its Arrow buffer
  * typing rules (internal/ingest/arrow_writer.go:350-367, :451-503):
  *
  *  - storable types: timestamp-µs, int64, float64, string, bool
  *    (+ decimal via config-driven cast at write time);
  *  - all integer widths widen to int64, float32 widens to float64;
  *  - the `time` column is mandatory, must be integral, auto-generated
  *    (now-µs) when absent, unit auto-detected and normalized to µs;
  *  - schema is inferred from the first non-null value per column; a
  *    column with none stays in the batch but is not written
  *    ([[ColumnarBatch.storedColumns]]);
  *  - strings are UTF-8 sanitized;
  *  - tag columns are plain string columns remembered in table metadata
  *    (they form the dedup key (tags..., time) at compaction).
  */
final case class ColumnarBatch(
    measurement: String,
    columns: mutable.LinkedHashMap[String, Array[Any]],
    tagColumns: Seq[String],
    dedupTime: Boolean = false) {

  def rowCount: Int = columns.headOption.map(_._2.length).getOrElse(0)

  /** The columns a writer stores: all but a non-`time` column whose
    * values are all null. Such a column has no type of its own; stored
    * under an arbitrary one, it conflicted with the column's real type in
    * the hour's other files, and the hour's merged read failed. Left out
    * of the file, it reads as null. */
  def storedColumns: mutable.LinkedHashMap[String, Array[Any]] =
    columns.filter { case (name, vs) => name == "time" || vs.exists(_ != null) }

  /** Infer the Spark schema (reference rules) and build a DataFrame. */
  def toDataFrame(spark: SparkSession): DataFrame = {
    val fields = columns.map { case (name, vs) =>
      StructField(name, ColumnarBatch.inferType(name, vs), nullable = true)
    }.toSeq
    val schema = StructType(fields)
    val rows: Seq[Row] = (0 until rowCount).map { r =>
      Row.fromSeq(fields.zipWithIndex.map { case (f, c) =>
        ColumnarBatch.coerce(columns(f.name)(r), f.dataType)
      })
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, math.max(1, rows.length / 500000 + 1)),
      schema)
  }
}

object ColumnarBatch {

  /** Build from decoded columnar payload (msgpack `{m, columns:{...}}`
    * shape). Validates equal column lengths; ensures + normalizes `time`. */
  def fromColumns(
      measurement: String,
      in: Map[String, Seq[Any]],
      tagColumns: Seq[String] = Nil,
      nowMicros: () => Long = () => System.currentTimeMillis() * 1000L)
      : ColumnarBatch = {
    val lens = in.values.map(_.length).toSet
    if (lens.size > 1)
      throw new IllegalArgumentException(
        s"column length mismatch: ${in.map { case (k, v) => s"$k=${v.length}" }.mkString(", ")}")
    val nRows = lens.headOption.getOrElse(0)
    val cols = mutable.LinkedHashMap.empty[String, Array[Any]]
    in.foreach { case (k, vs) =>
      cols(k) = vs.map {
        case s: String => Utf8.sanitize(s)
        case other => other
      }.toArray
    }
    // mandatory integral time, unit-normalized to µs
    cols.get("time") match {
      case None =>
        val now = nowMicros()
        cols("time") = Array.fill[Any](nRows)(now)
      case Some(vs) =>
        cols("time") = vs.map {
          case null => null
          case l: Long => TimestampUnits.toMicros(l)
          case i: Int => TimestampUnits.toMicros(i.toLong)
          case other =>
            throw new IllegalArgumentException(
              s"time column must be integral, got ${other.getClass.getSimpleName}")
        }
    }
    ColumnarBatch(measurement, cols, tagColumns)
  }

  /** Pivot row-oriented Line Protocol points into per-measurement
    * columnar batches (the reference's rowsToColumnar,
    * arrow_writer.go:1177-1274). Tags become string columns. */
  def fromPoints(points: Seq[Point],
      nowMicros: () => Long = () => System.currentTimeMillis() * 1000L)
      : Seq[ColumnarBatch] = {
    points.groupBy(_.measurement).toSeq.sortBy(_._1).map { case (m, ps) =>
      val tagKeys = ps.flatMap(_.tags.keys).distinct.sorted
      val fieldKeys = ps.flatMap(_.fields.keys).distinct.sorted
      val cols = mutable.LinkedHashMap.empty[String, Array[Any]]
      cols("time") = ps.map(p =>
        p.timeMicros.getOrElse(nowMicros()): Any).toArray
      tagKeys.foreach { k =>
        cols(k) = ps.map(p => p.tags.get(k).map(Utf8.sanitize).orNull: Any).toArray
      }
      fieldKeys.foreach { k =>
        cols(k) = ps.map(p => (p.fields.get(k) match {
          case Some(FLong(v)) => v
          case Some(FDouble(v)) => v
          case Some(FString(v)) => Utf8.sanitize(v)
          case Some(FBool(v)) => v
          case None => null
        }): Any).toArray
      }
      ColumnarBatch(m, cols, tagKeys)
    }
  }

  /** Reference typing rules: first non-null value decides; ints widen to
    * long, floats to double; `time` becomes TimestampType (µs). */
  def inferType(name: String, vs: Array[Any]): DataType = {
    if (name == "time") return TimestampType
    vs.find(_ != null) match {
      case Some(_: Long) | Some(_: Int) | Some(_: Short) | Some(_: Byte) => LongType
      case Some(_: Double) | Some(_: Float) => DoubleType
      case Some(_: String) => StringType
      case Some(_: Boolean) => BooleanType
      case Some(_: java.math.BigDecimal) => DecimalType(38, 18)
      case Some(other) =>
        throw new IllegalArgumentException(
          s"unsupported type for column '$name': ${other.getClass.getName}")
      case None => StringType // all-null column: arbitrary, and never stored (storedColumns)
    }
  }

  private[ingest] def coerce(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (l: Long, TimestampType) => java.sql.Timestamp.from(
      java.time.Instant.EPOCH.plus(l, java.time.temporal.ChronoUnit.MICROS))
    case (i: Int, LongType) => i.toLong
    case (s: Short, LongType) => s.toLong
    case (b: Byte, LongType) => b.toLong
    case (f: Float, DoubleType) => f.toDouble
    case (other, _) => other
  }
}

/** UTF-8 sanitization (reference: internal/ingest/utf8.go) — replaces
  * unpaired surrogates / non-characters with U+FFFD so every string is
  * valid UTF-8 when written to Parquet. */
object Utf8 {
  def sanitize(s: String): String = {
    var needsFix = false
    var i = 0
    while (i < s.length && !needsFix) {
      val c = s.charAt(i)
      if (Character.isHighSurrogate(c))
        needsFix = i + 1 >= s.length || !Character.isLowSurrogate(s.charAt(i + 1))
      else if (Character.isLowSurrogate(c)) needsFix = true
      i += (if (Character.isHighSurrogate(c) && i + 1 < s.length &&
        Character.isLowSurrogate(s.charAt(i + 1))) 2 else 1)
    }
    if (!needsFix) s
    else {
      val sb = new StringBuilder(s.length)
      var j = 0
      while (j < s.length) {
        val c = s.charAt(j)
        if (Character.isHighSurrogate(c) && j + 1 < s.length &&
          Character.isLowSurrogate(s.charAt(j + 1))) {
          sb.append(c).append(s.charAt(j + 1)); j += 2
        } else if (Character.isSurrogate(c)) { sb.append('�'); j += 1 }
        else { sb.append(c); j += 1 }
      }
      sb.toString
    }
  }
}
