package graft.ingest

import graft.catalog.GraftCatalog
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.api.{Binary, RecordConsumer}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

import scala.collection.mutable

/** Direct Parquet flush path — the ingest hot path WITHOUT a Spark job
  * (SURVEY §3.2 recommends exactly this: "writes hour-partitioned
  * Parquet directly with a Parquet writer; no Spark needed on the hot
  * path; queries see files immediately, exactly like Arc").
  *
  * One flush = sort the batch by (sortKeys, time), split by event-time
  * hour, write one ZSTD parquet per hour into the same Hive layout the
  * Spark writer uses. Files are immediately visible to every reader
  * (same layout, same recency-ordered names, same dedup semantics at
  * compaction). Spark's distributed writer (`HourPartitionedWriter`)
  * remains the path for large backfills; this one serves the
  * high-frequency small-flush ingest loop where per-job scheduling
  * overhead would dominate. Compaction of a small hour writes its one
  * output file through the same per-file code ([[writeFile]]).
  */
object DirectParquetWriter {

  private def schemaFor(cols: collection.Map[String, Array[Any]]): MessageType = {
    val b = Types.buildMessage()
    cols.foreach { case (name, vs) =>
      val field = ColumnarBatch.inferType(name, vs) match {
        case org.apache.spark.sql.types.TimestampType =>
          Types.optional(PrimitiveTypeName.INT64)
            .as(LogicalTypeAnnotation.timestampType(true,
              LogicalTypeAnnotation.TimeUnit.MICROS)).named(name)
        case org.apache.spark.sql.types.LongType =>
          Types.optional(PrimitiveTypeName.INT64).named(name)
        case org.apache.spark.sql.types.DoubleType =>
          Types.optional(PrimitiveTypeName.DOUBLE).named(name)
        case org.apache.spark.sql.types.BooleanType =>
          Types.optional(PrimitiveTypeName.BOOLEAN).named(name)
        case _ =>
          Types.optional(PrimitiveTypeName.BINARY)
            .as(LogicalTypeAnnotation.stringType()).named(name)
      }
      b.addField(field)
    }
    b.named("graft")
  }

  /** Write one batch; returns the files written (one per hour). */
  def write(catalog: GraftCatalog, db: String, batch: ColumnarBatch): Seq[String] = {
    require(batch.columns.contains("time"), "batch must carry 'time'")
    val meta = catalog.registerTags(db, batch.measurement, batch.tagColumns)

    val cols = batch.storedColumns
    val time = cols("time").map(_.asInstanceOf[Long])
    val idx = sortRows(cols, meta.sortKeys, Array.tabulate(batch.rowCount)(identity))

    // split by event-time hour (already time-sorted within sort groups;
    // group rows per hour then write each once)
    val byHour = mutable.LinkedHashMap.empty[Long, mutable.ArrayBuffer[Int]]
    idx.foreach { i =>
      val h = Math.floorDiv(time(i), 3600000000L)
      byHour.getOrElseUpdate(h, mutable.ArrayBuffer.empty) += i
    }

    val schema = schemaFor(cols)
    val conf = catalog.spark.sparkContext.hadoopConfiguration
    val flushUs = System.currentTimeMillis() * 1000L
    // bloom filters on tag columns: the union of registered and
    // batch-declared tags, so a batch that doesn't re-declare its tags
    // (msgpack without a tag map) still blooms the table's known ones
    val bloomColumns = (meta.tagColumns ++ batch.tagColumns).distinct

    byHour.zipWithIndex.map { case ((hour, rows), seq) =>
      val dt = java.time.LocalDateTime.ofEpochSecond(hour * 3600L, 0,
        java.time.ZoneOffset.UTC)
      val dir = catalog.partitionPath(db, batch.measurement,
        dt.getYear, dt.getMonthValue, dt.getDayOfMonth, dt.getHour)
      val file = new Path(dir,
        HourPartitionedWriter.flushFileName(batch.measurement, flushUs, seq))
      writeFile(conf, file, schema, cols, rows, bloomColumns)
      file.toString
    }.toSeq
  }

  /** `rows` stably sorted by (sortKeys present in `cols`, time): the
    * multi-key order every flush and compacted file is stored in. `time`
    * must hold no null. */
  private[graft] def sortRows(cols: collection.Map[String, Array[Any]],
      sortKeys: Seq[String], rows: Array[Int]): Array[Int] = {
    val time = cols("time").map(_.asInstanceOf[Long])
    val sortKeyCols = sortKeys.filter(cols.contains).map(cols)
    val ordering = new Ordering[Int] {
      def compare(a: Int, b: Int): Int = {
        var c = 0
        val it = sortKeyCols.iterator
        while (c == 0 && it.hasNext) {
          val col = it.next()
          c = compareValues(col(a), col(b))
        }
        if (c == 0) java.lang.Long.compare(time(a), time(b)) else c
      }
    }
    val idx = rows.clone()
    scala.util.Sorting.stableSort(idx)(ordering)
    idx
  }

  /** Write `rows` of `cols`, in that order, as the one ZSTD Parquet file
    * `file`. `schema` has one primitive field per column of `cols`, in
    * the same order: INT64 takes any integral value, DOUBLE any number,
    * BOOLEAN a Boolean, and BINARY the value's string. Tag columns in
    * `bloomColumns` get a bloom filter.
    *
    * The file is written under a DOT-prefixed name and renamed into
    * place on close: readers (Spark's file index and DuckDB alike) skip
    * `.`/`_` prefixes, so a concurrent query listing the directory
    * mid-write never sees a half-written footer — the same
    * visible-only-when-complete contract as HourPartitionedWriter's
    * tmp-tree protocol (a reader racing the old in-place write died
    * with CANNOT_READ_FILE_FOOTER; caught by the server's concurrency
    * stress test). */
  private[graft] def writeFile(conf: Configuration, file: Path, schema: MessageType,
      cols: collection.Map[String, Array[Any]], rows: Iterable[Int],
      bloomColumns: Seq[String]): Unit = {
    val names = cols.keys.toArray
    val tmp = new Path(file.getParent, "." + file.getName + ".inprogress")
    // direct RecordConsumer write — the example Group API built a heap
    // object tree per row and did a name lookup per value; this path
    // streams primitives straight into the column writers (~3× the
    // rows/s at the same ZSTD level)
    val support = new RowIndexWriteSupport(schema, names, names.map(cols))
    val builder = new RowIndexWriterBuilder(
        org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(tmp, conf),
        support)
      .withConf(conf)
      .withCompressionCodec(CompressionCodecName.ZSTD)
    // same file-skipping contract as the Spark writer. The explicit NDV
    // keeps the filter fixed-size — the adaptive default costs several
    // hash inserts per value (see bloomOptions).
    bloomColumns.distinct.filter(names.contains).foreach { c =>
      builder.withBloomFilterEnabled(c, true)
      builder.withBloomFilterNDV(c, HourPartitionedWriter.BloomNdv)
    }
    val fs = tmp.getFileSystem(conf)
    try {
      // build() inside the cleanup scope: it creates the tmp file and
      // writes the magic before returning, so a codec/disk failure
      // there must also delete the stranded dotfile
      val writer = builder.build()
      try rows.foreach(i => writer.write(i))
      finally writer.close()
      if (!fs.rename(tmp, file))
        throw new java.io.IOException(s"rename $tmp -> $file failed")
    } catch {
      case e: Throwable =>
        try fs.delete(tmp, false) catch { case _: Throwable => () }
        throw e
    }
  }

  /** WriteSupport whose "record" is a row INDEX into the batch's column
    * arrays: per-column typed appenders are resolved once against the
    * schema, then each write streams values into the RecordConsumer with
    * no per-row allocation. */
  private final class RowIndexWriteSupport(
      schema: MessageType,
      names: Array[String],
      arrays: Array[Array[Any]]) extends WriteSupport[Int] {

    private var rc: RecordConsumer = _
    private var appenders: Array[Int => Unit] = _

    override def init(conf: Configuration): WriteSupport.WriteContext =
      new WriteSupport.WriteContext(schema,
        java.util.Collections.emptyMap[String, String]())

    override def prepareForWrite(consumer: RecordConsumer): Unit = {
      rc = consumer
      appenders = Array.tabulate(names.length) { c =>
        val vals = arrays(c)
        schema.getType(c).asPrimitiveType.getPrimitiveTypeName match {
          case PrimitiveTypeName.INT64 =>
            i => vals(i) match {
              case l: Long => rc.addLong(l)
              case n: Number => rc.addLong(n.longValue())
            }
          case PrimitiveTypeName.DOUBLE =>
            i => vals(i) match {
              case d: Double => rc.addDouble(d)
              case n: Number => rc.addDouble(n.doubleValue())
            }
          case PrimitiveTypeName.BOOLEAN =>
            i => rc.addBoolean(vals(i).asInstanceOf[Boolean])
          case _ =>
            i => rc.addBinary(Binary.fromString(String.valueOf(vals(i))))
        }
      }
    }

    override def write(i: Int): Unit = {
      rc.startMessage()
      var c = 0
      while (c < names.length) {
        if (arrays(c)(i) != null) {
          rc.startField(names(c), c)
          appenders(c)(i)
          rc.endField(names(c), c)
        }
        c += 1
      }
      rc.endMessage()
    }
  }

  private final class RowIndexWriterBuilder(
      file: org.apache.parquet.io.OutputFile,
      support: WriteSupport[Int])
      extends ParquetWriter.Builder[Int, RowIndexWriterBuilder](file) {
    override def self(): RowIndexWriterBuilder = this
    override def getWriteSupport(conf: Configuration): WriteSupport[Int] = support
  }

  private def compareValues(a: Any, b: Any): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (x: String, y: String) => x.compareTo(y)
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: Double, y: Double) => java.lang.Double.compare(x, y)
    case (x: Boolean, y: Boolean) => java.lang.Boolean.compare(x, y)
    case (x, y) => String.valueOf(x).compareTo(String.valueOf(y))
  }

}
