package graft.catalog

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.hadoop.{Footer, ParquetFileReader, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.{Converter, GroupConverter, PrimitiveConverter}
import org.apache.parquet.schema.MessageType
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema
import org.apache.spark.sql.types.StructType

import java.io.FileNotFoundException
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The engine's one way to read Parquet: `spark.read.parquet` with the
  * data schema read from the files' footers on the driver, or, for an
  * input small enough to need no Spark job at all, parquet-mr's column
  * readers on the calling thread ([[columns]]).
  *
  * Without a schema Spark infers one in a Spark job
  * (`SchemaMergeUtils.mergeSchemasInParallel`), even for a single file
  * with `mergeSchema` off, so registering a table, refreshing a view and
  * compacting an hour each paid a job. Here the driver lists the same
  * files Spark's inference reads (the first data file, or every data
  * file with `merge`), reads their footers with Spark's own helpers
  * ([[FooterSchema]]) and hands the read that schema. Spark still infers
  * the partition columns from the paths. The reference reads schemas
  * the same way: DuckDB's `read_parquet` takes them from the footers.
  */
object ParquetRead {

  /** `spark.read.options(options).parquet(paths)` with `mergeSchema` set
    * to `merge`, its schema read on the driver. */
  def apply(spark: SparkSession, paths: Seq[String], merge: Boolean,
      options: Map[String, String] = Map.empty): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    leafFiles(conf, paths).flatMap(schema(spark, _, merge, options)) match {
      case Some(s) => spark.read.schema(s).options(options).parquet(paths: _*)
      // a missing root, a glob, or no readable data file: Spark's own
      // inference raises its error or expands the glob
      case None =>
        spark.read.options(options).option("mergeSchema", merge).parquet(paths: _*)
    }
  }

  /** The Parquet schema in the footer of the first data file under
    * `path`, the file Spark's inference reads; None for a missing root
    * or no data file. */
  def fileSchema(spark: SparkSession, path: String): Option[MessageType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    leafFiles(conf, Seq(path)).flatMap(_.headOption).flatMap { f =>
      FooterSchema.footers(conf, Seq(f), ignoreCorruptFiles = false).headOption
    }.map(_.getParquetMetadata.getFileMetaData.getSchema)
  }

  /** Read exactly the files of `footers`, which the caller has opened,
    * with their merged schema. Spark lists more root paths than
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` in a Spark
    * job; file roots carry no partition columns, so a longer list is
    * read as a union of reads under the threshold. */
  def files(spark: SparkSession, footers: Seq[Footer]): DataFrame = {
    val schema = FooterSchema.merged(spark, footers)
      .getOrElse(throw new IllegalArgumentException("no Parquet footers to read"))
    footers.map(_.getFile.toString)
      .grouped(math.max(1, FooterSchema.parallelDiscoveryThreshold(spark)))
      .map(chunk => spark.read.schema(schema).parquet(chunk: _*))
      .reduce(_ union _)
  }

  /** The columns of `schema`, a flat schema of INT64, DOUBLE, BOOLEAN
    * and BINARY fields, read from the files of `footers` with parquet-mr
    * on the calling thread, no Spark job: one array per field, the files'
    * rows concatenated in `footers` order. INT64 reads as Long, DOUBLE
    * as Double, BOOLEAN as Boolean and BINARY as a UTF-8 String; a null,
    * or a field a file lacks, reads as null. Fields match the files'
    * columns by exact name, and a file's columns outside `schema` are
    * not decoded. Each file's footer is taken from `footers`, not read
    * again. */
  def columns(conf: Configuration, footers: Seq[Footer],
      schema: MessageType): mutable.LinkedHashMap[String, Array[Any]] = {
    val total = footers.iterator.flatMap(_.getParquetMetadata.getBlocks.asScala)
      .map(_.getRowCount).sum
    require(total <= Int.MaxValue, s"$total rows do not fit one array")
    val out = mutable.LinkedHashMap.from(schema.getFields.asScala.map(f =>
      f.getName -> new Array[Any](total.toInt)))
    var base = 0
    footers.foreach { f =>
      val meta = f.getParquetMetadata
      val fileSchema = meta.getFileMetaData.getSchema
      val wanted = fileSchema.getColumns.asScala.toSeq
        .filter(d => d.getPath.length == 1 && out.contains(d.getPath.head))
      val in = HadoopInputFile.fromPath(f.getFile, conf)
      val reader = ParquetFileReader.open(in, meta,
        HadoopReadOptions.builder(conf).build(), in.newStream())
      try {
        var pages = reader.readNextRowGroup()
        while (pages != null) {
          val n = pages.getRowCount.toInt
          val store = new ColumnReadStoreImpl(pages, IgnoredRecord, fileSchema,
            meta.getFileMetaData.getCreatedBy)
          wanted.foreach { d =>
            val values = out(d.getPath.head)
            val r = store.getColumnReader(d)
            val defined = d.getMaxDefinitionLevel
            val read: () => Any = d.getPrimitiveType.getPrimitiveTypeName match {
              case PrimitiveTypeName.INT64 => () => r.getLong
              case PrimitiveTypeName.DOUBLE => () => r.getDouble
              case PrimitiveTypeName.BOOLEAN => () => r.getBoolean
              case PrimitiveTypeName.BINARY => () => r.getBinary.toStringUsingUTF8
              case t => throw new IllegalArgumentException(s"column ${d.getPath.head}: $t")
            }
            var i = 0
            while (i < n) {
              if (r.getCurrentDefinitionLevel == defined) values(base + i) = read()
              r.consume()
              i += 1
            }
          }
          base += n
          pages = reader.readNextRowGroup()
        }
      } finally reader.close()
    }
    out
  }

  /** The record converter a column reader is built against; values are
    * taken from the readers directly, never through it. */
  private object IgnoredRecord extends GroupConverter {
    private val value = new PrimitiveConverter {}
    override def getConverter(fieldIndex: Int): Converter = value
    override def start(): Unit = ()
    override def end(): Unit = ()
  }

  /** The data schema Spark's inference gives the listed `files`: the
    * first file's, or with `merge` every file's merged. With
    * `ignoreMissingFiles`, a file deleted since it was listed is skipped,
    * as Spark's scan skips it. */
  private[catalog] def schema(spark: SparkSession, files: Seq[FileStatus], merge: Boolean,
      options: Map[String, String]): Option[StructType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val opts = FooterSchema.fileSourceOptions(spark, options)
    def missing(e: Throwable): Boolean =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[FileNotFoundException])
    def read(files: Seq[FileStatus]): Seq[Footer] =
      try FooterSchema.footers(conf, if (merge) files else files.take(1),
        opts.ignoreCorruptFiles)
      catch {
        case e: Exception if opts.ignoreMissingFiles && missing(e) =>
          val present = files.filter(f => f.getPath.getFileSystem(conf).exists(f.getPath))
          if (present.length == files.length) throw e else read(present)
      }
    FooterSchema.merged(spark, read(files))
  }

  /** Data files under `paths`, sorted by path as Spark's inference sorts
    * them (so "first" and the merge order are Spark's), without the names
    * Spark's listing skips (`_…`, `.…`) and the summary files; None when
    * a root does not exist. A directory that vanishes while it is listed
    * holds no files: Spark's own listing decides what is read. */
  private def leafFiles(conf: Configuration, paths: Seq[String]): Option[Seq[FileStatus]] = {
    val summaries = Set(ParquetFileWriter.PARQUET_METADATA_FILE,
      ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
    def under(fs: FileSystem, dir: Path): Seq[FileStatus] = {
      val children =
        try fs.listStatus(dir).toSeq
        catch { case _: FileNotFoundException => Nil }
      children.filterNot(s => FooterSchema.skipped(s.getPath.getName)).flatMap { s =>
        if (s.isDirectory) under(fs, s.getPath) else Seq(s)
      }
    }
    val roots = paths.map { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      try Some(fs -> fs.getFileStatus(path))
      catch { case _: FileNotFoundException => None }
    }
    if (roots.contains(None)) None
    else Some(roots.flatten
      .flatMap { case (fs, s) => if (s.isDirectory) under(fs, s.getPath) else Seq(s) }
      .filterNot(f => summaries(f.getPath.getName))
      .sortBy(_.getPath.toString))
  }
}
