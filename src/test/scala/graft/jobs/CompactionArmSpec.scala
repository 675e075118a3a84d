package graft.jobs

import graft.SparkSpec
import graft.catalog.{GraftCatalog, TableMeta}
import graft.ingest.{ColumnarBatch, DirectParquetWriter, HourPartitionedWriter, LineProtocol}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.{col, expr}

import scala.jdk.CollectionConverters._

/** The two hourly compaction arms, each called by name on byte-identical
  * copies of the same hour, give the same multiset of rows, the same
  * Parquet column types, and one output file stored in (sortKeys, time)
  * order. */
class CompactionArmSpec extends SparkSpec {

  private val base = 1717200000000000L // 2024-06-01T00:00:00Z in µs
  private def conf = spark.sparkContext.hadoopConfiguration

  /** Line Protocol `lines` (µs timestamps, offsets from `base`) as one
    * flush file, through the direct writer or the Spark writer. */
  private def flush(cat: GraftCatalog, direct: Boolean, lines: String*): Unit = {
    val (pts, errs) = LineProtocol.parse(lines.mkString("\n"), "us")
    assert(errs.isEmpty, errs.mkString(";"))
    ColumnarBatch.fromPoints(pts).foreach { b =>
      if (direct) DirectParquetWriter.write(cat, "default", b)
      else HourPartitionedWriter.ingest(cat, "default", b)
    }
  }

  private def t(s: Int): Long = base + s * 1000000L

  private def footersOf(part: Path) =
    Compaction.readFooters(conf,
      Compaction.parquetFiles(part.getFileSystem(conf), part).sortBy(_.getName))

  private def onlyFile(part: Path): Path = {
    val files = Compaction.parquetFiles(part.getFileSystem(conf), part)
    assert(files.length == 1, s"one output file expected: ${files.mkString(", ")}")
    files.head
  }

  /** name -> repetition, physical type and logical annotation. */
  private def types(f: Path): Map[String, String] =
    Compaction.readFooters(conf, Seq(f)).head.getParquetMetadata.getFileMetaData
      .getSchema.getFields.asScala.map(t => t.getName -> t.toString).toMap

  /** Every row of `f`, columns in name order, as text, sorted. */
  private def rows(f: Path): Seq[String] = {
    val df = spark.read.parquet(f.toString)
    df.select(df.columns.sorted.toSeq.map(c =>
        if (c == "time") expr("unix_micros(time)").as(c) else col(c)): _*)
      .collect().map(_.toSeq.mkString("|")).toSeq.sorted
  }

  private val order: Ordering[Any] = (a: Any, b: Any) => (a, b) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (x: String, y: String) => x.compareTo(y)
    case (x: Double, y: Double) => java.lang.Double.compare(x, y)
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x, y) => fail(s"unexpected key values $x, $y")
  }

  private def assertStoredInOrder(f: Path, sortKeys: Seq[String]): Unit = {
    val df = spark.read.parquet(f.toString)
    val keys = sortKeys.filter(df.columns.contains).map(col) :+ expr("unix_micros(time)")
    val stored = df.select(keys: _*).collect().map(_.toSeq).toSeq
    val ord = Ordering.Implicits.seqOrdering[Seq, Any](order)
    stored.sliding(2).foreach {
      case Seq(a, b) => assert(ord.lteq(a, b), s"$f not in (sortKeys, time) order: $a > $b")
      case _ =>
    }
  }

  /** Builds the hour with `build` in one catalog, copies the catalog's
    * root byte for byte, compacts one copy with each arm and compares
    * the outputs. Returns the driver arm's output rows. */
  private def sameOnBothArms(meta: TableMeta)(build: GraftCatalog => Unit): Seq[String] = {
    val rootA = tmpDir("graft_arm_driver")
    val a = new GraftCatalog(spark, rootA)
    a.writeMeta("default", "m", meta)
    build(a)
    val rootB = tmpDir("graft_arm_spark")
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(rootA), new java.io.File(rootB))
    val b = new GraftCatalog(spark, rootB)
    val partA = a.listHourPartitions("default", "m").head
    val partB = b.listHourPartitions("default", "m").head
    val footersA = footersOf(partA)
    val onDriver = Compaction.compactHourOnDriver(a, "default", "m", partA, footersA,
      Compaction.driverSchema(footersA).get)
    val inSpark = Compaction.compactHourInSpark(b, "default", "m", partB, footersOf(partB))
    assert(onDriver.arm == Compaction.DriverArm && inSpark.arm == Compaction.SparkArm)
    assert((onDriver.filesIn, onDriver.rowsIn, onDriver.rowsOut) ==
      (inSpark.filesIn, inSpark.rowsIn, inSpark.rowsOut), s"$onDriver vs $inSpark")
    val (fa, fb) = (onlyFile(partA), onlyFile(partB))
    assert(types(fa) == types(fb))
    assert(rows(fa) == rows(fb))
    assertStoredInOrder(fa, meta.sortKeys)
    assertStoredInOrder(fb, meta.sortKeys)
    rows(fa)
  }

  private val tagged = TableMeta(sortKeys = Seq("host"), tagColumns = Seq("host", "region"))

  test("arm parity: duplicate keys across files, the newest file wins") {
    val out = sameOnBothArms(tagged) { cat =>
      flush(cat, direct = true,
        s"m,host=a,region=r1 v=1.0 ${t(1)}", s"m,host=b,region=r1 v=2.0 ${t(2)}",
        s"m,host=b,region=r2 v=3.0 ${t(2)}")
      flush(cat, direct = false, s"m,host=a,region=r1 v=9.0 ${t(1)}")
      flush(cat, direct = true,
        s"m,host=b,region=r1 v=8.0 ${t(2)}", s"m,host=c,region=r2 v=4.0 ${t(3)}")
    }
    // columns in name order: host, region, time, v
    assert(out == Seq(s"a|r1|${t(1)}|9.0", s"b|r1|${t(2)}|8.0", s"b|r2|${t(2)}|3.0",
      s"c|r2|${t(3)}|4.0"))
  }

  test("arm parity: a field added in a later file") {
    val out = sameOnBothArms(tagged) { cat =>
      flush(cat, direct = true, s"m,host=a,region=r1 v=1.0 ${t(1)}")
      flush(cat, direct = true, s"m,host=a,region=r1 v=2.0,w=5i ${t(2)}")
      flush(cat, direct = false, s"m,host=b,region=r1 v=3.0,w=6i,ok=true ${t(1)}")
    }
    assert(out.length == 3)
  }

  test("arm parity: null tags and null fields") {
    val out = sameOnBothArms(tagged) { cat =>
      flush(cat, direct = true,
        s"m,host=a v=1.0 ${t(1)}", s"m v=2.0 ${t(2)}", s"m,host=b,region=r1 w=3.0 ${t(3)}")
      // a file with no host column at all: its key's host is null too
      flush(cat, direct = true, s"m,region=r1 v=5.0 ${t(3)}", s"m v=6.0 ${t(2)}")
      flush(cat, direct = false, s"m,host=a s=\"x\" ${t(4)}")
    }
    // (null, null, t2) written twice: the newer 6.0 wins
    assert(out.length == 5 && !out.exists(_.contains("|2.0")), out)
  }

  test("arm parity: sortKeys that differ from the tags") {
    val meta = TableMeta(sortKeys = Seq("region", "v"), tagColumns = Seq("host", "region"))
    val out = sameOnBothArms(meta) { cat =>
      flush(cat, direct = true, (0 until 30).map(i =>
        s"m,host=h${i % 5},region=r${i % 3} v=${(i * 7) % 11}.5 ${t(i)}"): _*)
      flush(cat, direct = false, (0 until 10).map(i =>
        s"m,host=h${i % 5},region=r${i % 3} v=${i % 4}.25 ${t(i * 3)}"): _*)
    }
    // only the second flush's row 0 rewrites a key of the first
    assert(out.length == 39)
  }

  test("arm parity: no tags, dedupTime off keeps every row, on keeps the newest per time") {
    def build(cat: GraftCatalog): Unit = {
      flush(cat, direct = true, s"m v=1.0 ${t(1)}", s"m v=2.0 ${t(2)}")
      flush(cat, direct = false, s"m v=3.0 ${t(1)}")
    }
    assert(sameOnBothArms(TableMeta(sortKeys = Nil, tagColumns = Nil))(build).length == 3)
    assert(sameOnBothArms(TableMeta(sortKeys = Nil, tagColumns = Nil, dedupTime = true))(build) ==
      Seq(s"${t(1)}|3.0", s"${t(2)}|2.0"))
  }
}
