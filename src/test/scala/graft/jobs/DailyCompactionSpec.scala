package graft.jobs

import graft.SparkSpec
import graft.catalog.{GraftCatalog, TableMeta}
import graft.ingest.{ColumnarBatch, HourPartitionedWriter, LineProtocol}
import graft.server.HttpServer
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Daily compaction tier (reference internal/compaction/daily.go) +
  * manifest-journaled crash recovery (manifest.go, watcher.go) +
  * scheduler tick (scheduler.go), driven through the server's lifecycle
  * tick.
  */
class DailyCompactionSpec extends SparkSpec {

  private val H = 3600L * 1000000L
  private val base = 1717200000000000L // 2024-06-01T00:00:00Z µs

  private def newCatalog() = new GraftCatalog(spark, tmpDir("graft_daily_cat"))

  private def lpIngest(cat: GraftCatalog, lines: String): Unit = {
    val (pts, errs) = LineProtocol.parse(lines, "us")
    assert(errs.isEmpty, errs.mkString(";"))
    ColumnarBatch.fromPoints(pts).foreach(HourPartitionedWriter.ingest(cat, "default", _))
  }

  /** A server over a fresh root: its lifecycle tick is the compaction
    * scheduler, and `cat` is its catalog. */
  private def withServer(f: (HttpServer, GraftCatalog) => Unit): Unit = {
    val server = new HttpServer(spark, tmpDir("graft_daily_cat"))
    try f(server, server.catalog) finally server.stop()
  }

  private def hadoopFs(p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("day of hour files merges to ONE daily file; dedup + hour column preserved") {
    val cat = newCatalog()
    // 14 hourly flushes across one day, incl. a duplicate key where the
    // later flush must win, plus one row on the next day (untouched)
    (0 until 13).foreach { h =>
      lpIngest(cat, s"cpu,host=h$h v=$h.0 ${base + h * H + 5}")
    }
    lpIngest(cat, s"cpu,host=h0 v=99.0 ${base + 5}") // dup key, later write
    lpIngest(cat, s"cpu,host=x v=1.0 ${base + 24 * H + 5}") // next day
    assert(cat.listHourPartitions("default", "cpu").length == 14)

    val dayDir = cat.listDayPartitions("default", "cpu").head
    val res = Compaction.compactDay(cat, "default", "cpu", dayDir)
    assert(res.compacted && res.filesIn == 14, res)
    assert(res.rowsIn == 14 && res.rowsOut == 13) // dup collapsed

    // exactly one *_daily.parquet in the day-level tier; hour dirs gone
    val dailyDays = cat.listDailyTierDays("default", "cpu")
    assert(dailyDays.length == 1)
    val dailyFiles = hadoopFs(dailyDays.head).listStatus(dailyDays.head)
      .filter(_.getPath.getName.endsWith(".parquet"))
    assert(dailyFiles.length == 1 &&
      dailyFiles.head.getPath.getName.endsWith("_daily.parquet"))
    assert(cat.listHourPartitions("default", "cpu").length == 1) // next day only

    // table() reads both tiers; last write won; hour survives as a column
    val df = cat.table("default", "cpu")
    assert(df.count() == 14) // 13 compacted + 1 next-day
    assert(df.where(col("host") === "h0").head().getAs[Double]("v") == 99.0)
    assert(df.where(col("hour") === 5 && col("host") === "h5").count() == 1)
    // year/month/day pruning still partition-level on the daily tier
    assert(df.where(col("day") === 1).count() == 13)
  }

  test("runDaily qualifies only elapsed days with enough files") {
    val cat = newCatalog()
    (0 until 12).foreach { h => // day 1: 12 files -> qualifies
      lpIngest(cat, s"m,host=a$h v=1.0 ${base + h * H + 5}")
    }
    lpIngest(cat, s"m,host=b v=1.0 ${base + 24 * H + 5}") // day 2: 1 file
    val now = base + 8L * 24 * H
    val res = Compaction.runDaily(cat, "default", "m", nowMicros = () => now)
    assert(res.length == 1 && res.head.filesIn == 12)
    // day 2 (too few files, no daily file yet) untouched
    assert(cat.listHourPartitions("default", "m").length == 1)

    // late backfill into the compacted day re-merges even below minFiles
    lpIngest(cat, s"m,host=late v=7.0 ${base + 2 * H + 9}")
    val res2 = Compaction.runDaily(cat, "default", "m", nowMicros = () => now)
    assert(res2.length == 1 && res2.head.filesIn == 2) // 1 new + 1 daily
    assert(cat.table("default", "m").where(col("host") === "late").count() == 1)
    assert(cat.table("default", "m").count() == 14)
  }

  test("crash mid-swap before rename: manifest recovery rolls back, sources intact") {
    val cat = newCatalog()
    lpIngest(cat, s"m,host=a v=1.0 ${base + 5}")
    lpIngest(cat, s"m,host=b v=2.0 ${base + 7}")
    val part = cat.listHourPartitions("default", "m").head
    val tablePath = cat.tablePath("default", "m")
    val conf = spark.sparkContext.hadoopConfiguration

    // simulate a compaction that died after journaling + tmp write but
    // BEFORE the rename: entry present, planned output absent
    val tmp = new Path(part.getParent, s"_compact_tmp_${part.getName}")
    hadoopFs(tmp).mkdirs(tmp)
    CompactionManifest.begin(tablePath, conf, CompactionManifest.Entry(
      id = "hourly:crash-test", tier = "hourly", partition = part.toString,
      tmpDir = tmp.toString,
      inputs = hadoopFs(part).listStatus(part)
        .filter(_.getPath.getName.endsWith(".parquet")).map(_.getPath.toString).toSeq,
      outputs = Seq(new Path(part, "m_never_renamed.parquet").toString)))

    val actions = Compaction.recover(cat, "default", "m")
    assert(actions.exists(_.startsWith("rolled_back:")), actions)
    assert(CompactionManifest.load(tablePath, conf).isEmpty)
    assert(!hadoopFs(tmp).exists(tmp))
    assert(cat.table("default", "m").count() == 2) // nothing lost
  }

  test("crash mid-swap after rename: manifest recovery finishes source deletion") {
    val cat = newCatalog()
    lpIngest(cat, s"m,host=a v=1.0 ${base + 5}")
    lpIngest(cat, s"m,host=b v=2.0 ${base + 7}")
    val part = cat.listHourPartitions("default", "m").head
    val tablePath = cat.tablePath("default", "m")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = hadoopFs(part)
    val sources = fs.listStatus(part)
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getPath).sortBy(_.getName)

    // fake a committed swap: the "compacted" output exists (here: a copy
    // of all rows), sources not yet deleted, entry still in the manifest
    val merged = spark.read.parquet(sources.map(_.toString): _*).coalesce(1)
    val tmp = new Path(part.getParent, s"_compact_tmp_${part.getName}")
    merged.write.mode("overwrite").parquet(tmp.toString)
    val outName = HourPartitionedWriter.flushFileName("m",
      System.currentTimeMillis() * 1000L, 0)
    val produced = fs.listStatus(tmp)
      .filter(_.getPath.getName.endsWith(".parquet")).head.getPath
    fs.rename(produced, new Path(part, outName))
    CompactionManifest.begin(tablePath, conf, CompactionManifest.Entry(
      id = "hourly:crash-test2", tier = "hourly", partition = part.toString,
      tmpDir = tmp.toString, inputs = sources.map(_.toString).toSeq,
      outputs = Seq(new Path(part, outName).toString)))

    val actions = Compaction.recover(cat, "default", "m")
    assert(actions.exists(_.startsWith("completed:")), actions)
    val left = fs.listStatus(part).filter(_.getPath.getName.endsWith(".parquet"))
    assert(left.length == 1 && left.head.getPath.getName == outName)
    assert(cat.table("default", "m").count() == 2) // no duplicates either
  }

  test("scheduler tick: recover + hourly + daily across measurements") {
    withServer { (server, cat) =>
      cat.writeMeta("default", "cpu", TableMeta(tagColumns = Seq("host")))
      (0 until 12).foreach { h =>
        lpIngest(cat, s"cpu,host=c$h v=1.0 ${base + h * H + 5}")
      }
      lpIngest(cat, s"mem,host=a used=1.0 ${base + 5}")
      lpIngest(cat, s"mem,host=a used=2.0 ${base + 6}")
      val now = base + 8L * 24 * H
      val sched = server.admin.lifecycle
      val reports = sched.tick(now).compaction
      assert(reports.map(_.measurement).sorted == Seq("cpu", "mem"))
      val cpu = reports.find(_.measurement == "cpu").get
      // hourly tier compacts nothing (1 file/hour), daily tier merges the day
      assert(cpu.daily.length == 1 && cpu.daily.head.filesIn == 12)
      val mem = reports.find(_.measurement == "mem").get
      assert(mem.hourly.count(_.compacted) == 1)
      // second tick is a no-op (idempotent)
      val again = sched.tick(now).compaction
      assert(again.forall(r => r.hourly.forall(!_.compacted) && r.daily.isEmpty))
      // daily tier dirs never leak into SHOW TABLES
      assert(cat.listTables("default") == Seq("cpu", "mem"))
    }
  }

  test("scheduler with db=None covers every database in one tick") {
    withServer { (server, cat) =>
      def ingest(db: String, lines: String): Unit = {
        val (pts, errs) = LineProtocol.parse(lines, "us")
        assert(errs.isEmpty, errs.mkString(";"))
        ColumnarBatch.fromPoints(pts).foreach(HourPartitionedWriter.ingest(cat, db, _))
      }
      // two databases, each with a 2-file hour due for compaction
      ingest("metrics", s"cpu,host=a v=1.0 ${base + 5}")
      ingest("metrics", s"cpu,host=b v=2.0 ${base + 6}")
      ingest("logs", s"app,host=a n=1.0 ${base + 5}")
      ingest("logs", s"app,host=b n=2.0 ${base + 6}")
      val now = base + 8L * 24 * H
      val sched = server.admin.lifecycle
      val reports = sched.tick(now).compaction
      assert(reports.map(r => (r.db, r.measurement)).sorted ==
        Seq(("logs", "app"), ("metrics", "cpu")))
      assert(reports.forall(_.hourly.count(_.compacted) == 1))
      // a database created AFTER construction is picked up on the next tick
      ingest("late", s"m,host=a v=1.0 ${base + 5}")
      ingest("late", s"m,host=b v=2.0 ${base + 6}")
      val second = sched.tick(now).compaction
      assert(second.exists(r => r.db == "late" && r.hourly.count(_.compacted) == 1))
      // already-compacted dbs are no-ops in the same tick
      assert(second.filter(_.db != "late")
        .forall(r => r.hourly.forall(!_.compacted)))
    }
  }

  test("scheduler with iceberg export reconciles the post-compaction file set") {
    withServer { (server, cat) =>
      lpIngest(cat, s"m,host=a v=1.0 ${base + 5}")
      lpIngest(cat, s"m,host=b v=2.0 ${base + 6}")
      val now = base + 8L * 24 * H
      // the tick reconciles a table that is already exported: seed it
      IcebergExport.reconcile(cat, "default", "m")
      val sched = server.admin.lifecycle
      val reports = sched.tick(now).compaction
      val ice = reports.head.iceberg
      assert(ice.nonEmpty, "iceberg export did not run")
      // snapshot taken AFTER compaction: the 2-file hour merged to 1 file
      assert(reports.head.hourly.count(_.compacted) == 1)
      assert(ice.get.files == 1 && ice.get.rows == 2, ice.get.toString)
      // second tick: file set unchanged ⇒ reconcile is a no-op (no new
      // snapshot published, no metadata churn), same state reported
      val second = sched.tick(now).compaction.head.iceberg.get
      assert(second.version == 2 && second.files == 1 && second.rows == 2)
      // new data makes the next tick publish again
      lpIngest(cat, s"m,host=c v=3.0 ${base + 7}")
      val third = sched.tick(now).compaction.head.iceberg.get
      assert(third.version == 3 && third.rows == 3, third.toString)
    }
  }

  test("scheduler start/stop: interval thread runs ticks and terminates") {
    withServer { (server, cat) =>
      lpIngest(cat, s"m,host=a v=1.0 ${base + 5}")
      lpIngest(cat, s"m,host=b v=2.0 ${base + 6}")
      val sched = server.admin.lifecycle
      sched.start(100L)
      sched.start(100L) // idempotent
      // generous: under full-suite parallelism on a loaded box the first
      // background tick's Spark job can take tens of seconds (observed
      // flake at 15 s with external load avg ~4); the poll exits the
      // moment compaction lands, so a healthy run never waits this long
      val deadline = System.currentTimeMillis() + 60000
      def oneFile = {
        val parts = cat.listHourPartitions("default", "m")
        parts.nonEmpty && {
          val fs = parts.head.getFileSystem(spark.sparkContext.hadoopConfiguration)
          // daily tier may have consumed the hour; either way exactly 1 file total
          val hourFiles = parts.flatMap(p => fs.listStatus(p).toSeq)
            .count(_.getPath.getName.endsWith(".parquet"))
          hourFiles == 1
        } || cat.listDailyTierDays("default", "m").nonEmpty
      }
      while (!oneFile && System.currentTimeMillis() < deadline) Thread.sleep(100)
      assert(oneFile, "background tick never compacted")
      sched.stop()
      assert(cat.table("default", "m").count() == 2)
    }
  }

  test("targeted delete reaches rows inside day-compacted files") {
    val cat = newCatalog()
    (0 until 12).foreach { h =>
      lpIngest(cat, s"m,host=a$h v=$h.0 ${base + h * H + 5}")
    }
    Compaction.compactDay(cat, "default", "m",
      cat.listDayPartitions("default", "m").head)
    assert(cat.listDailyTierDays("default", "m").length == 1)
    val res = TargetedDelete(cat, "default", "m", col("v") === 7.0)
    assert(res.rowsDeleted == 1 && res.rowsKept == 11, res)
    val df = cat.table("default", "m")
    assert(df.count() == 11)
    assert(df.where(col("host") === "a7").count() == 0)
  }

  test("retention prunes expired daily-tier days") {
    val cat = newCatalog()
    (0 until 12).foreach { h =>
      lpIngest(cat, s"m,host=a$h v=1.0 ${base + h * H + 5}")
    }
    val dayDir = cat.listDayPartitions("default", "m").head
    Compaction.compactDay(cat, "default", "m", dayDir)
    assert(cat.listDailyTierDays("default", "m").length == 1)
    val now = base + 40L * 24 * H
    val res = Retention(cat, "default", "m", retentionDays = 7,
      nowMicros = () => now)
    assert(res.deleted.length == 1)
    assert(cat.listDailyTierDays("default", "m").isEmpty)
  }
}
