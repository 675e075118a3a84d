package graft.jobs

import graft.SparkSpec
import graft.catalog.{GraftCatalog, TableMeta}
import graft.ingest.{ColumnarBatch, HourPartitionedWriter, LineProtocol}
import org.apache.spark.sql.functions._

/** End-to-end lifecycle: ingest → hour layout → compaction dedup →
  * retention → targeted delete → continuous query idempotency.
  * Mirrors the reference's integration fixtures (FIXTURES.md §8, §10, §7).
  */
class LifecycleSpec extends SparkSpec {

  private val H = 3600L * 1000000L // one hour in µs
  private val base = 1717200000000000L // 2024-06-01T00:00:00Z in µs

  private def newCatalog() = new GraftCatalog(spark, tmpDir("graft_cat"))

  private def lpIngest(cat: GraftCatalog, lines: String): Unit = {
    val (pts, errs) = LineProtocol.parse(lines, "us")
    assert(errs.isEmpty, errs.mkString(";"))
    ColumnarBatch.fromPoints(pts).foreach(HourPartitionedWriter.ingest(cat, "default", _))
  }

  test("ingest: multi-hour batch splits into event-time hour partitions, sorted") {
    val cat = newCatalog()
    // batch spanning 3 hours + one row 8 days old (FIXTURES §10)
    val old = base - 8L * 24 * H
    lpIngest(cat,
      s"""cpu,host=b v=2.0 ${base + 1 * H + 5}
         |cpu,host=a v=1.0 ${base + 5}
         |cpu,host=c v=3.0 ${base + 2 * H + 5}
         |cpu,host=z v=9.0 $old""".stripMargin)
    val parts = cat.listHourPartitions("default", "cpu")
    assert(parts.length == 4, parts.mkString(","))
    val df = cat.table("default", "cpu")
    assert(df.count() == 4)
    // partition columns derived from event time
    assert(df.where(col("hour") === 0 && col("day") === 1).count() == 1)
    // tag columns recorded in metadata
    assert(cat.readMeta("default", "cpu").tagColumns == Seq("host"))
  }

  test("schema evolution: union-by-name across files with different columns") {
    val cat = newCatalog()
    lpIngest(cat, s"m,host=a f1=1.0 ${base + 1}")
    lpIngest(cat, s"m,host=b f2=2.0 ${base + 2}")
    val df = cat.table("default", "m")
    assert(df.columns.toSet.contains("f1") && df.columns.toSet.contains("f2"))
    assert(df.where(col("f1").isNull).count() == 1)
    assert(df.where(col("f2").isNull).count() == 1)
  }

  test("compaction: many files -> one, duplicate (tags,time) collapsed, latest wins") {
    val cat = newCatalog()
    cat.writeMeta("default", "cpu", TableMeta(sortKeys = Seq("host"),
      tagColumns = Seq("host")))
    // three flushes into the same hour; (host=a, t0) written twice with
    // different values — the later file must win
    val t0 = base + 10
    lpIngest(cat, s"cpu,host=a v=1.0 $t0")
    lpIngest(cat, s"cpu,host=b v=2.0 ${t0 + 1}")
    lpIngest(cat, s"cpu,host=a v=9.0 $t0") // duplicate key, later write
    val part = cat.listHourPartitions("default", "cpu").head
    val res = Compaction.compactHour(cat, "default", "cpu", part, minFiles = 2)
    assert(res.compacted && res.filesIn == 3)
    assert(res.rowsIn == 3 && res.rowsOut == 2)
    val rows = cat.table("default", "cpu")
      .select("host", "v").orderBy("host").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("a", "b"))
    assert(rows.head.getDouble(1) == 9.0) // last write won
    val fs = part.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(part).filter(_.getPath.getName.endsWith(".parquet"))
    assert(files.length == 1)
  }

  test("retention: partitions older than cutoff removed, paths only") {
    val cat = newCatalog()
    val now = base + 10L * 24 * H
    lpIngest(cat, s"m,host=a v=1.0 $base")            // 10 days old
    lpIngest(cat, s"m,host=a v=2.0 ${now - 2 * H}")   // fresh
    val res = Retention(cat, "default", "m", retentionDays = 7,
      nowMicros = () => now)
    assert(res.deleted.length == 1 && res.keptCount == 1)
    assert(cat.table("default", "m").count() == 1)
  }

  test("targeted delete: matching rows gone, other files untouched") {
    val cat = newCatalog()
    lpIngest(cat,
      s"""m,host=a v=1.0 ${base + 1}
         |m,host=a v=2.0 ${base + 2}
         |m,host=b v=3.0 ${base + 1 * H + 1}""".stripMargin)
    val res = TargetedDelete(cat, "default", "m", col("v") === 2.0)
    assert(res.rowsDeleted == 1 && res.rowsKept == 2)
    val left = cat.table("default", "m").select("v")
      .collect().map(_.getDouble(0)).sorted.toSeq
    assert(left == Seq(1.0, 3.0))
  }

  test("continuous query: window-start stamping makes re-runs idempotent after compaction") {
    val cat = newCatalog()
    lpIngest(cat,
      s"""src,host=a v=10.0 ${base + 1}
         |src,host=a v=30.0 ${base + 2}
         |src,host=b v=20.0 ${base + 3}""".stripMargin)
    cat.register("default", "src")
    val cq = ContinuousQuery("avg_v",
      """SELECT host, CAST(AVG(v) AS DOUBLE) AS avg_v FROM src
        |WHERE time >= {start_time} AND time < {end_time} GROUP BY host""".stripMargin,
      "default", "agg_v", tagColumns = Seq("host"))
    // run the same window twice (reference #521: duplicate emission)
    ContinuousQuery.execute(cat, cq, base, base + H)
    ContinuousQuery.execute(cat, cq, base, base + H)
    assert(cat.table("default", "agg_v").count() == 4) // 2 hosts x 2 runs
    // dest is marked dedup-on-time; compaction collapses re-emissions
    val part = cat.listHourPartitions("default", "agg_v").head
    Compaction.compactHour(cat, "default", "agg_v", part, minFiles = 2)
    val rows = cat.table("default", "agg_v")
      .select("host", "avg_v", "time").orderBy("host").collect()
    assert(rows.length == 2)
    assert(rows.map(_.getDouble(1)).toSeq == Seq(20.0, 20.0))
    // every row stamped with the window start
    assert(rows.map(_.getTimestamp(2).getTime).distinct.toSeq ==
      Seq(base / 1000L))
  }

  test("CQ scheduler: downtime catch-up re-runs missed windows in order") {
    val server = new graft.server.HttpServer(spark, tmpDir("graft_cat"))
    try catchUpOnTicks(server)
    finally server.stop()
  }

  /** The CQ is defined over HTTP, and the server's lifecycle tick runs
    * it at the clock `now`. */
  private def catchUpOnTicks(server: graft.server.HttpServer): Unit = {
    val cat = server.catalog
    // one source row per hour, distinct values -> distinguishable windows
    lpIngest(cat,
      (0 until 4).map(h => s"cqsrc,host=a v=${h * 10}.0 ${base + h * H + 5}")
        .mkString("\n"))
    cat.register("default", "cqsrc")
    val created = java.net.http.HttpClient.newHttpClient().send(
      java.net.http.HttpRequest.newBuilder(java.net.URI.create(
        s"http://127.0.0.1:${server.start()}/api/v1/continuous_queries"))
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
          """{"name":"hourly_avg","database":"default",
            |"source_measurement":"cqsrc","destination_measurement":"cq_out",
            |"query":"SELECT host, CAST(AVG(v) AS DOUBLE) AS avg_v FROM cqsrc WHERE time >= {start_time} AND time < {end_time} GROUP BY host",
            |"interval":"1h","tag_columns":["host"]}""".stripMargin)).build(),
      java.net.http.HttpResponse.BodyHandlers.ofString())
    assert(created.statusCode() == 201, created.body())
    @volatile var now = base + H
    object sched {
      def tick(): Map[String, Seq[ContinuousQuery.Execution]] =
        server.admin.lifecycle.tick(now).cq
    }

    // first tick: no watermark -> one-hour lookback, window [base, base+H)
    val first = sched.tick()("hourly_avg")
    assert(first.map(e => (e.windowStartMicros, e.windowEndMicros)) ==
      Seq((base, base + H)))
    assert(CqState.load(cat, "hourly_avg").contains(base + H))

    // downtime: three intervals pass with no ticks; the next tick runs
    // every missed window IN ORDER, persisting after each
    now = base + 4 * H
    val caught = sched.tick()("hourly_avg")
    assert(caught.map(_.windowStartMicros) ==
      Seq(base + H, base + 2 * H, base + 3 * H))
    assert(CqState.load(cat, "hourly_avg").contains(base + 4 * H))

    // per-window outputs: one row per window, stamped with ITS start
    val rows = cat.table("default", "cq_out")
      .select("time", "avg_v").orderBy("time").collect()
    assert(rows.map(_.getTimestamp(0).getTime).toSeq ==
      (0 until 4).map(h => (base + h * H) / 1000L))
    assert(rows.map(_.getDouble(1)).toSeq == Seq(0.0, 10.0, 20.0, 30.0))

    // same instant again: nothing due, nothing re-run
    assert(sched.tick()("hourly_avg").isEmpty)

    // crash between execute and store: watermark lags one window -> that
    // window re-emits, and dedup-at-compaction collapses the duplicate
    CqState.store(cat, "hourly_avg", base + 3 * H)
    assert(sched.tick()("hourly_avg").map(_.windowStartMicros) ==
      Seq(base + 3 * H))
    cat.listHourPartitions("default", "cq_out").foreach(p =>
      Compaction.compactHour(cat, "default", "cq_out", p, minFiles = 1))
    val after = cat.table("default", "cq_out")
      .select("time", "avg_v").orderBy("time").collect()
    assert(after.map(_.getTimestamp(0).getTime).toSeq ==
      (0 until 4).map(h => (base + h * H) / 1000L))
  }

  test("50-partition backlog tick: parallel fan-out sublinear vs serial, manifest clean") {
    // identical 50-hour backlogs in two catalogs, 2 files per hour
    def backlog(): GraftCatalog = {
      val cat = newCatalog()
      (0 until 2).foreach { flush =>
        lpIngest(cat, (0 until 50)
          .map(h => s"bk,host=h$flush v=$flush.0 ${base + h * H + flush}")
          .mkString("\n"))
      }
      assert(cat.listHourPartitions("default", "bk").length == 50)
      cat
    }
    val now = () => base + 600L * H
    def tick(cat: GraftCatalog, parallelism: Int): (Long, Seq[Compaction.Result]) = {
      val t0 = System.nanoTime()
      val res = Compaction.runHourly(cat, "default", "bk",
        nowMicros = now, parallelism = parallelism)
      ((System.nanoTime() - t0) / 1000000L, res)
    }
    val (serialMs, serialRes) = tick(backlog(), parallelism = 1)
    val parCat = backlog()
    val (parMs, parRes) = tick(parCat, parallelism = 8)
    // both compact the whole backlog correctly
    Seq(serialRes, parRes).foreach { rs =>
      assert(rs.length == 50 && rs.forall(r =>
        r.compacted && r.filesIn == 2 && r.rowsOut == 2), rs.take(2).toString)
    }
    // the fan-out must actually overlap job latencies (expected ~5x at
    // width 8; 0.75 leaves wide margin for scheduler noise)
    assert(parMs < (serialMs * 3) / 4,
      s"parallel tick not sublinear: serial=${serialMs}ms parallel=${parMs}ms")
    // concurrent per-partition swaps left a clean journal: recover finds
    // no in-flight entries or stale tmp dirs, data intact
    assert(Compaction.recover(parCat, "default", "bk").isEmpty)
    assert(parCat.table("default", "bk").count() == 100)
  }

  test("compaction repairs mixed-type time columns (string epoch file)") {
    val cat = newCatalog()
    import spark.implicits._
    lpIngest(cat, s"m,host=a v=1.0 ${base + 1}")
    // a rogue file with string-epoch-seconds time in the same partition
    val part = cat.listHourPartitions("default", "m").head
    Seq(("b", (base / 1000000L).toString, 2.0)).toDF("host", "time", "v")
      .coalesce(1).write.mode("append").parquet(part.toString)
    val res = Compaction.compactHour(cat, "default", "m", part, minFiles = 2)
    assert(res.compacted)
    val df = cat.table("default", "m")
    assert(df.schema("time").dataType.typeName == "timestamp")
    assert(df.count() == 2)
  }

  test("direct parquet flush: same layout/semantics as the Spark writer, readable by both") {
    val cat = newCatalog()
    cat.writeMeta("default", "cpu", graft.catalog.TableMeta(
      sortKeys = Seq("host"), tagColumns = Seq("host")))
    val (pts, _) = graft.ingest.LineProtocol.parse(
      s"""cpu,host=b v=2.0 ${base + 1 * H + 5}
         |cpu,host=a v=1.0 ${base + 7}
         |cpu,host=c v=3.0 ${base + 5}""".stripMargin, "us")
    val batch = graft.ingest.ColumnarBatch.fromPoints(pts).head
    val files = graft.ingest.DirectParquetWriter.write(cat, "default", batch)
    assert(files.length == 2) // two hours touched
    val df = cat.table("default", "cpu")
    assert(df.count() == 3)
    assert(df.schema("time").dataType.typeName == "timestamp")
    // sorted by (host, time) within the hour file
    val hour0 = df.where(col("hour") === 0).select("host").collect().map(_.getString(0))
    assert(hour0.toSeq == hour0.sorted.toSeq)
    // interoperates with the Spark writer + compaction
    lpIngest(cat, s"cpu,host=a v=9.0 ${base + 7}") // dup key, later write
    val part = cat.listHourPartitions("default", "cpu").head
    val res = Compaction.compactHour(cat, "default", "cpu", part, minFiles = 2)
    assert(res.compacted)
    val a = cat.table("default", "cpu")
      .where(col("host") === "a").select("v").head().getDouble(0)
    assert(a == 9.0) // Spark-written flush is newer, wins dedup
  }

  test("CSV bulk import: epoch and string time columns normalized") {
    val cat = newCatalog()
    val csvDir = tmpDir("csv")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$csvDir/data.csv"),
      s"""ts,host,v
         |1717200000,server1,1.5
         |1717203600,server2,2.5""".stripMargin)
    val n = graft.ingest.CsvImport.csv(cat, "default", "csv_m",
      s"$csvDir/data.csv", timeCol = "ts")
    assert(n == 2)
    val df = cat.table("default", "csv_m")
    assert(df.schema("time").dataType.typeName == "timestamp")
    assert(cat.listHourPartitions("default", "csv_m").length == 2)
    assert(df.where(col("host") === "server1")
      .head().getAs[java.sql.Timestamp]("time").getTime == 1717200000000L)
  }

  test("compaction recovery removes stale tmp dirs") {
    val cat = newCatalog()
    lpIngest(cat, s"m,host=a v=1.0 ${base + 1}")
    val part = cat.listHourPartitions("default", "m").head
    val fs = part.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stale = new org.apache.hadoop.fs.Path(part.getParent,
      s"_compact_tmp_${part.getName}")
    fs.mkdirs(stale)
    val cleaned = Compaction.recover(cat, "default", "m")
    assert(cleaned.length == 1 && !fs.exists(stale))
    assert(cat.table("default", "m").count() == 1) // data untouched
  }

  test("tag registration union-merges tags declared after the first write") {
    val cat = newCatalog()
    lpIngest(cat, s"m,host=a v=1.0 ${base + 5}")
    assert(cat.readMeta("default", "m").tagColumns == Seq("host"))
    // a later batch declares an additional tag: meta must grow (dedup
    // keys and bloom columns track every tag ever declared), keeping
    // the earlier tag and order
    lpIngest(cat, s"m,host=a,region=eu v=2.0 ${base + 6}")
    assert(cat.readMeta("default", "m").tagColumns == Seq("host", "region"))
    // re-declaring the same tags is a no-op
    lpIngest(cat, s"m,host=b,region=us v=3.0 ${base + 7}")
    assert(cat.readMeta("default", "m").tagColumns == Seq("host", "region"))
  }

  test("catalog: SHOW DATABASES / SHOW TABLES from storage listing") {
    val cat = newCatalog()
    lpIngest(cat, s"m1,host=a v=1.0 $base")
    lpIngest(cat, s"m2,host=a v=1.0 $base")
    assert(cat.listDatabases() == Seq("default"))
    assert(cat.listTables("default") == Seq("m1", "m2"))
    assert(cat.showTables("default").collect().map(_.getString(0)).toSeq ==
      Seq("m1", "m2"))
  }
}
