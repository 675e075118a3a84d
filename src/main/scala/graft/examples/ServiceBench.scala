package graft.examples

import graft.HarnessSession
import graft.server.HttpServer

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.Executors

/** End-to-end SERVICE throughput over a real socket — the like-for-like
  * counterpart of BASELINE.md's wire numbers (the reference benches its
  * HTTP endpoints, not library calls; ThroughputBench covers the
  * in-process layers). Measures:
  *
  *  - LP ingest: 12 concurrent connections POSTing line-protocol batches
  *    to /write (the reference's "12 concurrent workers" shape) through
  *    parse → columnar pivot → sorted parquet write;
  *  - MessagePack ingest: same through the columnar decoder;
  *  - result streaming: one client draining a multi-hundred-k-row SELECT
  *    through /api/v1/query in each wire format (JSON envelope, Arrow
  *    IPC, MessagePack), rows/s measured at the socket.
  *
  * Run: sbt "runMain graft.examples.ServiceBench"
  */
object ServiceBench {

  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Warm once, then best of three timed runs (12 concurrent HTTP
    * workers oversubscribe the session's cores; min-of-3 absorbs the
    * occasional GC/scheduling collision a min-of-2 still caught). */
  private def bench[A](f: => A): (A, Double) = {
    f
    val runs = (1 to 3).map(_ => time(f))
    (runs.last._1, runs.map(_._2).min)
  }

  def main(args: Array[String]): Unit = {
    val spark = HarnessSession.builder()
      // FAIR: QueryFacade hashes each query into one of 16 pools so 12
      // concurrent readers round-robin task slots (the deployment shape)
      .config("spark.scheduler.mode", "FAIR").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // GRAFT_BENCH_ROOT relocates the data root (and the WAL below) —
    // e.g. /dev/shm for the tmpfs regime that isolates the parser/HTTP
    // path from this VM's disk-writeback noise (r10 triage; the 100 TB
    // deployment writes to object storage, not a local ext4, so the
    // tmpfs row is the one that bounds the CODE rather than the disk)
    val rootBase = sys.env.get("GRAFT_BENCH_ROOT")
      .map(java.nio.file.Paths.get(_))
      .getOrElse(java.nio.file.Paths.get(
        sys.props.getOrElse("java.io.tmpdir", "/tmp")))
    java.nio.file.Files.createDirectories(rootBase)
    val root = java.nio.file.Files.createTempDirectory(rootBase, "graft_svc").toString
    val server = new HttpServer(spark, root)
    // GRAFT_BENCH_BUFFERED=true measures the reference's accept regime
    // (WAL + buffer before 204, background flush) instead of the
    // default parquet-before-204 path; _ASYNC additionally matches the
    // reference's no-per-request-fsync accept-only numbers
    val buffered = sys.env.get("GRAFT_BENCH_BUFFERED").exists(_.toBoolean)
    if (buffered) server.enableBufferedIngest(
      java.nio.file.Files.createTempDirectory(rootBase, "graft_svc_wal").toFile,
      flushRows = 2000000, flushMillis = 500L,
      syncMode =
        if (sys.env.get("GRAFT_BENCH_BUFFERED_ASYNC").exists(_.toBoolean))
          graft.ingest.Wal.SyncAsync
        else graft.ingest.Wal.SyncEvery)
    val base = s"http://127.0.0.1:${server.start()}"
    val client = HttpClient.newHttpClient()

    def post(path: String, body: Array[Byte],
        headers: Map[String, String] = Map.empty): HttpResponse[Array[Byte]] = {
      var b = HttpRequest.newBuilder(URI.create(base + path))
        .POST(HttpRequest.BodyPublishers.ofByteArray(body))
      headers.foreach { case (k, v) => b = b.header(k, v) }
      client.send(b.build(), HttpResponse.BodyHandlers.ofByteArray())
    }

    // --- LP ingest over HTTP: 12 workers × batches (reference headline
    // shape: 5.37M rec/s sustained, BASELINE.md)
    val workers = 12
    val batchRows = 100000
    val batchesPerWorker = 2
    val totalRecs = workers * batchesPerWorker * batchRows
    val base0 = 1717200000000000000L
    val lpBatches = (0 until workers * batchesPerWorker).map { b =>
      (0 until batchRows).map { i =>
        val t = base0 + (b.toLong * batchRows + i) * 1000L
        s"svc_cpu,host=server${i % 16} usage_idle=${90.0 + i % 10},usage_user=${i % 7} $t"
      }.mkString("\n").getBytes(UTF_8)
    }
    val pool = Executors.newFixedThreadPool(workers)
    val (_, lpSec) = bench {
      val futs = lpBatches.map { body =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = post("/write?db=default&precision=ns", body).statusCode()
        })
      }
      val codes = futs.map(_.get())
      require(codes.forall(_ == 204), s"LP write failed: ${codes.distinct}")
    }
    println(f"[svc] lp_ingest_http: ${totalRecs / lpSec / 1e6}%.2f M rec/s ($totalRecs recs, $lpSec%.2f s, $workers conns)")

    // --- MessagePack columnar ingest over HTTP
    val mpBatches = (0 until workers * batchesPerWorker).map { b =>
      val out = new java.io.ByteArrayOutputStream()
      val p = new graft.query.MsgPackEncoder.Packer(out)
      p.packMapHeader(2); p.packString("m"); p.packString("svc_mp")
      p.packString("columns"); p.packMapHeader(3)
      p.packString("time"); p.packArrayHeader(batchRows)
      var i = 0
      while (i < batchRows) {
        p.packLong(1717200000000000L + (b.toLong * batchRows + i) * 1000L); i += 1
      }
      p.packString("host"); p.packArrayHeader(batchRows)
      i = 0; while (i < batchRows) { p.packString("server" + (i % 16)); i += 1 }
      p.packString("value"); p.packArrayHeader(batchRows)
      i = 0; while (i < batchRows) { p.packDouble(i * 0.5); i += 1 }
      out.toByteArray
    }
    val (_, mpSec) = bench {
      val futs = mpBatches.map { body =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = post("/api/v1/write/msgpack", body).statusCode()
        })
      }
      val codes = futs.map(_.get())
      require(codes.forall(_ == 204), s"msgpack write failed: ${codes.distinct}")
    }
    println(f"[svc] msgpack_ingest_http: ${totalRecs / mpSec / 1e6}%.2f M rec/s ($totalRecs recs, $mpSec%.2f s, $workers conns)")
    pool.shutdown()
    if (buffered) {
      // drain the accept buffer so the ingest measurements above are
      // honest accept-rate numbers and the rows are durable before the
      // query phase (the reference's flush endpoint plays the same role)
      val t0 = System.nanoTime()
      post("/api/v1/write/line-protocol/flush", Array.emptyByteArray)
      println(f"[svc] buffered_flush_drain: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }

    // --- result streaming: drain a wide SELECT through each wire format.
    // Persisted 32-partition input, mirroring ThroughputBench and the
    // reference (which encodes from its hot DuckDB/Arrow buffers): the
    // request then measures submit + marshal + socket, not a parquet
    // re-scan — the like-for-like shape for BASELINE.md's LIMIT-1M
    // result-streaming rows/s.
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val li = graft.Tables.load(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
    // ~3M rows: large enough that the ~0.1 s fixed per-request cost
    // (submit + job scheduling) stops dominating the rows/s figure
    val result = li.union(li).union(li).union(li).union(li)
      .limit(3000000).repartition(32).persist()
    val nRows = result.count()
    // global temp view: the serving layer resolves names in per-db
    // child sessions, and global_temp is the catalog namespace Spark
    // shares across every session of one context
    result.createOrReplaceGlobalTempView("li_svc")
    val sql = "SELECT * FROM global_temp.li_svc"

    // raw-socket client: the JDK HttpClient tops out around ~250 MB/s on
    // a drain, which would measure the CLIENT, not the server (the
    // reference's numbers come from lean Go clients). Connection: close
    // lets the drain run to EOF without chunked-framing work.
    val port = server.boundPort
    def q(body: String, accept: String): Long = {
      val sock = new java.net.Socket("127.0.0.1", port)
      sock.setReceiveBufferSize(1 << 20)
      try {
        val payload = ("{\"sql\":\"" + body + "\"}").getBytes(UTF_8)
        val acceptLine = if (accept.nonEmpty) s"Accept: $accept\r\n" else ""
        val head = s"POST /api/v1/query HTTP/1.1\r\nHost: x\r\n$acceptLine" +
          s"Content-Length: ${payload.length}\r\nConnection: close\r\n\r\n"
        val os = sock.getOutputStream
        os.write(head.getBytes(UTF_8)); os.write(payload); os.flush()
        val in = sock.getInputStream
        val buf = new Array[Byte](1 << 20)
        var total = 0L
        var first = in.read(buf)
        require(first > 0 && new String(buf, 0, math.min(first, 15), UTF_8)
          .contains("200"), "query failed")
        total += first
        var n = in.read(buf)
        while (n >= 0) { total += n; n = in.read(buf) }
        total
      } finally sock.close()
    }
    for ((label, accept) <- Seq(
        ("query_json_http", ""),
        ("query_arrow_http", "application/vnd.apache.arrow.stream"),
        ("query_msgpack_http", "application/x-msgpack"))) {
      val (bytes, sec) = bench(q(sql, accept))
      println(f"[svc] $label%s: ${nRows / sec / 1e6}%.2f M rows/s ($nRows rows, ${bytes / 1e6}%.1f MB, $sec%.2f s)")
    }

    // --- 12 concurrent readers (the reference's headline concurrency,
    // README.md:98-100): aggregate drain throughput, plus a small-query
    // fairness probe — under FAIR pools a COUNT(*) must not queue
    // behind 12 full drains (r10 verdict #5)
    locally {
      val readers = 12
      val client = java.net.http.HttpClient.newHttpClient()
      def smallMs(): Double = {
        val t0 = System.nanoTime()
        val req = java.net.http.HttpRequest.newBuilder(
            java.net.URI.create(s"http://127.0.0.1:$port/api/v1/query"))
          .timeout(java.time.Duration.ofSeconds(120))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
            """{"sql":"SELECT count(*) AS n FROM global_temp.li_svc"}"""))
          .build()
        val r = client.send(req,
          java.net.http.HttpResponse.BodyHandlers.ofString())
        require(r.statusCode() == 200, s"small query -> ${r.statusCode()}")
        (System.nanoTime() - t0) / 1e6
      }
      def p50(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
      smallMs() // warm
      val solo = p50((1 to 5).map(_ => smallMs()))
      val cpool = java.util.concurrent.Executors.newFixedThreadPool(readers)
      val t0 = System.nanoTime()
      val futs = (0 until readers).map(_ =>
        cpool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = q(sql, "")
        }))
      Thread.sleep(500) // let the drains saturate the executor first
      val under = p50((1 to 5).map(_ => smallMs()))
      // the probes only measure fairness if the drains were still live
      // while they ran — on a machine fast enough to finish 12 drains
      // inside the probe window, the row is meaningless and says so
      val drainsLive = futs.exists(!_.isDone)
      val bytes12 = futs.map(_.get()).sum
      val csec = (System.nanoTime() - t0) / 1e9
      cpool.shutdown()
      println(f"[svc] query_json_12conc: ${nRows.toDouble * readers / csec / 1e6}%.2f M rows/s aggregate " +
        f"(${readers} readers x $nRows rows, ${bytes12 / 1e6}%.0f MB, $csec%.2f s)")
      println(f"[svc] small_query_fairness: solo p50 $solo%.0f ms, " +
        f"under 12 drains p50 $under%.0f ms (${under / solo}%.1fx)" +
        (if (drainsLive) "" else " [INVALID: drains finished before probes]"))
    }

    server.stop()
    spark.stop()
  }
}
