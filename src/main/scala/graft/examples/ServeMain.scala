package graft.examples

import graft.HarnessSession
import graft.server.HttpServer

/** Start the engine as a standalone HTTP service (the reference's
  * `arc serve` shape):
  *
  *   sbt "runMain graft.examples.ServeMain /data/graft 8086"
  *
  * args: [catalogRoot] [port] — default ./graft-data on an ephemeral
  * port. Optional env:
  *   GRAFT_AUTH_TOKEN     static bearer token (unset = auth off)
  *   GRAFT_MAX_ROWS       governance row cap per query result
  *   GRAFT_DELETE_ENABLED true enables POST /api/v1/delete (reference
  *                        default: disabled, config.go:1438)
  *   GRAFT_COLD_ROOT      cold-tier root for /api/v1/tiering (default
  *                        {root}/_cold)
  *   SPARK_GRAFT_CPUS     local[N] parallelism (default all cores,
  *                        at least 4)
  *   SPARK_GRAFT_MASTER   Spark master (default local[N])
  *
  * The lifecycle tick ([[graft.server.Lifecycle]]) always runs, once a
  * minute: due continuous-query windows, active retention policies, and
  * hourly and daily compaction of every database.
  *
  * The session is [[graft.HarnessSession]]'s with FAIR scheduling. On a
  * real cluster, point SPARK_GRAFT_MASTER at the cluster master —
  * HttpServer only needs the session and a storage root (file://,
  * s3a://, abfs://).
  */
object ServeMain {
  def main(args: Array[String]): Unit = {
    val root = args.headOption.getOrElse("./graft-data")
    val port = args.lift(1).flatMap(_.toIntOption).getOrElse(0)
    val spark = HarnessSession.builder()
      .appName("graft-serve")
      // FAIR scheduling: QueryFacade assigns each query a pool from a
      // fixed hashed set, so concurrent queries share task slots
      // instead of FIFO-queueing behind the first long scan
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val server = new HttpServer(spark, root, port,
      authToken = sys.env.get("GRAFT_AUTH_TOKEN"))
    sys.env.get("GRAFT_MAX_ROWS").flatMap(_.toLongOption)
      .foreach(server.maxRows = _)
    if (sys.env.get("GRAFT_DELETE_ENABLED").exists(_.toBoolean))
      server.admin.deleteEnabled = true
    sys.env.get("GRAFT_COLD_ROOT").foreach(server.admin.coldRoot = _)
    // buffered-accept ingest (the reference's ArrowBuffer+WAL regime):
    // GRAFT_INGEST_WAL_DIR=<dir> turns it on; GRAFT_INGEST_FLUSH_MS and
    // GRAFT_INGEST_FLUSH_ROWS tune the flush cadence;
    // GRAFT_INGEST_WAL_ASYNC=true trades the per-request fsync for OS
    // page-cache durability (the reference's accept-only regime)
    sys.env.get("GRAFT_INGEST_WAL_DIR").foreach { dir =>
      val recovered = server.enableBufferedIngest(
        new java.io.File(dir),
        flushRows = sys.env.get("GRAFT_INGEST_FLUSH_ROWS")
          .flatMap(_.toIntOption).getOrElse(200000),
        flushMillis = sys.env.get("GRAFT_INGEST_FLUSH_MS")
          .flatMap(_.toLongOption).getOrElse(500L),
        syncMode =
          if (sys.env.get("GRAFT_INGEST_WAL_ASYNC").exists(_.toBoolean))
            graft.ingest.Wal.SyncAsync
          else graft.ingest.Wal.SyncEvery)
      if (recovered > 0) println(s"replayed $recovered WAL rows from a previous run")
    }
    val bound = server.start()
    server.admin.lifecycle.start(60000L)
    println(s"graft serving on http://127.0.0.1:$bound  (root=$root)")
    println(s"  POST /api/v1/query            {\"sql\": \"...\"}  (Accept: arrow/msgpack negotiates)")
    println(s"  POST /write?db=mydb           InfluxDB line protocol")
    println(s"  POST /api/v1/write/msgpack    columnar MessagePack")
    println(s"  GET  /health | /metrics | /api/v1/measurements | /api/v1/logs")
    println(s"  POST /api/v1/delete | /api/v1/compaction/trigger | /api/v1/tiering/migrate")
    println(s"  CRUD /api/v1/retention | /api/v1/continuous_queries | /api/v1/mqtt/subscriptions")
    // keep serving until killed
    Thread.currentThread().join()
  }
}
