package graft.jobs

import graft.query.MsgPackEncoder
import graft.server.HttpServer
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import java.io.ByteArrayOutputStream
import java.lang.management.ManagementFactory
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicInteger

/** CPU and Spark jobs of one hourly compaction trigger, through the
  * HTTP route, for three hours of `cpu`-shaped rows (tags host and
  * region of 16 hosts, three double fields), each written over HTTP as
  * the server's ingest writes them:
  *
  *  - `setup`: one Line Protocol and one MessagePack batch of 2,000 rows,
  *    the hour a `ts_ingest` set-up compacts;
  *  - `hour29`: 29 batches of 1,984 rows (57,536 rows), a full
  *    `ts_ingest` hour;
  *  - `above`: 48 batches of 1,984 rows (95,232 rows), whose rows ×
  *    columns × 8 B exceed `spark.sql.files.openCostInBytes` (4 MB).
  *
  * Each rep writes a fresh measurement per hour, then times each
  * trigger alone: the engine's CPU is the process CPU time less this
  * thread's, the jobs are every Spark job started meanwhile. One JSON
  * line per trigger, then one summary line per hour with the medians of
  * the reps after the first (which pays JIT compilation).
  *
  * Run: sbt "Test/runMain graft.jobs.CompactionCpuProbe [reps]"
  */
object CompactionCpuProbe {

  private val client = HttpClient.newHttpClient()
  private val T0Us = 1709251200000000L // 2024-03-01T00:00:00Z
  private val Hosts = 16

  private def post(base: String, path: String, body: Array[Byte]): String = {
    val r = client.send(HttpRequest.newBuilder(URI.create(base + path))
      .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    require(r.statusCode() / 100 == 2, s"$path -> ${r.statusCode()} ${r.body().take(300)}")
    r.body()
  }

  private def value(t: Long, h: Int, f: Int): Double =
    (((t / 1000000L) * 31 + h * 7 + f * 13) % 400) / 4.0

  /** `steps` time points from `t0Us` every `stepUs`, every host. */
  private def lineProtocol(m: String, t0Us: Long, stepUs: Long, steps: Int): Array[Byte] = {
    val sb = new java.lang.StringBuilder
    for (s <- 0 until steps; h <- 0 until Hosts) {
      val t = t0Us + s * stepUs
      sb.append(s"$m,host=host$h,region=r${h % 4} usage_user=${value(t, h, 1)},")
        .append(s"usage_system=${value(t, h, 2)},usage_idle=${value(t, h, 3)} $t\n")
    }
    sb.toString.getBytes(UTF_8)
  }

  private def msgPack(m: String, t0Us: Long, stepUs: Long, steps: Int): Array[Byte] = {
    val rows = for (s <- 0 until steps; h <- 0 until Hosts) yield (t0Us + s * stepUs, h)
    val out = new ByteArrayOutputStream()
    val p = new MsgPackEncoder.Packer(out)
    p.packMapHeader(3)
    p.packString("m"); p.packString(m)
    p.packString("tags"); p.packArrayHeader(2); p.packString("host"); p.packString("region")
    p.packString("columns"); p.packMapHeader(6)
    p.packString("time"); p.packArrayHeader(rows.length); rows.foreach(r => p.packLong(r._1))
    p.packString("host"); p.packArrayHeader(rows.length); rows.foreach(r => p.packString(s"host${r._2}"))
    p.packString("region"); p.packArrayHeader(rows.length)
    rows.foreach(r => p.packString(s"r${r._2 % 4}"))
    for ((c, f) <- Seq("usage_user" -> 1, "usage_system" -> 2, "usage_idle" -> 3)) {
      p.packString(c); p.packArrayHeader(rows.length)
      rows.foreach(r => p.packDouble(value(r._1, r._2, f)))
    }
    out.toByteArray
  }

  /** Writes one hour of `batches` batches of `steps` time points into
    * measurement `m`, alternating Line Protocol and MessagePack. */
  private def writeHour(base: String, m: String, batches: Int, steps: Int): Unit = {
    val stepUs = 3600L * 1000000L / (batches * steps)
    (0 until batches).foreach { b =>
      val t0 = T0Us + b.toLong * steps * stepUs
      if (b % 2 == 0) post(base, "/write?db=default&precision=us", lineProtocol(m, t0, stepUs, steps))
      else post(base, "/api/v1/write/msgpack", msgPack(m, t0, stepUs, steps))
    }
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(6)
    val spark = graft.TestSpark.spark
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val threads = ManagementFactory.getThreadMXBean
    val jobs = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })
    val root = java.nio.file.Files.createTempDirectory("compaction_probe").toString
    val srv = new HttpServer(spark, root)
    val base = s"http://127.0.0.1:${srv.start()}"
    val hours = Seq(("setup", 2, 125), ("hour29", 29, 124), ("above", 48, 124))
    try {
      // reps interleave the hours, so both arms warm up alike
      val runs = for (rep <- 1 to reps; (hour, batches, steps) <- hours) yield {
        val m = s"${hour}_$rep"
        writeHour(base, m, batches, steps)
        Thread.sleep(200) // let the listener bus drain the writes' events
        val jobs0 = jobs.get()
        val cpu0 = os.getProcessCpuTime - threads.getCurrentThreadCpuTime
        val t0 = System.nanoTime()
        val resp = post(base, "/api/v1/compaction/trigger",
          s"""{"tier":"hourly","database":"default","measurement":"$m"}""".getBytes(UTF_8))
        val wallMs = (System.nanoTime() - t0) / 1e6
        val cpuMs = (os.getProcessCpuTime - threads.getCurrentThreadCpuTime - cpu0) / 1e6
        Thread.sleep(200)
        val n = jobs.get() - jobs0
        val arm = "\"arm\":\"(\\w+)\"".r.findFirstMatchIn(resp).map(_.group(1)).getOrElse("?")
        val filesIn = "\"files_in\":(\\d+)".r.findFirstMatchIn(resp).map(_.group(1)).getOrElse("?")
        println(f"""{"hour":"$hour","rep":$rep,"files_in":$filesIn,"rows":${batches * steps * Hosts},""" +
          f""""arm":"$arm","cpu_ms":$cpuMs%.1f,"wall_ms":$wallMs%.1f,"jobs":$n}""")
        (hour, rep, cpuMs, wallMs, n)
      }
      for ((hour, _, _) <- hours) {
        val warm = runs.filter(r => r._1 == hour && r._2 > 1)
        println(f"""{"hour":"$hour","summary":true,"reps":${warm.length},""" +
          f""""cpu_ms_median":${median(warm.map(_._3))}%.1f,"wall_ms_median":${median(warm.map(_._4))}%.1f,""" +
          f""""jobs_median":${median(warm.map(_._5.toDouble))}%.1f}""")
      }
    } finally srv.stop()
  }
}
