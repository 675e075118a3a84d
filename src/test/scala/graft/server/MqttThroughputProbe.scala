package graft.server

import graft.ingest.MqttCodec
import graft.query.MsgPackEncoder

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.net.{ServerSocket, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.atomic.AtomicInteger

/** Subscriber throughput through the admin API, over a local broker
  * stub: a subscription is created and started over HTTP, the stub sends
  * `messages` QoS 1 PUBLISHes back to back (each a columnar msgpack
  * payload of `rows` rows in one hour), and the probe times the last
  * PUBACK, then the subscription's `/stop` (plus the flush route when
  * buffered ingest is on), after which every row is in Parquet, and
  * counts the Parquet files written. One JSON line per run, buffered
  * ingest off then on, `reps` runs each.
  *
  * Run: sbt "Test/runMain graft.server.MqttThroughputProbe [messages] [rows] [reps]"
  */
object MqttThroughputProbe {

  private val client = HttpClient.newHttpClient()

  private def post(base: String, path: String, body: String): String =
    client.send(HttpRequest.newBuilder(URI.create(base + path))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString()).body()

  private def payload(m: String, t0Us: Long, rows: Int): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val p = new MsgPackEncoder.Packer(out)
    p.packMapHeader(3)
    p.packString("m"); p.packString(m)
    p.packString("columns"); p.packMapHeader(3)
    p.packString("time"); p.packArrayHeader(rows)
    (0 until rows).foreach(i => p.packLong(t0Us + i))
    p.packString("host"); p.packArrayHeader(rows)
    (0 until rows).foreach(i => p.packString(s"h${i % 4}"))
    p.packString("usage"); p.packArrayHeader(rows)
    (0 until rows).foreach(i => p.packDouble(i * 0.5))
    p.packString("tags"); p.packArrayHeader(1); p.packString("host")
    out.toByteArray
  }

  /** Accepts one client, answers the handshake, counts PUBACKs. */
  private final class Broker {
    val server = new ServerSocket(0)
    val acks = new AtomicInteger(0)
    @volatile var out: DataOutputStream = _
    private val t = new Thread(() => {
      try {
        val sock = server.accept()
        val in = new DataInputStream(sock.getInputStream)
        out = new DataOutputStream(sock.getOutputStream)
        while (!sock.isClosed) {
          val p = MqttCodec.readPacket(in)
          p.ptype match {
            case MqttCodec.CONNECT => MqttCodec.writePacket(out, MqttCodec.connack(0))
            case MqttCodec.SUBSCRIBE =>
              MqttCodec.writePacket(out, MqttCodec.suback(1, Seq(1)))
            case MqttCodec.PINGREQ => MqttCodec.writePacket(out, MqttCodec.pingresp)
            case MqttCodec.PUBACK => acks.incrementAndGet()
            case _ => ()
          }
        }
      } catch { case _: Exception => () }
    }, "probe-broker")
    t.setDaemon(true); t.start()
  }

  def main(args: Array[String]): Unit = {
    val messages = args.headOption.map(_.toInt).getOrElse(500)
    val rows = args.lift(1).map(_.toInt).getOrElse(10)
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = graft.TestSpark.spark
    val baseUs = 1700000000000000L - 1700000000000000L % 3600000000L
    for (buffered <- Seq(false, true); rep <- 1 to reps) {
      val root = java.nio.file.Files.createTempDirectory("mqtt_probe").toString
      val srv = new HttpServer(spark, root)
      if (buffered)
        srv.enableBufferedIngest(java.nio.file.Files.createTempDirectory("mqtt_probe_wal").toFile)
      val base = s"http://127.0.0.1:${srv.start()}"
      val broker = new Broker
      try {
        val created = post(base, "/api/v1/mqtt/subscriptions",
          s"""{"name":"probe","broker_host":"127.0.0.1","broker_port":${broker.server.getLocalPort},""" +
            """"topics":["t/#"],"database":"default","qos":1}""")
        val id = "\"id\":(\\d+)".r.findFirstMatchIn(created).get.group(1)
        post(base, s"/api/v1/mqtt/subscriptions/$id/start", "{}")
        while (broker.out == null) Thread.sleep(5)
        val bodies = (0 until messages).map(i => payload("probe", baseUs + i.toLong * rows, rows))
        val t0 = System.nanoTime()
        bodies.zipWithIndex.foreach { case (b, i) =>
          MqttCodec.writePacket(broker.out, MqttCodec.publish("t/a", b, 1, i % 65535 + 1))
        }
        while (broker.acks.get() < messages) Thread.sleep(1)
        val acked = System.nanoTime()
        post(base, s"/api/v1/mqtt/subscriptions/$id/stop", "{}")
        if (buffered) post(base, "/api/v1/write/line-protocol/flush", "{}")
        val durable = System.nanoTime()
        val stored = spark.read.parquet(s"$root/default/probe").count()
        val files = java.nio.file.Files.walk(java.nio.file.Paths.get(root, "default", "probe"))
          .filter(_.toString.endsWith(".parquet")).count()
        val ackS = (acked - t0) / 1e9
        println(f"""{"buffered":$buffered,"rep":$rep,"messages":$messages,"rows_per_message":$rows,""" +
          f""""ack_s":$ackS%.3f,"msgs_per_s":${messages / ackS}%.1f,""" +
          f""""durable_s":${(durable - t0) / 1e9}%.3f,"rows_stored":$stored,"files":$files}""")
      } finally { srv.stop(); broker.server.close() }
    }
  }
}
