package graft.ingest

import graft.SparkSpec
import graft.catalog.GraftCatalog

import java.io.{DataInputStream, DataOutputStream}
import java.net.ServerSocket
import java.util.concurrent.CountDownLatch
import java.util.concurrent.TimeUnit

/** MQTT 3.1.1 subscriber (reference internal/mqtt/subscriber.go):
  * raw-socket codec round-trip against an in-process broker stub —
  * CONNECT/SUBSCRIBE handshake, PUBLISH with msgpack AND line-protocol
  * payloads handed to a `deliver` function that lands them in event-time
  * hour partitions, and the QoS 1 PUBACK contract on its outcome.
  */
class MqttSpec extends SparkSpec {

  /** Minimal broker: accepts ONE client, answers the handshake, then
    * relays test-driven PUBLISH packets to it. */
  private final class BrokerStub {
    val server = new ServerSocket(0)
    def port: Int = server.getLocalPort
    val subscribed = new CountDownLatch(1)
    val pubacks = new java.util.concurrent.atomic.AtomicInteger(0)
    private val acked = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    def ackedIds: Seq[Int] = acked.toArray.toSeq.map(_.asInstanceOf[Int])
    @volatile private var out: DataOutputStream = _

    private val t = new Thread(() => {
      try {
        val sock = server.accept()
        val in = new DataInputStream(sock.getInputStream)
        out = new DataOutputStream(sock.getOutputStream)
        while (!sock.isClosed) {
          val p = MqttCodec.readPacket(in)
          p.ptype match {
            case MqttCodec.CONNECT =>
              MqttCodec.writePacket(out, MqttCodec.connack(0))
            case MqttCodec.SUBSCRIBE =>
              val pid = ((p.body(0) & 0xff) << 8) | (p.body(1) & 0xff)
              MqttCodec.writePacket(out, MqttCodec.suback(pid, Seq(1)))
              subscribed.countDown()
            case MqttCodec.PINGREQ =>
              MqttCodec.writePacket(out, MqttCodec.pingresp)
            case MqttCodec.PUBACK =>
              acked.add(((p.body(0) & 0xff) << 8) | (p.body(1) & 0xff))
              pubacks.incrementAndGet()
            case _ => ()
          }
        }
      } catch { case _: Exception => () }
    }, "mqtt-broker-stub")
    t.setDaemon(true); t.start()

    def publish(topic: String, payload: Array[Byte], qos: Int, pid: Int): Unit =
      synchronized {
        MqttCodec.writePacket(out, MqttCodec.publish(topic, payload, qos, pid))
      }
    def close(): Unit = server.close()
  }

  // tiny msgpack encoder for test payloads (str8/map16/array16 forms)
  private def enc(v: Any): Array[Byte] = v match {
    case l: Long =>
      val b = java.nio.ByteBuffer.allocate(9)
      b.put(0xd3.toByte).putLong(l); b.array()
    case d: Double =>
      val b = java.nio.ByteBuffer.allocate(9)
      b.put(0xcb.toByte).putDouble(d); b.array()
    case s: String =>
      val bytes = s.getBytes("UTF-8")
      Array(0xd9.toByte, bytes.length.toByte) ++ bytes
    case m: Map[_, _] =>
      val b = java.nio.ByteBuffer.allocate(3)
      b.put(0xde.toByte).putShort(m.size.toShort)
      b.array() ++ m.toSeq.flatMap { case (k, x) => (enc(k.toString) ++ enc(x)).toSeq }
  }

  /** Decodes a payload and writes it straight to Parquet. */
  private def toParquet(cat: GraftCatalog)(payload: Array[Byte]): Boolean = {
    val batches = MsgPack.decodeOrLineProtocol(payload)
    batches.foreach(DirectParquetWriter.write(cat, "default", _))
    batches.nonEmpty
  }

  private def awaitTrue(timeoutMs: Long)(cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(50)
    cond
  }

  test("subscriber round-trips msgpack + LP publishes into hour partitions") {
    val cat = new GraftCatalog(spark, tmpDir("mqtt_cat"))
    val broker = new BrokerStub
    val sub = new MqttSubscriber("127.0.0.1", broker.port,
      topics = Seq("sensors/#"), deliver = toParquet(cat), clientId = "spec", qos = 1)
    try {
      sub.start()
      assert(broker.subscribed.await(5, TimeUnit.SECONDS), "no SUBSCRIBE seen")

      val baseUs = 1717200000000000L // 2024-06-01T00:00:00Z
      // msgpack row payload (reference arc shape {m, t, fields, tags})
      broker.publish("sensors/mem", enc(Map(
        "m" -> "mem", "t" -> baseUs,
        "fields" -> Map("used" -> 123L, "frac" -> 0.5),
        "tags" -> Map("host" -> "a"))), qos = 1, pid = 7)
      // line-protocol payload, 2 rows spanning 2 hours (ns timestamps)
      broker.publish("sensors/cpu",
        (s"cpu,host=a v=1.0 ${baseUs * 1000L}\n" +
          s"cpu,host=b v=2.0 ${(baseUs + 3600L * 1000000L) * 1000L}")
          .getBytes("UTF-8"), qos = 1, pid = 8)

      assert(awaitTrue(5000)(sub.messagesReceived == 2),
        s"messages=${sub.messagesReceived} failed=${sub.messagesFailed}")
      assert(awaitTrue(5000)(broker.pubacks.get() == 2), "QoS1 PUBACKs missing")

      val cpu = cat.table("default", "cpu")
      assert(cpu.count() == 2)
      assert(cat.listHourPartitions("default", "cpu").length == 2)
      val mem = cat.table("default", "mem")
      assert(mem.count() == 1)
      assert(mem.head().getAs[Long]("used") == 123L)
      assert(cat.readMeta("default", "mem").tagColumns == Seq("host"))
      assert(cat.readMeta("default", "cpu").tagColumns == Seq("host"))
    } finally {
      sub.stop(); broker.close()
    }
  }

  /** Broker that accepts connections in a loop — lets a test kill the
    * live connection and observe the client reconnect + resubscribe. */
  private final class ReconnectBroker {
    val server = new ServerSocket(0)
    def port: Int = server.getLocalPort
    @volatile var subscribedCount = 0
    @volatile private var out: DataOutputStream = _
    @volatile private var current: java.net.Socket = _

    private val t = new Thread(() => {
      try {
        while (!server.isClosed) {
          val sock = server.accept()
          current = sock
          try {
            val in = new DataInputStream(sock.getInputStream)
            out = new DataOutputStream(sock.getOutputStream)
            while (!sock.isClosed) {
              val p = MqttCodec.readPacket(in)
              p.ptype match {
                case MqttCodec.CONNECT =>
                  MqttCodec.writePacket(out, MqttCodec.connack(0))
                case MqttCodec.SUBSCRIBE =>
                  val pid = ((p.body(0) & 0xff) << 8) | (p.body(1) & 0xff)
                  MqttCodec.writePacket(out, MqttCodec.suback(pid, Seq(1)))
                  subscribedCount += 1
                case MqttCodec.PINGREQ =>
                  MqttCodec.writePacket(out, MqttCodec.pingresp)
                case _ => ()
              }
            }
          } catch { case _: Exception => () }
        }
      } catch { case _: Exception => () }
    }, "mqtt-reconnect-broker")
    t.setDaemon(true); t.start()

    def publish(topic: String, payload: Array[Byte], pid: Int): Unit =
      synchronized {
        MqttCodec.writePacket(out, MqttCodec.publish(topic, payload, 1, pid))
      }
    def dropClient(): Unit = current.close()
    def close(): Unit = server.close()
  }

  test("reconnect: dropped broker connection resubscribes, no data loss") {
    val cat = new GraftCatalog(spark, tmpDir("mqtt_rc_cat"))
    val broker = new ReconnectBroker
    // injectable factory — the same hook production TLS goes through
    val sockets = new java.util.concurrent.atomic.AtomicInteger(0)
    val sub = new MqttSubscriber("127.0.0.1", broker.port,
      topics = Seq("t/#"), deliver = toParquet(cat), clientId = "spec-rc", qos = 1,
      socketFactory = Some((h, p) => {
        sockets.incrementAndGet(); new java.net.Socket(h, p)
      }),
      initialBackoffMs = 50L, maxBackoffMs = 200L)
    try {
      sub.start()
      assert(awaitTrue(5000)(broker.subscribedCount == 1))
      val baseUs = 1717200000000000L
      broker.publish("t/cpu",
        s"cpu,host=a v=1.0 ${baseUs * 1000L}".getBytes("UTF-8"), pid = 1)
      assert(awaitTrue(5000)(sub.messagesReceived == 1))

      broker.dropClient() // broker dies mid-stream
      assert(awaitTrue(15000)(broker.subscribedCount == 2), "no resubscribe")
      broker.publish("t/cpu",
        s"cpu,host=b v=2.0 ${(baseUs + 3600L * 1000000L) * 1000L}"
          .getBytes("UTF-8"), pid = 2)
      assert(awaitTrue(5000)(sub.messagesReceived == 2))

      // each message was stored before the read loop moved on
      assert(cat.table("default", "cpu").count() == 2)
      assert(sub.reconnects == 1)
      assert(sockets.get() == 2)
    } finally {
      sub.stop(); broker.close()
    }
  }

  test("PUBACK follows deliver: a refused payload is acknowledged, a storage failure is not") {
    val broker = new BrokerStub
    val sub = new MqttSubscriber("127.0.0.1", broker.port,
      topics = Seq("t/#"), clientId = "spec-ack", qos = 1,
      deliver = payload => new String(payload, "UTF-8") match {
        case "ok" => true
        case "refused" => false
        case _ => throw new java.io.IOException("disk full")
      })
    try {
      sub.start()
      assert(broker.subscribed.await(5, TimeUnit.SECONDS))
      broker.publish("t/a", "refused".getBytes("UTF-8"), qos = 1, pid = 1)
      assert(awaitTrue(5000)(broker.pubacks.get() == 1), "a refused payload is acknowledged")
      assert(sub.messagesFailed == 1 && sub.messagesReceived == 0)

      broker.publish("t/a", "broken".getBytes("UTF-8"), qos = 1, pid = 2)
      assert(awaitTrue(5000)(sub.messagesFailed == 2))
      // the connection stays up: the next message is stored and acknowledged
      broker.publish("t/a", "ok".getBytes("UTF-8"), qos = 1, pid = 3)
      assert(awaitTrue(5000)(sub.messagesReceived == 1))
      assert(awaitTrue(5000)(broker.pubacks.get() == 2))
      assert(broker.ackedIds == Seq(1, 3), "the storage failure must not be acknowledged")
      assert(sub.reconnects == 0)
    } finally {
      sub.stop(); broker.close()
    }
  }

  test("codec: packet framing survives multi-byte remaining lengths") {
    val payload = Array.fill[Byte](300)(42) // forces 2-byte varint length
    val pkt = MqttCodec.publish("t", payload, qos = 1, packetId = 260)
    val bos = new java.io.ByteArrayOutputStream()
    MqttCodec.writePacket(new DataOutputStream(bos), pkt)
    val back = MqttCodec.readPacket(new DataInputStream(
      new java.io.ByteArrayInputStream(bos.toByteArray)))
    val pub = MqttCodec.parsePublish(back)
    assert(pub.topic == "t" && pub.packetId == 260 && pub.qos == 1)
    assert(pub.payload.toSeq == payload.toSeq)
  }
}
