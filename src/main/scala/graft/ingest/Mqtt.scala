package graft.ingest

import java.io.{DataInputStream, DataOutputStream, EOFException}
import java.net.Socket
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicBoolean
import scala.collection.mutable

/** MQTT 3.1.1 wire codec — control-packet framing only, no client
  * library (none exists in this environment; the reference uses paho,
  * internal/mqtt/subscriber.go). Implements the packets a subscriber
  * needs: CONNECT/CONNACK, SUBSCRIBE/SUBACK, PUBLISH/PUBACK (QoS ≤ 1),
  * PINGREQ/PINGRESP, DISCONNECT.
  */
object MqttCodec {

  val CONNECT = 1; val CONNACK = 2; val PUBLISH = 3; val PUBACK = 4
  val SUBSCRIBE = 8; val SUBACK = 9; val PINGREQ = 12; val PINGRESP = 13
  val DISCONNECT = 14

  final case class Packet(ptype: Int, flags: Int, body: Array[Byte])

  def writePacket(out: DataOutputStream, p: Packet): Unit = {
    out.writeByte((p.ptype << 4) | (p.flags & 0x0f))
    // remaining length: 7-bit varint, MSB = continuation (spec §2.2.3)
    var n = p.body.length
    do {
      val digit = n % 128
      n /= 128
      out.writeByte(if (n > 0) digit | 0x80 else digit)
    } while (n > 0)
    out.write(p.body)
    out.flush()
  }

  def readPacket(in: DataInputStream): Packet = {
    val first = in.read()
    if (first < 0) throw new EOFException("connection closed")
    var len = 0; var mult = 1; var digit = 0; var i = 0
    do {
      digit = in.readUnsignedByte()
      len += (digit & 0x7f) * mult
      mult *= 128
      i += 1
      require(i <= 4, "malformed remaining length")
    } while ((digit & 0x80) != 0)
    val body = new Array[Byte](len)
    in.readFully(body)
    Packet((first >> 4) & 0x0f, first & 0x0f, body)
  }

  private def utf8(s: String): Array[Byte] = {
    val b = s.getBytes(StandardCharsets.UTF_8)
    require(b.length <= 0xffff, "string too long")
    Array[Byte]((b.length >> 8).toByte, (b.length & 0xff).toByte) ++ b
  }

  def connect(clientId: String, keepAliveSec: Int,
      username: Option[String] = None, password: Option[String] = None): Packet = {
    val flags = 0x02 | // clean session
      username.map(_ => 0x80).getOrElse(0) | password.map(_ => 0x40).getOrElse(0)
    val body = mutable.ArrayBuffer.empty[Byte]
    body ++= utf8("MQTT")
    body += 4 // protocol level 3.1.1
    body += flags.toByte
    body += (keepAliveSec >> 8).toByte; body += (keepAliveSec & 0xff).toByte
    body ++= utf8(clientId)
    username.foreach(u => body ++= utf8(u))
    password.foreach(p => body ++= utf8(p))
    Packet(CONNECT, 0, body.toArray)
  }

  def connack(returnCode: Int = 0): Packet =
    Packet(CONNACK, 0, Array[Byte](0, returnCode.toByte))

  def subscribe(packetId: Int, topics: Seq[(String, Int)]): Packet = {
    val body = mutable.ArrayBuffer[Byte]((packetId >> 8).toByte, (packetId & 0xff).toByte)
    topics.foreach { case (t, qos) => body ++= utf8(t); body += qos.toByte }
    Packet(SUBSCRIBE, 0x2, body.toArray) // flags fixed to 0010 (spec §3.8.1)
  }

  def suback(packetId: Int, grantedQos: Seq[Int]): Packet =
    Packet(SUBACK, 0,
      Array[Byte]((packetId >> 8).toByte, (packetId & 0xff).toByte) ++
        grantedQos.map(_.toByte))

  def publish(topic: String, payload: Array[Byte], qos: Int = 0,
      packetId: Int = 0): Packet = {
    val body = mutable.ArrayBuffer.empty[Byte]
    body ++= utf8(topic)
    if (qos > 0) { body += (packetId >> 8).toByte; body += (packetId & 0xff).toByte }
    body ++= payload
    Packet(PUBLISH, qos << 1, body.toArray)
  }

  def puback(packetId: Int): Packet =
    Packet(PUBACK, 0, Array[Byte]((packetId >> 8).toByte, (packetId & 0xff).toByte))

  def pingreq: Packet = Packet(PINGREQ, 0, Array.emptyByteArray)
  def pingresp: Packet = Packet(PINGRESP, 0, Array.emptyByteArray)
  def disconnect: Packet = Packet(DISCONNECT, 0, Array.emptyByteArray)

  final case class Publish(topic: String, packetId: Int, qos: Int, payload: Array[Byte])

  def parsePublish(p: Packet): Publish = {
    require(p.ptype == PUBLISH, s"not a PUBLISH: ${p.ptype}")
    val qos = (p.flags >> 1) & 0x3
    val tLen = ((p.body(0) & 0xff) << 8) | (p.body(1) & 0xff)
    val topic = new String(p.body, 2, tLen, StandardCharsets.UTF_8)
    var off = 2 + tLen
    val pid = if (qos > 0) {
      val id = ((p.body(off) & 0xff) << 8) | (p.body(off + 1) & 0xff)
      off += 2; id
    } else 0
    Publish(topic, pid, qos, java.util.Arrays.copyOfRange(p.body, off, p.body.length))
  }
}

/** MQTT subscriber (reference: internal/mqtt/subscriber.go +
  * subscription.go): a protocol client only. It connects over a raw
  * socket, subscribes, and hands every PUBLISH payload to `deliver`,
  * which owns decoding and storage. Its result sets the acknowledgement:
  *  - `true`: the payload was stored; counted in `messagesReceived`.
  *  - `false`: the payload was refused (it does not decode, or a name is
  *    invalid); counted in `messagesFailed`. It is still PUBACK'd, so a
  *    poison message is not redelivered.
  *  - a throw: storage failed; counted in `messagesFailed`, logged, and
  *    not PUBACK'd, as an HTTP write answers 500.
  * PUBACK goes out only after `deliver` returns, so whatever durability
  * `deliver` gives holds before the broker forgets the message.
  *
  * Scale: one subscriber is a single-threaded network consumer; scale
  * out with one subscriber per topic/shard (the reference runs one per
  * subscription).
  */
final class MqttSubscriber(
    host: String,
    port: Int,
    topics: Seq[String],
    deliver: Array[Byte] => Boolean,
    clientId: String = "graft-subscriber",
    qos: Int = 1,
    keepAliveSec: Int = 30,
    username: Option[String] = None,
    password: Option[String] = None,
    useTls: Boolean = false,
    socketFactory: Option[(String, Int) => Socket] = None,
    initialBackoffMs: Long = 500L,
    maxBackoffMs: Long = 30000L) {

  import MqttCodec._

  @volatile private var socket: Socket = _
  @volatile private var out: DataOutputStream = _
  private val running = new AtomicBoolean(false)

  // hot-path counters (reference keeps the same stats, subscriber.go)
  @volatile var messagesReceived: Long = 0L
  @volatile var messagesFailed: Long = 0L
  @volatile var reconnects: Long = 0L
  @volatile private var supervisor: Thread = _

  /** Plain, TLS, or injected socket (tests hand in a factory; production
    * TLS uses the JVM default SSL context, matching the reference's
    * tls:// broker URLs, internal/mqtt/subscriber.go). */
  private def openSocket(): Socket = socketFactory match {
    case Some(f) => f(host, port)
    case None if useTls =>
      javax.net.ssl.SSLSocketFactory.getDefault.createSocket(host, port)
    case None => new Socket(host, port)
  }

  def start(): Unit = {
    if (!running.compareAndSet(false, true)) return
    val in = connectAndSubscribe() // fail fast if the broker is down at startup
    supervisor = new Thread(() => supervisorLoop(in), s"graft-mqtt-$clientId")
    supervisor.setDaemon(true)
    supervisor.start()
  }

  private def connectAndSubscribe(): DataInputStream = {
    val s = openSocket()
    try {
      s.setSoTimeout(keepAliveSec * 1000)
      val o = new DataOutputStream(s.getOutputStream)
      val in = new DataInputStream(s.getInputStream)
      writePacket(o, connect(clientId, keepAliveSec, username, password))
      val ack = readPacket(in)
      require(ack.ptype == CONNACK && ack.body(1) == 0,
        s"broker refused connection: ${ack.body.toSeq}")
      writePacket(o, subscribe(1, topics.map(_ -> qos)))
      val sub = readPacket(in)
      require(sub.ptype == SUBACK, s"expected SUBACK, got ${sub.ptype}")
      socket = s; out = o
      in
    } catch {
      // a half-open socket from a failed handshake must not outlive the
      // attempt — the reconnect loop retries forever, and an unclosed
      // socket per retry is an unbounded fd leak across a broker outage
      case e: Throwable =>
        try s.close() catch { case _: Exception => () }
        throw e
    }
  }

  /** Owns the connection for the subscriber's lifetime: runs the read
    * loop, and on a dropped connection reconnects + resubscribes with
    * exponential backoff (reference: paho's auto-reconnect,
    * internal/mqtt/subscriber.go). */
  private def supervisorLoop(in0: DataInputStream): Unit = {
    var in = in0
    while (running.get()) {
      try readLoop(in)
      catch {
        case _: Exception if running.get() =>
          try socket.close() catch { case _: Exception => () }
          var backoff = initialBackoffMs
          var connected = false
          while (running.get() && !connected) {
            try {
              Thread.sleep(backoff)
              in = connectAndSubscribe()
              connected = true
              reconnects += 1
            } catch {
              case _: InterruptedException => () // stop() — loop re-checks running
              case _: Exception =>
                backoff = math.min(backoff * 2, maxBackoffMs)
            }
          }
        case _: Exception => () // stopping: socket closed under us
      }
    }
  }

  private def readLoop(in: DataInputStream): Unit = {
    while (running.get()) {
      val p =
        try readPacket(in)
        catch {
          case _: java.net.SocketTimeoutException =>
            writePacket(out, pingreq); null
        }
      if (p != null && p.ptype == PUBLISH) {
        val pub = parsePublish(p)
        if (handled(pub.payload) && pub.qos >= 1) writePacket(out, puback(pub.packetId))
      }
    }
  }

  /** Runs `deliver` and counts its outcome; false when storage failed,
    * so the message goes un-acknowledged. A storage failure is not a
    * connection failure: it must not reach the read loop, or the
    * supervisor would drop a healthy broker connection. */
  private def handled(payload: Array[Byte]): Boolean =
    try {
      if (deliver(payload)) messagesReceived += 1 else messagesFailed += 1
      true
    } catch {
      case e: Exception if running.get() =>
        messagesFailed += 1
        org.slf4j.LoggerFactory.getLogger(getClass)
          .warn(s"delivery failed, message not acknowledged: ${e.getMessage}")
        false
    }

  def stop(): Unit = {
    if (!running.compareAndSet(true, false)) return
    try {
      writePacket(out, disconnect)
      socket.close()
    } catch { case _: Exception => () }
    val t = supervisor
    if (t != null) { t.interrupt(); t.join(5000) }
  }
}
