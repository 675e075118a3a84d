package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, InputStream}
import java.net.Socket
import java.nio.charset.StandardCharsets.UTF_8

/** A response as the client saw it: status, body, and when the request
  * was sent and the last body byte arrived (System.nanoTime). */
final case class Resp(status: Int, body: Array[Byte], sentNs: Long, doneNs: Long) {
  def ms: Double = (doneNs - sentNs) / 1e6
  def text: String = new String(body, UTF_8)
  def ok: Boolean = status >= 200 && status < 300
}

/** One persistent HTTP/1.1 connection to the server (one per load
  * thread, so the thread count is the connection count). Handles
  * Content-Length and chunked bodies; reconnects if the server closes. */
final class Conn(port: Int) extends AutoCloseable {
  private var sock: Socket = _
  private var in: InputStream = _
  private var out: BufferedOutputStream = _

  private def open(): Unit = {
    sock = new Socket("127.0.0.1", port)
    sock.setTcpNoDelay(true)
    sock.setReceiveBufferSize(1 << 20)
    in = new BufferedInputStream(sock.getInputStream, 1 << 16)
    out = new BufferedOutputStream(sock.getOutputStream, 1 << 16)
  }

  def post(path: String, body: Array[Byte],
      headers: Seq[(String, String)] = Nil): Resp = request("POST", path, body, headers)

  def get(path: String): Resp = request("GET", path, Array.emptyByteArray, Nil)

  def request(method: String, path: String, body: Array[Byte],
      headers: Seq[(String, String)]): Resp = {
    if (sock == null || sock.isClosed) open()
    val t0 = System.nanoTime()
    val head = new StringBuilder(s"$method $path HTTP/1.1\r\nHost: localhost\r\n")
    headers.foreach { case (k, v) => head.append(s"$k: $v\r\n") }
    head.append(s"Content-Length: ${body.length}\r\n\r\n")
    out.write(head.toString.getBytes(UTF_8)); out.write(body); out.flush()
    val status = readLine().split(' ')(1).toInt
    var len = -1L
    var chunked = false
    var close = false
    var line = readLine()
    while (line.nonEmpty) {
      val i = line.indexOf(':')
      val k = line.substring(0, i).trim.toLowerCase
      val v = line.substring(i + 1).trim
      if (k == "content-length") len = v.toLong
      else if (k == "transfer-encoding" && v.equalsIgnoreCase("chunked")) chunked = true
      else if (k == "connection" && v.equalsIgnoreCase("close")) close = true
      line = readLine()
    }
    val bos = new java.io.ByteArrayOutputStream()
    if (chunked) {
      var n = Integer.parseInt(readLine().split(';')(0).trim, 16)
      while (n > 0) {
        copy(n, bos); readLine()
        n = Integer.parseInt(readLine().split(';')(0).trim, 16)
      }
      while (readLine().nonEmpty) ()
    } else if (len > 0) copy(len, bos)
    else if (len < 0 && method != "HEAD" && status != 204 && status != 304) {
      in.transferTo(bos); close = true // body runs to EOF
    }
    val done = System.nanoTime()
    if (close) { sock.close(); sock = null }
    Resp(status, bos.toByteArray, t0, done)
  }

  private val buf = new Array[Byte](1 << 16)
  private def copy(n0: Long, to: java.io.OutputStream): Unit = {
    var n = n0
    while (n > 0) {
      val r = in.read(buf, 0, math.min(buf.length.toLong, n).toInt)
      if (r < 0) throw new java.io.EOFException("body cut short")
      to.write(buf, 0, r); n -= r
    }
  }

  private def readLine(): String = {
    val sb = new StringBuilder
    var c = in.read()
    while (c >= 0 && c != '\n') { if (c != '\r') sb.append(c.toChar); c = in.read() }
    if (c < 0 && sb.isEmpty) throw new java.io.EOFException("connection closed")
    sb.toString
  }

  def close(): Unit = if (sock != null) sock.close()
}
