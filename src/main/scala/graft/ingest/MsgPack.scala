package graft.ingest

import java.nio.charset.StandardCharsets

/** Minimal MessagePack decoder (pure Scala, zero deps) for the engine's
  * write payloads — the fast path of the reference's ingestion API
  * (internal/ingest/msgpack.go:31-114):
  *
  *   columnar: {"m": "cpu", "columns": {"time": [...], "host": [...]}}
  *   row:      {"m": "cpu", "t": 123, "fields": {...}, "tags": {...}}
  *   batch:    {"batch": [ {row}, {row}, ... ]}
  *
  * Supports the full MessagePack type set the payloads use: nil, bool,
  * all int widths (fix/8/16/32/64 signed+unsigned), float32/64,
  * str (fix/8/16/32), bin (8/16/32), array (fix/16/32), map (fix/16/32).
  */
object MsgPack {

  final class Decoder(buf: Array[Byte]) {
    private var pos = 0

    private def u8(): Int = { val v = buf(pos) & 0xff; pos += 1; v }
    private def u16(): Int = (u8() << 8) | u8()
    private def u32(): Long = ((u16().toLong) << 16) | u16().toLong
    private def i64(): Long = (u32() << 32) | u32()

    def hasNext: Boolean = pos < buf.length

    def decode(): Any = {
      val b = u8()
      b match {
        case x if x <= 0x7f => x.toLong                        // positive fixint
        case x if x >= 0xe0 => (x - 256).toLong                // negative fixint
        case x if (x & 0xf0) == 0x80 => decodeMap(x & 0x0f)    // fixmap
        case x if (x & 0xf0) == 0x90 => decodeArray(x & 0x0f)  // fixarray
        case x if (x & 0xe0) == 0xa0 => decodeStr(x & 0x1f)    // fixstr
        case 0xc0 => null
        case 0xc2 => false
        case 0xc3 => true
        case 0xc4 => decodeBin(u8())                            // bin8
        case 0xc5 => decodeBin(u16())                           // bin16
        case 0xc6 => decodeBin(u32().toInt)                     // bin32
        case 0xca => java.lang.Float.intBitsToFloat(u32().toInt).toDouble
        case 0xcb => java.lang.Double.longBitsToDouble(i64())
        case 0xcc => u8().toLong                                // uint8
        case 0xcd => u16().toLong                               // uint16
        case 0xce => u32()                                      // uint32
        case 0xcf => i64()                                      // uint64 (as signed)
        case 0xd0 => u8().toByte.toLong                         // int8
        case 0xd1 => u16().toShort.toLong                       // int16
        case 0xd2 => u32().toInt.toLong                         // int32
        case 0xd3 => i64()                                      // int64
        case 0xd9 => decodeStr(u8())                            // str8
        case 0xda => decodeStr(u16())                           // str16
        case 0xdb => decodeStr(u32().toInt)                     // str32
        case 0xdc => decodeArray(u16())                         // array16
        case 0xdd => decodeArray(u32().toInt)                   // array32
        case 0xde => decodeMap(u16())                           // map16
        case 0xdf => decodeMap(u32().toInt)                     // map32
        case other =>
          throw new IllegalArgumentException(f"unsupported msgpack byte 0x$other%02x")
      }
    }

    /** Direct-mapped intern cache over UTF-8 regions, enabled for the
      * columnar fast path: tag values and column names repeat on nearly
      * every row, so a hit skips both the byte copy and the UTF-8
      * decode. Collisions overwrite (worst case = the plain path). */
    private[ingest] var internStrings = false
    private var internKeys: Array[Array[Byte]] = _
    private var internVals: Array[String] = _

    private def decodeStr(n: Int): String = {
      if (internStrings && n > 0 && n <= 64) {
        if (internKeys == null) {
          internKeys = new Array[Array[Byte]](1024)
          internVals = new Array[String](1024)
        }
        var h = 0
        var j = pos
        val end = pos + n
        while (j < end) { h = h * 31 + buf(j); j += 1 }
        val idx = (h ^ (h >>> 10)) & 1023
        val k = internKeys(idx)
        if (k != null && k.length == n &&
          java.util.Arrays.equals(k, 0, n, buf, pos, end)) {
          pos = end
          internVals(idx)
        } else {
          val s = new String(buf, pos, n, StandardCharsets.UTF_8)
          internKeys(idx) = java.util.Arrays.copyOfRange(buf, pos, end)
          internVals(idx) = s
          pos = end
          s
        }
      } else {
        val s = new String(buf, pos, n, StandardCharsets.UTF_8); pos += n; s
      }
    }
    private def decodeBin(n: Int): Array[Byte] = {
      val out = java.util.Arrays.copyOfRange(buf, pos, pos + n); pos += n; out
    }
    private def decodeArray(n: Int): Vector[Any] =
      Vector.fill(n)(decode())
    private def decodeMap(n: Int): Map[String, Any] =
      (0 until n).map { _ =>
        val k = decode() match {
          case s: String => s
          case other => String.valueOf(other)
        }
        k -> decode()
      }.toMap

    /** Map-header size if the next value is a map, else -1 (no input
      * consumed). Fast-path structural peek for [[MsgPack.decodePayload]]. */
    private[ingest] def readMapHeaderOpt(): Int = {
      val b = buf(pos) & 0xff
      if ((b & 0xf0) == 0x80) { pos += 1; b & 0x0f }
      else if (b == 0xde) { pos += 1; u16() }
      else if (b == 0xdf) { pos += 1; u32().toInt }
      else -1
    }

    private[ingest] def readStringKey(): String = decode() match {
      case s: String => s
      case other => String.valueOf(other)
    }

    /** Decode a msgpack array straight into `Array[Any]` — one pass, no
      * Vector node tree, strings sanitized inline, and the time column
      * normalized to µs during the same pass (the generic path paid
      * three traversals: Vector build, sanitize map, time map). */
    private[ingest] def decodeValueArray(sanitize: Boolean,
        normalizeTime: Boolean): Array[Any] = {
      val b = u8()
      val n = b match {
        case x if (x & 0xf0) == 0x90 => x & 0x0f
        case 0xdc => u16()
        case 0xdd => u32().toInt
        case other =>
          throw new IllegalArgumentException(
            f"expected column array, got msgpack byte 0x$other%02x")
      }
      val out = new Array[Any](n)
      var i = 0
      while (i < n) {
        val v = decode()
        out(i) = v match {
          case null => null
          case s: String if sanitize => Utf8.sanitize(s)
          case l: java.lang.Long if normalizeTime =>
            // already-µs payloads (the common case) keep the same box
            val m = TimestampUnits.toMicros(l.longValue)
            if (m == l.longValue) l else java.lang.Long.valueOf(m)
          case _ if normalizeTime =>
            throw new IllegalArgumentException(
              s"time column must be integral, got ${v.getClass.getSimpleName}")
          case _ => v
        }
        i += 1
      }
      out
    }
  }

  def decode(bytes: Array[Byte]): Any = new Decoder(bytes).decode()

  /** Decode an arc-shaped write payload into ColumnarBatches.
    *
    * The columnar form `{m, columns:{...}}` — the reference's ingest
    * fast path — decodes in a single structural pass (see
    * [[Decoder.decodeValueArray]]); the batch/row forms fall back to the
    * generic decoder. */
  def decodePayload(bytes: Array[Byte],
      nowMicros: () => Long = () => System.currentTimeMillis() * 1000L)
      : Seq[ColumnarBatch] = {
    val d = new Decoder(bytes)
    d.internStrings = true
    val nEntries = d.readMapHeaderOpt()
    if (nEntries >= 0) {
      var meas: String = null
      var cols: scala.collection.mutable.LinkedHashMap[String, Array[Any]] = null
      var tags: Seq[String] = Nil
      var fallback = false
      var e = 0
      while (e < nEntries && !fallback) {
        d.readStringKey() match {
          case "m" => meas = String.valueOf(d.decode())
          case "columns" =>
            val nc = d.readMapHeaderOpt()
            if (nc < 0) fallback = true
            else {
              cols = scala.collection.mutable.LinkedHashMap.empty
              var c = 0
              while (c < nc) {
                val name = d.readStringKey()
                cols(name) = d.decodeValueArray(
                  sanitize = name != "time", normalizeTime = name == "time")
                c += 1
              }
            }
          case "tags" => d.decode() match {
            case t: Vector[Any @unchecked] => tags = t.map(String.valueOf(_))
            case _ => ()
          }
          case _ => fallback = true // "batch", row form, unknown keys
        }
        e += 1
      }
      if (!fallback && cols != null) {
        if (meas == null)
          throw new IllegalArgumentException("missing measurement 'm'")
        val lens = cols.values.map(_.length).toSet
        if (lens.size > 1)
          throw new IllegalArgumentException(
            s"column length mismatch: ${cols.map { case (k, v) => s"$k=${v.length}" }.mkString(", ")}")
        val nRows = lens.headOption.getOrElse(0)
        if (!cols.contains("time")) {
          val now = nowMicros()
          cols("time") = Array.fill[Any](nRows)(now)
        }
        return Seq(ColumnarBatch(meas, cols, tags))
      }
    }
    decodePayloadGeneric(bytes, nowMicros)
  }

  /** A write payload whose format is not declared, as MQTT delivers it:
    * MessagePack (any arc write shape), else Line Protocol at ns
    * precision. Empty when neither yields a row. The buffered ingester
    * replays a journaled payload through this same function, so a
    * payload replays exactly as it was first decoded. */
  def decodeOrLineProtocol(bytes: Array[Byte]): Seq[ColumnarBatch] =
    try decodePayload(bytes)
    catch {
      case _: Exception =>
        ColumnarBatch.fromPoints(
          LineProtocol.parse(new String(bytes, StandardCharsets.UTF_8), "ns")._1)
    }

  private def decodePayloadGeneric(bytes: Array[Byte],
      nowMicros: () => Long): Seq[ColumnarBatch] =
    decode(bytes) match {
      case m: Map[String @unchecked, Any @unchecked] if m.contains("batch") =>
        m("batch") match {
          case rows: Vector[Any @unchecked] =>
            rowsToBatches(rows.map(_.asInstanceOf[Map[String, Any]]), nowMicros)
          case other => throw new IllegalArgumentException(s"bad batch: $other")
        }
      case m: Map[String @unchecked, Any @unchecked] if m.contains("columns") =>
        val meas = m.getOrElse("m",
          throw new IllegalArgumentException("missing measurement 'm'")).toString
        val cols = m("columns").asInstanceOf[Map[String, Any]]
          .map { case (k, v) => k -> v.asInstanceOf[Vector[Any]].toSeq }
        val tags = m.get("tags") match {
          case Some(t: Vector[Any @unchecked]) => t.map(_.toString)
          case _ => Nil
        }
        Seq(ColumnarBatch.fromColumns(meas, cols, tags, nowMicros))
      case m: Map[String @unchecked, Any @unchecked] if m.contains("m") =>
        rowsToBatches(Seq(m), nowMicros)
      case other =>
        throw new IllegalArgumentException(s"unrecognized payload: $other")
    }

  /** Row-form records {m, t, fields, tags} pivoted per measurement. */
  private def rowsToBatches(rows: Seq[Map[String, Any]],
      nowMicros: () => Long): Seq[ColumnarBatch] = {
    val points = rows.map { r =>
      val m = r.getOrElse("m",
        throw new IllegalArgumentException("row missing 'm'")).toString
      val fields = r.getOrElse("fields", Map.empty[String, Any])
        .asInstanceOf[Map[String, Any]].map {
          case (k, v: Long) => k -> LineProtocol.FLong(v)
          case (k, v: Double) => k -> LineProtocol.FDouble(v)
          case (k, v: String) => k -> LineProtocol.FString(v)
          case (k, v: Boolean) => k -> LineProtocol.FBool(v)
          case (k, null) => k -> LineProtocol.FString(null)
          case (k, v) => throw new IllegalArgumentException(s"bad field $k: $v")
        }
      val tags = r.get("tags") match {
        case Some(t: Map[String @unchecked, Any @unchecked]) =>
          t.map { case (k, v) => k -> String.valueOf(v) }
        case _ => Map.empty[String, String]
      }
      val t = r.get("t").collect { case l: Long => TimestampUnits.toMicros(l) }
      LineProtocol.Point(m, tags, fields, t)
    }
    ColumnarBatch.fromPoints(points, nowMicros)
  }
}
