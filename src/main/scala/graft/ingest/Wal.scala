package graft.ingest

import graft.catalog.GraftCatalog

import java.io.{File, FileOutputStream, RandomAccessFile}
import java.nio.ByteBuffer
import java.util.zip.CRC32
import scala.collection.mutable

/** Write-ahead log for the ingest hot path (reference: internal/wal/
  * wal.go:20-42 file/entry format, reader.go, recovery.go).
  *
  * The buffer→flush window is the one place the engine can lose
  * acknowledged data: rows sit in memory until the parquet flush. The
  * WAL closes it — every accepted payload is framed and (optionally
  * fsync'd) on disk BEFORE it is buffered; segments are deleted only at
  * checkpoint, after the covering flush has committed.
  *
  * File format (mirrors the reference's):
  *   header  = magic "GRFW" (4) | version u16 | checksumType u8 (CRC32)
  *   entry   = length u32 | timestampUs u64 | crc32(payload) u32 | payload
  *   payload = 0x01 | dbLen u16 | db | body   (envelope, wal.go:44-58)
  *
  * Recovery reads entries until EOF or the first torn/corrupt frame
  * (CRC or length mismatch — everything before it is intact by
  * construction, everything after is from the crashed tail).
  */
object Wal {

  val Magic: Array[Byte] = "GRFW".getBytes("US-ASCII")
  val Version: Short = 1
  val ChecksumCrc32: Byte = 0x01
  val HeaderSize = 7
  val EntryHeaderSize = 16
  val MaxPayloadSize: Int = 100 * 1024 * 1024

  sealed trait SyncMode
  case object SyncEvery extends SyncMode // force every append (safest)
  case object SyncAsync extends SyncMode // OS page cache only (fastest)

  final case class Entry(timestampUs: Long, db: String, body: Array[Byte])

  /** Where an append physically landed — the handle [[Writer.abort]]
    * needs to retract it if the group-commit fsync fails. */
  final case class Pos(seq: Long, seg: String, off: Long)

  /** Envelope markers (first payload byte). 0x01 = write entry (the
    * reference's only kind, wal.go:44-58); 0x02 = abort marker — its
    * body names a (segment, offset) whose entry must be SKIPPED on
    * replay because the client was told the write failed. */
  val MarkerWrite: Byte = 0x01
  val MarkerAbort: Byte = 0x02

  /** Single-threaded appender with size-based rotation. */
  final class Writer(dir: File, syncMode: SyncMode = SyncEvery,
      maxSegmentBytes: Long = 100L * 1024 * 1024) {
    dir.mkdirs()
    private var out: FileOutputStream = _
    private var segFile: File = _
    private var written = 0L
    private val sealedSegs = mutable.ArrayBuffer.empty[File]
    openSegment()

    private def openSegment(): Unit = {
      segFile = new File(dir, f"wal_${System.currentTimeMillis()}%013d_${System.nanoTime()}%019d.log")
      out = new FileOutputStream(segFile)
      out.write(Magic)
      val h = ByteBuffer.allocate(3)
      h.putShort(Version); h.put(ChecksumCrc32)
      out.write(h.array())
      written = HeaderSize.toLong
    }

    // group-commit state: appends stamp a monotone sequence under the
    // write lock; fsyncs coalesce under a SEPARATE lock so concurrent
    // appenders share one fsync instead of queueing N of them (the
    // classic group-commit shape — at 12 ingest workers this collapses
    // ~12 fsyncs into 1-2 per batch wave while keeping the contract
    // that append() returns only after ITS bytes are durable).
    // Lock order is always syncLock -> this, never the reverse.
    private var writeSeq = 0L
    private var syncedSeq = 0L
    private val syncLock = new Object

    def append(db: String, body: Array[Byte]): Unit = syncTo(write(db, body).seq)

    /** Phase 1 — frame and write WITHOUT the durability sync; returns
      * the append's sequence. The caller MUST follow with [[syncTo]]
      * before acknowledging the payload. Split out so a caller that
      * holds its own buffer lock (DurableIngester journals and buffers
      * atomically) can write UNDER that lock but fsync OUTSIDE it —
      * group commit only coalesces when multiple syncers reach
      * [[syncTo]] concurrently. */
    def write(db: String, body: Array[Byte]): Pos =
      writeMarked(MarkerWrite, db, body)

    private def writeMarked(marker: Byte, db: String,
        body: Array[Byte]): Pos = {
      require(body.length <= MaxPayloadSize, "WAL payload exceeds maximum size")
      val dbBytes = db.getBytes("UTF-8")
      val payload = ByteBuffer.allocate(3 + dbBytes.length + body.length)
      payload.put(marker).putShort(dbBytes.length.toShort)
        .put(dbBytes).put(body)
      val p = payload.array()
      val crc = new CRC32(); crc.update(p)
      val head = ByteBuffer.allocate(EntryHeaderSize)
      head.putInt(p.length)
        .putLong(System.currentTimeMillis() * 1000L)
        .putInt(crc.getValue.toInt)
      synchronized {
        val pos = Pos(writeSeq + 1, segFile.getName, written)
        out.write(head.array()); out.write(p)
        if (syncMode != SyncEvery) out.flush()
        writeSeq += 1
        written += EntryHeaderSize + p.length
        // rotate() fsyncs the old segment first (SyncEvery), so bytes
        // in a rotated segment are durable before my group-sync runs
        if (written >= maxSegmentBytes) rotate()
        pos
      }
    }

    /** Retract an entry whose durability sync FAILED after the bytes
      * were written: the client is being told the write failed, so
      * crash-restart replay must not resurrect it (a phantom write —
      * the buffered-rows retraction in DurableIngester.journal covers
      * the live process; this covers the restart path).
      *
      * When no later append landed in the same segment the entry's
      * bytes are physically truncated away; otherwise an abort marker
      * is framed (CRC-protected like any entry) naming the (segment,
      * offset) for replay to skip. Best-effort by nature: if the disk
      * is so broken that the truncate/marker write ALSO fails, replay
      * may still see the entry — that residual window is the documented
      * at-least-once edge of a failed-fsync world (the entry itself may
      * or may not have reached the platter either). In SyncAsync mode
      * the retraction is deliberately NOT fsynced here (see below): it
      * is only as durable as the page cache, exactly like the entries
      * it retracts — a crash before the OS flushes can replay the
      * retracted entry, which is SyncAsync's stated weaker contract. */
    def abort(pos: Pos): Unit = {
      val o = synchronized {
        if (segFile.getName == pos.seg && writeSeq == pos.seq) {
          // ours is the segment's last entry — remove the bytes outright
          out.flush()
          out.getChannel.truncate(pos.off)
          out.getChannel.position(pos.off)
          written = pos.off
        } else {
          writeMarked(MarkerAbort, "",
            s"${pos.seg}:${pos.off}".getBytes("UTF-8"))
        }
        out
      }
      // persist the truncated length / marker OUTSIDE the append
      // monitor — this runs exactly when the disk is degraded, and a
      // multi-second fsync under the lock would serialize every
      // concurrent accept behind it (the same write-under/sync-outside
      // split as the group-commit path). If a rotation closed the
      // captured stream, its fsync-before-close already persisted it.
      if (syncMode == SyncEvery)
        try o.getFD.sync()
        catch { case e: java.io.IOException =>
          val rotated = synchronized { out ne o }
          if (!rotated) throw e
        }
    }

    /** Phase 2 — make every byte up to `seq` durable (no-op below the
      * group high-water mark, and in SyncAsync mode). */
    // test-only fault injection: simulate an fsync failure (disk full,
    // volume gone) so specs can pin the accept path's error contract
    @volatile private[ingest] var failNextSync = false

    def syncTo(seq: Long): Unit =
      if (syncMode == SyncEvery) syncLock.synchronized {
        if (failNextSync) {
          failNextSync = false
          throw new java.io.IOException("injected fsync failure (test)")
        }
        if (syncedSeq < seq) {
          // capture the stream + high-water mark, then one fsync covers
          // every append written so far — followers see syncedSeq and
          // return without their own fsync
          val (o, upTo) = synchronized { (out, writeSeq) }
          try o.getFD.sync()
          catch { case e: java.io.IOException =>
            // a rotation may close the captured stream under us; its
            // fsync-before-close already made every byte <= upTo
            // durable, so only a failure on the still-current stream
            // is a real error
            val rotated = synchronized { out ne o }
            if (!rotated) throw e
          }
          syncedSeq = math.max(syncedSeq, upTo)
        }
      }

    // test-only: frame an abort marker with an arbitrary body so specs
    // can pin that recovery IGNORES malformed markers instead of dying
    private[ingest] def abortMarkerForTest(body: String): Unit =
      writeMarked(MarkerAbort, "", body.getBytes("UTF-8"))

    /** Seal the current segment and start a new one. In SyncEvery mode
      * the outgoing segment is fsynced before close: group-committed
      * appenders whose bytes landed here may not have run their own
      * sync yet, and close() alone does not force data to disk. */
    def rotate(): Unit = synchronized {
      if (syncMode == SyncEvery) out.getFD.sync()
      out.close()
      sealedSegs += segFile
      openSegment()
    }

    /** Rotate, then hand back every segment sealed so far. The caller
      * purges them only AFTER the covering flush commits — and because
      * appends are synchronized against the same writer, any payload
      * accepted after this call lands in the NEW segment and is never
      * covered by the returned set (no lost-append window). */
    def seal(): Seq[File] = synchronized {
      rotate()
      val s = sealedSegs.toSeq
      sealedSegs.clear()
      s
    }

    /** Delete segments previously returned by [[seal]], once the flush
      * that covers them is durable in parquet. */
    def purge(segs: Seq[File]): Unit = segs.foreach(_.delete())

    /** Called AFTER a successful flush of everything appended so far:
      * all sealed segments plus the just-sealed current one are covered
      * by durable parquet, so they are deleted (recovery.go's post-flush
      * segment purge). Only safe when the caller serializes accept and
      * flush itself (DurableIngester does); otherwise use seal + purge. */
    def checkpoint(): Unit = purge(seal())

    def close(): Unit = synchronized {
      // written-but-not-yet-group-synced bytes must not be lost by a
      // clean shutdown (close() does not force data to disk)
      if (syncMode == SyncEvery) out.getFD.sync()
      out.close()
    }

    private[ingest] def currentSegment: File = segFile
  }

  /** Read every intact entry across the directory's segments (oldest
    * first — segment names sort by creation time). Stops a segment at
    * the first torn or corrupt frame. Entries retracted by an abort
    * marker (a failed-fsync write the client saw error on — possibly
    * marked from a LATER segment) are skipped. */
  def readAll(dir: File): Seq[Entry] = {
    val segs = Option(dir.listFiles())
      .getOrElse(Array.empty[File])
      .filter(f => f.isFile && f.getName.startsWith("wal_") && f.getName.endsWith(".log"))
      .sortBy(_.getName)
    val read = segs.toSeq.map(f => f.getName -> readSegment(f))
    val aborted: Set[(String, Long)] =
      read.flatMap(_._2._2).toSet
    read.flatMap { case (seg, (entries, _)) =>
      entries.collect { case (e, off) if !aborted((seg, off)) => e }
    }
  }

  /** One segment's intact frames: (write entries with their offsets,
    * abort-marker targets). */
  private def readSegment(
      f: File): (Seq[(Entry, Long)], Seq[(String, Long)]) = {
    val raf = new RandomAccessFile(f, "r")
    try {
      val out = mutable.ArrayBuffer.empty[(Entry, Long)]
      val aborts = mutable.ArrayBuffer.empty[(String, Long)]
      val magic = new Array[Byte](4)
      if (raf.length() < HeaderSize) return (Nil, Nil)
      raf.readFully(magic)
      if (!magic.sameElements(Magic)) return (Nil, Nil)
      raf.readShort(); raf.readByte() // version + checksum type
      var pos = HeaderSize.toLong
      var ok = true
      while (ok && pos + EntryHeaderSize <= raf.length()) {
        val len = raf.readInt()
        val ts = raf.readLong()
        val crcStored = raf.readInt()
        if (len < 3 || len > MaxPayloadSize || pos + EntryHeaderSize + len > raf.length())
          ok = false // torn tail
        else {
          val p = new Array[Byte](len)
          raf.readFully(p)
          val crc = new CRC32(); crc.update(p)
          if (crc.getValue.toInt != crcStored) ok = false // corrupt frame
          else {
            val bb = ByteBuffer.wrap(p)
            val marker = bb.get()
            val dbLen = bb.getShort & 0xffff
            val dbBytes = new Array[Byte](dbLen); bb.get(dbBytes)
            val body = new Array[Byte](p.length - 3 - dbLen); bb.get(body)
            if (marker == MarkerAbort) {
              // toLongOption, not a digit test: "" and over-Long digit
              // strings both pass forall(isDigit) and would throw out of
              // recovery — permanently failing server startup over one
              // malformed marker, the opposite of ignore-and-keep-data
              new String(body, "UTF-8").split(":", 2) match {
                case Array(seg, off) =>
                  off.toLongOption.foreach(o => aborts += ((seg, o)))
                case _ => // malformed abort — ignore (never lose data over it)
              }
            } else
              out += ((Entry(ts, new String(dbBytes, "UTF-8"), body), pos))
            pos += EntryHeaderSize + len
          }
        }
      }
      (out.toSeq, aborts.toSeq)
    } finally raf.close()
  }
}

/** Lossless WAL framing for already-decoded [[ColumnarBatch]]es, so a
  * replay after a crash reproduces the batch EXACTLY — including
  * unit-normalized timestamps and the tag-column set — instead of
  * re-running a source decoder whose parameters (LP precision, TLE
  * measurement header) lived only in the original HTTP request. The
  * leading magic is in MessagePack's never-used range (0xC1) and not
  * printable ASCII, so framed bodies can never be mistaken for a raw
  * msgpack or Line Protocol payload.
  *
  * The magic byte doubles as the codec version: 0xC1 frames carry
  * writeUTF string values (the original framing, capped at 64 KiB per
  * string), 0xC2 frames carry int-length raw-UTF-8 string values.
  * Encode always writes the current version; decode accepts both, so a
  * WAL written before the framing change replays cleanly after an
  * upgrade instead of misparsing mid-constructor and stranding
  * acknowledged rows. */
object BatchCodec {

  /** Version-1 magic: string values framed with writeUTF. */
  val MagicV1: Byte = 0xC1.toByte
  /** Current magic: string values framed as int length + raw UTF-8. */
  val Magic: Byte = 0xC2.toByte

  def isFrame(b: Byte): Boolean = b == Magic || b == MagicV1

  private val TNull = 0; private val TLong = 1; private val TDouble = 2
  private val TString = 3; private val TBool = 4

  def encode(batches: Seq[ColumnarBatch]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeByte(Magic)
    out.writeInt(batches.size)
    batches.foreach { b =>
      out.writeUTF(b.measurement)
      out.writeBoolean(b.dedupTime)
      out.writeInt(b.tagColumns.size)
      b.tagColumns.foreach(out.writeUTF)
      out.writeInt(b.columns.size)
      out.writeInt(b.rowCount)
      b.columns.foreach { case (name, vs) =>
        out.writeUTF(name)
        vs.foreach {
          case null => out.writeByte(TNull)
          case l: java.lang.Long => out.writeByte(TLong); out.writeLong(l)
          case i: java.lang.Integer => out.writeByte(TLong); out.writeLong(i.toLong)
          case d: java.lang.Double => out.writeByte(TDouble); out.writeDouble(d)
          case f: java.lang.Float => out.writeByte(TDouble); out.writeDouble(f.toDouble)
          case s: String => out.writeByte(TString); writeStr(out, s)
          case bo: java.lang.Boolean => out.writeByte(TBool); out.writeBoolean(bo)
          case other => out.writeByte(TString); writeStr(out, other.toString)
        }
      }
    }
    out.flush()
    bos.toByteArray
  }

  /** String VALUES are length-prefixed raw UTF-8, not writeUTF: the
    * modified-UTF-8 frame caps at 65535 bytes and THROWS past it, so a
    * large LP string field would 500 the buffered-accept path while the
    * synchronous path accepts the same payload. (Identifiers — names,
    * tags — stay writeUTF: they are length-validated far below 64 KiB.) */
  private def writeStr(out: java.io.DataOutputStream, s: String): Unit = {
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    out.writeInt(bytes.length)
    out.write(bytes)
  }

  private def readStr(in: java.io.DataInputStream): String = {
    val n = in.readInt()
    require(n >= 0 && n <= (1 << 30), s"bad string frame length: $n")
    val bytes = new Array[Byte](n)
    in.readFully(bytes)
    new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
  }

  def decode(body: Array[Byte]): Seq[ColumnarBatch] = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(body))
    val magic = in.readByte()
    require(isFrame(magic), "not a BatchCodec frame")
    val v1 = magic == MagicV1
    (0 until in.readInt()).map { _ =>
      val m = in.readUTF()
      val dedup = in.readBoolean()
      val tags = (0 until in.readInt()).map(_ => in.readUTF())
      val nCols = in.readInt()
      val nRows = in.readInt()
      val cols = mutable.LinkedHashMap.empty[String, Array[Any]]
      (0 until nCols).foreach { _ =>
        val name = in.readUTF()
        cols(name) = Array.tabulate[Any](nRows) { _ =>
          in.readByte() match {
            case 0 => null
            case 1 => in.readLong(): java.lang.Long
            case 2 => in.readDouble(): java.lang.Double
            case 3 => if (v1) in.readUTF() else readStr(in)
            case 4 => in.readBoolean(): java.lang.Boolean
          }
        }
      }
      ColumnarBatch(m, cols, tags, dedup)
    }
  }
}

/** Durable buffered ingester — the analog of the reference's ArrowBuffer
  * + WAL coupling (internal/ingest/arrow_writer.go buffer/flush +
  * internal/wal/recovery.go): `accept` journals the raw payload, then
  * decodes and buffers it; `flush` writes every buffered batch through
  * [[DirectParquetWriter]] and checkpoints the WAL. On construction,
  * un-checkpointed WAL entries from a crashed process are replayed and
  * flushed immediately, so acknowledged-but-unflushed data survives.
  */
final class DurableIngester(catalog: GraftCatalog, walDir: File,
    syncMode: Wal.SyncMode = Wal.SyncEvery,
    flushRows: Int = 50000,
    onFlush: (String, String) => Unit = (_, _) => ()) {

  /** Rows recovered (already flushed to parquet) from a prior crash. */
  val recoveredRows: Long = {
    val entries = Wal.readAll(walDir)
    var rows = 0L
    entries.groupBy(_.db).toSeq.sortBy(_._1).foreach { case (db, es) =>
      es.foreach { e =>
        decodeBody(e.body).foreach { b =>
          rows += b.rowCount
          DirectParquetWriter.write(catalog, db, b)
        }
      }
    }
    // everything replayed is durable in parquet — drop the old segments
    Option(walDir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("wal_")).foreach(_.delete())
    rows
  }

  private val wal = new Wal.Writer(walDir, syncMode)
  private[ingest] def walWriter: Wal.Writer = wal // spec fault injection
  private val buffer = mutable.ArrayBuffer.empty[(String, ColumnarBatch)]
  private var bufferedRows = 0

  private def decodeBody(body: Array[Byte]): Seq[ColumnarBatch] =
    if (body.nonEmpty && BatchCodec.isFrame(body(0))) BatchCodec.decode(body)
    else MsgPack.decodeOrLineProtocol(body)

  /** Journal + buffer one write payload (msgpack or LP bytes). The
    * payload is on disk before this returns. */
  def accept(db: String, payload: Array[Byte]): Int = {
    val batches = decodeBody(payload) // decode OUTSIDE the accept lock
    journal(db, payload, batches)
  }

  /** Journal + buffer ALREADY-DECODED batches (the HTTP serving path:
    * the handler has decoded + validated them; replay must not depend
    * on request-scoped decode parameters). On disk before returning. */
  def acceptDecoded(db: String, batches: Seq[ColumnarBatch]): Int =
    journal(db, BatchCodec.encode(batches), batches)

  /** Journal a raw payload the caller has ALREADY decoded into
    * `batches`, when replay's decoder ([[MsgPack.decodeOrLineProtocol]])
    * turns it back into the same batches: an HTTP msgpack body or an
    * MQTT payload, with no request-scoped decode parameters. Skips the
    * BatchCodec re-encode on the hottest accept path. */
  def acceptRaw(db: String, payload: Array[Byte],
      batches: Seq[ColumnarBatch]): Int =
    journal(db, payload, batches)

  private def journal(db: String, body: Array[Byte],
      batches: Seq[ColumnarBatch]): Int = {
    // WAL write + buffer insert stay ATOMIC under this lock (a flush's
    // seal() must never cover a WAL entry whose rows aren't in the
    // buffer it drains), but the fsync runs OUTSIDE it so concurrent
    // accepts group-commit instead of serializing on the sync. Safe to
    // buffer before the fsync returns: the 204 isn't sent until syncTo
    // completes, and a flush that races in between makes the rows
    // durable in PARQUET before checkpoint purges their segment — the
    // stronger form of the same guarantee.
    val (drain, pos) = synchronized {
      val p = wal.write(db, body)
      batches.foreach { b => buffer += db -> b; bufferedRows += b.rowCount }
      (bufferedRows >= flushRows, p)
    }
    try wal.syncTo(pos.seq)
    catch {
      case e: Throwable =>
        // the client is about to see an error response — the buffered
        // rows must not flush to parquet later (a write reported as
        // failed becoming durably visible is a phantom write, and a
        // duplicate on client retry with dedup off). Best-effort
        // retraction by batch identity: if a flush already swapped the
        // buffer between the insert and this failure, the rows are (or
        // are becoming) durable in parquet and cannot be unwritten —
        // that residual window is the documented at-least-once edge of
        // the group-commit design.
        // the WAL entry itself must ALSO be retracted — buffer removal
        // covers the live process, but crash-restart replay would
        // resurrect the rejected rows from the surviving entry (the
        // restart half of the same phantom write)
        try wal.abort(pos)
        catch { case _: Throwable => /* disk gone — documented residual */ }
        synchronized {
          // identity set, NOT structural: ColumnarBatch is a case class,
          // and a concurrent request with byte-identical rows must not
          // have ITS buffered batch retracted by this failure
          val mine = java.util.Collections.newSetFromMap(
            new java.util.IdentityHashMap[ColumnarBatch, java.lang.Boolean]())
          batches.foreach(mine.add)
          var i = buffer.length - 1
          while (i >= 0) {
            if (mine.contains(buffer(i)._2)) {
              bufferedRows -= buffer(i)._2.rowCount
              buffer.remove(i)
            }
            i -= 1
          }
        }
        throw e
    }
    if (drain) {
      // the accept CONTRACT is WAL-durable: this request's rows are
      // journaled and fsynced above, so a failure of the opportunistic
      // inline flush (a batching optimization — e.g. transient FS
      // contention, retention racing a partition delete) must not 500
      // the client. flush() already re-buffered the batches and carried
      // the covering segments forward; the background ticker or the next
      // drain retries. Billing the flush error to whichever request
      // happened to trip the row threshold produced PHANTOM writes:
      // a 500-reported request whose rows land with the retry anyway.
      try flush()
      catch {
        case e: Throwable =>
          org.slf4j.LoggerFactory.getLogger(classOf[DurableIngester])
            .warn(s"inline flush failed (rows stay buffered + WAL-covered, " +
              s"will retry): $e")
      }
    }
    batches.map(_.rowCount).sum
  }

  /** Rows currently buffered (accepted, journaled, not yet in parquet). */
  def pendingRows: Int = synchronized { bufferedRows }

  // flushes serialize among THEMSELVES but hold the accept lock only
  // for the buffer swap + WAL seal — the parquet write happens outside
  // it, so accepts keep flowing during a flush (the reference's
  // buffer-swap flush, arrow_writer.go). seal() guarantees the sealed
  // segments cover exactly the swapped batches: anything accepted
  // after the swap lands in the NEW segment and survives a crash.
  private val flushLock = new Object

  // WAL segments covering batches that failed a flush and were
  // re-buffered: purged together with the NEXT successful flush
  private var carriedSegs: Seq[File] = Nil

  /** Flush all buffered batches to parquet, then purge the covering
    * WAL segments.
    *
    * A write failure must NOT lose the swapped-out batches: the 204 was
    * already sent (durability = WAL before ack), and the background
    * flusher swallows exceptions and keeps ticking — dropping the swap
    * on error loses acknowledged rows until a process restart replays
    * the WAL (found by the lifecycle soak: retention deleting an hour
    * directory mid-write failed one cycle and 600 accepted rows
    * vanished). On error the unwritten tail goes BACK to the front of
    * the buffer (written batches are visible only at their tmp+rename,
    * so retrying the failed one cannot double-write) and the sealed
    * segments carry forward so a crash before the retry still replays. */
  def flush(): Unit = flushLock.synchronized {
    val (pending, segs) = synchronized {
      val p = buffer.toSeq
      buffer.clear(); bufferedRows = 0
      (p, wal.seal())
    }
    var i = 0
    try {
      while (i < pending.length) {
        val (db, b) = pending(i)
        DirectParquetWriter.write(catalog, db, b)
        i += 1
      }
    } catch {
      case e: Throwable =>
        val rest = pending.drop(i)
        synchronized {
          buffer.prependAll(rest)
          bufferedRows += rest.map(_._2.rowCount).sum
          carriedSegs = (carriedSegs ++ segs).distinct
        }
        // batches written BEFORE the failure are on disk: their views
        // must still refresh, or queries serve the pre-flush snapshot
        // of those measurements until some later write flushes them
        pending.take(i).map { case (db, b) => (db, b.measurement) }.distinct
          .foreach { case (db, m) =>
            try onFlush(db, m) catch { case _: Throwable => () }
          }
        throw e
    }
    val toPurge = synchronized {
      val all = carriedSegs ++ segs
      carriedSegs = Nil
      all
    }
    wal.purge(toPurge)
    pending.map { case (db, b) => (db, b.measurement) }.distinct
      .foreach { case (db, m) => onFlush(db, m) }
  }

  def close(): Unit = { flush(); synchronized { wal.close() } }
}
