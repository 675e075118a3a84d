package graft.jobs

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.json4s._
import org.json4s.jackson.JsonMethods

import java.nio.charset.StandardCharsets

/** In-flight compaction manifest — the durable record that makes the
  * tmp-write → rename → delete-sources swap recoverable after a crash
  * (reference: internal/compaction/manifest.go — it journals each job's
  * input files and output name, and the watcher completes or rolls back
  * on startup).
  *
  * Protocol (both hourly and daily tiers):
  *   1. `begin(entry)`   — durably record inputs + planned output names
  *   2. write the tmp dir
  *   3. rename tmp files to the final output names
  *   4. delete the input files
  *   5. `complete(id)`   — drop the entry
  *
  * [[recoverEntry]] then has a deterministic decision: if every planned
  * output exists, the swap had committed — finish step 4/5; otherwise
  * roll back (delete partial outputs + tmp; inputs are untouched because
  * deletion only starts after all renames).
  *
  * The manifest is one small JSON file per table, rewritten as a NEW
  * monotonically-numbered version on every change
  * (`_graft_compact_manifest.<seq>.json`); readers take the highest
  * version that parses, and older versions are deleted best-effort
  * after the new one is visible. This is deliberately NOT the classic
  * tmp+rename overwrite: on object stores (S3A, ABFS) rename is a
  * non-atomic copy+delete, and a crash between the halves of an
  * OVERWRITE rename can lose the manifest entirely — which after the
  * data renames but before complete() would leave inputs AND outputs
  * both visible with no record to repair from (silent duplication).
  * A versioned create has no such window anywhere:
  *   - object store: PUT materializes the object only at close — the
  *     new version either exists fully or not at all;
  *   - POSIX/HDFS: a crash mid-write leaves a truncated version that
  *     fails to parse, and load() falls back to the previous one.
  * Either way the visible state is always SOME complete manifest, at
  * worst one write behind — and a stale manifest is safe by protocol:
  * re-running recoverEntry on an already-completed/rolled-back entry is
  * idempotent (it deletes already-deleted paths).
  *
  * Concurrency contract: one scheduler JVM per table (the deployment
  * model throughout the jobs package) — the intra-JVM lock below serializes that
  * writer's read-modify-write; the versioning protects against CRASHES,
  * not against multiple concurrent writer PROCESSES on one table.
  * Entries are keyed by partition path so concurrent schedulers on
  * different tables never contend.
  */
object CompactionManifest {

  final case class Entry(
      id: String,
      tier: String, // "hourly" | "daily"
      partition: String, // partition dir being compacted
      tmpDir: String,
      inputs: Seq[String], // absolute input file paths
      outputs: Seq[String]) // absolute FINAL output file paths

  /** Legacy single-file name (pre-versioning) — still read, never
    * written; lowest priority so any versioned write supersedes it. */
  def manifestPath(tablePath: String): Path =
    new Path(tablePath, "_graft_compact_manifest.json")

  private val VersionRe = """_graft_compact_manifest\.(\d{13})\.json""".r

  private def versionedPath(tablePath: String, seq: Long): Path =
    new Path(tablePath, f"_graft_compact_manifest.$seq%013d.json")

  /** All versioned manifest files under `tablePath`, newest first. */
  private def versions(tablePath: String, conf: Configuration): Seq[(Long, Path)] = {
    val dir = new Path(tablePath)
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir).toSeq.flatMap { st =>
      st.getPath.getName match {
        case VersionRe(seq) => Some((seq.toLong, st.getPath))
        case _              => None
      }
    }.sortBy(-_._1)
  }

  /** A change to a table's entries, waiting for the write that applies
    * it; `failed` holds that write's error. */
  private final class Change(val f: Seq[Entry] => Seq[Entry]) {
    var done = false
    var failed: Throwable = null
  }

  /** One table's changes waiting for a write, and the version this JVM
    * wrote last with its entries: while that version is still the
    * newest, the next write starts from these entries instead of
    * reading the file back. Its monitor is the table's lock. */
  private final class Journal {
    val queue = new java.util.concurrent.ConcurrentLinkedQueue[Change]
    var written: Option[(Long, Seq[Entry])] = None
  }

  // per-table intra-JVM lock and queue: partitions of one measurement
  // compact concurrently (runHourly/runDaily fan out), and every swap does
  // a read-modify-write of the same manifest file. One scheduler per
  // driver is the deployment model, so a JVM lock suffices (cross-driver
  // coordination would shard by table anyway).
  private val journals =
    new java.util.concurrent.ConcurrentHashMap[String, Journal]()

  /** Read the newest manifest version that parses; a truncated newest
    * version (POSIX crash mid-write) falls back to the one before it.
    * The legacy unversioned file is read only when no version exists. */
  def load(tablePath: String, conf: Configuration): Seq[Entry] =
    newest(tablePath, conf, versions(tablePath, conf))

  /** The entries of the newest of `vs` that parses, else of the legacy
    * file. */
  private def newest(tablePath: String, conf: Configuration,
      vs: Seq[(Long, Path)]): Seq[Entry] = {
    val candidates =
      if (vs.nonEmpty) vs.map(_._2)
      else Seq(manifestPath(tablePath))
    candidates.iterator.flatMap(p => parseFile(p, conf)).nextOption()
      .getOrElse(Nil)
  }

  /** Entries of one manifest file; None if absent or unparseable. */
  private def parseFile(p: Path, conf: Configuration): Option[Seq[Entry]] = {
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val text =
      try {
        val bytes = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](8192)
        var n = in.read(buf)
        while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
        new String(bytes.toByteArray, StandardCharsets.UTF_8)
      } finally in.close()
    // fields are taken out by hand: json4s' reflective `extract` cost
    // more than the rest of a read-modify-write, all of it under the
    // table's lock
    def str(o: JObject, k: String): String = o \ k match { case JString(v) => v }
    def strs(o: JObject, k: String): Seq[String] =
      o \ k match { case JArray(vs) => vs.map { case JString(v) => v } }
    try {
      val JArray(items) = JsonMethods.parse(text): @unchecked
      Some(items.collect { case o: JObject =>
        Entry(str(o, "id"), str(o, "tier"), str(o, "partition"), str(o, "tmpDir"),
          strs(o, "inputs"), strs(o, "outputs"))
      })
    } catch {
      // truncated by a crash mid-write (POSIX) or corrupted externally —
      // the caller falls back to the previous version
      case _: Exception => None
    }
  }

  def begin(tablePath: String, conf: Configuration, entry: Entry): Unit =
    update(tablePath, conf)(es => es.filterNot(_.id == entry.id) :+ entry)

  def complete(tablePath: String, conf: Configuration, id: String): Unit =
    update(tablePath, conf)(_.filterNot(_.id == id))

  /** Apply `f` to the table's entries and write the result as the next
    * version before returning. Changes are group-committed: the thread
    * that takes the table's lock applies every change queued by then in
    * one read-modify-write, so concurrent swaps of one table share a
    * manifest write instead of queueing for one each. A failed write
    * fails every change it carried. */
  private def update(tablePath: String, conf: Configuration)(f: Seq[Entry] => Seq[Entry]): Unit = {
    val change = new Change(f)
    val journal = journals.computeIfAbsent(tablePath, _ => new Journal)
    journal.queue.add(change)
    journal.synchronized {
      if (!change.done) {
        val batch = Iterator.continually(journal.queue.poll()).takeWhile(_ != null).toSeq
        try {
          val prior = versions(tablePath, conf)
          val current = journal.written.collect {
            case (seq, es) if prior.headOption.exists(_._1 == seq) => es
          }.getOrElse(newest(tablePath, conf, prior))
          val entries = batch.foldLeft(current)((es, c) => c.f(es))
          journal.written = Some(write(tablePath, conf, prior, entries) -> entries)
        } catch { case e: Throwable => batch.foreach(_.failed = e) }
        batch.foreach(_.done = true)
      }
    }
    if (change.failed != null)
      throw new java.io.IOException(s"compaction manifest write failed: $tablePath",
        change.failed)
  }

  /** Write `entries` as the version after `prior`'s newest; returns its
    * sequence number. */
  private def write(tablePath: String, conf: Configuration, prior: Seq[(Long, Path)],
      entries: Seq[Entry]): Long = {
    val fs = new Path(tablePath).getFileSystem(conf)
    val json = JArray(entries.toList.map { e =>
      JObject(
        "id" -> JString(e.id), "tier" -> JString(e.tier),
        "partition" -> JString(e.partition), "tmpDir" -> JString(e.tmpDir),
        "inputs" -> JArray(e.inputs.toList.map(JString(_))),
        "outputs" -> JArray(e.outputs.toList.map(JString(_))))
    })
    // NO rename anywhere on this path (see the object-store rationale in
    // the scaladoc): create the next version — visible all-or-nothing on
    // object stores, parse-guarded against truncation on POSIX — then
    // prune older versions. A crash between the two steps leaves extra
    // versions behind; load() ignores them and the next write prunes.
    val seq = prior.headOption.map(_._1 + 1).getOrElse(1L)
    val out = fs.create(versionedPath(tablePath, seq), true)
    try out.write(JsonMethods.compact(JsonMethods.render(json))
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
    prior.foreach { case (_, p) =>
      try fs.delete(p, false)
      catch { case _: java.io.IOException => /* next write retries */ }
    }
    // the legacy unversioned file (pre-versioning deployments) is now
    // superseded by any versioned write — drop it so load() can't
    // resurrect stale entries after version files are pruned
    try fs.delete(manifestPath(tablePath), false)
    catch { case _: java.io.IOException => () }
    seq
  }

  /** Complete or roll back one in-flight entry; returns what it did. */
  def recoverEntry(conf: Configuration, e: Entry): String = {
    val part = new Path(e.partition)
    val fs = part.getFileSystem(conf)
    val allOutputsExist = e.outputs.nonEmpty &&
      e.outputs.forall(o => fs.exists(new Path(o)))
    if (allOutputsExist) {
      // swap committed — finish deleting sources
      e.inputs.foreach(i => fs.delete(new Path(i), false))
      fs.delete(new Path(e.tmpDir), true)
      "completed"
    } else {
      // swap not committed — roll back partial renames; inputs are intact
      e.outputs.foreach(o => fs.delete(new Path(o), false))
      fs.delete(new Path(e.tmpDir), true)
      "rolled_back"
    }
  }
}
