package graft.jobs

import graft.catalog.GraftCatalog
import org.apache.avro.Schema
import org.apache.avro.file.{DataFileStream, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.json4s._
import org.json4s.jackson.JsonMethods

import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._

/** Apache Iceberg v2 export (SURVEY §2.A12) — maintain an Iceberg table
  * whose data files ARE the measurement's parquet files, so external
  * engines (Spark+iceberg, Trino, DuckDB iceberg ext) can query the
  * store without copying data. Mirrors the reference exporter's behavior
  * (internal/iceberg/exporter.go: EnsureTable/ReconcileMeasurement +
  * Hadoop-convention discovery via `metadata/version-hint.text` and
  * `v<N>.metadata.json`, which it found Spark/DuckDB resolve strictly,
  * exporter.go:573-577; bounded metadata history, exporter.go:512-517).
  *
  * Implemented from the PUBLIC Iceberg table spec
  * (https://iceberg.apache.org/spec/ — format-version 2): table-metadata
  * JSON, manifest-list Avro, manifest Avro with the spec's field-ids
  * (manifest_entry 0/1/3/4/2; data_file 134/100/101/102/103/104;
  * manifest_file 500-517). The official iceberg-spark runtime is not in
  * this offline environment (documented each round), so conformance is
  * validated STRUCTURALLY in IcebergExportSpec — metadata parse-back,
  * Avro manifest decode, snapshot lineage, file-set equality — not
  * against an external reader; the metadata layout follows the spec and
  * the Hadoop-catalog conventions the reference verified empirically.
  *
  * Each reconcile publishes one full-replacement snapshot (operation
  * `overwrite`) listing the CURRENT file set — the idempotent form of
  * the reference's replaceDataFiles reconciliation: compaction/retention
  * churn collapses to "whatever exists now", and a crashed export leaves
  * the previous version fully intact (metadata files are immutable;
  * the hint flips last).
  *
  * Unpartitioned spec (spec-id 0, no fields): readers get correct
  * results without hive-partition inference; Iceberg-side partition
  * pruning is traded away, matching the reference's fallback when
  * partition inference fails (exporter.go:476-479).
  */
object IcebergExport {

  /** Snapshots + metadata versions kept per table — the reference's
    * `iceberg.retain_snapshots` (default 10, RELEASE_NOTES_2026.09.1):
    * each reconcile that publishes expires versions older than the
    * newest `retain`, so long-lived tables hold bounded metadata. */
  val DefaultRetainSnapshots = 10

  final case class Result(version: Int, snapshotId: Long, files: Int, rows: Long)

  /** Where a measurement's Iceberg table lives once it is exported. */
  def tableRoot(catalog: GraftCatalog, db: String, m: String): Path =
    new Path(catalog.root, s"_iceberg/$db/$m")

  /** Reconcile the Iceberg table for `{db}/{measurement}` with the
    * measurement's current parquet files. Creates the table on first
    * call; subsequent calls append a new snapshot + metadata version. */
  def reconcile(catalog: GraftCatalog, db: String, m: String,
      retainSnapshots: Int = DefaultRetainSnapshots): Result = {
    require(retainSnapshots >= 1, "retain_snapshots must be >= 1")
    val Retain = retainSnapshots
    val conf = catalog.spark.sparkContext.hadoopConfiguration
    val tableDir = new Path(catalog.tablePath(db, m))
    val fs = tableDir.getFileSystem(conf)
    // iceberg metadata lives OUTSIDE the measurement dir (a `metadata/`
    // subtree inside it would collide with Spark's hive-partition
    // discovery); data file paths in manifests are absolute, so the
    // table location and the data can live apart — same split as the
    // reference's warehouse prefix (exporter.go NewExporter(warehouse)).
    val icebergDir = tableRoot(catalog, db, m)
    val metaDir = new Path(icebergDir, "metadata")
    fs.mkdirs(metaDir)

    // current data files (recursive through hour partitions); the listing
    // already carries lengths, so the no-op check below costs exactly one
    // recursive listing — no footer reads, no per-file status RPCs.
    // BOTH tiers: daily compaction moves data >24h old into the
    // {m}__daily sibling — a snapshot listing only the hourly tree loses
    // every historical row from external readers. (The daily files carry
    // `hour` as a data column; it is not in the Iceberg schema — which
    // drops year/month/day/hour for BOTH tiers — so name-mapped readers
    // simply don't project it.)
    val files = listParquet(fs, tableDir) ++
      listParquet(fs, new Path(catalog.dailyPath(db, m)))

    val prev = readCurrent(fs, metaDir)
    // no-op reconcile: a scheduler tick with an unchanged file set must
    // not publish a new (identical) snapshot — at one tick/hour over many
    // tables that's unbounded metadata churn for zero information. The
    // current (path, length) set is fingerprinted into the table
    // properties (data files are immutable — compaction/retention replace
    // paths, never rewrite in place — so path+length identifies content);
    // same fingerprint ⇒ return the published state untouched (the
    // reference's reconciler likewise diffs before replacing, exporter.go
    // ReconcileMeasurement).
    val fp = filesFingerprint(files)
    prev match {
      case Some(c) if c.fingerprint.contains(fp) =>
        return Result(c.version, c.currentSnapshotId, files.length, c.totalRecords)
      case _ => ()
    }
    // publishing for real: now pay the per-file parquet footer reads
    val sized = files.map { case (p, len) =>
      (p, len, Compaction.footerRowCount(conf, Seq(new Path(p))))
    }
    val version = prev.map(_.version).getOrElse(0) + 1
    val seqNum = prev.map(_.lastSequenceNumber).getOrElse(0L) + 1L
    val snapshotId = seqNum
    val parentId = prev.map(_.currentSnapshotId)
    val (schemaJson, lastColumnId) = icebergSchema(catalog, db, m, prev)
    val nowMs = System.currentTimeMillis()

    // 1. manifest (immutable, content-addressed by snapshot)
    val manifestPath = new Path(metaDir, f"m-$snapshotId%05d.avro")
    writeManifest(fs, manifestPath, sized, snapshotId, seqNum,
      JsonMethods.compact(schemaJson))
    val manifestLen = fs.getFileStatus(manifestPath).getLen

    // 2. manifest list
    val listPath = new Path(metaDir, f"snap-$snapshotId%05d.avro")
    writeManifestList(fs, listPath, manifestPath.toString, manifestLen,
      snapshotId, parentId, seqNum, sized.length, sized.map(_._3).sum)

    // 3. metadata json (immutable) + hint flip (last)
    val totalRows = sized.map(_._3).sum
    val snapshot = JObject(
      "snapshot-id" -> JLong(snapshotId),
      "sequence-number" -> JLong(seqNum),
      "timestamp-ms" -> JLong(nowMs),
      "manifest-list" -> JString(listPath.toString),
      "schema-id" -> JInt(0),
      "summary" -> JObject(
        "operation" -> JString("overwrite"),
        "added-data-files" -> JString(sized.length.toString),
        "added-records" -> JString(totalRows.toString),
        "total-data-files" -> JString(sized.length.toString),
        "total-records" -> JString(totalRows.toString))
    ) merge (parentId match {
      case Some(p) => JObject("parent-snapshot-id" -> JLong(p))
      case None => JObject()
    })

    // keep exactly the snapshots whose manifest-list files survive
    // pruneOldVersions — older entries would be dangling references, and
    // an unbounded array grows the metadata json forever. The oldest kept
    // snapshot's parent-snapshot-id may point at an expired snapshot,
    // which the spec permits (same state expire_snapshots leaves).
    val snapshots = (prev.map(_.snapshots).getOrElse(JArray(Nil)).arr :+ snapshot)
      .takeRight(Retain)
    val snapLog = prev.map(_.snapshotLog).getOrElse(JArray(Nil)).arr :+
      JObject("timestamp-ms" -> JLong(nowMs), "snapshot-id" -> JLong(snapshotId))

    val meta = JObject(
      "format-version" -> JInt(2),
      "table-uuid" -> JString(
        java.util.UUID.nameUUIDFromBytes(icebergDir.toString.getBytes(StandardCharsets.UTF_8)).toString),
      "location" -> JString(icebergDir.toString),
      "last-sequence-number" -> JLong(seqNum),
      "last-updated-ms" -> JLong(nowMs),
      "last-column-id" -> JInt(lastColumnId),
      "current-schema-id" -> JInt(0),
      "schemas" -> JArray(List(schemaJson)),
      "default-spec-id" -> JInt(0),
      "partition-specs" -> JArray(List(JObject(
        "spec-id" -> JInt(0), "fields" -> JArray(Nil)))),
      "last-partition-id" -> JInt(999),
      "default-sort-order-id" -> JInt(0),
      "sort-orders" -> JArray(List(JObject(
        "order-id" -> JInt(0), "fields" -> JArray(Nil)))),
      // name mapping: the engine's parquet carries no iceberg field-ids,
      // so readers must resolve columns by name (the reference heals the
      // same property, exporter.go:289-336)
      "properties" -> JObject(
        "write.format.default" -> JString("parquet"),
        "graft.files-fingerprint" -> JString(fp),
        "schema.name-mapping.default" -> JString(JsonMethods.compact(JArray(
          (schemaJson \ "fields").asInstanceOf[JArray].arr.map { f =>
            JObject("field-id" -> (f \ "id"),
              "names" -> JArray(List(f \ "name")))
          })))),
      "current-snapshot-id" -> JLong(snapshotId),
      "snapshots" -> JArray(snapshots),
      "snapshot-log" -> JArray(snapLog.takeRight(Retain)),
      "metadata-log" -> JArray(Nil))

    val metaPath = new Path(metaDir, s"v$version.metadata.json")
    writeString(fs, metaPath, JsonMethods.pretty(meta))
    // the hint flip IS the publish: a plain create() truncates in place,
    // so an external reader racing the write would see an empty hint
    // (and a crash mid-write leaves garbage .toInt chokes on) — flip via
    // tmp+rename so the hint is always a complete previous-or-new value
    val hintTmp = new Path(metaDir, ".version-hint.text.tmp")
    writeString(fs, hintTmp, version.toString)
    val hint = new Path(metaDir, "version-hint.text")
    if (fs.exists(hint)) fs.delete(hint, false)
    fs.rename(hintTmp, hint)

    // bounded history: metadata versions + their snapshot files
    pruneOldVersions(fs, metaDir, version, Retain)
    Result(version, snapshotId, sized.length, totalRows)
  }

  // ---- current-state readback ------------------------------------------

  private def asLong(v: JValue): Long = v match {
    case JInt(n) => n.toLong
    case JLong(n) => n
    case other => throw new IllegalStateException(s"expected number, got $other")
  }

  private final case class Current(version: Int, lastSequenceNumber: Long,
      currentSnapshotId: Long, snapshots: JArray, snapshotLog: JArray,
      schema: Option[JValue], fingerprint: Option[String],
      lastColumnId: Int, totalRecords: Long)

  /** Order-independent digest of (path, length) for the current file
    * set — equality means the published snapshot is already exact. */
  private def filesFingerprint(files: Seq[(String, Long)]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    files.sortBy(_._1).foreach { case (p, len) =>
      md.update(s"$p|$len\n".getBytes(StandardCharsets.UTF_8))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  private def readCurrent(fs: FileSystem, metaDir: Path): Option[Current] = {
    if (!fs.exists(metaDir)) return None
    val hint = new Path(metaDir, "version-hint.text")
    // the hint is rename-flipped, but the flip is delete-then-rename
    // (object-store rename is copy+delete), so a reader can catch the
    // hint MISSING as well as unparsable (crash window) — BOTH fall back
    // to the v*.metadata.json scan Hadoop-catalog readers use, instead
    // of treating a table with published metadata as absent (r13 ADVICE)
    val fromHint =
      if (fs.exists(hint)) readString(fs, hint).trim.toIntOption else None
    val v = fromHint.getOrElse {
      val vs = fs.listStatus(metaDir).map(_.getPath.getName)
        .flatMap { n =>
          if (n.startsWith("v") && n.endsWith(".metadata.json"))
            n.stripPrefix("v").stripSuffix(".metadata.json").toIntOption
          else None
        }
      if (vs.isEmpty) return None
      vs.max
    }
    val meta = JsonMethods.parse(readString(fs, new Path(metaDir, s"v$v.metadata.json")))
    Some(Current(
      version = v,
      lastSequenceNumber = asLong(meta \ "last-sequence-number"),
      currentSnapshotId = asLong(meta \ "current-snapshot-id"),
      snapshots = (meta \ "snapshots").asInstanceOf[JArray],
      snapshotLog = (meta \ "snapshot-log").asInstanceOf[JArray],
      schema = (meta \ "schemas").asInstanceOf[JArray].arr.headOption,
      fingerprint = meta \ "properties" \ "graft.files-fingerprint" match {
        case JString(s) => Some(s)
        case _ => None
      },
      lastColumnId = asLong(meta \ "last-column-id").toInt,
      totalRecords = {
        val cur = asLong(meta \ "current-snapshot-id")
        (meta \ "snapshots").asInstanceOf[JArray].arr
          .find(s => asLong(s \ "snapshot-id") == cur)
          .map(s => (s \ "summary" \ "total-records") match {
            case JString(n) => n.toLong
            case _ => 0L
          }).getOrElse(0L)
      }))
  }

  // ---- schema mapping ---------------------------------------------------

  /** Spark → Iceberg primitive mapping with STABLE field ids: ids are
    * positional on first export and preserved by NAME afterwards (new
    * columns extend the id space) — the spec's schema-evolution rule.
    * Returns (schema json, last-column-id); the latter is the highest id
    * EVER assigned (spec invariant) — after a drop+add it exceeds the
    * current field count, so it cannot be derived from the field list. */
  private def icebergSchema(catalog: GraftCatalog, db: String, m: String,
      prev: Option[Current]): (JValue, Int) = {
    val sparkSchema = org.apache.spark.sql.types.StructType(
      catalog.table(db, m).schema.fields.filterNot(f =>
        Set("year", "month", "day", "hour").contains(f.name)))
    val prevIds: Map[String, BigInt] = prev.flatMap(_.schema).map { s =>
      (s \ "fields").asInstanceOf[JArray].arr.map { f =>
        (f \ "name").asInstanceOf[JString].s -> BigInt(asLong(f \ "id"))
      }.toMap
    }.getOrElse(Map.empty)
    // seed from the previous metadata's last-column-id, NOT the previous
    // schema's max id: a column dropped in an earlier reconcile keeps its
    // id retired forever (spec invariant — reusing it would alias two
    // different columns under one id in retained snapshots/name-mapping)
    var nextId = prev.map(_.lastColumnId)
      .getOrElse(if (prevIds.isEmpty) 0 else prevIds.values.max.toInt)
    val fields = sparkSchema.fields.toList.map { f =>
      val id = prevIds.getOrElse(f.name, { nextId += 1; BigInt(nextId) })
      JObject(
        "id" -> JInt(id),
        "name" -> JString(f.name),
        "required" -> JBool(false),
        "type" -> JString(icebergType(f.dataType)))
    }
    (JObject("type" -> JString("struct"), "schema-id" -> JInt(0),
      "fields" -> JArray(fields)), nextId)
  }

  private def icebergType(dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case BooleanType => "boolean"
      case IntegerType | ShortType | ByteType => "int"
      case LongType => "long"
      case FloatType => "float"
      case DoubleType => "double"
      case StringType => "string"
      case BinaryType => "binary"
      case DateType => "date"
      case TimestampType => "timestamptz" // engine time is UTC-adjusted
      case d: DecimalType => s"decimal(${d.precision}, ${d.scale})"
      case other => throw new IllegalArgumentException(
        s"iceberg export: unsupported column type ${other.simpleString} " +
          "(engine tables are flat primitive columns)")
    }
  }

  // ---- avro writing -----------------------------------------------------

  /** manifest_entry/data_file schemas verbatim from the spec's field-id
    * table (v2, unpartitioned). */
  private[jobs] val ManifestEntrySchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_entry","fields":[
      | {"name":"status","type":"int","field-id":0},
      | {"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
      | {"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
      | {"name":"file_sequence_number","type":["null","long"],"default":null,"field-id":4},
      | {"name":"data_file","field-id":2,"type":{"type":"record","name":"r2","fields":[
      |   {"name":"content","type":"int","field-id":134},
      |   {"name":"file_path","type":"string","field-id":100},
      |   {"name":"file_format","type":"string","field-id":101},
      |   {"name":"partition","field-id":102,"type":{"type":"record","name":"r102","fields":[]}},
      |   {"name":"record_count","type":"long","field-id":103},
      |   {"name":"file_size_in_bytes","type":"long","field-id":104}
      | ]}}
      |]}""".stripMargin)

  private[jobs] val ManifestFileSchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      | {"name":"manifest_path","type":"string","field-id":500},
      | {"name":"manifest_length","type":"long","field-id":501},
      | {"name":"partition_spec_id","type":"int","field-id":502},
      | {"name":"content","type":"int","field-id":517},
      | {"name":"sequence_number","type":"long","field-id":515},
      | {"name":"min_sequence_number","type":"long","field-id":516},
      | {"name":"added_snapshot_id","type":"long","field-id":503},
      | {"name":"added_files_count","type":"int","field-id":504},
      | {"name":"existing_files_count","type":"int","field-id":505},
      | {"name":"deleted_files_count","type":"int","field-id":506},
      | {"name":"added_rows_count","type":"long","field-id":512},
      | {"name":"existing_rows_count","type":"long","field-id":513},
      | {"name":"deleted_rows_count","type":"long","field-id":514}
      |]}""".stripMargin)

  private def writeManifest(fs: FileSystem, path: Path,
      files: Seq[(String, Long, Long)], snapshotId: Long, seqNum: Long,
      schemaJson: String): Unit = {
    val dataFileSchema = ManifestEntrySchema.getField("data_file").schema()
    val partSchema = dataFileSchema.getField("partition").schema()
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](ManifestEntrySchema))
    w.setMeta("schema", schemaJson)
    w.setMeta("schema-id", "0")
    w.setMeta("partition-spec", "[]")
    w.setMeta("partition-spec-id", "0")
    w.setMeta("format-version", "2")
    w.setMeta("content", "data")
    val out = fs.create(path, true)
    w.create(ManifestEntrySchema, out)
    try files.foreach { case (p, len, rows) =>
      val df = new GenericData.Record(dataFileSchema)
      df.put("content", 0) // DATA
      df.put("file_path", p)
      df.put("file_format", "PARQUET")
      df.put("partition", new GenericData.Record(partSchema))
      df.put("record_count", rows)
      df.put("file_size_in_bytes", len)
      val e = new GenericData.Record(ManifestEntrySchema)
      e.put("status", 1) // ADDED
      e.put("snapshot_id", snapshotId)
      e.put("sequence_number", seqNum)
      e.put("file_sequence_number", seqNum)
      e.put("data_file", df)
      w.append(e)
    } finally w.close()
  }

  private def writeManifestList(fs: FileSystem, path: Path,
      manifestPath: String, manifestLen: Long, snapshotId: Long,
      parentId: Option[Long], seqNum: Long, nFiles: Int, nRows: Long): Unit = {
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](ManifestFileSchema))
    w.setMeta("format-version", "2")
    w.setMeta("snapshot-id", snapshotId.toString)
    w.setMeta("sequence-number", seqNum.toString)
    parentId.foreach(p => w.setMeta("parent-snapshot-id", p.toString))
    val out = fs.create(path, true)
    w.create(ManifestFileSchema, out)
    try {
      val r = new GenericData.Record(ManifestFileSchema)
      r.put("manifest_path", manifestPath)
      r.put("manifest_length", manifestLen)
      r.put("partition_spec_id", 0)
      r.put("content", 0) // data manifests
      r.put("sequence_number", seqNum)
      r.put("min_sequence_number", seqNum)
      r.put("added_snapshot_id", snapshotId)
      r.put("added_files_count", nFiles)
      r.put("existing_files_count", 0)
      r.put("deleted_files_count", 0)
      r.put("added_rows_count", nRows)
      r.put("existing_rows_count", 0L)
      r.put("deleted_rows_count", 0L)
      w.append(r)
    } finally w.close()
  }

  /** Parse an Avro manifest/manifest-list back (used by the spec and by
    * operational sanity checks). Returns (file metadata, records). */
  private[jobs] def readAvro(fs: FileSystem, path: Path)
      : (Map[String, String], Seq[GenericRecord]) = {
    val in = fs.open(path)
    val reader = new DataFileStream[GenericRecord](in,
      new GenericDatumReader[GenericRecord]())
    try {
      val metaKeys = reader.getMetaKeys.asScala.toSeq
      val meta = metaKeys.filterNot(_.startsWith("avro."))
        .map(k => k -> new String(reader.getMeta(k), StandardCharsets.UTF_8)).toMap
      (meta, reader.iterator().asScala.toList)
    } finally reader.close()
  }

  // ---- fs helpers -------------------------------------------------------

  /** (path, length) per data file, path-sorted — lengths come from the
    * one recursive listing, no extra status calls. */
  private def listParquet(fs: FileSystem, dir: Path): Seq[(String, Long)] = {
    if (!fs.exists(dir)) return Nil
    val it = fs.listFiles(dir, true)
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    while (it.hasNext) {
      val f = it.next()
      val p = f.getPath
      // Backup.hasTmpComponent: part files INSIDE an in-flight
      // _compact_tmp_/_delete_tmp_ staging dir must not be snapshotted —
      // the swap deletes them, and external readers would 404 (plus the
      // covered rows would be double-counted against the originals)
      if (f.isFile && p.getName.endsWith(".parquet") &&
        !p.toString.contains("/metadata/") && !p.getName.startsWith("_") &&
        !Backup.hasTmpComponent(p))
        buf += ((p.toString, f.getLen))
    }
    buf.sortBy(_._1).toSeq
  }

  /** Delete the newly expired version plus a small self-heal window —
    * NOT every version since 1, which would re-issue O(version) no-op
    * delete RPCs on each publish of a long-lived table. */
  private def pruneOldVersions(fs: FileSystem, metaDir: Path, version: Int,
      retain: Int): Unit = {
    val newest = version - retain
    (math.max(1, newest - 2) to newest).foreach { v =>
      fs.delete(new Path(metaDir, s"v$v.metadata.json"), false)
      fs.delete(new Path(metaDir, f"snap-$v%05d.avro"), false)
      fs.delete(new Path(metaDir, f"m-$v%05d.avro"), false)
    }
  }

  private def writeString(fs: FileSystem, p: Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  private def readString(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      new String(bytes.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
  }
}
