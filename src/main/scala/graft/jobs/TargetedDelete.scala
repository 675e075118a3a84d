package graft.jobs

import graft.catalog.{GraftCatalog, ParquetRead}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Targeted DELETE (DML) — remove rows matching a predicate by
  * rewriting only the files that contain matches, leaving all other
  * files untouched (reference: internal/api/delete.go:502-880 — find
  * affected files, count matches per file, rewrite without matches).
  *
  * Scale: the match-count pass is one distributed scan with partition
  * pruning (a time predicate prunes to the touched hours); rewrites are
  * per-file and embarrassingly parallel.
  */
object TargetedDelete {

  /** Per-file match census from the find-affected pass (the reference's
    * `affectedFile` rows, delete.go:131-135). */
  final case class FileMatches(path: String, matches: Long, rows: Long)

  final case class Preview(files: Seq[FileMatches]) {
    def affected: Seq[FileMatches] = files.filter(_.matches > 0)
    def totalMatches: Long = files.map(_.matches).sum
    def totalRows: Long = files.map(_.rows).sum
  }

  final case class Result(filesScanned: Long, filesRewritten: Long,
      rowsDeleted: Long, rowsKept: Long, filesProcessed: Seq[String] = Nil)

  /** The find-affected-files pass alone: one distributed scan counting
    * matches per source file — the dry-run surface (delete.go's
    * DryRun=true stops here). */
  def preview(catalog: GraftCatalog, db: String, m: String,
      predicate: Column): Preview = {
    val tbl = catalog.table(db, m).withColumn("_src", input_file_name())
    Preview(tbl.groupBy(col("_src"))
      .agg(sum(when(predicate, 1L).otherwise(0L)).as("n_match"),
        count(lit(1)).as("n_rows"))
      .collect()
      .map(r => FileMatches(r.getAs[String]("_src"),
        r.getAs[Long]("n_match"), r.getAs[Long]("n_rows")))
      .toSeq)
  }

  def apply(catalog: GraftCatalog, db: String, m: String,
      predicate: Column, maxRows: Long = Long.MaxValue): Result = {
    val spark = catalog.spark
    val conf = spark.sparkContext.hadoopConfiguration

    val pre = preview(catalog, db, m, predicate)
    val affected = pre.affected
    if (pre.totalMatches > maxRows)
      throw new IllegalStateException(
        s"delete would remove ${pre.totalMatches} rows > cap $maxRows")

    // per-file rewrites are independent (distinct target files, distinct
    // tmp dirs): run them from a bounded pool — a wide delete touching
    // hundreds of files pays one overlapped job latency, not the sum.
    // Each rewrite swap is journaled in the same per-table manifest as
    // compaction (begin → rename-in under a NEW name → delete original →
    // complete), so a crash at any point is repaired by Compaction
    // .recover: output present ⇒ finish deleting the original; output
    // absent ⇒ roll back, original intact. The old delete-original-
    // then-rename order had a window where the kept rows existed ONLY
    // in the "_"-hidden tmp dir — a crash there silently lost them.
    val tablePath = catalog.tablePath(db, m)
    val deleted = BoundedParallel.run(affected) { fm =>
      val p = new Path(new java.net.URI(fm.path))
      val fs = p.getFileSystem(conf)
      if (fm.matches == fm.rows) {
        fs.delete(p, false) // whole file matches: drop it, no rewrite
      } else {
        // uniquifier shared by the tmp dir and the final name: two
        // concurrent deletes of the same file (or a same-millisecond
        // repeat) must never share a staging dir or journal an output
        // path that already exists — recover() "completing" such an
        // entry would delete the input while the output belongs to the
        // other invocation, losing kept rows
        val uniq = s"${System.currentTimeMillis()}n${System.nanoTime()}"
        val tmp = new Path(p.getParent, s"_delete_tmp_${uniq}_${p.getName}")
        fs.delete(tmp, true)
        // read with the tier's basePath so a predicate over the
        // partition columns (year/month/day/hour) resolves — preview
        // sees them through catalog.table, so the rewrite must too; the
        // path-derived columns are dropped again before writing (they
        // are directory segments, never file data)
        val base =
          if (p.toString.contains(GraftCatalog.DailySuffix + "/"))
            catalog.dailyPath(db, m)
          else tablePath
        val rel = p.toUri.getPath
          .stripPrefix(new Path(base).toUri.getPath).stripPrefix("/")
        val pathCols = rel.split("/").filter(_.contains("="))
          .map(_.split("=")(0)).toSeq
        ParquetRead(spark, Seq(p.toString), merge = false, Map("basePath" -> base))
          .where(!coalesce(predicate, lit(false)))
          .drop(pathCols: _*)
          .coalesce(1)
          .write.mode("overwrite").option("compression", "zstd")
          .parquet(tmp.toString)
        val rewritten = Compaction.parquetFiles(fs, tmp)
        require(rewritten.length == 1,
          s"delete rewrite produced ${rewritten.length} files, expected 1")
        // the new name keeps the original's RELATIVE recency position
        // (last-write-wins dedup at compaction orders by file path):
        // same stem, a ".d<ts>" marker before the extension — prior
        // markers from repeated deletes of one file are collapsed first
        val finalName = p.getName.stripSuffix(".parquet")
          .replaceAll("(\\.d\\w+)+$", "") + s".d$uniq.parquet"
        val finalPath = new Path(p.getParent, finalName)
        require(!fs.exists(finalPath),
          s"delete-rewrite target already exists: $finalPath")
        val entryId = s"delete:$p:$finalName"
        CompactionManifest.begin(tablePath, conf, CompactionManifest.Entry(
          id = entryId, tier = "delete", partition = p.getParent.toString,
          tmpDir = tmp.toString, inputs = Seq(p.toString),
          outputs = Seq(finalPath.toString)))
        if (!fs.rename(rewritten.head, finalPath))
          throw new java.io.IOException(
            s"delete-rewrite rename failed: ${rewritten.head} -> " +
              s"$finalPath (recover() will roll back; original intact)")
        fs.delete(p, false)
        fs.delete(tmp, true)
        CompactionManifest.complete(tablePath, conf, entryId)
      }
      fm.matches
    }.sum
    Result(pre.files.length,
      affected.count(f => f.matches < f.rows),
      deleted, pre.totalRows - deleted,
      affected.map(_.path))
  }
}
