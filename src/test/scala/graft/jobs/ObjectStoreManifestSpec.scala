package graft.jobs

import graft.SparkSpec
import org.apache.hadoop.fs.{FileUtil, Path, RawLocalFileSystem}

import java.net.URI

/** Object-store semantics for the lifecycle swap protocol (round-12
  * verdict #5). S3A/ABFS renames are copy+delete and non-atomic, and a
  * crash can land between the halves. Two layers must survive that:
  *
  *  1. the DATA swap (tmp part file → final name) — proven here by
  *     performing the journaled swap through a RawLocalFileSystem whose
  *     rename IS copy-then-delete with injectable crash points, then
  *     running recoverEntry and asserting exactly-once row visibility;
  *  2. the MANIFEST itself — the old tmp+OVERWRITE-rename rewrite had an
  *     unfixable window on object stores (crash between copy and delete
  *     loses the whole manifest while data swaps are mid-flight), so the
  *     manifest is now versioned-create-only (no rename on its write
  *     path at all); the tests below pin the fallback/prune behavior.
  */
class ObjectStoreManifestSpec extends SparkSpec {

  private def conf = spark.sparkContext.hadoopConfiguration
  private def fs(p: Path) = p.getFileSystem(conf)

  /** Local FS whose rename behaves like an object store's: copy the
    * bytes, then delete the source — with a crash (exception) injectable
    * before the copy or between copy and delete. */
  private class NonAtomicRenameFs extends RawLocalFileSystem {
    var crashPoint: String = "" // "" | "before-copy" | "after-copy"
    override def rename(src: Path, dst: Path): Boolean = {
      if (crashPoint == "before-copy") throw new java.io.IOException("crash before copy")
      FileUtil.copy(this, src, this, dst, false, true, getConf)
      if (crashPoint == "after-copy") throw new java.io.IOException("crash after copy")
      delete(src, false)
    }
  }

  private def objectStoreFs(): NonAtomicRenameFs = {
    val f = new NonAtomicRenameFs
    f.initialize(URI.create("file:///"), conf)
    f
  }

  /** One journaled swap attempt driven through the non-atomic FS:
    * input file with `oldContent`, tmp rewrite with `newContent`,
    * begin → rename (crashing at `crashPoint`) → [delete input →
    * complete] — exactly the TargetedDelete/Compaction step order. */
  private def attemptSwap(table: String, crashPoint: String): (String, Path, Path) = {
    val narFs = objectStoreFs()
    narFs.crashPoint = crashPoint
    val part = new Path(table, "year=2024/month=06/day=01/hour=00")
    val f = fs(part)
    f.mkdirs(part)
    val input = new Path(part, "data.parquet")
    val tmpDir = new Path(part, "_swap_tmp")
    val tmpFile = new Path(tmpDir, "rewritten.parquet")
    val output = new Path(part, "data.d1.parquet")
    writeText(input, "OLD ROWS")
    writeText(tmpFile, "NEW ROWS")
    CompactionManifest.begin(table, conf, CompactionManifest.Entry(
      id = s"swap:$crashPoint", tier = "delete", partition = part.toString,
      tmpDir = tmpDir.toString, inputs = Seq(input.toString),
      outputs = Seq(output.toString)))
    try {
      if (!narFs.rename(tmpFile, output))
        throw new java.io.IOException("rename returned false")
      f.delete(input, false)
      f.delete(tmpDir, true)
      CompactionManifest.complete(table, conf, s"swap:$crashPoint")
    } catch { case _: java.io.IOException => /* the crash */ }
    (s"swap:$crashPoint", input, output)
  }

  private def writeText(p: Path, s: String): Unit = {
    val out = fs(p).create(p, true)
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }

  private def readText(p: Path): String = {
    val in = fs(p).open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  private def recoverAll(table: String): Seq[String] =
    CompactionManifest.load(table, conf).map { e =>
      val what = CompactionManifest.recoverEntry(conf, e)
      CompactionManifest.complete(table, conf, e.id)
      what
    }

  test("crash BEFORE the copy half: rollback, input intact, no output") {
    val table = tmpDir("osm_before")
    val (_, input, output) = attemptSwap(table, "before-copy")
    assert(recoverAll(table) == Seq("rolled_back"))
    assert(fs(input).exists(input) && readText(input) == "OLD ROWS")
    assert(!fs(output).exists(output), "no partial output may survive rollback")
    assert(CompactionManifest.load(table, conf).isEmpty)
  }

  test("crash BETWEEN copy and source-delete: completion, exactly-once rows") {
    val table = tmpDir("osm_after")
    // object-store reality at the crash instant: output fully visible
    // AND the tmp copy still present — recover must finish the swap
    // (drop the input and the stray tmp), not duplicate
    val (_, input, output) = attemptSwap(table, "after-copy")
    assert(fs(output).exists(output), "copy half landed before the crash")
    assert(recoverAll(table) == Seq("completed"))
    assert(!fs(input).exists(input), "input must be dropped on completion")
    assert(readText(output) == "NEW ROWS")
    assert(!fs(output).exists(new Path(output.getParent, "_swap_tmp")),
      "the stranded tmp copy must be swept")
    assert(CompactionManifest.load(table, conf).isEmpty)
  }

  test("clean swap through the non-atomic FS needs no recovery") {
    val table = tmpDir("osm_clean")
    val (_, input, output) = attemptSwap(table, "")
    assert(CompactionManifest.load(table, conf).isEmpty)
    assert(!fs(input).exists(input) && readText(output) == "NEW ROWS")
  }

  test("manifest write path contains no rename: a truncated newest version falls back") {
    val table = tmpDir("osm_trunc")
    fs(new Path(table)).mkdirs(new Path(table))
    CompactionManifest.begin(table, conf, CompactionManifest.Entry(
      "e1", "hourly", s"$table/p", s"$table/tmp", Seq(s"$table/in"), Seq(s"$table/out")))
    assert(CompactionManifest.load(table, conf).map(_.id) == Seq("e1"))
    // POSIX crash mid-create of the NEXT version: truncated JSON at a
    // higher sequence number — load must fall back to e1, not go blind
    writeText(new Path(table, "_graft_compact_manifest.0000000999999.json"),
      """[{"id":"e2","tier":"hour""")
    assert(CompactionManifest.load(table, conf).map(_.id) == Seq("e1"))
  }

  test("stale lower versions are ignored and pruned by the next write") {
    val table = tmpDir("osm_prune")
    fs(new Path(table)).mkdirs(new Path(table))
    CompactionManifest.begin(table, conf, CompactionManifest.Entry(
      "e1", "hourly", s"$table/p", s"$table/tmp", Seq(s"$table/in"), Seq(s"$table/out")))
    CompactionManifest.begin(table, conf, CompactionManifest.Entry(
      "e2", "hourly", s"$table/p2", s"$table/tmp2", Seq(s"$table/in2"), Seq(s"$table/out2")))
    // resurrect a stale older version (crash-between-create-and-prune
    // shape): newest must win regardless
    writeText(new Path(table, "_graft_compact_manifest.0000000000001.json"),
      """[{"id":"stale","tier":"hourly","partition":"x","tmpDir":"y","inputs":[],"outputs":[]}]""")
    assert(CompactionManifest.load(table, conf).map(_.id).toSet == Set("e1", "e2"))
    CompactionManifest.complete(table, conf, "e1")
    val left = fs(new Path(table)).listStatus(new Path(table))
      .map(_.getPath.getName).filter(_.startsWith("_graft_compact_manifest"))
    assert(left.length == 1, s"older versions must be pruned: ${left.toSeq}")
    assert(CompactionManifest.load(table, conf).map(_.id) == Seq("e2"))
  }

  test("concurrent begins and completes on one table all land") {
    val table = tmpDir("osm_group")
    fs(new Path(table)).mkdirs(new Path(table))
    def entry(i: Int) = CompactionManifest.Entry(s"e$i", "hourly", s"$table/p$i",
      s"$table/tmp$i", Seq(s"$table/in$i"), Seq(s"$table/out$i"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    def all(f: Int => Unit): Unit = (0 until 32)
      .map(i => pool.submit(new Runnable { def run(): Unit = f(i) }))
      .foreach(_.get())
    try {
      all(i => CompactionManifest.begin(table, conf, entry(i)))
      assert(CompactionManifest.load(table, conf).map(_.id).toSet ==
        (0 until 32).map(i => s"e$i").toSet)
      all(i => CompactionManifest.complete(table, conf, s"e$i"))
      assert(CompactionManifest.load(table, conf).isEmpty)
    } finally pool.shutdown()
    val left = fs(new Path(table)).listStatus(new Path(table))
      .map(_.getPath.getName).filter(_.startsWith("_graft_compact_manifest"))
    assert(left.length == 1, s"older versions must be pruned: ${left.toSeq}")
  }

  test("a newer version this JVM did not write is read back, not overwritten from memory") {
    val table = tmpDir("osm_foreign")
    fs(new Path(table)).mkdirs(new Path(table))
    CompactionManifest.begin(table, conf, CompactionManifest.Entry(
      "e1", "hourly", s"$table/p", s"$table/tmp", Seq(s"$table/in"), Seq(s"$table/out")))
    writeText(new Path(table, "_graft_compact_manifest.0000000000007.json"),
      """[{"id":"other","tier":"hourly","partition":"x","tmpDir":"y","inputs":[],"outputs":[]}]""")
    CompactionManifest.begin(table, conf, CompactionManifest.Entry(
      "e2", "hourly", s"$table/p2", s"$table/tmp2", Seq(s"$table/in2"), Seq(s"$table/out2")))
    assert(CompactionManifest.load(table, conf).map(_.id) == Seq("other", "e2"))
  }

  test("legacy unversioned manifest is still read, and superseded by a versioned write") {
    val table = tmpDir("osm_legacy")
    fs(new Path(table)).mkdirs(new Path(table))
    writeText(CompactionManifest.manifestPath(table),
      """[{"id":"old","tier":"hourly","partition":"x","tmpDir":"y","inputs":[],"outputs":[]}]""")
    assert(CompactionManifest.load(table, conf).map(_.id) == Seq("old"))
    CompactionManifest.complete(table, conf, "old")
    assert(CompactionManifest.load(table, conf).isEmpty)
    assert(!fs(new Path(table)).exists(CompactionManifest.manifestPath(table)),
      "the legacy file must be dropped so pruned versions can't resurrect it")
  }
}
