package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg (local iteration only — the driver passes two):
    // comma-separated substring filter over query names
    val only: String => Boolean = args.drop(2).headOption match {
      case Some(f) => val pats = f.split(','); n => pats.exists(n.contains)
      case None => _ => true
    }
    // master override (SPARK_GRAFT_MASTER) + cluster-mode confs live in
    // HarnessSession — the multi-JVM gate runs this exact main under
    // local-cluster[2,8,4096]
    val spark = HarnessSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    var failed = List.empty[String]
    val selected = SparkEntry.queries.filter(kv => only(kv._1))
    selected.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // queries that build a GraftCatalog flip the session to
        // TIMESTAMP_MICROS (the ENGINE's storage format); the driver's
        // compare expects these RESULT dumps in Spark's default INT96
        // (tz-naive in pandas) — pin it per dump, after the query lambda
        // (and any catalog construction inside it) has run
        spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        failed ::= name
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // free this query's localCheckpoint blocks (see Bench: they pile
      // up across the whole suite in one driver otherwise)
      ModelCheckpoint.sweep(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => only(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // Fail LOUDLY: r4's round-zeroing loader break produced 113 stderr
    // lines and rc=0, which looked like success to the driver. Any failed
    // query now makes the run unmistakably red.
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] FAILED ${failed.size}/${selected.size}: ${failed.sorted.mkString(", ")}")
      sys.exit(1)
    } else System.err.println(s"[verify] OK ${selected.size}/${selected.size}")
  }
}
