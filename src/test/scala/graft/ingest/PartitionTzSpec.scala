package graft.ingest

import graft.SparkSpec
import graft.catalog.GraftCatalog
import org.apache.spark.sql.functions._

/** Partition-coordinate derivation must be UTC no matter what
  * `spark.sql.session.timeZone` the embedding application sets: the
  * pruning rule, retention/tiering day-epoch parsing, and the
  * reference's path layout all interpret year=/month=/day=/hour= as
  * UTC. A session-TZ derivation would write one layout under UTC
  * drivers and another under anything else — and the pruner would then
  * read the wrong partitions (silent row loss). Uses a separate
  * `newSession` so the shared test session's UTC conf is untouched. */
class PartitionTzSpec extends SparkSpec {

  private val H = 3600L * 1000000L
  private val base = 1717200000000000L // 2024-06-01T00:00:00Z

  test("partition coords are UTC even under a non-UTC session time zone") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.session.timeZone", "Asia/Tokyo") // +9, no DST
    // 2024-06-01T23:30:00Z = 2024-06-02T08:30 Tokyo — a session-TZ
    // derivation would place it in day=2/hour=8
    val df = s2.range(1)
      .select(timestamp_micros(lit(base + 23 * H + 30L * 60 * 1000000)).as("time"))
    val r = HourPartitionedWriter.withPartitionColumns(df)
      .select("year", "month", "day", "hour").head()
    assert((r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)) ===
      ((2024, 6, 1, 23)))
  }

  test("pre-1970 timestamps floor to the correct UTC hour") {
    val df = spark.range(1)
      .select(timestamp_micros(lit(-1L)).as("time")) // 1969-12-31T23:59:59.999999Z
    val r = HourPartitionedWriter.withPartitionColumns(df)
      .select("year", "month", "day", "hour").head()
    assert((r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)) ===
      ((1969, 12, 31, 23)))
  }

  test("ingest + pruned time-range query agree under a non-UTC session") {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    graft.plans.OptimizerRules.install(s2)
    val cat = new GraftCatalog(s2, tmpDir("tzprune"))
    val lp = (0 until 24).map(h => s"m,host=a v=$h.0 ${base + h * H}").mkString("\n")
    val (pts, _) = LineProtocol.parse(lp, "us")
    ColumnarBatch.fromPoints(pts).foreach(HourPartitionedWriter.ingest(cat, "default", _))
    // µs-epoch bounds (TZ-free on both sides of the comparison)
    val n = cat.table("default", "m")
      .where(col("time") >= timestamp_micros(lit(base + 5 * H)) &&
             col("time") < timestamp_micros(lit(base + 8 * H))).count()
    assert(n == 3)
  }
}
