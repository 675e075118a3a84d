package graft

import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The bench's last stdout line: one JSON object within 2 KB, each
  * declared query's time keyed by its short id. */
class BenchSummarySpec extends AnyFunSuite {

  private val names = SparkEntry.queries.keys.toSeq.sorted
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def line(times: String => Option[Double]): String =
    Bench.summaryLine(total = 123.456, errors = 1, iters = 3, sf = "/data/sf0.1",
      names.map(n => n -> times(n)))

  test("short query ids are unique") {
    val ids = names.map(Bench.shortId)
    assert(ids.distinct.size == names.size,
      s"ids shared: ${ids.groupBy(identity).collect { case (i, s) if s.size > 1 => i }}")
    assert(ids.forall(_.matches("q\\d+[a-z]?")), ids)
  }

  test("the summary line parses, keys every query by id and fits 2 KB") {
    // sub-second times, as at sf0.1, up to a minute
    for (scale <- Seq(0.0123456, 0.123456, 1.23456, 12.3456, 45.6789)) {
      val s = line(n => if (n == names.head) None else Some(scale * (1 + n.length % 7)))
      assert(s.getBytes("UTF-8").length <= Bench.SummaryMaxBytes, s"${s.length} B at $scale s")
      val j = mapper.readTree(s)
      assert(j.get("metric").asText() == "total" && j.get("value").asDouble() == 123.456)
      val decimals = j.get("sec_decimals").asInt()
      info(s"times near $scale s keep $decimals decimals in ${s.length} B")
      assert(scale > 1 || decimals >= 1, s)
      val qs = j.get("queries_sec")
      assert(qs.fieldNames().asScala.toSeq == names.map(Bench.shortId))
      assert(qs.get(Bench.shortId(names.head)).asDouble() == -1)
      for (n <- names.tail) {
        val want = BigDecimal(scale * (1 + n.length % 7))
          .setScale(decimals, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(qs.get(Bench.shortId(n)).asDouble() == want, n)
      }
    }
  }

  test("a line with room keeps three decimals") {
    val s = Bench.summaryLine(1.0, 0, 3, "sf", names.take(10).map(_ -> Some(0.1234567)))
    assert(mapper.readTree(s).get("queries_sec").get(Bench.shortId(names.head)).asDouble() == 0.123, s)
    assert(mapper.readTree(s).get("sec_decimals").asInt() == 3, s)
  }
}
