package perfbench

import graft.query.MsgPackEncoder

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

/** The seeded `cpu` measurement ts_ingest writes: tags
  * host and region, float fields usage_user, usage_system, usage_idle.
  *
  * A row's values depend only on (seed, time, host), so any split of the
  * time axis into batches writes the same data and the expected answers
  * can be computed without replaying the batches. Values are whole
  * quarters, so sums are exact in doubles and compare with `==`.
  */
object Cpu {
  val Hosts = 16
  private val Regions = Array("us-east", "us-west", "eu-central", "ap-south")

  def host(h: Int): String = f"host$h%02d"
  def region(h: Int): String = Regions(h % Regions.length)

  private def mix(z0: Long): Long = { // SplitMix64 finalizer
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def draw(seed: Long, tUs: Long, h: Int, field: Int): Long =
    mix(seed * 0x9e3779b97f4a7c15L + tUs * 31 + h * 7 + field) >>> 1

  /** usage_user in quarters: 0 .. 399 (0.0 .. 99.75). */
  def userQ(seed: Long, tUs: Long, h: Int): Int = (draw(seed, tUs, h, 1) % 400).toInt
  def systemQ(seed: Long, tUs: Long, h: Int): Int = (draw(seed, tUs, h, 2) % 200).toInt
  def idleQ(seed: Long, tUs: Long, h: Int): Int = (draw(seed, tUs, h, 3) % 400).toInt

  /** `steps` time points from `t0Us` every `stepUs`, every host,
    * time-major. */
  final case class Block(seed: Long, t0Us: Long, stepUs: Long, steps: Int) {
    def rows: Int = steps * Hosts
    def endUs: Long = t0Us + steps * stepUs
    def foreachRow(f: (Long, Int) => Unit): Unit = {
      var s = 0
      while (s < steps) {
        val t = t0Us + s * stepUs
        var h = 0
        while (h < Hosts) { f(t, h); h += 1 }
        s += 1
      }
    }

    /** InfluxDB Line Protocol, microsecond timestamps (`precision=us`). */
    def lineProtocol: Array[Byte] = {
      val sb = new java.lang.StringBuilder(rows * 96)
      foreachRow { (t, h) =>
        sb.append("cpu,host=").append(host(h)).append(",region=").append(region(h))
          .append(" usage_user=").append(userQ(seed, t, h) / 4.0)
          .append(",usage_system=").append(systemQ(seed, t, h) / 4.0)
          .append(",usage_idle=").append(idleQ(seed, t, h) / 4.0)
          .append(' ').append(t).append('\n')
      }
      sb.toString.getBytes(UTF_8)
    }

    /** Columnar MessagePack `{m, columns, tags}` (µs integer time). */
    def msgPack: Array[Byte] = {
      val out = new ByteArrayOutputStream(rows * 48)
      val p = new MsgPackEncoder.Packer(out)
      p.packMapHeader(3)
      p.packString("m"); p.packString("cpu")
      p.packString("tags"); p.packArrayHeader(2); p.packString("host"); p.packString("region")
      p.packString("columns"); p.packMapHeader(6)
      def col(name: String)(f: (Long, Int) => Unit): Unit = {
        p.packString(name); p.packArrayHeader(rows); foreachRow(f)
      }
      col("time")((t, _) => p.packLong(t))
      col("host")((_, h) => p.packString(host(h)))
      col("region")((_, h) => p.packString(region(h)))
      col("usage_user")((t, h) => p.packDouble(userQ(seed, t, h) / 4.0))
      col("usage_system")((t, h) => p.packDouble(systemQ(seed, t, h) / 4.0))
      col("usage_idle")((t, h) => p.packDouble(idleQ(seed, t, h) / 4.0))
      out.toByteArray
    }
  }

  private val SqlTs = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)

  /** A SQL timestamp literal for µs since the epoch (whole seconds). */
  def lit(us: Long): String = s"TIMESTAMP '${SqlTs.format(Instant.ofEpochSecond(us / 1000000L))}'"

  val HourUs: Long = 3600L * 1000000L
}
