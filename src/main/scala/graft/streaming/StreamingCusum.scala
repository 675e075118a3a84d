package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming CUSUM control chart — the live sibling of batch q144
  * (`TimeseriesQueries`): S⁺/S⁻ excursions maintained per series,
  * alarm-and-reset when either crosses its threshold. Deployment shape
  * mirrors real SPC practice: limits (target, threshold) are
  * CALIBRATED OFFLINE — q144's exact median/MAD pass over a reference
  * window — and the monitor applies them online; recalibration swaps
  * the map on restart.
  *
  * Same arithmetic as the batch chart: integer cents end to end (the
  * value scales through the exact decimal cast), the identical
  * alarm-and-reset recursion, so a replay of the same batches is
  * bit-identical and a batch/streaming parity check is exact rather
  * than approximate (StreamingCusumSpec pins it against the reference
  * fold). Tie caveat: equal-timestamp events fold in (time, value)
  * order here — the stream carries no stable event id — while batch
  * q144 breaks ties by event_id; exact cross-path parity therefore
  * holds for series with distinct timestamps (real µs telemetry), and
  * a tie-sensitive deployment should disambiguate the timestamp
  * upstream.
  *
  * Scale shape: one shuffle (groupByKey on the series), state = one
  * (S⁺, S⁻) pair per CONFIGURED series — bounded by the limits map,
  * not by whatever keys appear in the stream (unconfigured series
  * pass through stateless); events apply in event-time order within
  * each micro-batch, arrival order across batches. An event that
  * arrives a batch after a later event of its series folds after it:
  * the trade for alarming as each batch lands instead of holding
  * events until the watermark passes them. The watermark bounds how
  * far out of order such an event can be.
  */
object StreamingCusum {

  /** side = "hi" | "lo"; excursion = the S value that crossed. */
  case class Alarm(series: String, tsUs: Long, side: String, excursion: Long)

  /** Calibrated cents-domain limits for one series (q144 produces
    * exactly these: target = median, h = max(4·MAD, 1)). */
  case class Limits(target: Long, h: Long)

  case class CusumState(sp: Long, sm: Long)

  def alarms(events: DataFrame, seriesCol: String, tsCol: String,
      valueCol: String, limits: Map[String, Limits],
      watermarkDelay: String): Dataset[Alarm] = {
    val spark = events.sparkSession
    import spark.implicits._
    require(limits.nonEmpty, "no calibrated series")
    require(limits.values.forall(_.h > 0), s"thresholds must be positive")
    val rows = events
      .withWatermark(tsCol, watermarkDelay)
      .select(col(seriesCol).cast("string"), col(tsCol),
        (col(valueCol).cast("decimal(18,2)") * 100L).cast("long"))
      .as[(String, java.sql.Timestamp, Long)]
    def us(ts: java.sql.Timestamp): Long =
      ts.getTime * 1000L + (ts.getNanos % 1000000) / 1000L
    rows.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (series: String, it: Iterator[(String, java.sql.Timestamp, Long)],
         state: GroupState[CusumState]) =>
          limits.get(series) match {
            case None => Iterator.empty // unconfigured: stateless pass
            case Some(Limits(target, h)) =>
              val batch = it.toArray.sortBy(e => (us(e._2), e._3))
              var s = state.getOption.getOrElse(CusumState(0L, 0L))
              val out = Vector.newBuilder[Alarm]
              batch.foreach { case (_, ts, x) =>
                val spn = math.max(0L, s.sp + (x - target))
                val smn = math.max(0L, s.sm + (target - x))
                s = CusumState(
                  if (spn > h) { out += Alarm(series, us(ts), "hi", spn); 0L }
                  else spn,
                  if (smn > h) { out += Alarm(series, us(ts), "lo", smn); 0L }
                  else smn)
              }
              if (batch.nonEmpty) state.update(s)
              out.result().iterator
          }
      }
  }
}
