package graft.operators

import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Row}

import scala.collection.mutable

/** Two-phase top-k per group — the scalable form of
  * `row_number() OVER (PARTITION BY g ORDER BY s DESC) <= k`.
  *
  * The window form shuffles EVERY row to its group's task and sorts the
  * whole group (a 1e9-row group sorts 1e9 rows to return k). This
  * operator first reduces each input partition to its local top-k per
  * group with bounded heaps (map-side, no shuffle, O(rows · log k)
  * memory O(groups·k)), so at most partitions·k rows per group reach
  * the exact window pass. Same result, shuffle shrunk by ~rows/(parts·k).
  *
  * Ordering: by `orderCol` descending, ties broken by ascending
  * `tieCols` (must make the ordering total for deterministic output).
  *
  * Benched against Spark 4.1's `InferWindowGroupLimit` rewrite of the
  * plain `row_number() <= k` window (which inserts a partial map-side
  * WindowGroupLimit): on sf0.1 lineitem (k=5 per returnflag) this form
  * runs 0.53 s vs 1.06 s (SCALE.md, "Retired probe mains", TopKBench
  * row) — the WindowGroupLimit partial still SORTS each input
  * partition before taking k, while the bounded heaps select in
  * O(rows·log k) without a sort. The external-Row encoder round trip costs less than the sort
  * saves, so the hand-rolled form ships (VERDICT r2 #3).
  */
object TopKPerGroup {

  def topK(df: DataFrame, groupCols: Seq[String], orderCol: String,
      tieCols: Seq[String], k: Int): DataFrame = {
    val schema = df.schema
    val gIdx = groupCols.map(schema.fieldIndex)
    val oIdx = schema.fieldIndex(orderCol)
    val tIdx = tieCols.map(schema.fieldIndex)

    // exact-type order keys compare exactly: a double comparison
    // collapses values that differ only beyond the 2^53 significand
    // (full-range 64-bit keys; cents-scaled DECIMAL(18,2) balances),
    // making phase-1 selection diverge from the exact phase-2 window
    // order and silently drop correct top-k rows. Integrals compare as
    // longs, decimals via BigDecimal.compareTo; only true floats take
    // the double path.
    val cmpOrderNonNull: (Row, Row) => Int = schema(oIdx).dataType match {
      case _: org.apache.spark.sql.types.LongType |
           _: org.apache.spark.sql.types.IntegerType |
           _: org.apache.spark.sql.types.ShortType |
           _: org.apache.spark.sql.types.ByteType =>
        (a, b) => java.lang.Long.compare(
          a.getAs[Number](oIdx).longValue(), b.getAs[Number](oIdx).longValue())
      case _: org.apache.spark.sql.types.DecimalType =>
        (a, b) => a.getAs[java.math.BigDecimal](oIdx)
          .compareTo(b.getAs[java.math.BigDecimal](oIdx))
      case _ =>
        (a, b) => java.lang.Double.compare(
          a.getAs[Number](oIdx).doubleValue(), b.getAs[Number](oIdx).doubleValue())
    }
    // phase-2 is `orderCol DESC` = nulls LAST (Spark's desc default), so
    // phase-1 must rank a null orderCol below every non-null — not NPE
    val cmpOrder: (Row, Row) => Int = { (a, b) =>
      val an = a.isNullAt(oIdx); val bn = b.isNullAt(oIdx)
      if (an && bn) 0
      else if (an) Int.MinValue // null sorts below every value under DESC
      else if (bn) Int.MaxValue
      else cmpOrderNonNull(a, b)
    }
    // tie columns: ASC = nulls FIRST (Spark's asc default)
    def cmpTie(a: Row, b: Row, i: Int): Int = {
      val an = a.isNullAt(i); val bn = b.isNullAt(i)
      if (an && bn) 0
      else if (an) -1 // null sorts first under ASC
      else if (bn) 1
      else a.getAs[Comparable[Any]](i).compareTo(b.get(i))
    }

    // row ordering: orderCol DESC, tieCols ASC — "a beats b" = a sorts
    // STRICTLY first. Must be strict (equal rows beat neither way):
    // sortWith builds an Ordering, and a non-strict predicate makes
    // TimSort throw 'Comparison method violates its general contract!'
    // once buffers pass its merge threshold.
    val beats: (Row, Row) => Boolean = { (a, b) =>
      val c = cmpOrder(a, b)
      if (c != 0) c > 0 // larger orderCol sorts first
      else tIdx.iterator.map(i => cmpTie(a, b, i)).find(_ != 0)
        .exists(_ < 0)
    }

    val enc = RowEncoder.encoderFor(schema)
    // phase 1: per-partition bounded selection (keep k best per group)
    val reduced = df.mapPartitions { it =>
      val heaps = mutable.HashMap.empty[Seq[Any], mutable.ArrayBuffer[Row]]
      it.foreach { row =>
        val key = gIdx.map(row.get)
        val buf = heaps.getOrElseUpdate(key, mutable.ArrayBuffer.empty)
        buf += row
        if (buf.length > 4 * k) { // amortized compaction
          val best = buf.sortWith(beats).take(k)
          buf.clear(); buf ++= best
        }
      }
      heaps.valuesIterator.flatMap(buf => buf.sortWith(beats).take(k))
    }(enc)

    // phase 2: exact global ranking over the reduced set
    val w = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col(orderCol).desc +: tieCols.map(c => col(c).asc): _*)
    reduced.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
  }
}
