package graft.engine

import graft.core._
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}

/** Conversions between the kernel scalar representation
  * (Long µs / epoch-day / Long / Double / String) and Spark-side
  * values, literals and rows.
  */
object SparkVals {

  /** Spark Row value -> kernel scalar for a given dtype. */
  def toKernel(dt: GType, v: Any): Any = dt match {
    case GType.TimestampT => v match {
      case t: java.sql.Timestamp =>
        t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
      case i: Instant => i.getEpochSecond * 1000000L + i.getNano / 1000L
      case l: Long    => l
      case other => throw new IllegalArgumentException(s"bad ts: $other")
    }
    case GType.DateT => v match {
      case d: java.sql.Date => d.toLocalDate.toEpochDay
      case d: LocalDate     => d.toEpochDay
      case l: Long          => l
      case i: Int           => i.toLong
      case other => throw new IllegalArgumentException(s"bad date: $other")
    }
    case GType.IntT => v match {
      case l: Long => l
      case i: Int => i.toLong
      case s: Short => s.toLong
      case other => throw new IllegalArgumentException(s"bad int: $other")
    }
    case GType.FloatT => v match {
      case d: Double => d
      case f: Float => f.toDouble
      case other => throw new IllegalArgumentException(s"bad float: $other")
    }
    case GType.StrT => v.asInstanceOf[String]
  }

  /** kernel scalar -> Spark literal Column of the right type. */
  def toLiteral(dt: GType, v: Any): Column = dt match {
    case GType.TimestampT =>
      val us = v.asInstanceOf[Long]
      lit(Instant.ofEpochSecond(
        Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))
    case GType.DateT => lit(LocalDate.ofEpochDay(v.asInstanceOf[Long]))
    case GType.IntT => lit(v.asInstanceOf[Long])
    case GType.FloatT => lit(v.asInstanceOf[Double])
    case GType.StrT => lit(v.asInstanceOf[String])
  }

  /** User-facing scalar (String literal, number, java.time value…) ->
    * kernel scalar. */
  def parseBound(dt: GType, v: Any): Any = v match {
    case s: String => dt.parseValue(s)
    case t: java.sql.Timestamp => toKernel(GType.TimestampT, t)
    case i: Instant => toKernel(GType.TimestampT, i)
    case d: LocalDate => d.toEpochDay
    case d: LocalDateTime if dt == GType.TimestampT =>
      d.toInstant(ZoneOffset.UTC).getEpochSecond * 1000000L +
        d.getNano / 1000L
    case l: Long if dt == GType.TimestampT => l * 1000000L
    case l: Long => toKernel(dt, l)
    // an Int bound must mean the same thing as the equal-valued Long
    // bound (epoch SECONDS for timestamps) — routing it through
    // toKernel treated it as micros, a silent 10^6 scale error
    case i: Int => parseBound(dt, i.toLong)
    case d: Double if dt == GType.FloatT => d
    case d: Double if dt == GType.TimestampT =>
      // fractional epoch SECONDS are meaningful on a timestamp index
      // (sub-second bounds): convert to micros; whole doubles take
      // the same path (d * 1e6 is exact for any realistic epoch)
      math.round(d * 1e6)
    case d: Double if d.isWhole =>
      // whole-valued Double on an integral index: same as the Long
      parseBound(dt, d.toLong)
    case d: Double => throw new IllegalArgumentException(
      s"fractional bound $d invalid for ${dt.name} index")
    case other => toKernel(dt, other)
  }

  /** Lexicographic tuple comparison predicate: (cols…) OP key where OP
    * is >= / > (lower bound) or <= / < (upper bound). Expressed as a
    * boolean expression tree Catalyst can push to Parquet per-column.
    */
  def lexBound(idx: Seq[ColDef], cols: Seq[Column], key: IndexKey,
      lower: Boolean, strict: Boolean): Column = {
    val n = math.min(cols.length, key.values.length)
    // build from the last significant column inward
    var acc: Column =
      if (strict) {
        if (lower) cols(n - 1) > toLiteral(idx(n - 1).dtype, key.values(n - 1))
        else cols(n - 1) < toLiteral(idx(n - 1).dtype, key.values(n - 1))
      } else {
        if (lower) cols(n - 1) >= toLiteral(idx(n - 1).dtype, key.values(n - 1))
        else cols(n - 1) <= toLiteral(idx(n - 1).dtype, key.values(n - 1))
      }
    var i = n - 2
    while (i >= 0) {
      val litI = toLiteral(idx(i).dtype, key.values(i))
      val branch = if (lower) cols(i) > litI else cols(i) < litI
      acc = branch || (cols(i) === litI && acc)
      i -= 1
    }
    acc
  }

  /** Residual range predicate for one segment read: clip to
    * [start, stop] honoring closed flags. */
  def rangePredicate(idx: Seq[ColDef], cols: Seq[Column],
      start: IndexKey, stop: IndexKey, closed: Closed): Column = {
    val lo = lexBound(idx, cols, start, lower = true, strict = !closed.left)
    val hi = lexBound(idx, cols, stop, lower = false, strict = !closed.right)
    lo && hi
  }
}
