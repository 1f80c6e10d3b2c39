package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{col, lit, unix_date}
import org.apache.spark.sql.types._

/** An inclusive range `[lo, hi]` on one store column — the value every
  * banded [[Snapshots]] operation takes (`deleteWhere`,
  * `deleteWhereMor`, `updateWhere`, `updateWhereMor`, `countWhere`;
  * `readWhere`/`prunedFiles` take a conjunction of them), and what
  * [[BandRoute]] turns a SQL WHERE shape into. The case picks the
  * band flavor: [[LongRange]] probes the long bands of integral,
  * date and timestamp columns, [[StrRange]] the prefix bands of
  * string columns. Probing a column with the other flavor is a
  * caller bug and fails loudly, never as an empty result. */
sealed trait KeyRange {
  def field: String

  /** The exact row filter pruning is a superset of: band admission
    * is conservative, this makes the result exact. */
  private[sources] def residual(schema: StructType): Column
}

/** Long-band range. Date and timestamp columns are compared in the
  * band domain ([[KeyRange.bandLong]]: days since the epoch for
  * dates, cast-to-long seconds for timestamps); integral columns
  * compare directly, so the residual still pushes into the scan. */
final case class LongRange(field: String, lo: Long, hi: Long)
    extends KeyRange {
  private[sources] def residual(schema: StructType): Column = {
    val c = schema.find(_.name == field).map(_.dataType) match {
      case Some(dt @ (DateType | TimestampType)) =>
        KeyRange.bandLong(col(field), dt)
      case _ => col(field)
    }
    c >= lit(lo) && c <= lit(hi)
  }
}

/** String prefix-band range under code-point order (Spark's string
  * comparison is the same UTF-8 binary order the bands use). */
final case class StrRange(field: String, lo: String, hi: String)
    extends KeyRange {
  private[sources] def residual(schema: StructType): Column =
    col(field) >= lit(lo) && col(field) <= lit(hi)
}

object KeyRange {
  /** A long-banded column's value in the band domain — what
    * [[Snapshots.indexStats]] records and [[LongRange]] bounds are
    * read in. Dates go through `unix_date`: a date → bigint cast is
    * an analysis error under ANSI (and null without it). */
  private[sources] def bandLong(c: Column, dt: DataType): Column =
    (if (dt == DateType) unix_date(c) else c).cast("long")
}
