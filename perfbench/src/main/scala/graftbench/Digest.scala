package graftbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/**
 * Order-independent digest of a whole result: the row count plus the sum
 * of a per-row xxhash64 over every output column, split into its high and
 * low 32-bit halves so that the long sums cannot overflow under ANSI mode.
 *
 * Every timed operation ends in this one aggregate instead of `.count()`:
 * a count lets Catalyst prune the columns (and the expressions behind
 * them) that nobody reads, while a hash over every column forces all of
 * them, and it doubles as the correctness check.
 */
final case class Digest(rows: Long, hi: Long, lo: Long) {
  override def toString: String = s"$rows:$hi:$lo"
}

object Digest {
  def parse(s: String): Digest = s.split(":") match {
    case Array(r, h, l) => Digest(r.toLong, h.toLong, l.toLong)
    case _ => throw new IllegalArgumentException(s"bad digest '$s'")
  }

  /** The one-row digest aggregate over `df` (columns renamed positionally,
    * so duplicate output names hash fine). */
  def frame(df: DataFrame): DataFrame = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h = xxhash64(named.columns.map(col).toIndexedSeq: _*)
    named.select(h.as("h")).agg(
      count(lit(1)),
      coalesce(sum(shiftrightunsigned(col("h"), 32)), lit(0L)),
      coalesce(sum(col("h").bitwiseAND(lit(0xffffffffL))), lit(0L)))
  }

  def of(r: Row): Digest = Digest(r.getLong(0), r.getLong(1), r.getLong(2))

  def compute(df: DataFrame): Digest = of(frame(df).collect()(0))
}
