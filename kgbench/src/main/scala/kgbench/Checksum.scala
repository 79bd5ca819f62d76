package kgbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Row count plus an order-independent content hash. */
final case class Digest(rows: Long, hash: String) {
  override def toString: String = s"$rows:$hash"
}

/** Order-independent digests of query and pipeline outputs. Each row
  * is rendered to one string (columns in schema order, an explicit
  * null marker, floating-point columns rounded to 6 decimals so the
  * last-bit noise of reordered floating-point sums does not count as
  * a different result) and hashed with xxhash64; the digest is the
  * row count and the sum of the row hashes modulo 2^64. A sum, unlike
  * an XOR, keeps duplicate rows visible. One aggregate job, no sort. */
object Checksum {
  private val Null = "\u0000"
  private val Sep = "\u0001"

  private def render(df: DataFrame, name: String): Column = {
    val c = df(name)
    val s = df.schema(name).dataType match {
      case DoubleType | FloatType => format_string("%.6f", c.cast(DoubleType))
      case _ => c.cast("string")
    }
    coalesce(s, lit(Null))
  }

  def rowHash(df: DataFrame): Column =
    xxhash64(concat_ws(Sep, df.columns.toIndexedSeq.map(render(df, _)): _*))

  def of(df: DataFrame): Digest = ofAll(Seq(df))

  /** One digest over several frames of any schemas, in one job: the
    * row hashes of frame i are salted with i before summing. */
  def ofAll(dfs: Seq[DataFrame]): Digest = {
    val hashes = dfs.zipWithIndex.map { case (df, i) =>
      df.select(xxhash64(lit(i), rowHash(df)).cast("decimal(20,0)").as("h"))
    }
    val r = hashes.reduce(_ union _)
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0).cast("decimal(38,0)")))
      .head()
    Digest(r.getLong(0), fold(r.getDecimal(1)))
  }

  /** Sum of signed 64-bit row hashes, reduced modulo 2^64, as hex. */
  def fold(sum: java.math.BigDecimal): String =
    f"${sum.toBigInteger.mod(java.math.BigInteger.ONE.shiftLeft(64)).longValue()}%016x"
}
