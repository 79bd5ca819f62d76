package kgbench

import org.scalatest.funsuite.AnyFunSuite

class ChecksumSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import TestSpark.spark.implicits._

  private val rows = Seq(("a", 1, 0.5), ("b", 2, 1.25), ("c", 3, -3.0), ("b", 2, 1.25))

  test("the digest does not depend on row order or partitioning") {
    val a = Checksum.of(rows.toDF("s", "i", "d"))
    val b = Checksum.of(rows.reverse.toDF("s", "i", "d").repartition(3))
    val c = Checksum.of(spark.createDataset(rows).toDF("s", "i", "d").coalesce(1).sort($"s".desc))
    assert(a == b && b == c)
    assert(a.rows == 4)
  }

  test("a changed, dropped or duplicated row changes the digest") {
    val base = Checksum.of(rows.toDF("s", "i", "d"))
    assert(Checksum.of(rows.updated(0, ("a", 1, 0.75)).toDF("s", "i", "d")) != base)
    assert(Checksum.of(rows.dropRight(1).toDF("s", "i", "d")).hash != base.hash)
    assert(Checksum.of((rows :+ rows.head).toDF("s", "i", "d")).hash != base.hash)
  }

  test("null and empty string are different values; column order matters") {
    val withNull = Checksum.of(Seq(("x", null: String)).toDF("a", "b"))
    val withEmpty = Checksum.of(Seq(("x", "")).toDF("a", "b"))
    assert(withNull != withEmpty)
    assert(Checksum.of(Seq(("x", "y")).toDF("a", "b")) != Checksum.of(Seq(("y", "x")).toDF("a", "b")))
  }

  test("floating-point noise below the sixth decimal is ignored") {
    val a = Checksum.of(Seq(0.1 + 0.2, 1.0 / 3).toDF("d"))
    val b = Checksum.of(Seq(0.3, 0.333333333333).toDF("d"))
    assert(a == b)
  }

  test("an empty frame has a stable digest") {
    assert(Checksum.of(Seq.empty[(String, Int)].toDF("a", "b")) == Digest(0, "0000000000000000"))
  }
}
