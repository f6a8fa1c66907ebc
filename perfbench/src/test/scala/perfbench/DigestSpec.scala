package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "3").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def frame = spark.range(1000).select(col("id"),
    (col("id") % 7).cast("int").as("k"), (col("id") / 3.0).as("x"),
    when(col("id") % 11 === 0, lit(null)).otherwise(col("id").cast("string")).as("s"),
    array(col("id").cast("double"), lit(0.5)).as("v"))

  test("the digest does not depend on row order or partitioning") {
    val d = Digest.of(frame)
    assert(d.rows == 1000)
    assert(Digest.of(frame.repartition(7)) == d)
    assert(Digest.of(frame.orderBy(col("x").desc)) == d)
    assert(Digest.of(frame.coalesce(1)) == d)
  }

  test("one changed value, a lost row or swapped columns change the digest") {
    val d = Digest.of(frame)
    assert(Digest.of(frame.withColumn("k", when(col("id") === 500, 9)
      .otherwise(col("k")))) != d)
    assert(Digest.of(frame.filter(col("id") =!= 3)) != d)
    assert(Digest.of(frame.select("id", "x", "k", "s", "v")) != d)
  }

  test("doubles agree up to summation-order noise, rounded to 6 decimals") {
    assert(Digest.rounded(0.1 + 0.2) == Digest.rounded(0.3))
    assert(Digest.rounded(1.0000004) != Digest.rounded(1.0000016))
    assert(Digest.rounded(-0.0) == Digest.rounded(0.0))
    val sums = spark.range(100).select((col("id") * 0.1).as("x"))
    assert(Digest.of(sums.agg(sum("x"))) ==
      Digest.of(sums.orderBy(col("x").desc).coalesce(1).agg(sum("x"))))
  }
}
