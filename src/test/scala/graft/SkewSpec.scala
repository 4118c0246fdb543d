package graft

import graft.api.Columns
import graft.store.{ByKey, ByKeySalted}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** North-rule skew handling: salted range partitioning must spread a hot
  * key over partitions where plain range partitioning puts it in one.
  */
class SkewSpec extends AnyFunSuite {
  import SparkTestBase._

  private def skewedDf(n: Int) = {
    // 90% of rows share one key (the "skewed source" shape)
    val rows = (0 until n).map { i =>
      val k = if (i % 10 == 0) s"k$i" else "hot"
      Row(k, i.toLong)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4),
      StructType(Seq(StructField("k", StringType, nullable = false),
        StructField("v", LongType, nullable = false))))
  }

  private def partSizes(c: Columns): Seq[Long] =
    c.store.snapshot.partOffsets.map(_._4).filter(_ > 0)

  test("salting spreads a hot key; plain range partitioning cannot") {
    val n = 8000
    val plain = Columns.fromDataFrame(spark, tmpDir("graft-skew-p"),
      skewedDf(n), ByKey("k", 8))
    val salted = Columns.fromDataFrame(spark, tmpDir("graft-skew-s"),
      skewedDf(n), ByKeySalted("k", 8, 8))
    val pMax = partSizes(plain).max
    val sMax = partSizes(salted).max
    // plain: the hot key's 7200 rows land in one range partition
    assert(pMax >= n * 9 / 10, s"expected hot partition, got $pMax")
    // salted: hot key split across salt buckets — max partition much smaller
    assert(sMax <= n / 2, s"salting failed to spread: max=$sMax sizes=${partSizes(salted)}")
    // both preserve the data exactly
    assert(plain.read().count() == n && salted.read().count() == n)
    val sumP = plain.read(Seq("v")).agg(org.apache.spark.sql.functions.sum("v"))
      .collect()(0).getLong(0)
    val sumS = salted.read(Seq("v")).agg(org.apache.spark.sql.functions.sum("v"))
      .collect()(0).getLong(0)
    assert(sumP == sumS && sumP == (0 until n).map(_.toLong).sum)
    plain.dropStore()
    salted.dropStore()
  }
}
