package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private def frame = spark.range(0, 5000).selectExpr("id",
    "cast(id * 0.1 as double) as x", "array(id, id + 1) as a",
    "map('k', id) as m", "named_struct('s', cast(id as string)) as st",
    "if(id % 7 = 0, null, id) as n")

  test("digest is stable across two runs and ignores row order and partitioning") {
    val a = Batch.digest(frame)
    val b = Batch.digest(frame)
    val c = Batch.digest(frame.repartition(7).orderBy(org.apache.spark.sql.functions.rand(1)))
    assert(a == b)
    assert(a == c)
    assert(a._1 == 5000L)
  }

  test("digest sees one changed cell, a dropped row and a duplicated row") {
    val base = Batch.digest(frame)
    assert(Batch.digest(frame.selectExpr("id", "if(id = 42, x + 1, x) as x", "a", "m", "st", "n")) != base)
    assert(Batch.digest(frame.filter("id <> 3")) != base)
    assert(Batch.digest(frame.union(frame.filter("id = 3"))) != base)
  }
}
