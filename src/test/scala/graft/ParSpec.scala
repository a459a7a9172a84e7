package graft

import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Par

/** [[Par]] is the parallelism policy every fan-out and spread site
  * shares: its width is the session's default parallelism, and fanout
  * must cost nothing on a frame that is already wide enough.
  */
class ParSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private def width = spark.sparkContext.defaultParallelism

  test("fanout repartitions a one-partition frame to default parallelism") {
    val narrow = spark.range(0, 100, 1, 1).toDF("id")
    val fanned = Par.fanout(narrow)
    assert(fanned.rdd.getNumPartitions == width)
    assert(fanned.count() == 100)
  }

  test("fanout is an identity on a frame already at full width") {
    val wide = spark.range(0, 100, 1, width + 1).toDF("id")
    val same = Par.fanout(wide)
    assert(same eq wide)
    assert(!same.queryExecution.executedPlan.toString().contains("Exchange"))
  }

  test("spread on columns hash-partitions on them at default parallelism") {
    val df = spark.range(0, 100).select((col("id") % 7).as("k"), col("id"))
    val spread = Par.spread(df, col("k"))
    spread.queryExecution.sparkPlan.outputPartitioning match {
      case HashPartitioning(exprs, n) =>
        assert(n == width)
        assert(exprs.map(_.references.map(_.name).toSeq) == Seq(Seq("k")))
      case other => fail(s"expected hash partitioning on k, got $other")
    }
    assert(spread.rdd.getNumPartitions == width)
  }
}
