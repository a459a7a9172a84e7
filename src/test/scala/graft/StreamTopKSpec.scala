package graft

import java.nio.file.Files
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamTopK

class StreamTopKSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("streaming per-window top-k equals the batch ranking exactly") {
    import spark.implicits._
    val batch = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .transform(graft.functions.TimeIndex.normalizeUs(_, "ts"))
      .select($"user_id", $"ts", $"value")
    val winUs = 86400000000L // daily windows
    val k = 3

    val dir = Files.createTempDirectory("graft_topk").toString
    batch.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(batch.schema).parquet(dir)

    val q = StreamTopK(spark, stream, winUs, k)
      .writeStream.outputMode("append").format("memory")
      .queryName("topk_test").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("topk_test")

    // the batch twin: same micro-unit sums, same (sum desc, id) ranking
    val mw = batch.select(
      (org.apache.spark.sql.graft.Bridge.fldiv($"ts", winUs) * winUs).as("w"),
      $"user_id", round($"value" * 1e6).cast("long").as("mv"))
    val agg = mw.groupBy($"w", $"user_id")
      .agg(count(lit(1)).as("n_events"), sum($"mv").as("s"))
    val rw = Window.partitionBy($"w").orderBy($"s".desc, $"user_id")
    // only windows the watermark (= max event time, ms) has closed emit
    val maxMs = batch.agg(max($"ts")).head.getLong(0) / 1000L
    val want = agg.withColumn("rank", row_number().over(rw))
      .where($"rank" <= k && ($"w" + winUs) / 1000L <= maxMs)
      .select($"w".as("window_start"), $"rank", $"user_id",
        $"n_events", ($"s".cast("double") / 1e6).as("sum_value"))

    assert(got.count() == want.count() && got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // every emitted window carries exactly k rows (rank 1..k)
    val badWindows = got.groupBy($"window_start")
      .agg(count(lit(1)).as("n"), max($"rank").as("mr"))
      .where($"n" =!= k || $"mr" =!= k).count()
    assert(badWindows == 0)
  }
}
