package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded event batches for `stream_ingest`, built with plain Spark
  * functions (no graft code), one parquet file per batch.
  *
  * Batch b covers three minutes of event time, so a run of ten batches
  * closes a few 5-minute windows behind the 10-minute watermark. About 3% of its events are
  * late by up to half the watermark delay and must be kept; from batch 1
  * on, about 1% are half an hour behind the watermark and must be
  * dropped. Values are whole numbers, so sums are exact in any order.
  */
object StreamGen {
  val Window = "5m"
  val Watermark = "10 minutes"
  val WindowUs: Long = 5L * 60 * 1000000
  val WatermarkUs: Long = 10L * 60 * 1000000
  val BatchUs: Long = 3L * 60 * 1000000
  val T0: Long = 1735689600000000L // 2025-01-01T00:00:00Z
  val Users = 20000

  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("value", DoubleType)))

  def write(spark: SparkSession, seed: Long, batches: Int, rows: Int, dir: String): Unit = {
    def h(salt: Int) = xxhash64(lit(seed), lit(salt), col("id"))
    val b = (col("id") / rows).cast("long")
    val onTime = lit(T0) + b * BatchUs + pmod(h(1), lit(BatchUs))
    val cls = pmod(h(2), lit(100L))
    val ts = when(cls < 3, onTime - pmod(h(3), lit(WatermarkUs / 2)))
      .when(cls === 3 && b >= 1, lit(T0) + b * BatchUs - WatermarkUs - 30L * 60 * 1000000)
      .otherwise(onTime)
    spark.range(0L, batches.toLong * rows, 1L, math.max(1, batches / 4))
      .select(col("id").as("event_id"), ts.as("ts"),
        pmod(h(4), lit(Users.toLong)).as("user_id"),
        pmod(h(5), lit(10000L)).cast("double").as("value"), b.as("b"))
      .repartition(col("b"))
      .write.partitionBy("b").parquet(dir)
  }
}
