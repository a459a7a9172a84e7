package graft

import org.apache.spark.sql.SparkSession

/** Opinionated SparkSession factory with the configuration graft's
  * operators assume, sized for either local iteration or a real
  * cluster.
  *
  * Cluster posture (the knobs that matter at 100 TB):
  *  - AQE on: runtime coalescing of the static shuffle-partition count,
  *    skew-join splitting for hot series keys, dynamic broadcast demotion
  *  - shuffle partitions ~2-3x total executor cores (AQE coalesces down;
  *    too few cannot be split up without AQE skew handling)
  *  - UTC session timezone: graft's index strings and the wire format
  *    are UTC by contract (pypond/index.py renders UTC)
  */
object GraftSession {

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession =
    configure(SparkSession.builder().master(s"local[$cores]"), cores * 2)
      .getOrCreate()

  /** Apply graft's required/recommended confs to any builder. */
  def configure(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.config("spark.sql.extensions", "org.apache.spark.sql.graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // events-style nanosecond parquet reads as epoch-ns longs
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** The session every graft main runs on: `local[c]` with `c` shuffle
    * partitions, where `c` is `SPARK_GRAFT_CPUS` or, when unset, the
    * machine's core count.
    */
  def fromEnv(): SparkSession = {
    val cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val s = configure(SparkSession.builder().master(s"local[$cores]"), cores)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
