package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import com.sun.management.GarbageCollectionNotificationInfo

import graft.{GraftSession, SparkEntry}
import graft.sources.Lake
import graft.streaming.StreamRollup

/** JVM side of the benchmark. One client, one process, closed loop: each
  * operation starts when the previous one ends. It writes one JSON record
  * (latencies, set-up times, heap, canaries and, when traced, per-layer
  * counters) that `run.py` turns into metrics after checking the outputs.
  *
  *   Main --workload training_pipelines --seed 1 --seconds 10 --trace 0
  *        --inputs DIR --work DIR --out FILE --stream-rows N
  *        [--ops a,b] [--inject-fail 1]
  */
object Main {

  final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        inputs: String, work: String, out: String,
                        ops: Option[Seq[String]], injectFail: Boolean, streamRows: Int)

  def parse(argv: Array[String]): Conf = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Conf(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("inputs"), m("work"), m("out"),
      m.get("ops").map(_.split(',').toSeq.filter(_.nonEmpty)),
      m.get("inject-fail").contains("1"), m("stream-rows").toInt)
  }

  /** Set-ups per run; `setup_s` takes their median. */
  val SetupReps = 3

  val Cores: Int = Runtime.getRuntime.availableProcessors()

  /** The factory users call, at local[nproc]. */
  def session(): SparkSession = {
    val s = GraftSession.local(Cores)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Fixed Spark leg with no I/O, timed after the set-up and again after
    * the timed phase: a closing value far above the opening one marks a
    * run whose box drifted.
    */
  def canary(spark: SparkSession): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 10000000L, 1L, Cores)
        .agg(sum(pmod(xxhash64(col("id")), lit(1000000L))).as("h"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    Seq(once(), once(), once()).sorted.apply(1)
  }

  /** Largest heap in use right after a collection during the timed
    * phase (0 if none ran): the high-water mark of what the work keeps
    * alive. Usage before a collection would only track the heap size, as
    * the heap fills up with garbage before each one.
    */
  final class HeapPeak extends NotificationListener {
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .collect { case e: NotificationEmitter => e }.toSeq
    @volatile private var maxBytes = 0L

    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        maxBytes = math.max(maxBytes, used)
      }

    def install(): Unit = emitters.foreach(_.addNotificationListener(this, null, null))

    /** Stops listening; returns the peak in bytes. */
    def uninstall(): Long = {
      emitters.foreach(_.removeNotificationListener(this))
      maxBytes
    }
  }

  /** Heap in use after full GCs. Each GC lets Spark's cleaner drop what
    * it released, which frees more at the next one, so GCs repeat (up to
    * eight) until the heap shrinks by less than 1 MB.
    */
  def liveHeapBytes(): Long = {
    def used(): Long = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed }
    var prev = used()
    var rounds = 1
    var done = false
    while (!done && rounds < 8) {
      Thread.sleep(200)
      val now = used()
      rounds += 1
      done = prev - now < 1000000L
      prev = math.min(prev, now)
    }
    prev
  }

  final case class OpResult(id: String, name: String, pass: Int, latS: Double,
                            ok: Boolean, err: String, layers: Map[String, Double])

  /** What every workload does: set up, warm, run timed, report. */
  trait Workload {
    def setUp(spark: SparkSession, rep: Int): Unit
    /** Untimed: runs the operations until JIT and codegen are warm. */
    def warm(spark: SparkSession): Unit
    /** Runs the timed passes; returns the operations in order. */
    def timed(spark: SparkSession, trace: Option[Trace]): Seq[OpResult]
    def record: Map[String, Any]
    def close(): Unit = ()
  }

  private val jvmStart = System.nanoTime()
  private def phase(name: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - jvmStart) / 1e9}%.1fs $name done")

  def main(argv: Array[String]): Unit = {
    val c = parse(argv)
    val wl: Workload = c.workload match {
      case "training_pipelines" => new Registry(c)
      case "stream_ingest" => new Stream(c)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // Session start and input generation repeat, so their median is
    // steady; the warm-up (first use of every operation, and of any
    // per-dataset cache) runs once after the last of them.
    val setups = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    for (rep <- 0 until SetupReps) {
      val t0 = System.nanoTime()
      if (spark != null) { wl.close(); spark.stop() }
      spark = session()
      wl.setUp(spark, rep)
      setups += (System.nanoTime() - t0) / 1e9
    }
    phase("set-up")
    val w0 = System.nanoTime()
    wl.warm(spark)
    val warmS = (System.nanoTime() - w0) / 1e9
    phase("warm-up")
    val canaryOpen = canary(spark)
    phase("opening canary")

    val trace = if (c.trace) Some(new Trace(spark, c.workload)) else None
    trace.foreach(_.install())
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    val heapPeak = new HeapPeak
    heapPeak.install()
    val gc0 = gcs.map(_.getCollectionTime).sum
    val ops = wl.timed(spark, trace)
    phase("timed phase")
    val gcS = (gcs.map(_.getCollectionTime).sum - gc0) / 1e3
    val heapPeakMb = heapPeak.uninstall() / 1e6
    trace.foreach(_.uninstall())
    val heapLiveMb = liveHeapBytes() / 1e6
    val canaryClose = canary(spark)
    phase("closing canary")
    val spans = trace.map(_.spans.asScala.toSeq).getOrElse(Nil)
    wl.close()
    spark.stop()
    phase("stop")

    val rec = Map[String, Any](
      "workload" -> c.workload, "seed" -> c.seed, "nproc" -> Cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1e6,
      "setup_s" -> setups.toSeq, "warm_s" -> warmS,
      "canary_open_s" -> canaryOpen, "canary_close_s" -> canaryClose,
      "heap_live_mb" -> heapLiveMb, "heap_peak_mb" -> heapPeakMb, "gc_s" -> gcS,
      "ops" -> ops.map(o => Map[String, Any]("id" -> o.id, "name" -> o.name,
        "pass" -> o.pass, "lat_s" -> o.latS, "ok" -> o.ok, "err" -> o.err,
        "layers" -> o.layers)),
      "spans" -> spans.map(s => Map[String, Any]("id" -> s.id, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "children" -> s.children.map { case (k, a, b) =>
          Map[String, Any]("kind" -> k, "start_ms" -> a, "end_ms" -> b) }))
    ) ++ wl.record
    Files.writeString(Paths.get(c.out), Json.write(rec))
  }

  /** Times one operation: its span, and the child spans it opened. */
  final class Clock(val id: String) {
    private val t0n = System.nanoTime()
    private val t0ms = System.currentTimeMillis().toDouble
    private val kids = mutable.ArrayBuffer[(String, Double, Double)]()
    private var mark = t0n
    def nowMs: Double = t0ms + (System.nanoTime() - t0n) / 1e6
    /** Closes a child span that began where the previous one ended. */
    def child(kind: String): Unit = {
      val n = System.nanoTime()
      kids += ((kind, t0ms + (mark - t0n) / 1e6, t0ms + (n - t0n) / 1e6))
      mark = n
    }
    def span: OpSpan = OpSpan(id, t0ms, nowMs, kids.toSeq)
    def elapsedS: Double = (System.nanoTime() - t0n) / 1e9
  }

  def errText(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.take(1).mkString.take(300)

  /** java.util.Random's first draws barely differ between nearby seeds,
    * so the seed is mixed first: seeds 1, 2, 3 give unrelated orders.
    */
  def shuffled[A](xs: Seq[A], seed: Long): Seq[A] =
    new scala.util.Random(new java.util.SplittableRandom(seed).nextLong()).shuffle(xs)

  /** The timed phase is a whole number of passes, fixed by `seconds` and
    * the nominal length of one pass on a 4-core box, not by the clock:
    * every run then times the same work, however fast the box is.
    */
  val NominalPassS = 3.5
  def passes(seconds: Double): Int = math.max(1, math.round(seconds / NominalPassS).toInt)

  // ------------------------------------------------------------------ registry

  /** `training_pipelines`: registry queries through
    * `SparkEntry.queries(name)(spark, dir)`, each forced through the noop
    * writer. The first warm pass writes every result as parquet for the oracle
    * compare, so correctness is checked outside the timed pass.
    */
  final class Registry(c: Conf) extends Workload {
    val names: Seq[String] = {
      val all = SparkEntry.queries.keySet
      val chosen = c.ops.getOrElse(TrainingOps)
      val unknown = chosen.filterNot(all.contains)
      require(unknown.isEmpty, s"not registered: ${unknown.mkString(", ")}")
      shuffled(chosen, c.seed) ++ (if (c.injectFail) Seq(InjectedFail) else Nil)
    }
    private var dir = ""
    private val dumps = Paths.get(c.work, "dumps")

    def setUp(spark: SparkSession, rep: Int): Unit = {
      // a fresh copy per set-up, so per-dataset caches are rebuilt too
      val d = Paths.get(c.work, s"inputs$rep")
      Files.createDirectories(d)
      Files.list(Paths.get(c.inputs)).iterator().asScala
        .filter(_.toString.endsWith(".parquet"))
        .foreach(f => Files.copy(f, d.resolve(f.getFileName)))
      dir = d.toString
    }

    def run(spark: SparkSession, name: String): DataFrame =
      if (name == InjectedFail) {
        Thread.sleep(50)
        throw new IllegalStateException("injected failure")
      } else SparkEntry.queries(name)(spark, dir)

    /** Warm passes. The first writes every result for the oracle
      * compare; latency keeps falling for about four passes while the JIT
      * compiles graft's loops, so the timed passes start after the fourth.
      */
    val WarmPasses = 4

    def warm(spark: SparkSession): Unit = for (pass <- 1 to WarmPasses; n <- names) {
      try {
        val w = run(spark, n)
        if (pass == 1) w.coalesce(1).write.mode("overwrite").parquet(dumps.resolve(n).toString)
        else w.write.format("noop").mode("overwrite").save()
      } catch {
        case e: Throwable => if (pass == 1) System.err.println(s"[perfbench] warm $n: ${errText(e)}")
      }
    }

    def timed(spark: SparkSession, trace: Option[Trace]): Seq[OpResult] = {
      val out = mutable.ArrayBuffer[OpResult]()
      val sc = spark.sparkContext
      for (pass <- 1 to passes(c.seconds)) {
        names.foreach { n =>
          val id = s"${c.workload}:$pass:$n"
          sc.setJobGroup(id, id)
          trace.foreach(_.currentOp = id)
          val clock = new Clock(id)
          var analysisMs = 0.0
          val err = try {
            val df = run(spark, n)
            clock.child("entry")
            df.write.format("noop").mode("overwrite").save()
            clock.child("write")
            // the DataFrame was analyzed when the builder created it
            analysisMs = df.queryExecution.tracker.phases.get("analysis")
              .map(_.durationMs.toDouble).getOrElse(0.0)
            ""
          } catch { case e: Throwable => errText(e) }
          val lat = clock.elapsedS
          val span = clock.span
          val layers = trace.map { t =>
            val l = t.attributeRegistry(span)
            l.updated("plan.analysis_ms", l("plan.analysis_ms") + analysisMs)
          }.getOrElse(Map.empty)
          out += OpResult(id, n, pass, lat, err.isEmpty, err, layers)
        }
      }
      sc.clearJobGroup()
      out.toSeq
    }

    def record: Map[String, Any] = Map(
      "dumps" -> dumps.toString, "inputs_dir" -> dir,
      "oracle_sql" -> SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) })
  }

  val InjectedFail = "__injected_fail"

  /** training_pipelines: doc queries whose work is in eager builder loops
    * (BPE merges, connected components, classifier training),
    * localCheckpoint, Par.fanout and the native hash expressions; two of
    * them regressed in round 16.
    */
  val TrainingOps: Seq[String] = Seq(
    "doc_bpe_train", "doc_classify_trained", "doc_dedup_cluster", "doc_dedup_ngram_jaccard")

  // -------------------------------------------------------------------- stream

  /** `stream_ingest`: seeded micro-batches landed one at a time in a file
    * source read by two running queries, a `StreamRollup.fixedWindow`
    * into a parquet sink and `Lake.streamAppendDaily`. One operation is:
    * land a batch, then both queries return from `processAllAvailable`.
    */
  final class Stream(c: Conf) extends Workload {
    /** Batches per pass: wall_s is the time to ingest this many. */
    val StreamPass = 3
    /** Untimed batches first: latency keeps falling over about eight
      * while the JIT warms up.
      */
    val StreamWarm = 8
    private var base: Path = _
    private var files: IndexedSeq[Path] = IndexedSeq.empty
    private var next = 0
    private var rollup: StreamingQuery = _
    private var lake: StreamingQuery = _

    def setUp(spark: SparkSession, rep: Int): Unit = {
      base = Paths.get(c.work, s"stream$rep")
      val stage = base.resolve("stage")
      val batches = StreamWarm + passes(c.seconds) * StreamPass
      StreamGen.write(spark, c.seed, batches, c.streamRows, stage.toString)
      files = (0 until batches).map { b =>
        Files.list(stage.resolve(s"b=$b")).iterator().asScala
          .filter(_.toString.endsWith(".parquet")).toSeq.head
      }
      next = 0
      val src = base.resolve("src")
      Files.createDirectories(src)
      val stream = spark.readStream.schema(StreamGen.schema).parquet(src.toString)
      rollup = StreamRollup.fixedWindow(stream, "ts", Seq("user_id"), StreamGen.Window,
          StreamGen.Watermark, Seq(count(lit(1)).as("n"), sum("value").as("sum_value"),
            min("value").as("min_value"), max("value").as("max_value")))
        .writeStream.format("parquet").outputMode("append")
        .option("path", base.resolve("rollup").toString)
        .option("checkpointLocation", base.resolve("ck_rollup").toString)
        .start()
      lake = Lake.streamAppendDaily(stream, "ts", base.resolve("lake").toString,
        base.resolve("ck_lake").toString)
    }

    private def land(): Unit = {
      val f = files(next)
      Files.move(f, base.resolve("src").resolve(f"b$next%05d.parquet"),
        StandardCopyOption.ATOMIC_MOVE)
      next += 1
    }

    private def step(): Unit = { lake.processAllAvailable(); rollup.processAllAvailable() }

    def warm(spark: SparkSession): Unit = (0 until StreamWarm).foreach { _ => land(); step() }

    def timed(spark: SparkSession, trace: Option[Trace]): Seq[OpResult] = {
      val out = mutable.ArrayBuffer[OpResult]()
      if (trace.isDefined) lakeDelta()
      for (pass <- 1 to passes(c.seconds); _ <- 0 until StreamPass)
        out += batch(pass, trace)
      out.toSeq
    }

    private def batch(pass: Int, trace: Option[Trace]): OpResult = {
      val id = s"${c.workload}:$pass:batch${next}"
      trace.foreach(_.currentOp = id)
      val clock = new Clock(id)
      val err = try { land(); clock.child("land"); step(); "" }
        catch { case e: Throwable => errText(e) }
      val lat = clock.elapsedS
      val span = clock.span
      val layers = trace.map { t =>
        // the last progress event of a trigger can trail processAllAvailable
        Thread.sleep(20)
        val l = t.attributeStream(span, rollup.id.toString, lake.id.toString)
        l ++ lakeDelta()
      }.getOrElse(Map.empty)
      OpResult(id, "batch", pass, lat, err.isEmpty, err, layers)
    }

    private var lakeSeen = (0L, 0L)
    /** Files and bytes the lake gained since the previous call. */
    private def lakeDelta(): Map[String, Double] = {
      val root = base.resolve("lake")
      val fs = if (!Files.exists(root)) Nil else Files.walk(root).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet")).toSeq
      val now = (fs.size.toLong, fs.map(Files.size).sum)
      val d = Map("sources.lake_files_written" -> (now._1 - lakeSeen._1).toDouble,
        "sources.lake_mb_written" -> (now._2 - lakeSeen._2) / 1e6)
      lakeSeen = now
      d
    }

    def record: Map[String, Any] = {
      val wm = Option(rollup.lastProgress).flatMap(p => Option(p.eventTime.get("watermark")))
        .map(s => java.time.Instant.parse(s).toEpochMilli).getOrElse(0L)
      Map("stream_dir" -> base.toString, "batches_landed" -> next,
        "final_watermark_ms" -> wm, "window_us" -> StreamGen.WindowUs,
        "watermark_us" -> StreamGen.WatermarkUs)
    }

    override def close(): Unit = {
      Seq(rollup, lake).filter(_ != null).foreach(_.stop())
    }
  }
}
