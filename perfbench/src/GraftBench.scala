package graftbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.Properties
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.graftbench.Drain
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.{GraftSession, SparkEntry, Tables, Verify}
import graft.dq.{Between, Expectations, InSet, NotNull, Unique}
import graft.etl.{Bronze, EtlQueries, Loader}
import graft.streaming.Streaming

/** Minimal JSON writer for the result file (numbers, strings, maps, lists). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** One timed interval of the benchmark's own code. `pass` is the run-local
  * pass number, `step` the query or batch the span belongs to. */
final case class Span(id: Int, parent: Int, pass: Int, step: String, name: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans nest by call order; children of one span
  * never overlap (the benchmark's calls are sequential), so a span's self
  * time is its duration minus the sum of its children's. */
final class Tracer {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  def span[T](pass: Int, step: String, name: String)(body: => T): T = {
    val id = spans.size
    spans += Span(id, open.headOption.getOrElse(-1), pass, step, name, System.nanoTime(), 0L)
    open = id :: open
    try body
    finally {
      open = open.tail
      spans(id) = spans(id).copy(endNs = System.nanoTime())
    }
  }

  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum

  /** Σ self time of spans named `name` within `passes`. */
  def self(name: String, passes: Set[Int]): Double =
    spans.iterator.filter(s => s.name == name && passes(s.pass)).map(selfSeconds).sum

  def total(name: String, passes: Set[Int]): Double =
    spans.iterator.filter(s => s.name == name && passes(s.pass)).map(_.seconds).sum

  def write(path: String, runId: String): Unit = Files.writeString(Paths.get(path),
    spans.map { s =>
      Json(mutable.LinkedHashMap("run" -> runId, "pass" -> s.pass, "id" -> s.id,
        "parent" -> s.parent, "step" -> s.step, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    }.mkString("", "\n", "\n"))
}

/** Counters per job group. Active only in the traced run: it is registered
  * for traced passes and removed otherwise, and the benchmark sets a job
  * group around each phase only while it is registered. Micro-batch jobs
  * of the two streams carry the stream's query id instead of a group. */
final class LayerListener extends SparkListener {
  final class Acc {
    var jobs, stages, tasks, taskMs, gcMs, shuffleRead, shuffleWrite, spill, input = 0L
  }
  val acc = mutable.Map.empty[String, Acc]
  val streamNames = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val stageGroup = mutable.Map.empty[Int, String]
  private val tablesJobStart = mutable.Map.empty[Int, Long]
  var tablesJobs = 0L
  var tablesJobMs = 0L

  private def groupOf(p: Properties): String =
    Option(p).flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
      .map(q => streamNames.getOrDefault(q, "stream"))
      .orElse(Option(p).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))))
      .getOrElse("other")

  private def get(g: String): Acc = acc.getOrElseUpdate(g, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(e.properties)
    get(g).jobs += 1
    e.stageInfos.foreach(s => stageGroup(s.stageId) = g)
    // schema-inference and other jobs launched from inside Tables.load
    if (e.stageInfos.exists(_.details.contains("graft.Tables$.load"))) {
      tablesJobs += 1
      tablesJobStart(e.jobId) = e.time
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    tablesJobStart.remove(e.jobId).foreach(t => tablesJobMs += e.time - t)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    get(stageGroup.getOrElse(e.stageInfo.stageId, "other")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = get(stageGroup.getOrElse(e.stageId, "other"))
      a.tasks += 1
      a.taskMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.diskBytesSpilled
      a.input += m.inputMetrics.bytesRead
    }
  }

  def sum(prefix: String)(f: Acc => Long): Long = synchronized {
    acc.iterator.collect { case (g, a) if g == prefix || g.startsWith(prefix + "/") => f(a) }.sum
  }
}

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    dataDir: String, workDir: String, launchMs: Long, cores: Int)

object GraftBench {

  /** Packages a registry query's construction is attributed to. */
  val Packages = Seq("etl", "dq", "analytics", "text", "dedup", "ann", "graph",
    "pipeline", "streaming", "multimodal")

  /** `sweep_sf0.1`: for each package with at least 10 registry queries, its
    * median-cost query in the round-13 sf0.1 sweep (`bench_sf01_r13.json`),
    * with the package its registry entry calls into. Pinned, so the workload
    * does not change when the registry does. At sf0.1 fixed per-query cost
    * (loads, construction jobs, planning, scheduling) dominates. */
  val SweepSet: Seq[(String, String)] = Seq(
    "compaction_plan" -> "etl", "ks_drift" -> "dq", "stl_decompose" -> "analytics",
    "bpe_pairs" -> "text", "dup_spans" -> "dedup", "embed_outliers" -> "ann",
    "item_pagerank" -> "graph", "quantile_normalize" -> "pipeline")
  val PackageOf: Map[String, String] = SweepSet.toMap

  val EventsBatches = 100      // the seed cuts sf1 events into this many batches
  val IngestBatches = 7        // batches delivered per pass: the first 7 of the 100
  val RedeliverShare = 0.05    // re-delivered rows per batch, as a share of its size

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("data"), m("work"), m("launch-ms").toLong, m("cores").toInt)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    new File(a.workDir).mkdirs()
    val bench = new GraftBench(a)
    val result = try bench.run() finally bench.close()
    Files.writeString(Paths.get(a.workDir, "result.json"), Json(result))
  }
}

final class GraftBench(a: Args) {
  import GraftBench._

  private val tracer = new Tracer
  private val listener = new LayerListener
  private var spark: SparkSession = _
  private var traced = false
  private val failures = mutable.LinkedHashMap.empty[String, String]
  private val layers = mutable.LinkedHashMap.empty[String, Double]
  private var attempted = 0

  private def tables: Seq[String] =
    if (a.workload == "ingest_stream") Seq("events") else Tables.names

  /** Build the session and load every table the workload reads, so each
    * table's schema is resolved before the first query. */
  private def setUp(): Double = {
    val t0 = System.nanoTime()
    spark = GraftSession.build(s"local[${a.cores}]", "graftbench",
      dataDir = Some(a.dataDir), cores = a.cores)
    spark.sparkContext.setLogLevel("ERROR")
    val built = (System.nanoTime() - t0) / 1e9
    tables.foreach(t => Tables.load(spark, a.dataDir, t).schema)
    built
  }

  def close(): Unit = if (spark != null) spark.stop()

  private def group[T](g: String)(body: => T): T =
    if (!traced) body
    else {
      val sc = spark.sparkContext
      sc.setJobGroup(g, g, interruptOnCancel = false)
      try body finally sc.clearJobGroup()
    }

  private def sentinel(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    val r = spark.range(0L, 10000000L, 1L, a.cores).selectExpr("sum(hash(id)) AS h").head().getLong(0)
    if (x == r) println("") // keeps both results live
    (System.nanoTime() - t0) / 1e9
  }

  private def heapPeakMb(): Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  private def resetHeapPeak(): Unit =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).foreach(_.resetPeakUsage())

  private def note(msg: String): Unit =
    System.err.println(f"[graftbench] ${(System.currentTimeMillis() - a.launchMs) / 1000.0}%.1f s: $msg")

  private def fail(step: String, e: Throwable): Unit = {
    val cause = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.toSeq.headOption.getOrElse("").take(300)}"
    if (!failures.contains(step)) failures(step) = cause
    System.err.println(s"[graftbench] $step failed: $cause")
  }

  private def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default method). */
  private def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def run(): Map[String, Any] = {
    val setups = mutable.ArrayBuffer.empty[Double]
    val builds = mutable.ArrayBuffer.empty[Double]
    // set-up 1 counts from process launch; 2 and 3 stop and rebuild the
    // session in the same JVM, and setup_s is the median of the three
    for (i <- 0 until 3) {
      val t0 = System.nanoTime()
      if (spark != null) { spark.stop(); spark = null }
      builds += setUp()
      setups += (if (i == 0) (System.currentTimeMillis() - a.launchMs) / 1000.0
                 else (System.nanoTime() - t0) / 1e9)
    }
    note(s"set up: ${setups.mkString(", ")}")
    // Tables layer cost per load, outside any query (a per-layer metric)
    val loads = if (!a.trace) Seq.empty[Double] else tables.map { t =>
      val t0 = System.nanoTime(); Tables.load(spark, a.dataDir, t).schema
      (System.nanoTime() - t0) / 1e9
    }
    sentinel() // JIT warm-up of the sentinel itself
    val sentinelBefore = sentinel()
    resetHeapPeak()
    val (passTimes, stepTimes, passTraced, check) = a.workload match {
      case "sweep_sf0.1" => sweep(SweepSet.map(_._1))
      case "ingest_stream" => ingest()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    note("measured")
    val peak = heapPeakMb()
    val sentinelAfter = sentinel()

    val okSteps = stepTimes.filter { case (step, _) => !failures.contains(step) }
    val perStep = okSteps.map { case (_, ts) => median(ts.toSeq) }.toSeq
    val endToEnd = mutable.LinkedHashMap(
      "setup_s" -> median(setups.toSeq),
      "pass_s" -> median(passTimes.toSeq),
      "step_p50_s" -> median(perStep),
      "step_geomean_s" -> math.exp(perStep.map(math.log).sum / perStep.size))
    val tracedPasses = passTraced.zipWithIndex.collect { case (true, p) => p }.toSet
    layers ++= Seq(
      // 7 to 8 steps leave no sample beyond a tail percentile, so it is
      // not an end-to-end metric
      "step_p90_s" -> quantile(perStep, 0.9),
      "session.build_s" -> median(builds.toSeq),
      "setup.cold_s" -> setups.head,
      "host.sentinel_s" -> (sentinelBefore + sentinelAfter) / 2,
      "host.sentinel_drift" -> sentinelAfter / sentinelBefore,
      "peak_heap_mb" -> peak,
      "tables.load_s" -> median(loads))
    if (a.trace) traceLayers(tracedPasses, passTimes.toSeq, passTraced.toSeq, stepTimes.size)
    if (a.trace) tracer.write(Paths.get(a.workDir, "spans.jsonl").toString,
      s"${a.workload}-${a.seed}")
    Map("workload" -> a.workload, "seed" -> a.seed, "attempted" -> attempted,
      "failures" -> failures, "end_to_end" -> endToEnd, "layers" -> layers,
      "passes" -> passTimes.size, "steps" -> stepTimes.size,
      "step_runs" -> stepTimes.map { case (k, v) => k -> v.size },
      "step_s" -> stepTimes.map { case (k, v) => k -> v }, "check" -> check)
  }

  /** Per-layer metrics from the traced passes, each per pass. */
  private def traceLayers(tp: Set[Int], passTimes: Seq[Double], passTraced: Seq[Boolean],
      steps: Int): Unit = {
    Drain(spark.sparkContext)
    val n = tp.size.toDouble
    val l = listener
    def per(x: Double) = x / n
    val on = passTimes.zip(passTraced).collect { case (t, true) => t }
    val off = passTimes.zip(passTraced).collect { case (t, false) => t }
    layers("trace.overhead_frac") = median(on) / median(off) - 1
    layers("tables.load_jobs") = per(l.tablesJobs.toDouble)
    layers("tables.load_job_s") = per(l.tablesJobMs / 1000.0)
    val construct = tracer.self("construct", tp)
    val wall = tracer.total("query", tp) + tracer.total("batch", tp)
    layers("construct.s") = per(construct)
    layers("construct.jobs") = per(l.sum("construct")(_.jobs).toDouble)
    layers("construct.share") = if (wall > 0) construct / wall else 0.0
    for (p <- Packages) {
      layers(s"$p.s") = per(tracer.spans.iterator
        .filter(s => s.name == "construct" && tp(s.pass) && PackageOf.get(s.step).contains(p))
        .map(tracer.selfSeconds).sum)
      layers(s"$p.jobs") = per(l.sum(s"construct/$p")(_.jobs).toDouble)
    }
    layers("plan.s") = per(tracer.self("plan", tp))
    // execution: the noop write of a query, or a batch's Spark work (DQ,
    // bronze write and both streams' micro-batches)
    val execGroups = if (a.workload == "ingest_stream") Seq("dq", "load", "silver", "gold") else Seq("exec")
    def ex(f: l.Acc => Long): Long = execGroups.map(g => l.sum(g)(f)).sum
    val exec = execGroups.map(tracer.self(_, tp)).sum
    layers("exec.s") = per(exec)
    layers("exec.jobs") = per(ex(_.jobs).toDouble)
    layers("exec.stages") = per(ex(_.stages).toDouble)
    layers("exec.tasks") = per(ex(_.tasks).toDouble)
    layers("exec.task_s") = per(ex(_.taskMs) / 1000.0)
    layers("exec.gc_s") = per(ex(_.gcMs) / 1000.0)
    layers("exec.util") = if (exec > 0) ex(_.taskMs) / 1000.0 / (exec * a.cores) else 0.0
    layers("exec.shuffle_read_bytes") = per(ex(_.shuffleRead).toDouble)
    layers("exec.shuffle_write_bytes") = per(ex(_.shuffleWrite).toDouble)
    layers("exec.spill_bytes") = per(ex(_.spill).toDouble)
    layers("exec.input_bytes") = per(ex(_.input).toDouble)
    val allJobs = l.acc.values.map(_.jobs).sum.toDouble
    layers("jobs_per_step") = if (steps > 0) allJobs / n / steps else 0.0
    layers("wall_per_job_s") = if (allJobs > 0) wall / allJobs else 0.0
    layers("bronze.s") = per(tracer.self("bronze", tp) + tracer.self("load", tp))
    layers("dq.expectations_s") = per(tracer.self("dq", tp))
    layers("streaming.silver_s") = per(tracer.self("silver", tp))
    layers("streaming.gold_s") = per(tracer.self("gold", tp))
    layers("streaming.batch_jobs") = per((l.sum("silver")(_.jobs) + l.sum("gold")(_.jobs)).toDouble)
  }

  /** Whole passes over the workload's fixed steps within `seconds`: a pass
    * starts only if the previous one's duration still fits, so the count is
    * `max(1, floor(seconds / pass))`, stable from run to run. The traced run
    * makes at least three, untraced, traced, untraced, so the traced pass
    * sits between the two it is compared with. */
  private def passes(body: Int => Double): (mutable.ArrayBuffer[Double], mutable.ArrayBuffer[Boolean]) = {
    val times = mutable.ArrayBuffer.empty[Double]
    val tracedFlags = mutable.ArrayBuffer.empty[Boolean]
    val t0 = System.nanoTime()
    def fits = times.nonEmpty && (System.nanoTime() - t0) / 1e9 + times.last <= a.seconds
    var p = 0
    while (p == 0 || fits || (a.trace && p < 3)) {
      traced = a.trace && p % 2 == 1
      if (traced) spark.sparkContext.addSparkListener(listener)
      try times += body(p)
      finally if (traced) {
        Drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
      tracedFlags += traced
      traced = false
      p += 1
    }
    (times, tracedFlags)
  }

  private def sweep(set: Seq[String]) = {
    val fns = SparkEntry.queries
    // the untimed output check dumps every query for the DuckDB oracle
    // compare; it runs first, so it is also the measured passes' warm-up
    val checkDir = Paths.get(a.workDir, "verify").toString
    Verify.run(spark, a.dataDir, checkDir, fns.filter { case (q, _) => set.contains(q) },
      SparkEntry.oracleSql.filter { case (q, _) => set.contains(q) })
      .foreach { case (q, cause) => failures(q) = s"verify dump: $cause" }
    note("verify dump")
    val order = new scala.util.Random(a.seed).shuffle(set)
    val stepTimes = mutable.LinkedHashMap(order.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    val (times, flags) = passes { p =>
      var total = 0.0
      for (q <- order) {
        attempted += 1
        val t0 = System.nanoTime()
        try tracer.span(p, q, "query") {
          val pkg = PackageOf(q)
          val df = tracer.span(p, q, "construct")(group(s"construct/$pkg")(fns(q)(spark, a.dataDir)))
          tracer.span(p, q, "plan")(group("plan")(df.queryExecution.executedPlan))
          tracer.span(p, q, "exec")(group("exec")(df.write.format("noop").mode("overwrite").save()))
          val dt = (System.nanoTime() - t0) / 1e9
          stepTimes(q) += dt
          total += dt
        } catch { case e: Throwable => fail(q, e) }
      }
      total
    }
    (times, stepTimes, flags, Map("kind" -> "oracle", "dir" -> checkDir, "queries" -> set))
  }

  // ---- ingest_stream ----

  private val Suite = Seq(NotNull("event_id"), Unique("event_id"), NotNull("ts"),
    InSet("event_type", Seq("signup", "purchase", "view", "click", "error")),
    Between("value", 0.0, 1.0e6))

  /** Delivery plan over the events table: the first `IngestBatches` of
    * `EventsBatches` equal event_id ranges, each later batch re-delivering a
    * seeded sample of earlier ids (each at most once) with a changed value.
    * The window is fixed: a seeded window position changed a pass's cost by
    * up to 15 % from seed to seed. */
  private def deliveryPlan(nEvents: Long): Seq[(Long, Long, Seq[Long])] = {
    val rnd = new scala.util.Random(a.seed)
    val size = nEvents / EventsBatches
    val redeliver = math.round(size * RedeliverShare).toInt
    val used = mutable.HashSet.empty[Long]
    (0 until IngestBatches).map { b =>
      val lo = b * size
      val again =
        if (b == 0) Seq.empty[Long]
        else Iterator.continually((rnd.nextDouble() * b * size).toLong)
          .filter(used.add).take(redeliver).toSeq.sorted
      (lo, lo + size - 1, again)
    }
  }

  private def dirBytes(d: String): (Long, Int) = {
    val f = new File(d)
    if (!f.exists) (0L, 0)
    else {
      val files = org.apache.commons.io.FileUtils.listFiles(f, null, true).asScala
        .filter(x => !x.getName.startsWith(".") && !x.getName.startsWith("_"))
      (files.map(_.length).sum, files.size)
    }
  }

  private def ingest() = {
    val events = Tables.events(spark, a.dataDir)
    val nEvents = events.count()
    val plan = deliveryPlan(nEvents)
    val baseTs = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def batchDf(b: Int): DataFrame = {
      val (lo, hi, again) = plan(b)
      val fresh = events.filter(col("event_id").between(lo, hi))
      val all = if (again.isEmpty) fresh
        else fresh.unionByName(events.filter(col("event_id").isin(again: _*))
          .withColumn("value", col("value") + lit(1.0) + (col("event_id") % 7).cast("double")))
      // one file per delivery, so a stream never sees half a batch
      Bronze.withMetadata(all.coalesce(1), "events", f"b$b%04d", new java.sql.Timestamp(baseTs + b * 60000L))
    }
    val schema = batchDf(0).schema
    val stepTimes = mutable.LinkedHashMap((0 until IngestBatches).map(b => f"b$b%04d" -> mutable.ArrayBuffer.empty[Double]): _*)
    val progress = mutable.ArrayBuffer.empty[(String, Map[String, Long])]
    val passDirs = mutable.ArrayBuffer.empty[String]
    val restarts = mutable.ArrayBuffer.empty[Double]
    val lateOverEarly = mutable.ArrayBuffer.empty[Double]
    var delivered, bronzeBytes, bronzeFiles, storedBytes = 0L

    /** Deliver the plan's batches into fresh bronze, silver and gold
      * tables under `root`; returns each batch's time. */
    def deliver(p: Int, root: String, restartAfter: Int): Seq[(String, Double)] = {
      passDirs += root
      val bronze = s"$root/bronze"
      new File(bronze).mkdirs()
      def start(): (StreamingQuery, StreamingQuery) = {
        val src = spark.readStream.schema(schema).parquet(bronze)
        val s = Streaming.foreachBatchUpsert(src, s"$root/silver", s"$root/ck_silver")
        val g = Streaming.goldIncrementalStream(src, s"$root/gold", s"$root/ck_gold")
        listener.streamNames.put(s.id.toString, "silver")
        listener.streamNames.put(g.id.toString, "gold")
        (s, g)
      }
      def harvest(q: StreamingQuery, name: String): Unit =
        q.recentProgress.filter(_.numInputRows > 0).foreach { pr =>
          progress += name -> pr.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        }
      var (silverQ, goldQ) = start()
      val batchTimes = mutable.ArrayBuffer.empty[(String, Double)]
      for (b <- 0 until IngestBatches) {
        val step = if (p < 0) f"warmup/b$b%04d" else f"b$b%04d"
        attempted += 1
        val t0 = System.nanoTime()
        try tracer.span(p, step, "batch") {
          val df = tracer.span(p, step, "bronze")(batchDf(b))
          val failed = tracer.span(p, step, "dq")(group("dq")(
            Expectations.run(df, Suite).filter(!col("passed")).collect()))
          if (failed.nonEmpty) failures(step) = "dq: " + failed.map(r =>
            s"${r.getAs[String]("expectation")}(${r.getAs[String]("column")})=${r.getAs[Long]("violations")}").mkString(", ")
          tracer.span(p, step, "load")(group("load")(Loader.write(df, bronze, "batch")))
          tracer.span(p, step, "silver")(silverQ.processAllAvailable())
          tracer.span(p, step, "gold")(goldQ.processAllAvailable())
          batchTimes += step -> (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable => fail(step, e) }
        // stop both streams and restart them from their checkpoints
        // before the next delivery
        if (b == restartAfter) {
          val t1 = System.nanoTime()
          try {
            harvest(silverQ, "silver"); harvest(goldQ, "gold")
            silverQ.stop(); goldQ.stop()
            val (s, g) = start()
            silverQ = s; goldQ = g
            silverQ.processAllAvailable(); goldQ.processAllAvailable()
          } catch { case e: Throwable => fail("restart", e) }
          restarts += (System.nanoTime() - t1) / 1e9
        }
      }
      harvest(silverQ, "silver"); harvest(goldQ, "gold")
      silverQ.stop(); goldQ.stop()
      batchTimes.toSeq
    }

    // one untimed warm-up pass; it carries the run's one stream restart,
    // and its final state is checked like every measured pass
    deliver(-1, Paths.get(a.workDir, "ingest", "warmup").toString, restartAfter = IngestBatches / 2)
    progress.clear()
    val (times, flags) = passes { p =>
      val root = Paths.get(a.workDir, "ingest", s"pass$p").toString
      val timed = deliver(p, root, restartAfter = -1)
      timed.foreach { case (step, t) => stepTimes(step) += t }
      val batchTimes = timed.map(_._2)
      val tenth = math.max(1, batchTimes.size / 10)
      if (batchTimes.size >= 2)
        lateOverEarly += median(batchTimes.takeRight(tenth)) / median(batchTimes.take(tenth))
      delivered += plan.map { case (lo, hi, again) => hi - lo + 1 + again.size }.sum
      val (bb, bf) = dirBytes(s"$root/bronze")
      bronzeBytes += bb; bronzeFiles += bf
      storedBytes += bb + dirBytes(s"$root/silver")._1 + dirBytes(s"$root/gold")._1
      batchTimes.sum
    }
    val n = times.size.toDouble
    def prog(name: Option[String], key: String): Double = {
      val xs = progress.collect { case (s, d) if name.forall(_ == s) => d.getOrElse(key, 0L) / 1000.0 }
      if (xs.isEmpty) 0.0 else xs.sum / xs.size
    }
    layers ++= Seq(
      "ingest.rows_per_s" -> delivered / times.sum,
      "ingest.stored_bytes_ratio" -> storedBytes.toDouble / bronzeBytes,
      "ingest.late_over_early" -> median(lateOverEarly.toSeq),
      "loader.bytes_written" -> bronzeBytes / n,
      "loader.files" -> bronzeFiles / n,
      "streaming.add_batch_s" -> prog(None, "addBatch"),
      "streaming.wal_commit_s" -> prog(None, "walCommit"),
      "streaming.query_planning_s" -> prog(None, "queryPlanning"),
      "streaming.silver_trigger_s" -> prog(Some("silver"), "triggerExecution"),
      "streaming.gold_trigger_s" -> prog(Some("gold"), "triggerExecution"),
      "streaming.restart_s" -> median(restarts.toSeq))
    (times, stepTimes, flags, Map("kind" -> "ingest", "passes" -> passDirs,
      "gold_sql" -> EtlQueries.goldRollupSql))
  }
}
