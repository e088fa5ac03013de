package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions.{col, lit, to_date, unix_micros}
import org.apache.spark.sql.streaming.Trigger

import graft.{Q, Stage}
import graft.ingest.ArticlePipeline

/** The benchmark JVM. Runs one workload against the engine through its
  * public calls only, timing each op around the module calls, and writes
  * the raw measurements to `<work>/result.json`; `run.py` checks the
  * outputs and turns them into metrics.
  *
  * Run shape: one cold set-up {JVM start, build session, install the
  * engine, run one probe op}, then unmeasured warm-up passes (at least
  * `warm_passes`, and at least `warm_seconds` on the catalog workload),
  * then measured passes until `seconds` have elapsed (whole passes only).
  * With `trace` the measured passes come in pairs of one untraced pass
  * and one with the listeners registered (see `measure`).
  *
  * Usage: java -cp <classes> perfbench.Harness <config.json>
  */
object Harness {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  /** Epoch milliseconds on the monotonic clock, comparable with the
    * millisecond event times Spark's listeners report. */
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val modules: Seq[(String, Seq[Q])] = Seq(
    "relational" -> graft.relational.RelationalQueries.all,
    "functions" -> graft.functions.UdfQueries.all,
    "scalar" -> graft.scalar.ScalarFunctionQueries.all,
    "ingest" -> graft.ingest.IngestQueries.all,
    "dedup" -> graft.dedup.DedupQueries.all,
    "similarity" -> graft.similarity.SimilarityQueries.all,
    "text" -> graft.text.TextQueries.all,
    "multimodal" -> graft.multimodal.MultimodalQueries.all,
    "streaming" -> graft.streaming.StreamingQueries.all,
    "pipeline" -> graft.pipeline.PipelineQueries.all,
    "observability" -> graft.observability.ObservabilityQueries.all)

  final class Conf(n: JsonNode) {
    val workload: String = n.get("workload").asText
    val work: String = n.get("work").asText
    val seconds: Double = n.get("seconds").asDouble
    val trace: Boolean = n.get("trace").asBoolean
    val cpus: Int = n.get("cpus").asInt
    /** (entry name, data directory) in run order. */
    val entries: Seq[(String, String)] = n.path("entries").elements.asScala
      .map(e => e.get(0).asText -> e.get(1).asText).toSeq
    val probe: String = n.path("probe").asText("")
    val probeData: String = n.path("probe_data").asText("")
    val injectWrong: String = n.path("inject_wrong").asText("")
    val feed: String = n.path("feed").asText("")
    val feedPasses: Int = n.path("feed_passes").asInt(0)
    val warmSeconds: Double = n.path("warm_seconds").asDouble(0)
    val warmPasses: Int = n.path("warm_passes").asInt(1)
    val minPasses: Int = n.path("min_passes").asInt(1)
    val cycles: Int = n.path("cycles").asInt(0)
  }

  private val ArticleSource = "graft.sources.ArticleSourceProvider"

  // ---------------------------------------------------------------- state
  private var spark: SparkSession = _
  private var conf: Conf = _
  private var recorder: Option[Recorder] = None
  private val spans = mutable.ArrayBuffer[Map[String, Any]]()
  private var nextSpan = 0
  private var nextOp = 0

  private def span(op: Int, parent: Int, layer: String, name: String,
      start: Double, end: Double): Int = {
    val id = nextSpan
    nextSpan += 1
    if (recorder.isDefined)
      spans += Map("id" -> id, "parent" -> parent, "op" -> op, "layer" -> layer,
        "name" -> name, "start" -> start, "end" -> end)
    id
  }

  /** The same session settings as the engine's own Bench main. */
  private def buildSession(): SparkSession = SparkSession.builder()
    .master(s"local[${conf.cpus}]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", conf.cpus.toString)
    .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "512")
    .config("spark.rdd.compress", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.codegen.cache.maxEntries", "5000")
    .config("spark.cleaner.periodicGC.interval", "45s")
    .config("spark.local.dir", s"${conf.work}/tmp/local")
    .config("spark.sql.warehouse.dir", s"${conf.work}/tmp/warehouse")
    .config("spark.hadoop.hadoop.tmp.dir", s"${conf.work}/tmp/hadoop")
    .getOrCreate()

  // ------------------------------------------------------------------ ops
  /** One op's record: latency and its parts, the files it produced, and
    * the exception it threw, if any. */
  private def opRecord(kind: String, name: String, module: String, latency: Double,
      build: Double, exec: Double, out: String, err: Option[Throwable],
      extra: (String, Any)*): Map[String, Any] =
    Map("kind" -> kind, "name" -> name, "module" -> module, "latency_s" -> latency,
      "build_s" -> build, "exec_s" -> exec, "out" -> out,
      "error" -> err.map(e => s"${e.getClass.getName}: ${e.getMessage}").orNull) ++ extra

  /** Waits until the listeners have every event of the op, then adds the
    * planning phases of the DataFrame the op built. */
  private def drain(built: Option[QueryExecution]): Unit = recorder.foreach { r =>
    PerfbenchBus.drain(spark.sparkContext)
    built.foreach(r.built)
  }

  private def setOp(): Int = {
    val op = nextOp
    nextOp += 1
    recorder.foreach(_.op = op)
    op
  }

  /** A catalog entry: `q.fn` is the build, the parquet write of its result
    * is the exec; checkpoint blocks are released inside the op, as the
    * engine's Bench does. */
  private def runEntry(q: Q, module: String, out: String, data: String): Map[String, Any] = {
    val op = setOp()
    val t0 = now()
    var t1 = t0
    var t2 = t0
    var err: Option[Throwable] = None
    var built: Option[QueryExecution] = None
    try {
      var df = q.fn(spark, data)
      if (q.name == conf.injectWrong) df = df.limit(0)
      t1 = now()
      built = Some(df.queryExecution)
      df.write.mode("overwrite").parquet(out)
      t2 = now()
    } catch { case NonFatal(e) => err = Some(e) }
    finally Stage.release()
    val t3 = now()
    val root = span(op, -1, "op", q.name, t0, t3)
    span(op, root, module, "build", t0, t1)
    if (t2 > t1) span(op, root, module, "write", t1, t2)
    drain(built)
    opRecord("entry", q.name, module, (t3 - t0) / 1000, (t1 - t0) / 1000,
      (t2 - t1) / 1000, out, err, "data" -> data)
  }

  /** Backfill: page-cursor read of the whole history feed, parse filter,
    * date-partitioned JSON sink. */
  private def runBackfill(feed: String, out: String): Map[String, Any] = {
    val op = setOp()
    val t0 = now()
    var t1 = t0
    var t2 = t0
    var err: Option[Throwable] = None
    var built: Option[QueryExecution] = None
    try {
      val kept = ArticlePipeline.keepParsed(spark.read.format(ArticleSource)
        .option("path", s"$feed/history").load())
      t1 = now()
      built = Some(kept.queryExecution)
      ArticlePipeline.writeDatePartitioned(kept, out)
      t2 = now()
    } catch { case NonFatal(e) => err = Some(e) }
    val root = span(op, -1, "op", "backfill", t0, now())
    span(op, root, "ingest", "build", t0, t1)
    if (t2 > t1) span(op, root, "ingest", "write", t1, t2)
    drain(built)
    opRecord("backfill", "backfill", "ingest", (t2 - t0) / 1000, (t1 - t0) / 1000,
      (t2 - t1) / 1000, out, err)
  }

  private def listFiles(dir: String): Seq[String] = {
    val d = new File(dir)
    if (!d.exists) Nil
    else Files.walk(d.toPath).iterator.asScala.map(_.toFile)
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_")
        && !f.getPath.contains("_spark_metadata"))
      .map(_.getPath).toSeq.sorted
  }

  /** Incremental cycle k: append the staged pages to the live feed
    * (untimed), then one Trigger.AvailableNow run of the streaming source
    * into the date-partitioned file sink with a persistent checkpoint. */
  private def runCycle(feed: String, out: String, k: Int): Map[String, Any] = {
    val stage = new File(s"$feed/stage/c$k")
    val live = new File(s"$feed/live")
    live.mkdirs()
    val pages = Option(stage.listFiles).getOrElse(Array.empty[File]).sortBy(_.getName)
    val skip = if (conf.injectWrong == "cycle" && k == 0) 1 else 0
    pages.drop(skip).foreach { p =>
      Files.move(p.toPath, Paths.get(live.getPath, p.getName), StandardCopyOption.ATOMIC_MOVE)
    }
    val before = listFiles(s"$out/stream").toSet
    val op = setOp()
    val t0 = now()
    var t1 = t0
    var err: Option[Throwable] = None
    var endOffset = -1L
    try {
      val src = spark.readStream.format(ArticleSource)
        .option("path", live.getPath).load()
      val kept = ArticlePipeline.keepParsed(src).withColumn("ingest_date", to_date(col("ts")))
      val q = kept.writeStream.format("json").partitionBy("ingest_date")
        .option("checkpointLocation", s"$out/checkpoint")
        .option("path", s"$out/stream")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      t1 = now()
      endOffset = q.recentProgress.flatMap(_.sources.headOption)
        .flatMap(s => Option(s.endOffset).flatMap(_.trim.toLongOption))
        .foldLeft(-1L)(math.max)
    } catch { case NonFatal(e) => err = Some(e); t1 = now() }
    val root = span(op, -1, "op", s"cycle$k", t0, t1)
    span(op, root, "ingest", "cycle", t0, t1)
    drain(None)
    val landed = listFiles(s"$out/stream").filterNot(before)
    opRecord("cycle", "cycle", "ingest", (t1 - t0) / 1000, 0.0, (t1 - t0) / 1000, out, err,
      "cycle" -> k, "end_offset" -> endOffset, "files" -> landed)
  }

  /** The engine's own watermark after each cycle of a measured ingest
    * pass: `ArticlePipeline.nextWatermark` over every record the stream
    * has landed up to that cycle, in microseconds since the epoch; one
    * job per pass. Runs after the measured phase, outside every timed
    * region. */
  private def withWatermarks(p: Map[String, Any]): Map[String, Any] = {
    val ops = p("ops").asInstanceOf[Seq[Map[String, Any]]]
    val cycles = ops.filter(_("kind") == "cycle")
    val landedSoFar = cycles.scanLeft(Vector.empty[String])(
      _ ++ _("files").asInstanceOf[Seq[String]]).tail
    val perCycle = cycles.zip(landedSoFar).collect { case (o, files) if files.nonEmpty =>
      val landed = spark.read.schema("published_at STRING").json(files: _*)
      ArticlePipeline.nextWatermark(ArticlePipeline.keepParsed(landed)).select(
        lit(o("cycle").asInstanceOf[Int]).as("cycle"), unix_micros(col("new_watermark")))
    }
    val wm = perCycle.reduceOption(_ union _).toSeq.flatMap(_.collect().toSeq)
      .filterNot(_.isNullAt(1)).map(r => r.getInt(0) -> r.getLong(1)).toMap
    p + ("ops" -> ops.map(o =>
      if (o("kind") == "cycle") o + ("watermark_us" -> wm.get(o("cycle").asInstanceOf[Int])) else o))
  }

  // ---------------------------------------------------------------- passes
  private def byName(n: String): (Q, String) = modules.iterator
    .flatMap { case (m, qs) => qs.find(_.name == n).map(_ -> m) }
    .nextOption().getOrElse(sys.error(s"unknown catalog entry $n"))

  private lazy val catalog: Seq[(Q, String, String)] = conf.entries.map { case (n, data) =>
    val (q, m) = byName(n)
    (q, m, data)
  }

  private def cpuNanos(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** One pass over the workload's op set; `tag` names its output dir. */
  private def pass(tag: String, feedPass: String): Map[String, Any] = {
    val out = s"${conf.work}/out/$tag"
    val c0 = cpuNanos()
    val t0 = now()
    val ops = conf.workload match {
      case "ingest" =>
        val feed = s"${conf.feed}/$feedPass"
        runBackfill(feed, s"$out/backfill") +:
          (0 until conf.cycles).map(k => runCycle(feed, out, k))
      case _ =>
        catalog.map { case (q, m, data) => runEntry(q, m, s"$out/${q.name}", data) }
    }
    Map("tag" -> tag, "feed" -> feedPass, "wall_s" -> (now() - t0) / 1000,
      "cpu_s" -> (cpuNanos() - c0) / 1e9, "ops" -> ops)
  }

  /** Measured passes until `seconds` have elapsed and at least
    * `min_passes` have run (twice both when tracing), so a slow run does
    * not measure fewer ops and a lower tail percentile; ingest stops early
    * if the generated feed runs out. With
    * tracing, passes come in pairs of one untraced and one traced pass,
    * and the order within a pair alternates, so neither side always runs
    * in the warmer JVM; the tracing overhead is the median difference
    * within a pair. */
  private def measure(rec: Option[Recorder]): Seq[Map[String, Any]] = {
    val budget = conf.seconds * 1000 * (if (rec.isDefined) 2 else 1)
    val minPasses = conf.minPasses * (if (rec.isDefined) 2 else 1)
    val t0 = now()
    val out = mutable.ArrayBuffer[Map[String, Any]]()
    def feedLeft = conf.workload != "ingest" || out.size < conf.feedPasses
    def one(withListeners: Boolean, pair: Int): Unit = if (feedLeft) {
      System.gc() // the previous pass's garbage is not billed to this one
      val n = out.size
      val res = rec.filter(_ => withListeners) match {
        case Some(r) => traced(r, s"traced$n", s"pass$n")
        case None => pass(s"untraced$n", s"pass$n") + ("phase" -> "untraced")
      }
      out += res + ("pair" -> pair)
    }
    var pair = 0
    while ((out.size < minPasses || now() - t0 < budget) && feedLeft) {
      val tracedFirst = rec.isDefined && pair % 2 == 1
      one(tracedFirst, pair)
      if (rec.isDefined) one(!tracedFirst, pair)
      pair += 1
    }
    out.toSeq
  }

  private val layerTotals = mutable.LinkedHashMap[String, Double]()
  private var heapPeakMb = 0.0

  /** One pass with the listeners registered; JVM and codegen counters are
    * summed over traced passes only. */
  private def traced(rec: Recorder, tag: String, feedPass: String): Map[String, Any] = {
    rec.op = -1 // events of the untraced pass still queued are dropped
    spark.listenerManager.register(rec)
    spark.sparkContext.addSparkListener(rec)
    spark.streams.addListener(rec.streams)
    PerfbenchBus.drain(spark.sparkContext)
    recorder = Some(rec)
    heapPools.foreach(_.resetPeakUsage())
    val j0 = jvmCounters()
    val res = pass(tag, feedPass) + ("phase" -> "traced")
    PerfbenchBus.drain(spark.sparkContext)
    jvmCounters().foreach { case (k, v) => layerTotals(k) = layerTotals.getOrElse(k, 0.0) + v - j0(k) }
    heapPeakMb = math.max(heapPeakMb, heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0)
    recorder = None
    spark.streams.removeListener(rec.streams)
    spark.sparkContext.removeSparkListener(rec)
    spark.listenerManager.unregister(rec)
    res
  }

  // ------------------------------------------------------------ counters
  private def jvmCounters(): Map[String, Double] = {
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    val jit = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    Map("jvm.gc_s" -> gc / 1000.0, "jvm.jit_s" -> jit / 1000.0,
      "codegen.compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      "codegen.compile_s" -> CodeGenerator.compileTime / 1e9,
      "sources.pages_parsed" -> graft.sources.ArticleSource.pagesParsed.get.toDouble)
  }

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)

  /** Heap still in use after a full collection: what the session keeps. */
  private def liveHeapMb(): Double = {
    // the context cleaner frees shuffle and broadcast state only after a
    // collection finds it unreachable, so collect, let it run, collect again
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  // ---------------------------------------------------------------- main
  def main(args: Array[String]): Unit = {
    conf = new Conf(new ObjectMapper().readTree(new File(args(0))))
    val mainAt = now()
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    Seq("tmp/local", "tmp/warehouse", "tmp/hadoop", "out").foreach(d =>
      new File(s"${conf.work}/$d").mkdirs())

    // One cold set-up, as every run of the program pays it: JVM start,
    // session built, engine installed, one probe op done.
    val t0 = now()
    spark = buildSession()
    spark.sparkContext.setLogLevel("WARN")
    val t1 = now()
    graft.plans.GraftEngine.install(spark)
    val t2 = now()
    val probe = conf.workload match {
      case "ingest" => runBackfill(s"${conf.feed}/probe", s"${conf.work}/out/probe")
      case _ =>
        val (q, m) = byName(conf.probe)
        runEntry(q, m, s"${conf.work}/out/probe/${q.name}", conf.probeData)
    }
    val t3 = now()
    val setup = Map("jvm_start_s" -> (t0 - jvmStart) / 1000, "build_s" -> (t1 - t0) / 1000,
      "install_s" -> (t2 - t1) / 1000, "probe_s" -> (t3 - t2) / 1000,
      "total_s" -> (t3 - jvmStart) / 1000, "probe_error" -> probe("error"))

    // Unmeasured passes, so caches fill, lazy set-up finishes and the JIT
    // has compiled the hot paths: at least `warm_passes` of them and, on
    // the catalog workload, at least `warm_seconds`; ingest has exactly
    // `warm_passes` generated feeds for them.
    val w0 = now()
    val warm = mutable.ArrayBuffer[Map[String, Any]]()
    while (warm.size < conf.warmPasses ||
        (conf.workload != "ingest" && now() - w0 < conf.warmSeconds * 1000))
      warm += pass(s"warmup${warm.size}", s"warm${warm.size}")

    val rec = if (conf.trace) Some(new Recorder) else None
    val passes = measure(rec).map(p => if (conf.workload == "ingest") withWatermarks(p) else p)
    val layers = rec.map { r =>
      val (counts, listenerSpans) = r.snapshot()
      spans ++= listenerSpans
      counts ++ layerTotals ++ Map(
        "codegen.compile_ms_p50" -> CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMedian,
        "jvm.heap_peak_mb" -> heapPeakMb)
    }.getOrElse(Map.empty)

    val oracle = catalog.flatMap { case (q, _, _) => q.oracle.map(q.name -> _) }.toMap
    val result = Map(
      "workload" -> conf.workload,
      "main_at_s" -> (mainAt - jvmStart) / 1000,
      "setup" -> setup,
      "warmup" -> warm.toList,
      "heap_live_mb" -> liveHeapMb(),
      "passes" -> passes,
      "layers" -> layers,
      "spans" -> spans.toList,
      "oracle_sql" -> (if (conf.workload == "ingest") Map.empty else oracle),
      "peak_rss_mb" -> vmHwmMb())
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new File(s"${conf.work}/result.json"), result)
    spark.stop()
  }
}
