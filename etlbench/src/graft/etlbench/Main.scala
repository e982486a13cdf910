package graft.etlbench

import java.io.File
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import org.json4s.{DefaultFormats, Extraction, JArray, JNull, JObject, JValue}
import org.json4s.jackson.JsonMethods.compact

import graft.etl.{ActivityPipeline, StravaEtl, StravaSchemas}
import graft.operators.{Interpolation, TriangularRolling}
import graft.sources.StravaJsonSource

/** One workload's input files, sink and (incremental) seeded history. */
final class Inputs(val ds: Dataset, dir: File) {
  val activities = new File(dir, "activities.jsonl")
  val streams = new File(dir, "streams.jsonl")
  val sink = new File(dir, "sink")
  private val history = new File(dir, "history_activities.jsonl")
  private val noStreams = new File(dir, "no_streams.jsonl")
  private val snapshot = new File(dir, "history_sink")

  /** Writes the files the program reads; returns their bytes. */
  def write(): Long = {
    val hist = ds.activities.filter(_.history)
    Gen.writeActivities(ds, ds.activities, activities) + Gen.writeStreams(ds.activities, streams) +
      (if (hist.isEmpty) 0L else Gen.writeActivities(ds, hist, history) + Gen.writeStreams(Nil, noStreams))
  }

  /** Loads the history into a sink snapshot, through the program
    * itself. History rows are loaded without streams: the timed run
    * reads only their `username` and `epoch`. */
  def seedHistory(spark: SparkSession): Unit = if (history.exists()) {
    Io.delete(snapshot)
    StravaEtl.addHistoryData(spark, history.getPath, noStreams.getPath, snapshot.getPath, ds.nowEpoch)
  }

  /** The sink as it is before a run: empty, or the seeded history. */
  def resetSink(): Unit = {
    Io.delete(sink)
    if (snapshot.exists()) Io.copy(snapshot, sink)
  }

  def run(spark: SparkSession): Unit =
    StravaEtl.addHistoryData(spark, activities.getPath, streams.getPath, sink.getPath, ds.nowEpoch)
}

object Io {
  def delete(f: File): Unit = if (f.exists()) {
    val paths = Files.walk(f.toPath)
    try paths.iterator().asScala.toSeq.reverse.foreach(p => Files.delete(p))
    finally paths.close()
  }

  def copy(from: File, to: File): Unit = {
    val src = from.toPath
    val paths = Files.walk(src)
    try paths.iterator().asScala.foreach { p =>
      val q = to.toPath.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q, StandardCopyOption.COPY_ATTRIBUTES)
    } finally paths.close()
  }

  /** Parquet data files under `dir`, with their sizes. */
  def dataFiles(dir: File): Map[Path, Long] =
    if (!dir.exists()) Map.empty
    else {
      val paths = Files.walk(dir.toPath)
      try paths.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
        .map(p => p -> Files.size(p)).toMap
      finally paths.close()
    }
}

/** Independent output check: row and sample totals from the generator,
  * and the 33 maxima of a seeded subset against [[Reference]]. */
final class Check(ds: Dataset, seed: Long) {
  /** |got - want| <= AbsTol + RelTol * |want|. The program's rolling
    * kernel differences prefix sums, which loses a few ulps of the
    * running sums on long activities. */
  val AbsTol = 1e-3
  val RelTol = 1e-6

  private val subset: Seq[Activity] = {
    val fresh = ds.fresh.filter(_.valid)
    val special = Seq[Activity => Boolean](_.streams.isEmpty, _.bypass,
      _.streams.exists(_.heartrate.isEmpty),
      _.streams.exists(_.watts.exists(w => w.exists(_ < 0))))
      .flatMap(p => fresh.find(p))
    (special ++ new Random(seed ^ 0x5eed).shuffle(fresh).take(6)).distinct
  }
  private val expected: Map[Long, IndexedSeq[Option[Double]]] =
    subset.map(a => a.id -> Reference.maxima(a)).toMap

  def subsetSize: Int = subset.size

  /** None when the sink is right, else what is wrong. One scan of the
    * sink: every row's id and stream length, and the maxima of the
    * subset's rows. */
  def apply(spark: SparkSession, sinkPath: String): Option[String] = try {
    val rows = spark.read.parquet(sinkPath)
      .select(col("id"), size(col("streams")),
        when(col("id").isin(expected.keys.toSeq: _*), col("maxs").getItem(0)))
      .collect()
    val samples = rows.map(_.getInt(1).toLong).sum
    val wantRows = ds.historyRows + ds.newRows
    val got = rows.filterNot(_.isNullAt(2))
    if (rows.length != wantRows) Some(s"sink rows ${rows.length}, expected $wantRows")
    else if (samples != ds.newSamples) Some(s"sink samples $samples, expected ${ds.newSamples}")
    else if (got.length != expected.size) Some(s"subset rows ${got.length}, expected ${expected.size}")
    else got.iterator.flatMap { r =>
      val m = r.getStruct(2)
      val want = expected(r.getLong(0))
      want.indices.iterator.flatMap { i =>
        val g = if (m.isNullAt(i)) None else Some(m.getDouble(i))
        val ok = (g, want(i)) match {
          case (None, None) => true
          case (Some(x), Some(y)) => math.abs(x - y) <= AbsTol + RelTol * math.abs(y)
          case _ => false
        }
        if (ok) None else Some(s"activity ${r.getLong(0)} ${m.schema.fields(i).name}: got $g, expected ${want(i)}")
      }
    }.nextOption()
  } catch { case NonFatal(e) => Some(s"check failed to read the sink: $e") }
}

final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      scale: Double, corruptSink: Boolean, work: File)

final case class Timed(wall: Double, cpu: Double, peakMem: Long, longestTaskMs: Long, files: Int, bytes: Long,
                       error: Option[String])

object Main {
  val Cores: Int = Runtime.getRuntime.availableProcessors()
  val ShufflePartitions = 16
  val SetupReps = 3
  val MinRuns = 1

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv.getOrElse("scale", "1").toDouble, kv.get("corrupt-sink").contains("1"), new File(kv("work")))
    System.exit(run(o))
  }

  private val started = System.nanoTime()

  /** Progress on stderr; stdout carries only the report and result. */
  def log(msg: String): Unit =
    System.err.println(f"etlbench ${(System.nanoTime() - started) / 1e9}%7.1fs $msg")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def procFile(path: String): Option[String] = try {
    val src = scala.io.Source.fromFile(path)
    try Some(src.mkString) finally src.close()
  } catch { case NonFatal(_) => None }

  private def loadavg(): Seq[Double] =
    procFile("/proc/loadavg").toSeq.flatMap(_.trim.split("\\s+").take(3).map(_.toDouble))

  /** CPU time of this JVM, all threads, in seconds. */
  private def processCpuS(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Machine-wide CPU time stolen by the hypervisor so far, in seconds
    * (USER_HZ = 100): a run slowed by other tenants shows here. */
  private def stealS(): Double = procFile("/proc/stat").flatMap(_.linesIterator
    .find(_.startsWith("cpu ")).map(_.split("\\s+")).filter(_.length > 8)
    .map(_(8).toDouble / 100)).getOrElse(0.0)

  private def session(work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("etlbench")
      .config("spark.sql.shuffle.partitions", ShufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // the shuffle partitions stay fixed: coalescing would merge these
      // inputs' shuffles into one task and leave the other cores idle
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** One `addHistoryData` into a reset sink, then `check` on the sink
    * (none for warm-up passes, which set-up time must not include). */
  private def timed(spark: SparkSession, in: Inputs, group: String, check: Option[Check],
                    corrupt: Boolean): Timed = {
    in.resetSink()
    val before = Io.dataFiles(in.sink)
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    val t0 = System.nanoTime()
    val c0 = processCpuS()
    val failure = try { in.run(spark); None } catch { case NonFatal(e) => Some(s"run threw $e") }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = processCpuS() - c0
    sc.clearJobGroup()
    val written = Io.dataFiles(in.sink) -- before.keys
    val (peak, longest) = org.apache.spark.etlbench.SparkInternals.taskPeaks(sc, group)
    if (corrupt && written.nonEmpty) Files.delete(written.maxBy(_._2)._1)
    val error = failure.orElse(check.flatMap(_(spark, in.sink.getPath)))
    Timed(wall, cpu, peak, longest, written.size, written.values.sum, error)
  }

  def run(o: Opts): Int = {
    val load0 = loadavg()
    val steal0 = stealS()
    o.work.mkdirs()
    val t0 = System.nanoTime()
    val ds = Gen(o.workload, o.seed, o.scale)
    val in = new Inputs(ds, new File(o.work, "inputs"))
    val inputBytes = in.write()
    val genS = (System.nanoTime() - t0) / 1e9
    log(f"inputs: ${ds.activities.size} activities, ${ds.newSamples} new dense samples, $inputBytes bytes, $genS%.2f s")
    val check = new Check(ds, o.seed)

    // set-up, SetupReps times: build a session, then one warm-up pass
    // of addHistoryData over the workload's own input, so that the
    // timed runs start with the JIT warm for this input. The first
    // build starts the SparkContext in a cold JVM; the others build a
    // new session on it, and the last session is kept. The history of
    // incremental is seeded once, outside the set-up time.
    var spark: SparkSession = null
    var seedS = 0.0
    val setups = (1 to SetupReps).map { rep =>
      val s0 = System.nanoTime()
      spark = if (spark == null) session(o.work) else spark.newSession()
      val built = (System.nanoTime() - s0) / 1e9
      if (rep == 1) {
        val h0 = System.nanoTime()
        in.seedHistory(spark)
        seedS = (System.nanoTime() - h0) / 1e9
      }
      val w = timed(spark, in, s"warm-$rep", None, corrupt = false)
      w.error.foreach(e => throw new IllegalStateException(s"warm-up pass failed: $e"))
      log(f"set-up $rep: ${built + w.wall}%.2f s (session $built%.2f s, pass ${w.wall}%.2f s, cpu ${w.cpu}%.2f s)")
      (built, w)
    }

    // closed loop, one client: the next run starts when the last ended
    val runs = scala.collection.mutable.ArrayBuffer.empty[Timed]
    val loop0 = System.nanoTime()
    while (runs.size < MinRuns || (System.nanoTime() - loop0) / 1e9 < o.seconds) {
      runs += timed(spark, in, s"run-${runs.size}", Some(check), o.corruptSink)
      log(f"run ${runs.size}: ${runs.last.wall}%.2f s${runs.last.error.fold("")(" " + _)}")
    }
    // metrics come from the runs that passed; when none did, the result
    // still reports what was measured, with correct = false
    val ok = Some(runs.filter(_.error.isEmpty)).filter(_.nonEmpty).getOrElse(runs).toSeq
    val wall = median(ok.map(_.wall))

    val traced = if (o.trace) Some(Traced(spark, in, check, wall)) else None
    val attempted = runs.size + traced.size
    val failures = runs.flatMap(_.error) ++ traced.flatMap(_.error)
    val load1 = loadavg()

    val ref = ok.head
    val e2e = Seq(
      ("wall_s", wall, "s"),
      ("activities_per_s", ds.newRows / wall, "1/s"),
      ("samples_per_s", ds.newSamples / wall, "1/s"),
      ("setup_s", median(setups.map { case (built, w) => built + w.wall }), "s"),
      ("peak_exec_mem_mb", median(ok.map(_.peakMem / 1048576.0)), "MB"),
      ("sink_bytes_per_sample", ref.bytes.toDouble / math.max(1L, ds.newSamples), "B"),
      ("sink_files", ref.files.toDouble, "count"),
      ("ok_frac", 1.0 - failures.size.toDouble / attempted, "ratio"))
    val metrics = traced.fold(e2e)(_.metrics)

    val report = Json.obj(
      "workload" -> o.workload, "seed" -> o.seed, "scale" -> o.scale,
      "env" -> Json.obj(
        "spark_version" -> spark.version, "cores" -> Cores,
        "shuffle_partitions" -> ShufflePartitions,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "java_version" -> System.getProperty("java.version"),
        "loadavg_start" -> load0, "loadavg_end" -> load1, "steal_s" -> (stealS() - steal0)),
      "inputs" -> Json.obj(
        "seed" -> o.seed, "users" -> ds.users, "activities" -> ds.activities.size,
        "history_rows" -> ds.historyRows, "new_rows" -> ds.newRows,
        "new_samples" -> ds.newSamples,
        "stream_samples" -> ds.activities.flatMap(_.streams).map(_.n.toLong).sum,
        "bytes" -> inputBytes, "gen_s" -> genS, "history_seed_s" -> seedS),
      "setup" -> setups.map { case (built, w) =>
        Json.obj("session_s" -> built, "pass_s" -> w.wall, "cpu_s" -> w.cpu) },
      "runs" -> runs.map(r => Json.obj("wall_s" -> r.wall, "cpu_s" -> r.cpu,
        "peak_exec_mem_mb" -> r.peakMem / 1048576.0, "longest_task_s" -> r.longestTaskMs / 1000.0,
        "files" -> r.files, "bytes" -> r.bytes, "error" -> r.error)).toSeq,
      "check" -> Json.obj("subset" -> check.subsetSize, "abs_tol" -> check.AbsTol,
        "rel_tol" -> check.RelTol),
      "end_to_end" -> Json.obj(e2e.map { case (k, v, _) => k -> v }: _*),
      "trace" -> traced.map(_.report))
    Files.writeString(new File(o.work, "report.json").toPath, compact(report))
    println(compact(Json.obj("etlbench" -> report)))
    failures.foreach(f => System.err.println(s"etlbench: output check failed: $f"))

    spark.stop()
    println(compact(Json.obj(
      "correct" -> failures.isEmpty, "attempted" -> attempted, "failed" -> failures.size,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) => k -> Json.obj("value" -> v, "unit" -> u) }: _*))))
    if (failures.isEmpty) 0 else 1
  }
}

/** The traced run: each cumulative prefix of `addHistoryData` is
  * materialised into the `noop` sink in turn, the last prefix being
  * the real call into the real sink. A layer's self time is its
  * prefix's time minus the previous prefix's, so the self times add up
  * to the traced wall of the full call. */
final class Traced(val metrics: Seq[(String, Double, String)], val report: JObject,
                   val error: Option[String])

object Traced {
  private val RollChannels = Seq("heartrate", "watts", "velocity_smooth")

  def apply(spark: SparkSession, in: Inputs, check: Check, untracedWall: Double): Traced = {
    in.resetSink()
    val sink = in.sink.getPath
    val now = in.ds.nowEpoch
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    // the same dataflow addHistoryData builds, one layer at a time
    def watermarks(): DataFrame =
      try spark.read.parquet(sink).groupBy("username").agg(max(col("epoch")).as("__wm"))
      catch { case NonFatal(_) =>
        spark.createDataFrame(java.util.Collections.emptyList[Row](), StructType(Seq(
          StructField("username", StringType), StructField("__wm", LongType))))
      }
    def acts(): DataFrame =
      StravaJsonSource.activities(spark, in.activities.getPath, now.toDouble)
        .join(broadcast(watermarks()), Seq("username"), "left")
        .filter(col("epoch") > coalesce(col("__wm"), lit(0L)))
        .drop("__wm")
    def streams(a: DataFrame): DataFrame =
      StravaJsonSource.streams(spark, in.streams.getPath).join(a.select("activity_id"), Seq("activity_id"))
    def valid(a: DataFrame): DataFrame = a.filter(col("_valid")).drop("_valid")
    def tagged(a: DataFrame): DataFrame = ActivityPipeline.tagStreams(valid(a), streams(a))
    def densified(a: DataFrame): DataFrame = ActivityPipeline.densify(tagged(a))
    def interpolated(a: DataFrame): DataFrame =
      Interpolation.interpolate(densified(a), Seq("activity_id"), "time_key",
        StravaSchemas.numericChannels, passthrough = Some(col("__bypass")))
        .withColumn("time_new", col("time_key"))
    def rolled(a: DataFrame): DataFrame =
      TriangularRolling.triangMeansFast(interpolated(a), Seq("activity_id"), Seq("time_new"),
        RollChannels, StravaSchemas.rollingWindows)

    val prefixes: Seq[(String, () => Unit)] = Seq(
      "etl.sink.watermark" -> (() => noop(watermarks())),
      "sources.activities" -> (() => noop(acts())),
      "sources.streams" -> (() => noop(streams(acts()))),
      "etl.densify" -> (() => noop(densified(acts()))),
      "operators.interpolation" -> (() => noop(interpolated(acts()))),
      "operators.rolling" -> (() => noop(rolled(acts()))),
      "etl.nest" -> (() => { val a = acts(); noop(ActivityPipeline.process(valid(a), streams(a), now)) }),
      "etl.sink" -> (() => in.run(spark)))

    val trace = new Trace(spark)
    val before = Io.dataFiles(in.sink)
    val c0 = trace.counters()
    val measured = trace.span("traced_run") {
      prefixes.map { case (name, body) =>
        val s0 = System.nanoTime()
        trace.span(name)(body())
        Main.log(f"prefix $name: ${(System.nanoTime() - s0) / 1e9}%.2f s")
        (name, (System.nanoTime() - s0) / 1e9, trace.counters())
      }
    }
    val written = Io.dataFiles(in.sink) -- before.keys
    val error = check(spark, sink)

    // row counts, outside the traced wall; the sink holds the run's
    // output now, so the watermark is taken from a fresh copy
    in.resetSink()
    val counts = trace.span("counts") {
      val a = acts()
      Map(
        "activities_read" -> spark.read.text(in.activities.getPath).count(),
        "activities_kept" -> a.count(),
        "stream_docs_read" -> spark.read.text(in.streams.getPath).count(),
        "samples_parsed" -> StravaJsonSource.streams(spark, in.streams.getPath).count(),
        "samples_kept" -> streams(a).count(),
        "samples_tagged" -> tagged(a).count(),
        "dense_rows" -> densified(a).count())
    }
    trace.close()

    val names = prefixes.map(_._1)
    val times = measured.map(_._2)
    val self = names.zip(times.zip(0.0 +: times).map { case (t, prev) => t - prev }).toMap
    // counters: each prefix's totals, then a layer's share as its
    // prefix's totals minus the previous prefix's, like the self times
    val cs = c0 +: measured.map(_._3)
    val totals = cs.tail.zip(cs).map { case (c, prev) => c - prev }
    val layer = names.zip(totals.zip(Counters() +: totals).map { case (t, prev) => t - prev }).toMap
    def ratio(a: Long, b: Long) = if (b == 0) 0.0 else a.toDouble / b
    val run = totals.last // the real call alone: its own jobs, stages, tasks and plans
    val tracedWall = times.last

    val metrics = Seq(
      ("sources.activities.self_s", self("sources.activities"), "s"),
      ("sources.activities.rows_read", counts("activities_read").toDouble, "count"),
      ("sources.activities.kept_ratio", ratio(counts("activities_kept"), counts("activities_read")), "ratio"),
      ("sources.streams.self_s", self("sources.streams"), "s"),
      ("sources.streams.rows_read", counts("stream_docs_read").toDouble, "count"),
      ("sources.streams.kept_ratio", ratio(counts("samples_kept"), counts("samples_parsed")), "ratio"),
      ("etl.densify.self_s", self("etl.densify"), "s"),
      ("etl.densify.expansion", ratio(counts("dense_rows"), counts("samples_tagged")), "ratio"),
      ("operators.interpolation.self_s", self("operators.interpolation"), "s"),
      ("operators.interpolation.spill_bytes", layer("operators.interpolation").spillBytes.toDouble, "B"),
      ("operators.interpolation.gc_s", layer("operators.interpolation").gcMs / 1000.0, "s"),
      ("operators.rolling.self_s", self("operators.rolling"), "s"),
      ("operators.rolling.spill_bytes", layer("operators.rolling").spillBytes.toDouble, "B"),
      ("etl.nest.self_s", self("etl.nest"), "s"),
      ("etl.nest.shuffle_write_bytes", layer("etl.nest").shuffleWriteBytes.toDouble, "B"),
      ("etl.nest.spill_bytes", layer("etl.nest").spillBytes.toDouble, "B"),
      ("etl.sink.write_s", self("etl.sink"), "s"),
      ("etl.sink.watermark_s", self("etl.sink.watermark"), "s"),
      ("etl.sink.bytes_written", written.values.sum.toDouble, "B"),
      ("etl.sink.files_written", written.size.toDouble, "count"),
      ("spark.plan.analysis_ms", run.analysisMs.toDouble, "ms"),
      ("spark.plan.optimization_ms", run.optimizationMs.toDouble, "ms"),
      ("spark.plan.planning_ms", run.planningMs.toDouble, "ms"),
      ("spark.jobs", run.jobs.toDouble, "count"),
      ("spark.stages", run.stages.toDouble, "count"),
      ("spark.tasks", run.tasks.toDouble, "count"),
      ("trace.overhead_s", tracedWall - untracedWall, "s"))

    val report = Json.obj(
      "traced_wall_s" -> tracedWall, "untraced_wall_s" -> untracedWall,
      "self_s_sum" -> self.values.sum,
      "prefix_s" -> Json.obj(measured.map { case (n, t, _) => n -> t }: _*),
      "counts" -> counts,
      "per_layer" -> Json.obj(metrics.map { case (k, v, _) => k -> v }: _*),
      "spans" -> trace.finished.map(s => Json.obj("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs)),
      "error" -> error)
    new Traced(metrics, report, error)
  }
}

/** JSON objects for the report, keys in the order given; `None` is null. */
object Json {
  private implicit val formats: DefaultFormats.type = DefaultFormats

  def obj(kv: (String, Any)*): JObject =
    JObject(kv.map { case (k, v) => k -> value(v) }.toList)

  private def value(v: Any): JValue = v match {
    case None => JNull
    case Some(x) => value(x)
    case j: JValue => j
    case m: Map[_, _] => JObject(m.map { case (k, x) => k.toString -> value(x) }.toList)
    case xs: Iterable[_] => JArray(xs.map(value).toList)
    case x => Extraction.decompose(x)
  }
}
