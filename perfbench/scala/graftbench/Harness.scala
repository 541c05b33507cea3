package graftbench

import java.io.{File, PrintWriter}
import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.BenchAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.{Scan, ScanMain, TableScanResult}
import graft.config.ScanConfig
import graft.operators.{DateShift, Dedup, Frequency, Profile, Sampling, Similarity, TypeInference}
import graft.sinks.{ReportSink, XlsxSink}
import graft.sources.DelimitedSource

/** One benchmark iteration in a fresh JVM.
  *
  *   --mode e2e    time the product call (ScanMain.run, or the Dedup and
  *                 Similarity calls) with only a task-metrics listener
  *   --mode trace  additionally walk the layers one public call at a
  *                 time and record each call's window; Spark jobs are
  *                 attributed to layers afterwards by start time
  *
  * Writes `<out>/harness.json` with raw spans and per-job task metrics;
  * all aggregation happens in perfbench/stats.py.
  */
object Harness {

  /** Per-job sums of task metrics. */
  final class JobAcc(val id: Int, val startMs: Long) {
    var tasks = 0L; var cpuNs = 0L; var runMs = 0L; var gcMs = 0L
    var inputB = 0L; var shuffleB = 0L; var spillB = 0L
  }

  /** Records every job's start time and the task metrics of its stages. */
  final class Recorder extends SparkListener {
    val jobs = mutable.LinkedHashMap.empty[Int, JobAcc]
    private val stageJob = mutable.HashMap.empty[Int, Int]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs(e.jobId) = new JobAcc(e.jobId, e.time)
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      for (j <- stageJob.get(e.stageId).flatMap(jobs.get) if m != null) {
        j.tasks += 1
        j.cpuNs += m.executorCpuTime
        j.runMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.inputB += m.inputMetrics.bytesRead
        j.shuffleB += m.shuffleReadMetrics.totalBytesRead
        j.spillB += m.diskBytesSpilled
      }
    }

    def snapshot(): Seq[JobAcc] = synchronized(jobs.values.toList)
  }

  /** Heap occupancy right after collections: the largest seen over the
    * whole heap and over the old generation alone, and the whole heap
    * after the last explicit System.gc(). The old generation only grows
    * by promotion of what survives young collections, so its post-GC peak
    * tracks the data the driver holds during the run without flipping
    * with the timing of young GCs. */
  final class PostGcPeak extends NotificationListener {
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    @volatile var peak = 0L
    @volatile var oldPeak = 0L
    @volatile var explicit = 0L
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(this, null, null)
      case _ => ()
    }
    override def handleNotification(n: Notification, h: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[CompositeData])
        val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
        val used = after.collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        val old = after.collect { case (pool, u) if pool.endsWith("Old Gen") => u.getUsed }.sum
        synchronized {
          if (used > peak) peak = used
          if (old > oldPeak) oldPeak = old
        }
        if (info.getGcCause == "System.gc()") explicit = used
      }
  }

  /** Fixed single-threaded integer kernel; its time tracks the box's
    * current speed. Median of 7 timed repetitions after 2 warm-ups. */
  @volatile private var calibSink = 0L
  def calibrate(): Double = {
    val times = (0 until 9).map { _ =>
      val t = System.nanoTime()
      var h = 1469598103934665603L; var x = 0L; var i = 0
      while (i < 30000000) { h = (h ^ i) * 1099511628211L; x += h >>> 33; i += 1 }
      calibSink += x
      (System.nanoTime() - t) / 1e9
    }.drop(2).sorted
    times(times.length / 2)
  }

  final case class Span(layer: String, startMs: Long, endMs: Long, durS: Double)

  /** Layer call windows; a short gap keeps adjacent windows in distinct
    * milliseconds so job start times attribute unambiguously. */
  final class Spans {
    val all = mutable.ArrayBuffer.empty[Span]
    def apply[T](layer: String)(f: => T): T = {
      Thread.sleep(3)
      val ms = System.currentTimeMillis(); val ns = System.nanoTime()
      val r = f
      all += Span(layer, ms, System.currentTimeMillis(), (System.nanoTime() - ns) / 1e9)
      Thread.sleep(3)
      r
    }
  }

  val cappedMaxRows = 10000L

  def scanConfig(workload: String, in: String, out: String, cpus: Int): ScanConfig =
    workload match {
      // reference defaults (xlsx + parquet workbook, random sample,
      // maxDistinctValues 1000, min_cell_count 5) except the cap, scaled
      // down with the inputs so the fact table stays 100x over it
      case "scan_capped" => ScanConfig(workingFolder = in, outputDir = out, cpus = cpus,
        maxRows = cappedMaxRows)
      case "scan_full" => ScanConfig(workingFolder = in, outputDir = out, cpus = cpus,
        outputFormat = "tsv", maxRows = -1L, randomSample = false, shiftDates = true)
      case w => throw new IllegalArgumentException(s"unknown scan workload $w")
    }

  /** The per-file body of Scan.scanTable, one layer call at a time. The
    * Python side asserts that the report this walk writes is identical
    * to ScanMain.run's, so the walk cannot drift from scanTable. */
  def walkFile(spark: SparkSession, span: Spans, path: String,
      config: ScanConfig): TableScanResult = {
    val totalLines = span("sources")(DelimitedSource.fastRowCount(spark, path))
    val df0 = span("sources")(DelimitedSource.read(spark, path, config.sep))
    val nFields = df0.columns.length
    val capped = span("Sampling")(Sampling.cap(df0, config.maxRows,
      config.randomSample, config.seed, totalRows = Some(totalLines)))
    val (promoted, inference) = span("TypeInference")(TypeInference.inferAndPromote(
      capped, threshold = 0.8, seed = config.seed, randomSample = config.randomSample))
    val typed =
      if (config.shiftDates) span("DateShift")(DateShift.shiftDates(promoted, config.seed))
      else promoted
    require(config.excludeCols.isEmpty, "the walk mirrors scans without exclusions")
    val (summaryRows, schema) = span("Profile") {
      val s = Profile.summarize(typed, config.exactQuantiles, config.quantileAccuracy)
      (s.collect(), s.schema)
    }
    val nRowsChecked =
      if (summaryRows.nonEmpty) summaryRows.head.getAs[Long]("total_count") else 0L
    val nFieldsEmpty = summaryRows.count(_.getAs[Long]("non_missing") == 0L).toLong
    val summaryLocal = spark.createDataFrame(java.util.Arrays.asList(summaryRows: _*), schema)
    val freqCols = typed.schema.fields.filterNot(f => f.dataType == TimestampType ||
      f.dataType == DateType || f.dataType == TimestampNTZType).map(_.name).toSeq
    require(config.scanFieldValues && freqCols.nonEmpty)
    val freq = span("Frequency") {
      val f = Frequency.referenceFrequencies(typed, freqCols,
        config.minCellCount, config.maxDistinctValues)
      spark.createDataFrame(java.util.Arrays.asList(f.collect(): _*), f.schema)
    }
    TableScanResult(path, totalLines, nRowsChecked, nFields, nFieldsEmpty,
      summaryLocal, freq, inference)
  }

  def walkScan(spark: SparkSession, span: Spans, config: ScanConfig): Unit = {
    val files = span("sources")(DelimitedSource.listFiles(
      spark, config.workingFolder, config.filePattern))
    val results = files.map(f => walkFile(spark, span, f, config))
    val overview = span("Scan")(Scan.overview(spark, results))
    span("sinks")(ReportSink.write(config.outputDir, config.prefix,
      config.outputFormat, overview, results))
  }

  /** Writes the xlsx sheets as TSV under the TSV sink's sheet names. */
  def dumpXlsx(out: String, nFiles: Int): Unit = {
    val path = s"$out/ScanReport.xlsx"
    val dir = new File(s"$out/xlsx_sheets"); dir.mkdirs()
    val names = ("Overview" -> "Overview") +: (1 to nFiles).flatMap(i =>
      Seq(s"File$i" -> s"File${i}_Summary", s"File${i}freq" -> s"File${i}_Freq"))
    names.foreach { case (sheet, as) =>
      scala.util.Try(XlsxSink.readSheet(path, sheet)).toOption.foreach {
        case (header, rows) =>
          writeTsv(new File(dir, s"$as.tsv"), header +: rows)
      }
    }
  }

  def writeTsv(f: File, rows: Seq[Seq[Any]]): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try rows.foreach(r => w.println(r.map(v => if (v == null) "" else v.toString)
      .mkString("\t")))
    finally w.close()
  }

  def rowsOf(rows: Array[Row]): Seq[Seq[Any]] = rows.toSeq.map(_.toSeq)

  val numQueries = 50
  val topK = 10

  /** Dedup then ANN: the LLM-curation calls, each output collected. */
  def curate(spark: SparkSession, data: String, out: String,
      span: Option[Spans]): Long = {
    def in[T](layer: String)(f: => T): T = span.fold(f)(s => s(layer)(f))
    val docs = spark.read.parquet(s"$data/docs.parquet")
    val vecs = spark.read.parquet(s"$data/vecs.parquet")
    val (pairs, clusters) = in("Dedup") {
      val p = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.7)
      val rows = p.collect()
      val local = spark.createDataFrame(java.util.Arrays.asList(rows: _*), p.schema)
      (rows, Dedup.duplicateClusters(local.select("id_a", "id_b")).collect())
    }
    val knn = in("Similarity")(Similarity.knnIvfPq(vecs, "vec_id", "embedding",
      numQueries = numQueries, k = topK, dim = 64).collect())
    writeTsv(new File(s"$out/pairs.tsv"), Seq(Seq("id_a", "id_b", "jac")) ++ rowsOf(pairs))
    writeTsv(new File(s"$out/clusters.tsv"), Seq(Seq("doc_id", "cluster_rep")) ++ rowsOf(clusters))
    writeTsv(new File(s"$out/knn.tsv"), Seq(Seq("query_id", "rn", "neighbor_id")) ++ rowsOf(knn))
    pairs.length.toLong
  }

  def scanOutputComplete(config: ScanConfig): Unit = {
    val marker =
      if (config.outputFormat == "xlsx") s"${config.outputDir}/ScanReport_workbook/Overview/_SUCCESS"
      else s"${config.outputDir}/ScanReport_Overview/_SUCCESS"
    require(new File(marker).isFile, s"report incomplete: $marker missing")
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val t0Ms = a("t0_ms").toDouble
    val mode = a("mode"); val workload = a("workload")
    val data = a("data"); val out = a("out"); val cpus = a("cpus").toInt
    new File(out).mkdirs()

    // the session exactly as ScanMain.main builds it
    val spark = graft.hadoop.FastLocalFileSystem.config(
      SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-scan")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val setupS = (System.currentTimeMillis() - t0Ms) / 1000.0

    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    val heap = new PostGcPeak
    val calibS = calibrate()
    val spans = new Spans
    val extra = mutable.LinkedHashMap.empty[String, Any]

    val t = System.nanoTime()
    val tMs = System.currentTimeMillis()
    workload match {
      case "llm_curate" =>
        extra("pairs_out") = curate(spark, data, out,
          if (mode == "trace") Some(spans) else None)
      case w =>
        val config = scanConfig(w, s"$data/in", s"$out/run", cpus)
        ScanMain.run(spark, config)
        scanOutputComplete(config)
        extra("scan_cfg") = s"""{"max_rows": ${config.maxRows}, "min_cell_count": """ +
          s"""${config.minCellCount}, "max_distinct": ${config.maxDistinctValues}, """ +
          s""""shift_dates": ${config.shiftDates}}"""
    }
    val wallS = (System.nanoTime() - t) / 1e9
    val endMs = System.currentTimeMillis()

    // the walk runs warm, so a second, warm ScanMain.run after it gives
    // the serial-versus-concurrent comparison a denominator that is warm too
    var warmWallS = 0.0
    if (mode == "trace" && workload != "llm_curate") {
      val config = scanConfig(workload, s"$data/in", s"$out/walk", cpus)
      walkScan(spark, spans, config)
      scanOutputComplete(config)
      val warm = scanConfig(workload, s"$data/in", s"$out/run2", cpus)
      val t2 = System.nanoTime()
      ScanMain.run(spark, warm)
      scanOutputComplete(warm)
      warmWallS = (System.nanoTime() - t2) / 1e9
    }
    BenchAccess.drainListeners(spark.sparkContext)
    val jobs = rec.snapshot()
    System.gc()
    Thread.sleep(200) // GC notifications arrive asynchronously
    if (workload != "llm_curate") {
      val nFiles = DelimitedSource.listFiles(spark, s"$data/in", "*.tsv").length
      val dirs = if (mode == "trace") Seq("run", "walk", "run2") else Seq("run")
      if (workload == "scan_capped") dirs.foreach(d => dumpXlsx(s"$out/$d", nFiles))
    }
    spark.stop()

    val runJobs = jobs.filter(j => j.startMs >= tMs && j.startMs <= endMs)
    val w = new PrintWriter(s"$out/harness.json", "UTF-8")
    try {
      w.println("{")
      w.println(s""" "setup_s": ${setupS}, "calib_s": ${calibS},""")
      w.println(s""" "wall_s": ${wallS}, "warm_wall_s": ${warmWallS}, "run_start_ms": $tMs, "run_end_ms": $endMs,""")
      w.println(s""" "cpu_s": ${runJobs.map(_.cpuNs).sum / 1e9},""")
      w.println(s""" "heap_peak_mb": ${heap.peak / 1048576.0}, "heap_old_peak_mb": ${heap.oldPeak / 1048576.0}, """ +
        s""""heap_live_mb": ${heap.explicit / 1048576.0},""")
      w.println(s""" "num_queries": $numQueries, "top_k": $topK,""")
      extra.foreach { case (k, v) => w.println(s""" "$k": $v,""") }
      w.println(""" "spans": [""" + spans.all.map(s =>
        s"""{"layer": "${s.layer}", "start_ms": ${s.startMs}, "end_ms": ${s.endMs}, "dur_s": ${s.durS}}""")
        .mkString(",\n  ") + "],")
      w.println(""" "jobs": [""" + jobs.map(j =>
        s"""{"id": ${j.id}, "start_ms": ${j.startMs}, "tasks": ${j.tasks}, "cpu_s": ${j.cpuNs / 1e9}, """ +
        s""""task_s": ${j.runMs / 1e3}, "gc_s": ${j.gcMs / 1e3}, "input_b": ${j.inputB}, """ +
        s""""shuffle_b": ${j.shuffleB}, "spill_b": ${j.spillB}}""").mkString(",\n  ") + "]")
      w.println("}")
    } finally w.close()
  }
}
