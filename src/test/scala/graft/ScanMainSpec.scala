package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.types.{DateType, TimestampNTZType,
  TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.config.ScanConfig
import graft.operators.{Frequency, Profile, Sampling, TypeInference}
import graft.sinks.XlsxSink
import graft.sources.DelimitedSource

/** CLI surface of [[ScanMain]]: option parsing and the reference's
  * bare-flag default behavior — in particular the r4 parity fix that a
  * run with only the required flags produces an `.xlsx` workbook, the
  * reference's default output format (whiteRRabbit.R:43-44).
  */
class ScanMainSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("bare-flag parse defaults to the reference's xlsx format") {
    val c = ScanMain.parse(Array("--working_folder", "/data/in"))
    assert(c.outputFormat == "xlsx")
    assert(c.delimiter == "tab" && c.maxRows == 100000L &&
      c.maxDistinctValues == 1000 && c.prefix == "ScanReport" &&
      c.minCellCount == 5L && c.randomSample && c.scanFieldValues &&
      !c.shiftDates)
  }

  test("a bare-flag run writes <prefix>.xlsx like the reference") {
    val dir = graft.config.Scratch.dir + "/scanmain_default"
    val in = s"$dir/in"; val out = s"$dir/out"
    Files.createDirectories(Paths.get(in))
    Files.write(Paths.get(s"$in/people.tsv"),
      "name\tage\nada\t36\ngrace\t45\nada\t36\n"
        .getBytes("UTF-8"))
    // run() against the shared test session — main() owns (and stops)
    // its own session, which a test must not do
    ScanMain.run(spark, ScanMain.parse(Array(
      "--working_folder", in, "--output_dir", out, "--cpus", "2")))
    assert(Files.exists(Paths.get(s"$out/ScanReport.xlsx")),
      "default run must produce the reference's xlsx workbook")
    val (oHeader, oRows) =
      XlsxSink.readSheet(s"$out/ScanReport.xlsx", "Overview")
    assert(oHeader.nonEmpty && oRows.nonEmpty)
    val (sHeader, sRows) =
      XlsxSink.readSheet(s"$out/ScanReport.xlsx", "File1")
    assert(sHeader.contains("Column") && sRows.nonEmpty)
  }

  // a capped scan over a file 200x its cap: id (numeric), a 5-value
  // category (frequency rows above min_cell_count), a date, free text
  private val capRows = 100L
  private lazy val cappedFile: String = {
    val dir = graft.config.Scratch.dir + "/scanmain_capped"
    Files.createDirectories(Paths.get(dir))
    val rnd = new scala.util.Random(11L)
    val body = (1 to 20000).map { i =>
      val day = 1 + rnd.nextInt(28)
      s"$i\tcat${rnd.nextInt(5)}\t2023-03-$day\tnote ${rnd.nextInt(500)}"
    }
    val p = Paths.get(s"$dir/capped.tsv")
    Files.write(p, ("id\tcategory\tvisit\tnote" +: body)
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    p.toString
  }
  private lazy val capConfig = ScanConfig(maxRows = capRows)

  test("a capped scan reports exactly what profiling the lazy exact-k " +
      "sample reports: the materialized cap changes no row") {
    val got = Scan.scanFile(spark, cappedFile, capConfig)
    val c = capConfig
    val raw = DelimitedSource.read(spark, cappedFile, c.sep)
    val sample = Sampling.exactK(raw, capRows.toInt, c.seed,
      Some(DelimitedSource.fastRowCount(spark, cappedFile)))
    val (typed, inference) = TypeInference.inferAndPromote(sample,
      threshold = 0.8, seed = c.seed, randomSample = c.randomSample)
    val summary = Profile.summarize(typed, c.exactQuantiles,
      c.quantileAccuracy).collect().toSeq
    val freqCols = typed.schema.fields.filterNot(f =>
      f.dataType == DateType || f.dataType == TimestampType ||
        f.dataType == TimestampNTZType).map(_.name).toSeq
    val freq = Frequency.referenceFrequencies(typed, freqCols,
      c.minCellCount, c.maxDistinctValues).collect().toSeq
    assert(got.inference == inference)
    assert(got.nRowsChecked == capRows)
    assert(got.summary.collect().toSeq == summary)
    assert(freq.nonEmpty && got.freq.collect().toSeq == freq)
  }

  test("a capped scan releases its materialized sample: the context's " +
      "persistent-RDD set returns to its pre-call state") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Scan.scanFile(spark, cappedFile, capConfig)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert(after == before,
      s"scanFile leaked cached RDDs: ${(after -- before).toSeq.sorted}")
  }

  test("a capped scan parses the file once for the sample: bytes read " +
      "stay within 4x the file, not one full re-read per later pass") {
    val marker = "graft.test.marker"
    val bytes = new java.util.concurrent.atomic.AtomicLong(0L)
    val markerJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val markerDone = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          bytes.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(marker) != null)
          markerJobs.add(e.jobId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (markerJobs.contains(e.jobId)) markerDone.countDown()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      Scan.scanFile(spark, cappedFile, capConfig)
      // the listener bus delivers in order: once a job submitted after
      // the scan has ended, every task of the scan has been counted
      sc.setLocalProperty(marker, "1")
      try spark.range(1).count()
      finally sc.setLocalProperty(marker, null)
      assert(markerDone.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    val fileBytes = Files.size(Paths.get(cappedFile))
    assert(bytes.get() > 0L && bytes.get() <= 4L * fileBytes,
      s"scan read ${bytes.get()} bytes of a $fileBytes-byte file")
  }
}
