package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** Entry point: `perfbench.Main --workload <flat|chain> --seed <n>
  * --seconds <s> --trace <0|1> --work <dir> --fixtures <dir> [--digests <file>]
  * [--record-digests <file>] [--cds-dump 1]`.
  *
  * Prints a stamp line, then as its last line one JSON object with the
  * end-to-end metrics (`--trace 0`) or the per-layer metrics
  * (`--trace 1`). A traced run also writes its span trace under
  * `<work>/trace-<workload>-<seed>.json`. `--cds-dump 1` runs every
  * phase once at token sizes ([[Plan.CdsDump]]) so the JVM can write a
  * class-data-sharing archive of the classes a run loads; its numbers
  * mean nothing.
  */
object Main {
  val Workloads: Seq[String] = Seq("flat", "chain")
  val Slots = 4

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toInt
    val trace = args("trace") == "1"
    val work = args("work")
    val plan = if (args.get("cds-dump").contains("1")) Plan.CdsDump else Plan.of(workload)
    val expected = args.get("digests").map(readDigests).getOrElse(Map.empty)
    require(expected.nonEmpty || args.contains("record-digests"),
      "no recorded batch digests: pass --digests or --record-digests")

    val loadStart = loadAvg()
    val uptime = java.lang.management.ManagementFactory.getRuntimeMXBean
    System.err.println(s"[perfbench] jvm up ${uptime.getUptime} ms")
    val spark = session(work)
    System.err.println(s"[perfbench] spark up ${uptime.getUptime} ms")
    val listener = if (trace) Some(new JobListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val ledger = new Ledger
    val run = new Run(spark, plan, Corpus(seed), seed, work, args("fixtures"), seconds,
      ledger, if (trace) Some(new SpanRecorder) else None)
    val gcStart = gcMs()
    try {
      run.setup(expected)
      run.measure()
      val gcTotal = gcMs() - gcStart
      args.get("record-digests").foreach { f =>
        val body = BatchOps.Timed.flatMap(q => run.digests.get(q).map(d => s"""  "$q": "$d""""))
          .mkString(",\n")
        Files.write(Paths.get(f), s"{\n$body\n}\n".getBytes(UTF_8))
      }
      def stamp() = "{" + Seq(
        s""""workload": "$workload"""", s""""seed": $seed""", s""""seconds": $seconds""",
        s""""trace": $trace""", s""""nproc": ${Runtime.getRuntime.availableProcessors()}""",
        s""""spark_threads": $Slots""", s""""loadavg_start": $loadStart""",
        s""""loadavg_end": ${loadAvg()}""",
        s""""churn_refreshes": {${run.refreshes.map { case (r, n) => s""""$r": $n""" }
          .mkString(", ")}}""",
        s""""phases": {${ledger.byPhase.map { case (p, a, f) =>
          s""""$p": [$a, $f]""" }.mkString(", ")}}""",
        s""""errors": [${ledger.errors.map(e => "\"" + jsonEscape(e) + "\"").mkString(", ")}]""")
        .mkString(", ") + "}"
      val metrics = if (!trace) {
        val e2e = Report.endToEnd(run.samples, run.gauges)
        Report.EndToEnd.map(m => m -> e2e(m.name))
      } else {
        // Tracing overhead: the same single-client searches with the
        // listener and span recorder detached, then attached again.
        drain(spark)
        spark.sparkContext.removeSparkListener(listener.get)
        val untraced = run.searchP50(plan.overheadSearches, recordSpans = false)
        spark.sparkContext.addSparkListener(listener.get)
        val traced = run.searchP50(plan.overheadSearches, recordSpans = true)
        drain(spark)
        val spans = run.spans.get.all
        val jobs = listener.get.jobs
        val storageMb = spark.sparkContext.getRDDStorageInfo
          .map(i => i.memSize + i.diskSize).sum / 1048576.0
        val values = Report.perLayerValues(run.samples, run.gauges, spans, jobs, Slots,
          plan.docs, storageMb, gcTotal, 100.0 * (traced - untraced) / untraced)
        Files.write(Paths.get(s"$work/trace-$workload-$seed.json"),
          Tracer.toJson(stamp(), spans, jobs).getBytes(UTF_8))
        val names = BatchOps.queries.map(_._1)
        Report.perLayer(names).map(m => m -> values.getOrElse(m.name, Double.NaN))
      }
      println(s"""{"stamp": ${stamp()}}""")
      val complete = metrics.forall { case (_, v) => !v.isNaN && !v.isInfinite }
      println(Report.resultLine(ledger.failed == 0 && complete, ledger.attempted, ledger.failed,
        metrics))
    } finally {
      val t0 = System.nanoTime()
      run.close()
      spark.stop()
      System.err.println(f"[perfbench] teardown ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
  }

  private def drain(spark: SparkSession): Unit =
    org.apache.spark.ListenerBusDrain(spark.sparkContext)

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Slots]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", Slots.toString)
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.scheduler.allocation.file", graft.Graft.fairDefaultPoolFile)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def readDigests(file: String): Map[String, String] = {
    val txt = new String(Files.readAllBytes(Paths.get(file)), UTF_8)
    "\"([^\"]+)\"\\s*:\\s*\"([^\"]+)\"".r.findAllMatchIn(txt)
      .map(m => m.group(1) -> m.group(2)).toMap
  }

  def loadAvg(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8).split(" ")(0).toDouble
    catch { case scala.util.control.NonFatal(_) => -1.0 }

  private def gcMs(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.toDouble).sum
  }

  private def jsonEscape(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " "
      case c => c.toString
    }
}
