package graft
import org.apache.spark.sql.SparkSession

/** Driver bench: one JSON line with per-query steady-state seconds.
  *
  * Measurement hygiene (round-5/6 review findings: single-JVM suite
  * timings inflate 2.5-5× over isolated runs — cross-family heap history
  * and GC noise mask per-query regressions even after cache clears):
  *  - the TOP-LEVEL invocation forks ONE CHILD JVM PER QUERY FAMILY
  *    (d/e/m/p/q/s/t/v prefix) and merges their JSON lines, so every
  *    family's numbers come from a JVM whose heap has only ever run that
  *    family — the same regime as an isolated `SPARK_GRAFT_ONLY` run;
  *  - each child gives its family one untimed warm pass (builds its
  *    indexes/caches, JITs its codegen) before timing;
  *  - each query reports the MEDIAN of `SPARK_GRAFT_REPS` (default 3)
  *    steady-state repetitions (a stray GC pause can't masquerade as a
  *    plan regression), with the per-query MIN alongside in
  *    `queries_min` for regression triage;
  *  - per-query exceptions are COUNTED, not swallowed: a query that
  *    throws is EXCLUDED from `queries`/`queries_min` (its fast-failure
  *    time would otherwise read as a speedup), its name lands in
  *    `failed`, and ANY error forces the headline `value` to -1 — a
  *    round-over-round diff of the total can never mistake breakage
  *    for improvement.
  *
  * Forking reconstructs the child from this JVM's own binary, input
  * arguments, and a classpath taken from java.class.path or — when that
  * lacks the classes (sbt's in-process `runMain` under layered
  * classloaders, the driver's launch shape) — rebuilt from the
  * classloader chain's URLs. When neither yields a viable child it
  * falls back to the single-JVM path, WHICH CARRIES THE BASELINE GUARD
  * TOO (r15 verdict #1: the guard lived only on the forked path, so
  * two consecutive driver gates shipped contaminated with `reruns:[]`).
  * Every line stamps `mode`/`baseline_guard`/`fallback_reason` so an
  * unprotected draw is self-identifying. `SPARK_GRAFT_NOFORK=1` forces
  * the fallback; `SPARK_GRAFT_ONLY=a,b` (local iteration) also runs
  * in-process.
  */
object Bench {

  /** Queries measured at ONE rep: the transactional gates, whose per-rep
    * cost is deliberate commit/fence/re-read semantics at Spark's
    * per-job floor. Keyed by exact name — a name-prefix convention
    * would silently demote any future query that happens to start with
    * 'x' to a noisier single-rep median (ADVICE r13).
    */
  private[graft] val SingleRepQueries: Set[String] =
    Set("x1_pinned_compaction", "x2_incremental_serving")

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }

  /** 1-minute system load average (-1 when the platform can't report
    * one). Recorded in every bench line: round 9 shipped a bench whose
    * q-family read ~2× slow purely from machine load (the round's own
    * sbt work running alongside), and without the load recorded the
    * artifact was indistinguishable from a plan regression.
    */
  private[graft] def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage

  /** Load ceiling above which a family's numbers are considered
    * contaminated and the family is re-run once (forked path only).
    * The default scales with the child's own thread count — a
    * local[N] child legitimately drives loadavg toward N (and the
    * 1-minute EMA carries the previous family's work into the next
    * child's start), so a fixed ceiling below ~1.5·N would re-run
    * every family against the bench's own load. max(12, 1.5·cpus)
    * keeps the guard meaningful for small-N children while only
    * flagging genuinely external load under wide ones.
    */
  private def loadMax(): Double =
    sys.env.get("SPARK_GRAFT_LOAD_MAX").map(_.toDouble).getOrElse {
      math.max(12.0, 1.5 * benchCpus().toInt)
    }

  /** Thread count for every bench Spark session and for the baseline
    * cpus-match: SPARK_GRAFT_CPUS, defaulting to THE BOX'S core count —
    * NOT a fixed small constant. The r15 driver gate's bidirectional
    * drift (q1_agg 9.4× SLOWER than baseline while v9 read FASTER) is
    * the local[4] signature: scan-bound families starve at 4 threads
    * while tiny per-query jobs shed scheduling overhead — the old
    * default silently benchmarked a 4-thread engine whenever the
    * launcher didn't export the env var, and no guard could tell that
    * apart from contamination. A benchmark's sane default is the
    * machine it runs on; the resolved value is stamped into the JSON
    * line and must match the baseline's stamp for the guard to arm.
    */
  private[graft] def benchCpus(): String =
    // Validated ONCE here: a non-numeric SPARK_GRAFT_CPUS falls back to
    // the core count instead of throwing in loadMax()'s arithmetic or
    // corrupting the JSON line where the value is stamped unquoted
    // (ADVICE r16).
    sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.trim.toIntOption).filter(_ > 0)
      .getOrElse(Runtime.getRuntime.availableProcessors()).toString

  /** Per-query baseline minima from the last quiet-machine local bench
    * (`BENCH_baseline_local.json`, refreshed each round) — the second
    * contamination guard (round-10 verdict item 4): the loadavg ceiling
    * missed BENCH_r10's 1.5-1.8× d-family inflation because ambient
    * load peaked at 6.35, under any self-load-tolerant ceiling. A
    * family whose MEDIAN exceeds its baseline MIN by
    * [[baselineSlack]]× is re-run once regardless of load — plan
    * regressions survive both attempts and still show; transient load
    * doesn't. Empty when the file is missing or was recorded at a
    * different scale factor.
    */
  private[graft] def resolveBaselineFile(): Option[java.io.File] = {
    // Resolution order (r14 verdict item 1: the driver gate ran with
    // reruns=[] while v9 sat at 8× its baseline because the bare
    // relative path below never resolved from the driver's cwd):
    //  1. explicit SPARK_GRAFT_BENCH_BASELINE;
    //  2. the cwd file (local iteration from the repo root);
    //  3. the repo root derived from the compiled-classes classpath
    //    entry (target/scala-2.13/classes → three parents up) — the
    //    anchor that holds from ANY cwd the driver launches with.
    // An EXPLICIT env path is authoritative: set-but-missing means the
    // caller wants the guard OFF (paired A/B drills) — falling through
    // to the cwd file would silently re-enable it against a baseline
    // the caller specifically rejected.
    sys.env.get("SPARK_GRAFT_BENCH_BASELINE") match {
      case Some(p) => return Some(new java.io.File(p)).filter(_.isFile)
      case None => ()
    }
    val candidates =
      Seq(new java.io.File("BENCH_baseline_local.json")) ++
        System.getProperty("java.class.path", "")
          .split(java.io.File.pathSeparatorChar).toSeq
          .filter(_.replace('\\', '/').endsWith("target/scala-2.13/classes"))
          .flatMap { p =>
            Option(new java.io.File(p).getParentFile)
              .flatMap(d => Option(d.getParentFile))
              .flatMap(d => Option(d.getParentFile))
              .map(root => new java.io.File(root, "BENCH_baseline_local.json"))
          }
    candidates.find(_.isFile)
  }

  /** Baseline mins plus the guard's ARMING STATE, stamped verbatim into
    * the JSON line as `baseline_guard` (r15 verdict item 1: two rounds
    * of driver gates shipped with the guard silently inert, and the
    * only way to tell was forensic inference from famMax==loadavg_start
    * — an unprotected draw must be SELF-identifying):
    *  - `armed`  — mins loaded, the guard compares and can re-run;
    *  - `off`    — the caller explicitly disabled it
    *               (SPARK_GRAFT_BENCH_BASELINE set to a missing path,
    *               the paired-A/B drill convention);
    *  - `empty`  — no baseline resolved, or it was recorded at a
    *               different sf, or it parsed to nothing: the guard
    *               CANNOT protect this draw.
    */
  private def baselineMinsWithStatus(sfDir: String): (Map[String, Double], String) = {
    if (sys.env.get("SPARK_GRAFT_BENCH_BASELINE").exists(p => !new java.io.File(p).isFile))
      return (Map.empty, "off")
    val m = baselineMins(sfDir)
    (m, if (m.nonEmpty) "armed" else "empty")
  }

  private def baselineMins(sfDir: String): Map[String, Double] = {
    val fOpt = resolveBaselineFile()
    if (fOpt.isEmpty) {
      // Loud, not silent: an unresolved baseline disables the second
      // contamination guard entirely — exactly the r14 failure mode.
      System.err.println("[bench] no BENCH_baseline_local.json found " +
        "(env/cwd/repo root) — the baseline contamination guard is OFF")
      return Map.empty
    }
    val f = fOpt.get
    try {
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
      val baseSf = Option(root.get("sf")).map(_.asText()).getOrElse("")
      // The baseline only means anything at the same scale factor AND
      // thread count: a 32-thread child reads sub-second queries
      // 1.7-2.2× a 16-thread one (task-scheduling overhead dominates
      // tiny sf0.1 partitions at 2× parallelism — measured in the r16
      // driver-shape dry-run, where a 16-cpu baseline fired the guard
      // on SEVEN families of a quiet 32-cpu run). A baseline without a
      // cpus stamp is accepted as-is (pre-r16 files).
      val baseCpus = Option(root.get("cpus")).map(_.asText())
      val runCpus = benchCpus()
      if (baseCpus.exists(_ != runCpus)) {
        System.err.println(s"[bench] baseline recorded at cpus=${baseCpus.get} " +
          s"but this run uses cpus=$runCpus — guard disabled (refresh the " +
          "baseline in this thread shape)")
        Map.empty
      }
      else if (!baseSf.endsWith(sfDir.split('/').last)) Map.empty
      else {
        val node = root.get("queries_min")
        if (node == null) Map.empty
        else {
          val names = node.fieldNames()
          val b = Map.newBuilder[String, Double]
          while (names.hasNext) {
            val k = names.next(); b += k -> node.get(k).asDouble()
          }
          b.result()
        }
      }
    } catch { case _: Exception => Map.empty }
  }

  private def baselineSlack(): Double =
    sys.env.get("SPARK_GRAFT_BASELINE_SLACK").flatMap(_.toDoubleOption)
      .getOrElse(1.5)

  /** The baseline guard's decision, extracted for direct testing
    * (BenchGuardSpec pins that a poisoned draw FIRES it — r14 shipped
    * a driver gate where it was silently inert): queries whose median
    * exceeds their quiet-machine baseline min by more than `slack`×.
    */
  private[graft] def slowVsBaseline(med: Seq[(String, Double)],
                                    baseline: Map[String, Double],
                                    slack: Double): Seq[String] =
    med.collect {
      case (q, v) if baseline.get(q).exists(b => v > b * slack) => q
    }

  /** Deterministic single-thread CPU probe, stamped into the JSON line
    * as `cpu_probe_ms`: a fixed xorshift+popcount loop whose wall time
    * depends only on this box's single-core speed. Round-over-round
    * artifact diffs divide by it to separate machine drift from plan
    * regressions — BENCH_r11_local came in a UNIFORM ~1.4× over
    * BENCH_r10_local including queries whose code no round had touched,
    * and without a stamped probe that offset was indistinguishable from
    * a repo-wide regression. Warm-run median of 3.
    */
  private[graft] def cpuProbe(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9e3779b97f4a7c15L
      var acc = 0L
      var i = 0
      while (i < 20000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        acc += java.lang.Long.bitCount(x)
        i += 1
      }
      // acc escapes through the blackhole below so the loop can't be DCE'd
      blackhole = acc
      (System.nanoTime() - t0) / 1e6
    }
    once() // JIT warm
    val xs = Seq(once(), once(), once()).sorted
    xs(1)
  }
  @volatile private var blackhole: Long = 0L

  /** Deterministic IO probe, stamped as `io_probe_ms`: write 64 MB to
    * the shuffle-local tmpdir in 1 MB chunks with an fsync, read it
    * back, delete. The CPU probe cannot see drift in the disk/page-
    * cache subsystem — r11's `d4_dedup_ngram` 1.59× probe-normalized
    * "regression" was exactly that (shuffle-IO machine drift, confirmed
    * by rebuilding the pre-session commit); this stamp makes the next
    * such diff attributable without a worktree rebuild. Median of 3.
    */
  private[graft] def ioProbe(): Double = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ioprobe")
    try {
      val chunk = new Array[Byte](1 << 20)
      new scala.util.Random(42).nextBytes(chunk)
      def once(i: Int): Double = {
        val f = dir.resolve(s"probe$i.bin")
        val t0 = System.nanoTime()
        val fos = new java.io.FileOutputStream(f.toFile)
        try {
          var j = 0
          while (j < 64) { fos.write(chunk); j += 1 }
          fos.getFD.sync()
        } finally fos.close()
        val in = java.nio.file.Files.newInputStream(f)
        try {
          val buf = new Array[Byte](1 << 20)
          var n = 0L
          var r = in.read(buf)
          while (r >= 0) { n += r; r = in.read(buf) }
          blackhole = n
        } finally in.close()
        java.nio.file.Files.delete(f)
        (System.nanoTime() - t0) / 1e6
      }
      val xs = Seq(once(0), once(1), once(2)).sorted
      xs(1)
    } finally {
      try java.nio.file.Files.deleteIfExists(dir)
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  /** Writeback-settle (r14 verdict item 2): sync, then wait (bounded)
    * for the page cache's Dirty pool to drain under ~64 MB. A bench
    * family recorded behind another family's unflushed gigabytes reads
    * 1.2–2× slow with nothing wrong in the plan (SCANBENCH_r14b's
    * 49 ms bare scan under its own 22 ms funnel row — internally
    * impossible except as writeback contention). Returns the Dirty kB
    * it settled at (-1 when /proc/meminfo is unreadable).
    */
  /** Read-only Dirty-pool sample from /proc/meminfo (-1 when
    * unreadable). The `dirty_kb` stamp uses THIS, not a settle call:
    * r15 stamped via `settleWriteback(0)`, which issued a sync(2) as a
    * hidden side effect of building the JSON string and reported the
    * post-sync value rather than the state the timings ran under
    * (ADVICE r15).
    */
  private[graft] def dirtyKb(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/meminfo")
      try src.getLines().collectFirst {
        case l if l.startsWith("Dirty:") => l.split("\\s+")(1).toLong
      }.getOrElse(-1L)
      finally src.close()
    } catch { case _: Exception => -1L }

  private[graft] def settleWriteback(maxWaitMs: Long = 15000): Long = {
    try new ProcessBuilder("sync").start().waitFor()
    catch { case _: Exception => () }
    val t0 = System.nanoTime()
    var d = dirtyKb()
    while (d > 65536 && (System.nanoTime() - t0) < maxWaitMs * 1000000L) {
      Thread.sleep(500)
      d = dirtyKb()
    }
    d
  }

  /** `loadStart`/`loadEnd` are point samples at run start/end;
    * `famMax` is the max load any family's timing observed (forked
    * path: max over child-reported samples; in-process: max of the two
    * point samples) — the contamination ceiling a reader should judge
    * the numbers by.
    */
  private def jsonLine(qMed: collection.Map[String, Double],
                       qMin: collection.Map[String, Double],
                       errors: Int, failed: Seq[String], sfDir: String,
                       loadStart: Double, loadEnd: Double, famMax: Double,
                       reruns: Seq[String] = Nil,
                       mode: String = "forked",
                       guard: String = "armed",
                       fallbackReason: String = "",
                       txPhases: Seq[(String, Double)] = Nil): String = {
    def obj(m: collection.Map[String, Double]) =
      m.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    // x-family phase split (clone/pin/commit/compact/search walls from
    // the timed rep) so the x-rows' variance is attributable from the
    // bench line alone (r16 verdict item 5)
    def r3(x: Double): Double = math.round(x * 1000) / 1000.0
    val tx = if (txPhases.isEmpty) ""
      else txPhases.map { case (k, v) => "\"" + k + "\":" + r3(v) }
        .mkString("\"tx_phases\":{", ",", "},")
    // any failure invalidates the headline total: a crashed family or
    // query REDUCES the sum, so a plain value diff would read breakage
    // as a speedup
    val total = if (errors > 0) -1.0 else qMed.values.sum
    val failedArr = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val rerunsArr = reruns.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Double.toString, NOT an f"" interpolator: f"%.2f" is
    // locale-dependent (comma decimals under e.g. de_DE would corrupt
    // the parent-child JSON protocol).
    def r2(x: Double): String = (math.round(x * 100) / 100.0).toString
    // mode/baseline_guard/fallback_reason make an unprotected draw
    // SELF-identifying (r15 verdict #1: two rounds of driver gates ran
    // the unguarded in-process path and the artifact didn't say so).
    val fb = if (fallbackReason.isEmpty) ""
      else s""""fallback_reason":"$fallbackReason","""
    // cpus rides the line so a refreshed baseline carries its thread
    // shape (the guard refuses to compare across different ones)
    val cpus = benchCpus()
    s"""{"metric":"total","value":$total,"unit":"sec","queries":${obj(qMed)},""" +
      s""""queries_min":${obj(qMin)},"errors":$errors,"failed":$failedArr,""" +
      s""""loadavg_start":${r2(loadStart)},"loadavg_end":${r2(loadEnd)},""" +
      s""""loadavg_family_max":${r2(famMax)},"reruns":$rerunsArr,$tx""" +
      s""""mode":"$mode","baseline_guard":"$guard",$fb"cpus":$cpus,""" +
      s""""cpu_probe_ms":${r2(cpuProbe())},"io_probe_ms":${r2(ioProbe())},""" +
      s""""dirty_kb":${dirtyKb()},"sf":"$sfDir"}"""
  }

  /** Top-level stdout emission (r17 verdict item 1): the single-line
    * format above is ~4.8k chars (68 full-precision medians + 68 mins +
    * tx_phases) while the DRIVER captures only a 2000-char stdout TAIL —
    * every BENCH_r*.json since round 10 shipped `parsed: null` and the
    * driver's per-query comparison never ran. The top level therefore
    * prints TWO lines:
    *  1. a DETAIL line (full-precision medians, mins, tx_phases, every
    *     forensic stamp) — same content the old line carried, nothing
    *     is lost;
    *  2. the compact FINAL line — metric/value/unit/queries (rounded
    *     medians, see [[benchFinalLine]])/errors/failed/mode/guard/cpus/sf,
    *     sized to sit whole inside a 2000-char tail window (~1.8k
    *     chars at 68 queries; [[benchFinalLine]] is length-pinned in
    *     BenchGuardSpec).
    * CHILD processes keep the old single full-precision line verbatim —
    * [[parseChildLine]] is that protocol's only consumer.
    * The timed action (per-family child JVM, untimed warm pass, median
    * of SPARK_GRAFT_REPS `.count()` reps) is UNCHANGED.
    */
  private def emitTopLevel(qMed: collection.Map[String, Double],
                           qMin: collection.Map[String, Double],
                           errors: Int, failed: Seq[String], sfDir: String,
                           loadStart: Double, loadEnd: Double, famMax: Double,
                           reruns: Seq[String], mode: String, guard: String,
                           fallbackReason: String = "",
                           txPhases: Seq[(String, Double)] = Nil): Unit = {
    def obj(m: collection.Map[String, Double]) =
      m.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    def r2(x: Double): String = (math.round(x * 100) / 100.0).toString
    def r3(x: Double): Double = math.round(x * 1000) / 1000.0
    val tx = txPhases.map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val rerunsArr = reruns.map("\"" + _ + "\"").mkString("[", ",", "]")
    val fb = if (fallbackReason.isEmpty) ""
      else s""""fallback_reason":"$fallbackReason","""
    println(
      s"""{"metric":"detail","queries_full":${obj(qMed)},""" +
        s""""queries_min":${obj(qMin)},"tx_phases":$tx,""" +
        s""""loadavg_start":${r2(loadStart)},"loadavg_end":${r2(loadEnd)},""" +
        s""""loadavg_family_max":${r2(famMax)},"reruns":$rerunsArr,$fb""" +
        s""""cpu_probe_ms":${r2(cpuProbe())},"io_probe_ms":${r2(ioProbe())},""" +
        s""""dirty_kb":${dirtyKb()},"sf":"$sfDir"}""")
    println(benchFinalLine(qMed, errors, failed, sfDir, mode, guard,
      reruns, fallbackReason))
  }

  /** The compact final line — the LAST stdout line of a top-level run,
    * and the one a reader parses. Query medians at 3 decimals below
    * 10 s, 2 below 100 s and 1 above (so at most 4 significant digits
    * below 1000 s; the detail line keeps full precision), printed as
    * Double.toString of the rounded value: locale-independent, trailing
    * zeros dropped. Extracted for the length pin in BenchGuardSpec.
    */
  private[graft] def benchFinalLine(qMed: collection.Map[String, Double],
                                    errors: Int, failed: Seq[String],
                                    sfDir: String, mode: String,
                                    guard: String, reruns: Seq[String] = Nil,
                                    fallbackReason: String = ""): String = {
    def r3(x: Double): Double = math.round(x * 1000) / 1000.0
    def compact(x: Double): Double = {
      val scale = if (x >= 100) 10.0 else if (x >= 10) 100.0 else 1000.0
      math.round(x * scale) / scale
    }
    val q = qMed.map { case (k, v) => "\"" + k + "\":" + compact(v) }
      .mkString("{", ",", "}")
    val total = if (errors > 0) -1.0 else r3(qMed.values.sum)
    val failedArr = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val rerunsArr = reruns.map("\"" + _ + "\"").mkString("[", ",", "]")
    val fb = if (fallbackReason.isEmpty) ""
      else s""""fallback_reason":"$fallbackReason","""
    s"""{"metric":"total","value":$total,"unit":"sec","queries":$q,""" +
      s""""errors":$errors,"failed":$failedArr,"reruns":$rerunsArr,""" +
      s""""mode":"$mode","baseline_guard":"$guard",$fb""" +
      s""""cpus":${benchCpus()},"sf":"$sfDir"}"""
  }

  def main(args: Array[String]): Unit = {
    if (sys.env.contains("SPARK_GRAFT_CHILD")) { runInProcess("child"); return }
    if (sys.env.contains("SPARK_GRAFT_NOFORK")) { runInProcess("nofork-env"); return }
    if (sys.env.contains("SPARK_GRAFT_ONLY")) { runInProcess("only-env"); return }
    childClasspath() match {
      case Some(cp) => if (!runForked(cp)) runInProcess("first-child-failed")
      case None => runInProcess("no-child-classpath")
    }
  }

  // ---- forked (top-level) path ---------------------------------------------

  /** Classpath a child JVM can be launched with, or None when no viable
    * one can be reconstructed. `java.class.path` is authoritative when
    * it already carries the graft classes (plain `java -cp` launches,
    * scripts/run.sh, spark-submit). When it does NOT — sbt's in-process
    * `runMain` runs the app under LAYERED CLASSLOADERS with
    * java.class.path = sbt-launch.jar only, which is exactly how the
    * r14 AND r15 driver gates silently fell through to the unguarded
    * single-JVM path — the classpath is rebuilt by walking the
    * classloader chain's URLs (sbt's layers are URLClassLoaders: one
    * for the compiled classes, one for the dependency jars). The merge
    * only counts as viable when BOTH the graft classes and the Spark
    * jars are present, so a child launched with it can actually run.
    */
  private[graft] def childClasspath(): Option[String] = {
    val loaderEntries = scala.collection.mutable.LinkedHashSet.empty[String]
    def walk(cl: ClassLoader): Unit = if (cl != null) {
      cl match {
        case u: java.net.URLClassLoader =>
          u.getURLs.foreach { url =>
            if (url.getProtocol == "file")
              try loaderEntries += new java.io.File(url.toURI).getAbsolutePath
              catch { case _: Exception => () }
          }
        case _ => ()
      }
      walk(cl.getParent)
    }
    walk(getClass.getClassLoader)
    walk(Thread.currentThread().getContextClassLoader)
    // code-source anchors: resolve the graft classes dir AND the Spark
    // jars dir even when no loader in the chain is a URLClassLoader
    // (sbt ≥1.3's layered ClassLoaderCache loaders are not — verified
    // against a real `sbt runMain` launch, where the URL walk finds
    // nothing). SparkSession's code source is one jar inside the Spark
    // distribution's jars dir; its SIBLINGS are the rest of it.
    val selfAnchor = codeSource(getClass).map(_.getAbsolutePath)
    selfAnchor.foreach(loaderEntries += _)
    codeSource(classOf[org.apache.spark.sql.SparkSession]).foreach { jar =>
      loaderEntries += jar.getAbsolutePath
      Option(jar.getParentFile).flatMap(d => Option(d.listFiles())).toSeq.flatten
        .filter(_.getName.endsWith(".jar"))
        .foreach(j => loaderEntries += j.getAbsolutePath)
    }
    childClasspathFrom(System.getProperty("java.class.path", ""),
      loaderEntries.toSeq, selfAnchor)
  }

  private[graft] def codeSource(c: Class[_]): Option[java.io.File] =
    try Option(c.getProtectionDomain.getCodeSource)
      .flatMap(cs => Option(cs.getLocation))
      .filter(_.getProtocol == "file")
      .map(l => new java.io.File(l.toURI))
    catch { case _: Exception => None }

  /** Pure core of [[childClasspath]], unit-pinned against the real
    * launch shapes (BenchGuardSpec): `javaClassPath` wins when it has
    * the graft classes — either a classes dir containing
    * graft/Bench.class, or THE JAR/DIR THAT LOADED Bench ITSELF
    * (`selfAnchor`: sbt's forked runMain packages the app as
    * binaryvectordbspark_*.jar, which no name pattern can know) —
    * otherwise the merged loader entries must carry the graft classes
    * AND a spark jar to be viable.
    */
  private[graft] def childClasspathFrom(javaClassPath: String,
                                        loaderEntries: Seq[String],
                                        selfAnchor: Option[String]): Option[String] = {
    val sep = java.io.File.pathSeparatorChar
    def hasGraft(entries: Seq[String]): Boolean = entries.exists(p =>
      new java.io.File(p, "graft/Bench.class").isFile ||
        selfAnchor.contains(new java.io.File(p).getAbsolutePath))
    def hasSpark(entries: Seq[String]): Boolean = entries.exists(p =>
      new java.io.File(p).getName.matches("spark-(sql|core).*\\.jar"))
    val sysEntries = javaClassPath.split(sep).toSeq.filter(_.nonEmpty)
    if (hasGraft(sysEntries)) Some(javaClassPath)
    else {
      val merged = (sysEntries ++ loaderEntries).distinct
      if (hasGraft(merged) && hasSpark(merged)) Some(merged.mkString(sep.toString))
      else None
    }
  }

  /** JVM flags for a child: this JVM's own flags, plus the JDK-17
    * module opens Spark needs and an -Xms=-Xmx heap pin when absent.
    * A child forked from an sbt-server JVM inherits SBT's flags, which
    * carry neither — without the opens the child dies at SparkSession
    * construction and the whole family would read as errors.
    */
  private[graft] def childJvmArgs(inherited: Seq[String]): Seq[String] = {
    // Union, not all-or-nothing (ADVICE r16): a parent carrying a
    // PARTIAL opens set (sbt configs commonly add one or two of their
    // own) must still get every Spark-required module/package pair, or
    // the child dies at SparkSession construction and the gate silently
    // degrades to the in-process path. Both spellings are recognized:
    // "--add-opens X=Y" (two args) and "--add-opens=X=Y" (one arg).
    val inheritedPairs: Set[String] = {
      val b = Set.newBuilder[String]
      val it = inherited.iterator
      while (it.hasNext) {
        val a = it.next()
        if (a == "--add-opens") { if (it.hasNext) b += it.next().takeWhile(_ != '=') }
        else if (a.startsWith("--add-opens="))
          b += a.stripPrefix("--add-opens=").takeWhile(_ != '=')
      }
      b.result()
    }
    val opens = Seq(
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar",
      ).filterNot(inheritedPairs.contains)
       .flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val heap =
      if (inherited.exists(_.startsWith("-Xmx"))) Nil
      else {
        val m = sys.env.getOrElse("SPARK_DRIVER_MEM", "8g")
        Seq(s"-Xms$m", s"-Xmx$m")
      }
    // -agentlib/-javaagent flags are dropped: a child re-attaching
    // sbt's JMX/debug agents on the same port fails to start
    inherited.filterNot(a =>
      a.startsWith("-agentlib") || a.startsWith("-javaagent")) ++ opens ++ heap
  }

  /** One child JVM per family, same binary/flags/env as this JVM on the
    * given classpath; merges the children's JSON lines. Returns false
    * when the FIRST family's child fails outright (bad reconstruction,
    * crash-at-startup) — the caller then runs the whole suite on the
    * guarded in-process path rather than shipping an all-errors line.
    */
  private def runForked(cp: String): Boolean = {
    import scala.jdk.CollectionConverters._
    val javaBin = new java.io.File(
      new java.io.File(System.getProperty("java.home"), "bin"), "java")
    if (!javaBin.isFile) return false
    val jvmArgs = childJvmArgs(java.lang.management.ManagementFactory
      .getRuntimeMXBean.getInputArguments.asScala.toSeq)

    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val families = SparkEntry.queries.keys.toSeq.sorted.groupBy(_.head).toSeq.sortBy(_._1)
    val loadStart = loadAvg()

    // One child attempt: returns the parsed result + the child's max
    // recorded loadavg, or None when the child crashed / emitted garbage.
    def runFamily(names: Seq[String])
        : Option[(Seq[(String, Double)], Seq[(String, Double)], Int, Seq[String], Double,
                  Seq[(String, Double)])] = {
      val cmd = Seq(javaBin.getAbsolutePath) ++ jvmArgs ++
        Seq("-cp", cp, "graft.Bench")
      val pb = new ProcessBuilder(cmd: _*)
      pb.environment().put("SPARK_GRAFT_CHILD", "1")
      pb.environment().put("SPARK_GRAFT_ONLY", names.mkString(","))
      // pin the parent's RESOLVED thread count so parent-side stamps,
      // the guard's cpus-match, and the child's local[N] agree even
      // when the launcher never set the env var
      pb.environment().put("SPARK_GRAFT_CPUS", benchCpus())
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      val proc = pb.start()
      val out = scala.io.Source.fromInputStream(proc.getInputStream).getLines().toList
      val code = proc.waitFor()
      out.find(_.startsWith("{")).filter(_ => code == 0).flatMap(parseChildLine)
    }

    val qMed = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val qMin = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    val reruns = scala.collection.mutable.ArrayBuffer.empty[String]
    val txPhases = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    var errors = 0
    var famMax = loadStart
    val (baseline, guardStatus) = baselineMinsWithStatus(sfDir)
    if (baseline.isEmpty)
      System.err.println("[bench] WARNING: baseline guard running EMPTY " +
        s"(file missing or recorded at a different sf than $sfDir)")
    var firstFamily = true
    families.foreach { case (fam, names) =>
      // Writeback settle between children: the previous family's
      // unflushed writes otherwise bill the next family's IO.
      settleWriteback()
      // Two contamination guards, each re-running the family ONCE:
      //  - load (round-9 finding): the family's child saw loadavg above
      //    the ceiling — keep the attempt that saw the quieter machine;
      //  - baseline (round-10 finding): some query's median exceeds its
      //    last quiet-machine min by the slack factor — ambient load
      //    under the ceiling still inflates timings; keep the FASTER
      //    attempt (a real plan regression is slow in both).
      def slow(med: Seq[(String, Double)]): Seq[String] =
        slowVsBaseline(med, baseline, baselineSlack())
      val first = runFamily(names)
      val attempt = first match {
        case Some(r) if r._5 > loadMax() =>
          System.err.println(f"[bench] family '$fam' saw loadavg ${r._5}%.1f > " +
            f"${loadMax()}%.1f — re-running once on a (hopefully) quieter machine")
          reruns += fam.toString
          runFamily(names) match {
            case Some(r2) if r2._5 < r._5 => Some(r2)
            case _ => Some(r)
          }
        case Some(r) if slow(r._1).nonEmpty =>
          System.err.println(s"[bench] family '$fam' queries " +
            s"${slow(r._1).mkString(",")} exceed the local baseline " +
            s"min by >${baselineSlack()}x — re-running once")
          reruns += fam.toString
          runFamily(names) match {
            case Some(r2) if r2._1.map(_._2).sum < r._1.map(_._2).sum => Some(r2)
            case _ => Some(r)
          }
        case other => other
      }
      attempt match {
        case Some((med, min, errs, fld, famLoad, txp)) =>
          qMed ++= med; qMin ++= min; errors += errs; failed ++= fld
          famMax = math.max(famMax, famLoad)
          txPhases ++= txp
        case None if firstFamily =>
          // The very first child failing at JVM level means the
          // reconstructed launch doesn't work in this environment
          // (classpath/flags) — bail to the guarded in-process path
          // instead of shipping a line where every family is an error.
          System.err.println(s"[bench] first family '$fam' child failed " +
            "outright — abandoning the forked path, falling back in-process")
          return false
        case None =>
          System.err.println(s"[bench] family '$fam' child failed — " +
            s"counting its ${names.size} queries as errors")
          errors += names.size
          failed ++= names
      }
      firstFamily = false
    }
    emitTopLevel(qMed, qMin, errors, failed.toSeq, sfDir, loadStart, loadAvg(),
      famMax, reruns.toSeq, mode = "forked", guard = guardStatus,
      txPhases = txPhases.toSeq)
    true
  }

  /** Parse a child's JSON line with Jackson (on the Spark classpath) —
    * a real parser fails LOUDLY on format drift where substring
    * arithmetic would silently merge an empty family.
    */
  private def parseChildLine(line: String)
      : Option[(Seq[(String, Double)], Seq[(String, Double)], Int, Seq[String], Double,
                Seq[(String, Double)])] =
    try {
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
      def numObj(field: String): Seq[(String, Double)] = {
        val node = root.get(field)
        if (node == null) Nil
        else {
          val names = node.fieldNames()
          val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
          while (names.hasNext) {
            val k = names.next()
            buf += k -> node.get(k).asDouble()
          }
          buf.toSeq
        }
      }
      def strArr(field: String): Seq[String] = {
        val node = root.get(field)
        if (node == null) Nil
        else (0 until node.size()).map(i => node.get(i).asText())
      }
      val famLoad = math.max(
        Option(root.get("loadavg_start")).map(_.asDouble()).getOrElse(-1.0),
        Option(root.get("loadavg_end")).map(_.asDouble()).getOrElse(-1.0))
      Some((numObj("queries"), numObj("queries_min"),
        Option(root.get("errors")).map(_.asInt()).getOrElse(0), strArr("failed"),
        famLoad, numObj("tx_phases")))
    } catch {
      case _: Exception => None
    }

  // ---- in-process (child / fallback) path ----------------------------------

  /** One family's timed attempt: (per-query median, per-query min,
    * failed names). A query that threw records NO timing — its
    * fast-failure reps would otherwise read as a speedup.
    */
  private def timeFamily(spark: SparkSession, sfDir: String, reps: Int,
                         qs: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)])
      : (Seq[(String, Double)], Seq[(String, Double)], Seq[String]) = {
    val med = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    val min = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    val failedNames = scala.collection.mutable.LinkedHashSet.empty[String]
    // Warm pass: builds this family's session-lifetime indexes and
    // caches and JITs its codegen — the same warm-index regime the
    // reference's published numbers use (index resident in RAM).
    qs.foreach { case (name, fn) =>
      try { fn(spark, sfDir).count() } catch {
        case t: Throwable =>
          failedNames += name
          System.err.println(s"[bench] warm pass of $name failed: $t")
      }
    }
    qs.foreach { case (name, fn) =>
      // Transactional gates: reps pinned to 1 (explicit names, not a
      // prefix — a future query merely NAMED x* must not silently get
      // a noisier 1-rep median). Each rep is 4s of deliberate
      // commit/fence/re-read semantics at Spark's per-job floor
      // (irreducible by the per-phase split, ARCHITECTURE "The x-family
      // gate cost, dissected"), its regression signal lives in
      // `tx_phases` and perfbench's commit/delete/visible medians, and 3
      // reps made x1+x2 31% of the whole bench gate for a median nobody
      // reads.
      val qReps = if (Bench.SingleRepQueries.contains(name)) 1 else reps
      val samples = (1 to qReps).map { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch {
          case t: Throwable =>
            failedNames += name
            System.err.println(s"[bench] $name failed: $t")
        }
        (System.nanoTime() - t0) / 1e9
      }
      if (!failedNames.contains(name)) {
        med += name -> median(samples)
        min += name -> samples.min
      }
    }
    (med.toSeq, min.toSeq, failedNames.toSeq)
  }

  /** Single-JVM path: every child runs here, and so does the whole
    * suite when forking isn't viable. The BASELINE GUARD runs here too
    * when this JVM is the top level (r15 verdict #1: both guards lived
    * only on the forked path, so the driver's sbt-launched gate — which
    * fell through to this path two rounds running — shipped queries at
    * 7-9× baseline with `reruns:[]`). A flagged family gets its caches
    * dropped, a writeback settle, and ONE re-timing; the faster attempt
    * is kept (a real plan regression is slow in both). Children skip
    * the guard — their forked parent already re-runs whole children.
    */
  private def runInProcess(fallbackReason: String): Unit = {
    val isChild = fallbackReason == "child"
    val loadStart = loadAvg()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = benchCpus()
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Session warmup: JIT/codegen the common scan+agg+join paths once so
    // the first timed query doesn't absorb ~10s of JVM startup.
    try {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      li.groupBy("l_returnflag").count().collect()
      li.limit(1000).join(li.limit(1000), "l_orderkey").count()
    } catch { case _: Throwable => () }
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = SparkEntry.queries.filter { case (name, _) =>
      only.forall(_.contains(name)) }
    // Family = leading letter of the query name (d1/e3/q_rollup/v10 → d/e/q/v).
    val families = selected.toSeq.sortBy(_._1).groupBy(_._1.head).toSeq.sortBy(_._1)
    val (baseline, guardStatus) =
      if (isChild) (Map.empty[String, Double], "parent")
      else baselineMinsWithStatus(sfDir)
    if (!isChild && baseline.isEmpty)
      System.err.println("[bench] WARNING: in-process baseline guard " +
        s"is $guardStatus — this draw is unprotected against contamination")

    val qMed = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val qMin = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val failedNames = scala.collection.mutable.LinkedHashSet.empty[String]
    val reruns = scala.collection.mutable.ArrayBuffer.empty[String]
    families.foreach { case (fam, qs) =>
      // Bound the persisted footprint to one family's working set (only
      // reachable with >1 family: the fallback / NOFORK path).
      Graft.clearAllCaches(spark)
      // Same writeback settle as the forked parent applies between
      // children — the NOFORK path otherwise times the next family
      // against this one's unflushed writes.
      if (selected.size > qs.size) settleWriteback()
      val first = timeFamily(spark, sfDir, reps, qs)
      val flagged = slowVsBaseline(first._1, baseline, baselineSlack())
      val kept =
        if (flagged.isEmpty) first
        else {
          System.err.println(s"[bench] family '$fam' queries " +
            s"${flagged.mkString(",")} exceed the local baseline min by " +
            s">${baselineSlack()}x — re-running once in-process " +
            "(caches cleared, writeback settled)")
          reruns += fam.toString
          Graft.clearAllCaches(spark)
          settleWriteback()
          val second = timeFamily(spark, sfDir, reps, qs)
          // fewer failures wins; then the faster median sum
          if (second._3.size < first._3.size) second
          else if (second._3.size == first._3.size &&
            second._1.map(_._2).sum < first._1.map(_._2).sum) second
          else first
        }
      qMed ++= kept._1; qMin ++= kept._2; failedNames ++= kept._3
    }
    val loadEnd = loadAvg()
    // Children keep the single full-precision line (the parent-child
    // protocol parseChildLine consumes); a TOP-LEVEL in-process run
    // (NOFORK / fallback) emits the same detail+compact pair as the
    // forked merger so the driver's tail window always holds the
    // parsable compact line.
    if (isChild)
      println(jsonLine(qMed, qMin, failedNames.size, failedNames.toSeq, sfDir,
        loadStart, loadEnd, math.max(loadStart, loadEnd), reruns.toSeq,
        mode = "inprocess", guard = guardStatus, fallbackReason = fallbackReason,
        txPhases = graft.operators.Transactional.phaseTimings))
    else
      emitTopLevel(qMed, qMin, failedNames.size, failedNames.toSeq, sfDir,
        loadStart, loadEnd, math.max(loadStart, loadEnd), reruns.toSeq,
        mode = "inprocess", guard = guardStatus, fallbackReason = fallbackReason,
        txPhases = graft.operators.Transactional.phaseTimings)
    spark.stop()
  }
}
