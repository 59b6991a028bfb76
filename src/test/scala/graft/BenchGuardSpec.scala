package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's baseline contamination guard, pinned directly (r14
  * verdict item 1: the driver-gate run shipped `reruns:[]` with a query
  * at 8× its baseline because the guard's file never resolved from the
  * driver's cwd — an inert guard is indistinguishable from a clean run
  * in the artifact).
  */
class BenchGuardSpec extends AnyFunSuite {

  test("a poisoned draw fires the baseline guard; a clean one does not") {
    val baseline = Map("v9_multiquery_funnel" -> 0.29, "p3_pack" -> 0.5)
    // the r14 driver-gate shape: v9 at 8.1x its quiet-machine min
    val poisoned = Seq("v9_multiquery_funnel" -> 2.37, "p3_pack" -> 0.7)
    assert(Bench.slowVsBaseline(poisoned, baseline, 1.5) ==
      Seq("v9_multiquery_funnel"))
    val clean = Seq("v9_multiquery_funnel" -> 0.35, "p3_pack" -> 0.6)
    assert(Bench.slowVsBaseline(clean, baseline, 1.5).isEmpty)
    // boundary: exactly slack x the min is NOT flagged (strict >);
    // 0.5 * 1.5 = 0.75 is exactly representable
    assert(Bench.slowVsBaseline(
      Seq("p3_pack" -> 0.75), baseline, 1.5).isEmpty)
    // a query with no baseline entry can never flag (new queries must
    // not block the gate before the next baseline refresh)
    assert(Bench.slowVsBaseline(
      Seq("brand_new_query" -> 99.0), baseline, 1.5).isEmpty)
  }

  test("the baseline file resolves from the repo root via the classpath anchor") {
    // sbt's test JVM runs with cwd = repo root, so this also covers the
    // cwd candidate; the classpath candidate is what holds when the
    // driver launches from an arbitrary cwd.
    val f = Bench.resolveBaselineFile()
    assert(f.isDefined, "BENCH_baseline_local.json must resolve (it is " +
      "committed at the repo root; if this fails the guard is inert)")
    assert(f.get.getName == "BENCH_baseline_local.json")
    // the classpath anchor alone must also produce a live candidate:
    // derive it the way Bench does and check the file is there
    val viaClasspath = System.getProperty("java.class.path", "")
      .split(java.io.File.pathSeparatorChar).toSeq
      .filter(_.replace('\\', '/').endsWith("target/scala-2.13/classes"))
      .flatMap { p =>
        Option(new java.io.File(p).getParentFile)
          .flatMap(d => Option(d.getParentFile))
          .flatMap(d => Option(d.getParentFile))
          .map(root => new java.io.File(root, "BENCH_baseline_local.json"))
      }
    assert(viaClasspath.exists(_.isFile),
      s"classpath anchor must find the baseline, candidates: $viaClasspath")
  }

  // --- r15 verdict #1: the driver's sbt launch shape -----------------------

  test("childClasspathFrom rebuilds a viable classpath from the sbt layered-loader shape") {
    val sep = java.io.File.pathSeparator
    val classesDir = new java.io.File("target/scala-2.13/classes").getAbsolutePath
    assume(new java.io.File(classesDir, "graft/Bench.class").isFile,
      "compiled classes layout required")
    val sparkJar = new java.io.File("/opt/spark/jars").listFiles()
      .find(_.getName.matches("spark-sql.*\\.jar")).map(_.getAbsolutePath)
    assume(sparkJar.isDefined, "spark jars required")

    // plain java -cp launch: java.class.path is authoritative, verbatim
    val plain = s"$classesDir$sep/opt/spark/jars/whatever.jar"
    assert(Bench.childClasspathFrom(plain, Nil, None).contains(plain))

    // sbt's FORKED runMain shape (verified against a real launch): the
    // app rides a repackaged binaryvectordbspark_*.jar on
    // java.class.path — only the self code-source anchor can identify
    // it as the graft classes
    val bgJar = "/root/repo/target/bg-jobs/sbt_x/job-1/target/aa/bb/binaryvectordbspark_2.13-0.1.0.jar"
    val forkedCp = s"$bgJar$sep$sparkJar"
    assert(Bench.childClasspathFrom(forkedCp, Nil, Some(bgJar)).contains(forkedCp),
      "the bg-jobs repackaged jar must count as the graft classes via the anchor")
    assert(Bench.childClasspathFrom(forkedCp, Nil, None).isEmpty,
      "without the anchor the repackaged jar is unrecognizable (the r16 bug)")

    // the IN-PROCESS sbt shape: java.class.path = sbt-launch.jar only,
    // classes + spark jars resolved from loaders/code sources — must
    // merge to a viable cp
    val rebuilt = Bench.childClasspathFrom("/usr/share/sbt/bin/sbt-launch.jar",
      Seq(classesDir, sparkJar.get), Some(classesDir))
    assert(rebuilt.isDefined, "sbt launch shape must rebuild a child classpath")
    assert(rebuilt.get.contains(classesDir) && rebuilt.get.contains(sparkJar.get))

    // loaders carrying the classes but NO spark jar: not viable (a child
    // launched with it dies at SparkSession construction)
    assert(Bench.childClasspathFrom("/usr/share/sbt/bin/sbt-launch.jar",
      Seq(classesDir), Some(classesDir)).isEmpty)
    // nothing anywhere: not viable
    assert(Bench.childClasspathFrom("/usr/share/sbt/bin/sbt-launch.jar", Nil, None).isEmpty)
  }

  test("childClasspath resolves in THIS test JVM (forked with real -cp)") {
    val cp = Bench.childClasspath()
    assert(cp.isDefined, "the test JVM runs with the classes on -cp; " +
      "childClasspath must resolve or the driver gate forks nothing")
  }

  test("childJvmArgs injects module opens + heap pin only when absent, drops agents") {
    val bare = Bench.childJvmArgs(Seq("-Dfoo=1", "-javaagent:/x.jar", "-agentlib:jdwp"))
    assert(bare.exists(_.startsWith("--add-opens")), "sbt-shaped flags get opens added")
    assert(bare.exists(_.startsWith("-Xmx")), "and a heap pin")
    assert(!bare.exists(a => a.startsWith("-javaagent") || a.startsWith("-agentlib")),
      "agent flags must not re-attach in the child")
    // UNION semantics (ADVICE r16): a parent carrying a PARTIAL opens
    // set still gets every Spark-required pair added — minus the ones
    // already present (either spelling) — or the child dies at
    // SparkSession construction and the gate silently degrades.
    val partial = Bench.childJvmArgs(
      Seq("--add-opens", "java.base/java.lang=ALL-UNNAMED", "-Xmx4g"))
    assert(partial.count(_ == "java.base/java.lang=ALL-UNNAMED") == 1,
      "an inherited pair must not be re-added")
    assert(partial.contains("java.base/sun.nio.ch=ALL-UNNAMED"),
      "missing Spark-required pairs must be added alongside a partial set")
    assert(partial.count(_.startsWith("-Xmx")) == 1, "heap pin not duplicated")
    val eqForm = Bench.childJvmArgs(
      Seq("--add-opens=java.base/sun.nio.ch=ALL-UNNAMED", "-Xmx4g"))
    assert(!eqForm.contains("java.base/sun.nio.ch=ALL-UNNAMED"),
      "the --add-opens=X=Y spelling must also count as present")
    assert(eqForm.exists(_ == "java.base/java.lang=ALL-UNNAMED"),
      "while the rest of the set is still added")
    val full = Bench.childJvmArgs(Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar",
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED")) ++ Seq("-Xmx4g"))
    assert(full.count(_ == "--add-opens") == 13, "a complete set gains nothing")
  }

  /** End-to-end pin of the r15 failure mode: a NON-forked (driver-
    * fallback-shaped) bench run against a poisoned baseline must FIRE
    * the in-process guard and stamp mode/baseline_guard/reruns into its
    * line — r14 and r15 both shipped driver gates where this path ran
    * guardless and the artifact couldn't say so. One real JVM + sf0.001
    * + a single query keeps it to one Spark startup.
    */
  test("in-process run fires the baseline guard and stamps mode/guard/reruns") {
    val launcher = new java.io.File("scripts/run.sh")
    assume(launcher.isFile &&
      new java.io.File("target/scala-2.13/classes/graft/Bench.class").isFile,
      "compiled-classes launcher not available")
    assume(new java.io.File("/root/testdata/sf0.001/lineitem.parquet").exists(),
      "sf0.001 fixture required")
    // poisoned baseline: v1's quiet-machine min claimed at 1ns, so any
    // real draw exceeds it by the slack factor and the guard must fire
    val f = java.nio.file.Files.createTempFile("graft-poison-baseline", ".json")
    java.nio.file.Files.writeString(f,
      """{"sf":"/root/testdata/sf0.001","queries_min":{"v1_hamming_topk":1e-9}}""")
    try {
      val pb = new ProcessBuilder("bash", launcher.getPath, "graft.Bench")
      pb.environment().put("SPARK_GRAFT_ONLY", "v1_hamming_topk") // driver-fallback shape: in-process
      pb.environment().put("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
      pb.environment().put("SPARK_GRAFT_CPUS", "4")
      pb.environment().put("SPARK_GRAFT_REPS", "1")
      pb.environment().put("SPARK_GRAFT_BENCH_BASELINE", f.toString)
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      val proc = pb.start()
      val out = scala.io.Source.fromInputStream(proc.getInputStream).getLines().toList
      val code = proc.waitFor()
      assert(code == 0, s"bench exited $code:\n${out.mkString("\n")}")
      // r17 verdict item 1: a top-level run emits TWO JSON lines — a
      // detail line (full-precision medians, mins, tx_phases, probes)
      // followed by the compact final line the driver parses. The
      // COMPACT line must be the LAST stdout line of the run.
      val jsonLines = out.filter(_.startsWith("{"))
      assert(jsonLines.size == 2, s"expected detail + compact lines:\n${out.mkString("\n")}")
      assert(out.last == jsonLines.last,
        "the compact line must be the last stdout line")
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val detail = om.readTree(jsonLines.head)
      val line = jsonLines.last
      val root = om.readTree(line)
      assert(root.get("metric").asText() == "total", line)
      assert(detail.get("metric").asText() == "detail", jsonLines.head)
      assert(root.get("mode").asText() == "inprocess", line)
      assert(root.get("baseline_guard").asText() == "armed", line)
      assert(root.get("fallback_reason").asText() == "only-env", line)
      assert(root.get("reruns").size() == 1 && root.get("reruns").get(0).asText() == "v",
        s"poisoned baseline must have re-run the v family: $line")
      assert(root.get("queries").has("v1_hamming_topk"), line)
      assert(detail.get("queries_full").has("v1_hamming_topk"), jsonLines.head)
      assert(detail.get("queries_min").has("v1_hamming_topk"), jsonLines.head)
    } finally java.nio.file.Files.deleteIfExists(f)
  }

  /** r17 verdict item 1, the root cause pinned: the driver keeps a
    * 2000-char stdout TAIL (plus sbt's ~70-char success line after the
    * JSON), and every BENCH_r*.json since round 10 shipped
    * `parsed: null` because the old ~4.8k single line never fit. The
    * compact final line over the FULL declared query set at worst-case
    * 8-character medians (1234.567 s) must fit the window with slack.
    */
  test("the compact final line fits the driver's 2000-char tail window") {
    val med = collection.mutable.LinkedHashMap.empty[String, Double]
    SparkEntry.queries.keys.toSeq.sorted.foreach(q => med += q -> 1234.567)
    val line = Bench.benchFinalLine(med, errors = 0, failed = Nil,
      sfDir = "/root/testdata/sf0.1", mode = "forked", guard = "armed",
      reruns = Seq("d", "q", "v"))
    assert(line.length <= 1900,
      s"compact line is ${line.length} chars — does not fit the driver's " +
        "tail window; move fields to the detail line or shorten values")
    // and it parses
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(root.get("queries").size() == SparkEntry.queries.size)
    assert(root.get("value").asDouble() > 0)
    // sub-10 s medians keep millisecond resolution
    val small = Bench.benchFinalLine(Map("v1_hamming_topk" -> 0.1234567),
      errors = 0, failed = Nil, sfDir = "sf", mode = "forked", guard = "armed")
    assert(small.contains("\"v1_hamming_topk\":0.123}"), small)
  }
}
