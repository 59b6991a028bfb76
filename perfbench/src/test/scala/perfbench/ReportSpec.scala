package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

class ReportSpec extends AnyFunSuite {
  private val spec = new ObjectMapper().readTree(new java.io.File("../BENCHMARK.json"))
  private def declared(key: String): Seq[(String, String)] =
    spec.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq

  test("the end-to-end metrics are exactly those BENCHMARK.json declares") {
    assert(Report.EndToEnd.map(m => m.name -> m.unit) == declared("end_to_end"))
    assert(Report.EndToEnd.map(_.better) ==
      spec.get("end_to_end").elements().asScala.map(_.get("better").asText).toSeq)
  }

  test("the per-layer metrics are exactly those BENCHMARK.json declares") {
    assert(Report.perLayer(BatchOps.Timed).map(m => m.name -> m.unit) == declared("per_layer"))
    assert(declared("per_layer").size <= 128)
  }

  test("the workloads are those BENCHMARK.json declares") {
    assert(Main.Workloads ==
      spec.get("workloads").elements().asScala.map(_.get("name").asText).toSeq)
  }

  test("a run's samples yield every end-to-end metric") {
    val samples: Report.Samples = Map(
      "setup_s" -> Seq(3.0, 2.0, 2.5),
      "search_ms" -> (1 to 100).map(_.toDouble), "search_qps_c4" -> Seq(80.0),
      "filtered_search_ms" -> Seq(20.0), "commit_ms" -> Seq(600.0, 700.0, 650.0),
      "delete_ms" -> Seq(1200.0), "visible_ms" -> Seq(600.0)) ++
      BatchOps.Timed.map(q => s"q.${q}_s" -> Seq(1.0))
    val values = Report.endToEnd(samples, Map("resident_mb" -> 100.0,
      "ingest_docs_per_s" -> 5000.0))
    assert(values.keySet == Report.EndToEnd.map(_.name).toSet)
    assert(values.values.forall(v => !v.isNaN && v > 0))
    assert(values("setup_s") == 2.5)
    assert(values("search_p50_ms") == 50.0)
    assert(values("search_p90_ms") == 90.0)
    assert(values("commit_p50_ms") == 650.0)
    assert(values("batch_wall_s") == BatchOps.Timed.size.toDouble)
    assert(values("dedup_wall_s") == 1.0)
  }

  test("the concurrent rounds' layer metrics take only the jobs inside the rounds' windows") {
    def job(id: Int, submit: Long, end: Long, launch: Long, run: Long) =
      JobRec(id, submit, end, "default", Seq(TaskRec(0, launch, end, run, 0, 0, 0)))
    val samples: Report.Samples = Map(
      "search_c4.window_start_ms" -> Seq(1000.0, 5000.0),
      "search_c4.window_end_ms" -> Seq(2000.0, 6000.0))
    val jobs = Seq(job(1, 1500, 1600, 1510, 80), job(2, 3000, 3500, 3001, 400),
      job(3, 5500, 5700, 5520, 200))
    val v = Report.perLayerValues(samples, Map.empty, Nil, jobs, slots = 4, searchedRows = 1,
      storageMb = 0, gcMs = 0, overheadPct = 0)
    assert(v("search_c4.job_ms_p50") == 100.0)
    assert(v("search_c4.sched_delay_ms_p50") == 10.0)
    // (80 + 200) ms of task time over two 1000 ms windows on 4 slots
    assert(v("search_c4.exec_busy_ratio") == 280.0 / 8000.0)
  }

  test("too few searches leave the tail latency unmeasured, not guessed") {
    val values = Report.endToEnd(Map("search_ms" -> Seq.fill(99)(1.0)), Map.empty)
    assert(values("search_p90_ms").isNaN)
  }

  test("the timed batch queries exist and cover every reported module") {
    BatchOps.Timed.foreach(q => assert(graft.SparkEntry.queries.contains(q), q))
    assert(BatchOps.ReportedModules.forall(m => BatchOps.Timed.exists(BatchOps.module(_) == m)))
    graft.SparkEntry.queries.keys.foreach(q => BatchOps.module(q))
  }

  test("the result line has exactly the keys correct, attempted, failed and metrics") {
    val line = Report.resultLine(correct = true, 3, 0,
      Seq(Metric("setup_s", "s", "lower") -> 1.5, Metric("x_ms", "ms", "lower") -> Double.NaN))
    val node = new ObjectMapper().readTree(line)
    assert(node.fieldNames().asScala.toSet == Set("correct", "attempted", "failed", "metrics"))
    assert(node.get("metrics").get("setup_s").get("value").asDouble == 1.5)
    assert(node.get("metrics").get("x_ms").get("value").isNull)
  }

  test("batch digests ignore row order") {
    import org.apache.spark.sql.Row
    val a = Array(Row(1L, "x", Array[Byte](1, 2)), Row(2L, null, Seq(1.5, 2.5)))
    assert(BatchOps.digest(a) == BatchOps.digest(a.reverse))
    assert(BatchOps.digest(a) != BatchOps.digest(a.take(1)))
    assert(BatchOps.render(Array[Byte](1, 2)) == BatchOps.render(Array[Byte](1, 2)))
  }
}
