package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TracerSpec extends AnyFunSuite {
  private def task(stage: Int, launch: Long, finish: Long, run: Long) =
    TaskRec(stage, launch, finish, run, gcMs = 0, shuffleWriteBytes = 10, spillBytes = 0)

  /** A synthetic event stream: two serial calls, a job between them, a
    * background absorb job inside the first call's window.
    */
  private def events(): JobListener = {
    val l = new JobListener
    l.jobStarted(0, 1000, Seq(0), "default")
    l.taskEnded(task(0, 1004, 1020, 12))
    l.taskEnded(task(0, 1006, 1030, 20))
    l.jobEnded(0, 1032)
    l.jobStarted(1, 1010, Seq(1, 2), graft.Graft.BackgroundPool)
    l.taskEnded(task(2, 1011, 1200, 150))
    l.jobEnded(1, 1210)
    l.jobStarted(2, 1100, Seq(3), "default")
    l.jobEnded(2, 1105)
    l.jobStarted(3, 1500, Seq(4), "default")
    l.taskEnded(task(4, 1502, 1540, 30))
    l.taskEnded(task(9, 1502, 1540, 30)) // a stage of no open job: dropped
    l.jobEnded(3, 1550)
    l.jobStarted(4, 1600, Seq(5), "default") // never ends: not reported
    l
  }

  test("the listener folds task events into their jobs") {
    val jobs = events().jobs
    assert(jobs.map(_.id) == Seq(0, 1, 2, 3))
    val j0 = jobs.head
    assert(j0.wallMs == 32)
    assert(j0.tasks.size == 2)
    assert(j0.execRunMs == 32)
    assert(j0.slowestTaskMs == 24)
    assert(j0.schedDelayMs == 4)
    assert(j0.shuffleWriteBytes == 20)
    assert(jobs(1).isBackground && !j0.isBackground)
    assert(jobs(2).tasks.isEmpty && jobs(2).schedDelayMs == 0)
    assert(jobs(3).tasks.size == 1)
  }

  test("jobs go to the call whose window holds their submission") {
    val spans = Seq(
      Span(0, "commit", 995, 1040, 45.0),
      Span(1, "search", 1490, 1560, 70.0))
    val (bySpan, loose) = Tracer.attribute(spans, events().jobs)
    assert(bySpan(0).map(_.id) == Seq(0))
    assert(bySpan(1).map(_.id) == Seq(3))
    // the background job and the job between the calls stay unattributed
    assert(loose.map(_.id).toSet == Set(1, 2))
  }

  test("nested windows give a job to the latest-started call") {
    val spans = Seq(Span(0, "outer", 900, 2000, 1100.0), Span(1, "inner", 1450, 1600, 150.0))
    val (bySpan, loose) = Tracer.attribute(spans, events().jobs)
    assert(bySpan(0).map(_.id) == Seq(0, 2))
    assert(bySpan(1).map(_.id) == Seq(3))
    assert(loose.map(_.id) == Seq(1))
  }

  test("the trace lists each span with its jobs, stages and tasks") {
    val json = Tracer.toJson("""{"seed": 7}""", Seq(Span(0, "commit", 995, 1040, 45.0)),
      events().jobs)
    assert(json.startsWith("""{"stamp":{"seed": 7},"spans":["""))
    assert(json.contains("\"name\":\"commit\""))
    assert(json.contains("\"job\":0"))
    assert(json.contains("[1004,1020,12,0]"))
    assert(json.contains("\"unattributed_jobs\""))
  }
}
