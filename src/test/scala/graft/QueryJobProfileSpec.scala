package graft

import java.util.Properties
import org.apache.spark.scheduler.{JobSucceeded, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.JobAttribution

/** [[graft.tools.QueryJobProfile]]'s per-call-site attribution, driven
  * with synthetic listener events so the interleaving is fixed rather
  * than timing-dependent. */
class QueryJobProfileSpec extends AnyFunSuite {

  private def stage(id: Int, tasks: Int) = new StageInfo(id, 0, s"stage $id",
    tasks, Seq.empty, Seq.empty, "", resourceProfileId = 0)

  private def start(job: Int, site: String, stages: StageInfo*) = {
    val p = new Properties()
    p.setProperty("callSite.short", site)
    SparkListenerJobStart(job, 0L, stages, p)
  }

  test("two interleaved jobs: each completed stage's tasks go to the job " +
      "that listed it, not to the newest job started") {
    val l = new JobAttribution
    l.onJobStart(start(1, "verbA", stage(10, 3), stage(11, 5)))
    l.onJobStart(start(2, "verbB", stage(20, 7)))
    // job 1's first stage finishes after job 2 has started
    l.onStageCompleted(SparkListenerStageCompleted(stage(10, 3)))
    l.onStageCompleted(SparkListenerStageCompleted(stage(20, 7)))
    l.onJobEnd(SparkListenerJobEnd(2, 0L, JobSucceeded))
    l.onStageCompleted(SparkListenerStageCompleted(stage(11, 5)))
    l.onJobEnd(SparkListenerJobEnd(1, 0L, JobSucceeded))
    // job 3 reuses job 1's stage 11 (skipped: already computed) and runs 30
    l.onJobStart(start(3, "verbC", stage(11, 5), stage(30, 2)))
    l.onStageCompleted(SparkListenerStageCompleted(stage(30, 2)))
    l.onJobEnd(SparkListenerJobEnd(3, 0L, JobSucceeded))

    val js = l.jobs
    assert(js.map(j => (j.id, j.site, j.tasks)) ===
      Seq((1, "verbA", 8), (2, "verbB", 7), (3, "verbC", 2)))
    assert(js.forall(_.tEnd > 0))
    l.clear()
    assert(l.jobs.isEmpty)
  }
}
