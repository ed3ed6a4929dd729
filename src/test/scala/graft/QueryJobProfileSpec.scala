package graft

import java.util.Properties
import org.apache.spark.scheduler.{JobSucceeded, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._

import graft.tools.JobAttribution

/** [[graft.tools.QueryJobProfile]]'s per-call-site attribution: driven
  * with synthetic listener events where the interleaving must be fixed
  * rather than timing-dependent, and on the real session where the call
  * sites must come from Spark itself. */
class QueryJobProfileSpec extends SparkSpec {

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

  test("an AQE job with no site-carrying sibling is named by its " +
      "execution's call site, not by a stream trigger's batch description") {
    val l = new JobAttribution
    l.onOtherEvent(SparkListenerSQLExecutionStart(7L, Some(7L),
      "\nid = 1f\nrunId = 2e\nbatch = 3",
      "org.apache.spark.sql.classic.DataFrameWriter.parquet(" +
        "DataFrameWriter.scala:300)\n" +
        "graft.streaming.Versions$.mark(Versions.scala:612)\n" +
        "graft.streaming.Versions$.tombstone(Versions.scala:570)",
      "", null, 0L))
    val p = new Properties()
    p.setProperty("spark.sql.execution.id", "7")
    l.onJobStart(SparkListenerJobStart(1, 0L, Seq(new StageInfo(1, 0,
      "run at CompletableFuture.java:1804", 1, Seq.empty, Seq.empty, "",
      resourceProfileId = 0)), p))
    assert(l.jobs.map(_.site) === Seq("parquet at Versions.scala:612"))
    assert(JobAttribution.siteOf("<unknown>") === None)
  }

  test("on a real session every job is named by its call site: a " +
      "localCheckpoint and a shuffled collect, AQE stage jobs included, " +
      "are credited to this file's lines") {
    def line: Int = new Throwable().getStackTrace()(1).getLineNumber
    val l = new JobAttribution
    spark.sparkContext.addSparkListener(l)
    val (ckLine, collectLine) =
      try {
        val ck = line; spark.range(50).toDF("id").localCheckpoint(true)
        val co = line; spark.range(100).groupBy(col("id") % 3).count()
          .collect()
        // the listener bus is asynchronous: wait for both actions' events
        val deadline = System.nanoTime() + 20000000000L
        while (System.nanoTime() < deadline &&
            !(l.jobs.count(_.tEnd > 0) >= 3 &&
              l.jobs.exists(_.site.endsWith(s":$co"))))
          Thread.sleep(50)
        (ck, co)
      } finally spark.sparkContext.removeSparkListener(l)
    val js = l.jobs
    val sites = js.map(_.site)
    assert(!sites.contains("?") &&
      !sites.exists(_.contains("CompletableFuture")), sites)
    assert(sites.contains(
      s"localCheckpoint at QueryJobProfileSpec.scala:$ckLine"), sites)
    // the shuffled collect runs as AQE stage jobs only (map stage, then
    // the result stage): both carry the collect's own site
    assert(sites.count(_ == s"collect at QueryJobProfileSpec.scala:" +
      s"$collectLine") >= 2, sites)
  }
}
