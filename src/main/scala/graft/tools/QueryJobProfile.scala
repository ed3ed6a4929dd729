package graft.tools

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Dev tool (guide §1): run named registry queries with a listener that
  * attributes per-job wall time to the submitting call site, so the
  * seconds of a multi-action streaming query decompose into "which store
  * verb / which line" instead of one opaque total. Usage:
  *
  *   sbt "runMain graft.tools.QueryJobProfile <sfDir> <name>[,<name>...]"
  *
  * Prints, per query: total wall, job count, task count, and the top call
  * sites by summed job wall-clock. Job wall sums exceed query wall when
  * jobs overlap; the ranking is what matters. */
object QueryJobProfile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.lift(1).map(_.split(",").map(_.trim).toSeq)
      .getOrElse(Seq("p145_production_loop"))
    val passes = args.lift(2).map(_.toInt).getOrElse(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .appName("queryjobprofile").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val attribution = new JobAttribution
    spark.sparkContext.addSparkListener(attribution)

    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      // warmup
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      var best = Double.MaxValue
      var bestJobs: Seq[JobAttribution.Job] = Seq.empty
      for (_ <- 1 to passes) {
        attribution.clear()
        System.gc(); Thread.sleep(100)
        val t0 = System.nanoTime()
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        val js = attribution.jobs
        if (wall < best) { best = wall; bestJobs = js }
        println(f"[profile] $name pass: $wall%.2f s, ${js.size} jobs")
      }
      val bySite = bestJobs.filter(_.tEnd > 0)
        .groupBy(_.site)
        .map { case (site, js) =>
          (site, js.map(j => (j.tEnd - j.t0) / 1e9).sum, js.size,
            js.map(_.tasks).sum)
        }.toSeq.sortBy(-_._2)
      println(f"[profile] $name BEST wall ${best}%.2f s, " +
        f"${bestJobs.size} jobs, ${bestJobs.map(_.tasks).sum} tasks")
      bySite.take(30).foreach { case (site, secs, n, tasks) =>
        println(f"[profile]   $secs%7.2f s  $n%4d jobs $tasks%6d tasks  $site")
      }
    }
    spark.stop()
  }
}

/** The listener behind [[QueryJobProfile]]: one [[JobAttribution.Job]] per
  * started job, keyed to its `callSite.short`. Each completed stage's tasks
  * go to the job whose `SparkListenerJobStart.stageIds` listed it first, so
  * jobs that overlap (store verbs run theirs through `Par`) keep their own
  * tasks; a stage a later job reuses stays with the job that ran it. */
private[graft] class JobAttribution extends SparkListener {
  import JobAttribution.Job
  private val byJob = new ConcurrentHashMap[Int, Job]()
  private val byStage = new ConcurrentHashMap[Int, Job]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val site = Option(e.properties)
      .flatMap(p => Option(p.getProperty("callSite.short")))
      .getOrElse("?")
    val j = Job(e.jobId, site, System.nanoTime())
    byJob.put(e.jobId, j)
    e.stageIds.foreach(byStage.putIfAbsent(_, j))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(byJob.get(e.jobId)).foreach(_.tEnd = System.nanoTime())
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(byStage.get(e.stageInfo.stageId))
      .foreach(_.tasks += e.stageInfo.numTasks)

  /** The jobs started since the last [[clear]], in start (= id) order. */
  def jobs: Seq[Job] = byJob.values.asScala.toSeq.sortBy(_.id)
  def clear(): Unit = { byJob.clear(); byStage.clear() }
}

private[graft] object JobAttribution {
  final case class Job(id: Int, site: String, t0: Long,
      var tEnd: Long = 0L, var tasks: Int = 0)
}
