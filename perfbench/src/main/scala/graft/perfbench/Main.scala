package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM. `perfbench/run.py` builds it and starts it with
  *
  *   --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *
  * It starts one `local[4]` session, warms the workload up once on inputs
  * of another seed, sets it up three times (input generation and store
  * bootstrap; the last set-up is kept) and runs the timed loop with
  * tracing off. With `--trace 1` it then runs the loop traced and once
  * more untraced. It writes every raw sample, check and trace record to
  * `<work>/result.json`; `run.py` turns them into metrics. */
object Main {
  val setupRepeats = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = opts("work")

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3

    val tr = new Tracer(spark, s"$name-$seed")
    def workload(n: String): Workload = n match {
      case "curation_batch" => new CurationWorkload(spark, tr, seed)
      case "store_lifecycle" => new LifecycleWorkload(spark, tr, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    if (name == "warmup_all") {
      // the run behind run.py's class-data-sharing archive: every
      // workload's warm-up, nothing measured
      Seq("curation_batch", "store_lifecycle")
        .foreach(n => workload(n).warmup(s"$work/$n"))
      spark.stop()
      return
    }
    val w = workload(name)
    val warmupS = {
      val t0 = System.nanoTime()
      w.warmup(s"$work/warmup")
      (System.nanoTime() - t0) / 1e9
    }
    val setups = (0 until setupRepeats).map { i =>
      val t0 = System.nanoTime()
      w.setup(s"$work/setup$i")
      (System.nanoTime() - t0) / 1e9
    }
    val rounds = math.max(1, math.round(seconds / w.roundSeconds).toInt)
    def loop(): Recorder = {
      val rec = new Recorder(tr)
      w.run(rounds, rec)
      rec
    }
    val plain = loop()
    // the traced loop runs between two untraced ones, so the tracing
    // overhead is not confused with the JVM still warming up
    val (traced, after) = if (trace) {
      tr.start()
      val r = try loop() finally tr.stop()
      (Some(r), Some(loop()))
    } else (None, None)
    w.verify(plain)

    def summary(r: Recorder) = Map("ops" -> r.ops.toSeq,
      "lookups" -> r.lookups.toSeq, "checks" -> r.checks.toSeq,
      "attempted" -> r.attempted, "failed" -> r.failed)
    val result = Map(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "cores" -> 4,
      "latency_kind" -> w.latencyKind,
      "session_s" -> sessionS, "setup_s" -> setups, "warmup_s" -> warmupS,
      "inputs" -> w.inputs,
      "plain" -> summary(plain),
      "traced" -> traced.map(summary),
      "plain_after" -> after.map(summary),
      "trace" -> (if (trace) Some(tr.dump) else None),
      "extra" -> w.extra,
      "peak_rss_kb" -> peakRssKb)
    Files.writeString(Paths.get(work, "result.json"),
      new ObjectMapper().registerModule(DefaultScalaModule)
        .writeValueAsString(result))
    spark.stop()
  }

  /** Peak resident set of this JVM (VmHWM), in KiB. */
  def peakRssKb: Long = {
    val status = scala.io.Source.fromFile("/proc/self/status")
    try status.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toLong
    }.getOrElse(0L)
    finally status.close()
  }
}
