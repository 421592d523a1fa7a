package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.GraftSession

/** Entry point of one benchmark run; `run.py` builds and launches it.
  *
  * Usage: `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <dataDir> <resultFile>`
  *
  * The run sets up [[SetupReps]] times (fresh session, generic warm-up,
  * the workload's own preparation) and reports the median as `setup_s`,
  * then measures for `seconds`, then checks the program's outputs outside
  * the timed part, and writes one JSON result file. With trace on it also
  * records spans and Spark listener events and reports per-layer figures. */
object Main {
  val SetupReps = 3
  /** Spark task threads (`local[Cores]`); see `cores` below. */
  val Cores = 2

  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, work, data, result) = args
    val code =
      try { new Main(workload, seed.toLong, seconds.toInt, trace == "1", Paths.get(work), data).run(Paths.get(result)); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted.toIndexedSeq
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.length - 1); val lo = pos.toInt; val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
}

/** What a workload hands back from its timed part. */
final class Measured {
  /** Latencies of the workload's operations, in seconds. */
  val latencies = mutable.ArrayBuffer.empty[Double]
  /** Wall time of one unit of the workload's fixed work, in seconds. */
  var workS = 0.0
  var attempted = 0
  var failed = 0
  /** Live heap samples taken at the edges of timed operations. */
  val heapMb = mutable.ArrayBuffer.empty[Double]
  /** Named figures for the result file: workload figures and per-layer values. */
  val figures = mutable.LinkedHashMap.empty[String, Any]
  /** Time spent inside the timed part on work that is not measured
    * (warm-up runs, heap samples, output written for checks), in ns. */
  var untimedNs = 0L

  def untimed[T](f: => T): T = {
    val t0 = System.nanoTime()
    try f finally untimedNs += System.nanoTime() - t0
  }
}

/** Shared handles a workload uses while it runs. */
final class Ctx(val spark: SparkSession, val seconds: Int, val tracer: Tracer, val jobs: Option[JobLog])

trait Workload {
  /** One set-up repetition's workload part (timed into `setup_s`). */
  def prepare(spark: SparkSession, rep: Int): Unit
  /** Undo a set-up repetition that will not be measured. */
  def discard(): Unit = ()
  /** Untimed warm-up after the last set-up, before measuring. */
  def warm(spark: SparkSession): Unit = ()
  def measure(ctx: Ctx): Measured
  /** Output checks, outside the timed part; adds to attempted/failed. */
  def check(ctx: Ctx, m: Measured): Unit
}

final class Main(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path, data: String) {
  import Main._

  private val origin = System.nanoTime()
  /** Two task threads on a 4-CPU machine leave the driver, JIT and GC
    * threads a CPU of their own, so a CPU the hypervisor stole for a moment
    * delays a task less: with four, runs with 4-6% stolen time were ~25%
    * slower than runs with none; with two, within the spread of either. */
  private val cores = math.min(Main.Cores, Runtime.getRuntime.availableProcessors())

  private def session(): SparkSession = {
    val tmp = work.resolve("tmp"); Files.createDirectories(tmp)
    val s = GraftSession.configure(
      SparkSession.builder().master(s"local[$cores]").appName(s"perfbench-$workload"), cores.toString)
      .config("spark.local.dir", tmp.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.stopTimeout", "60s")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Generic warm-up (the same for every workload): codegen, aggregation,
    * window and parquet round trip on a small frame. */
  private def warmUp(spark: SparkSession): Unit = {
    spark.range(1000000).selectExpr("sum(id)").collect()
    val p = work.resolve("warmup.parquet").toString
    spark.range(10000).selectExpr("id", "id % 7 as k").write.mode("overwrite").parquet(p)
    spark.read.parquet(p).selectExpr("k", "max(id) over (partition by k) as m").groupBy("k").count().collect()
  }

  def run(result: Path): Unit = {
    val w: Workload = workload match {
      case "cdc_ingest" => new CdcIngest(seed, work)
      case "batch_curation" => new BatchQueries(Batch.Plans ++ Batch.Chains, data, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val jvmStartS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val setup = mutable.ArrayBuffer.empty[(Double, Double, Double)] // session, warm-up, workload prep
    var spark: SparkSession = null
    for (rep <- 1 to SetupReps) {
      val t0 = System.nanoTime()
      spark = session()
      val t1 = System.nanoTime()
      warmUp(spark)
      val t2 = System.nanoTime()
      w.prepare(spark, rep)
      val t3 = System.nanoTime()
      setup += (((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9))
      if (rep < SetupReps) { w.discard(); spark.stop() }
    }

    val tw = System.nanoTime()
    w.warm(spark)
    val warmPassS = (System.nanoTime() - tw) / 1e9

    val tracer = new Tracer(trace, origin)
    val jobLog = if (trace) Some(new JobLog) else None
    jobLog.foreach(spark.sparkContext.addSparkListener)
    val ctx = new Ctx(spark, seconds, tracer, jobLog)

    val gc0 = Jvm.gcMs
    val heap0 = Jvm.liveHeapMb()
    val t0 = System.nanoTime()
    val m = w.measure(ctx)
    val t1 = System.nanoTime()
    val gcS = (Jvm.gcMs - gc0) / 1e3
    m.heapMb += heap0
    val execFigures = jobLog.map(Layers.exec(_, t0, t1, m.untimedNs, cores)).getOrElse(Nil)
    w.check(ctx, m)

    val jobs = jobLog.map(_.jobsIn(t0, t1)).getOrElse(Nil)
    val setupTotals = setup.map(s => s._1 + s._2 + s._3)
    val e2e = Seq(
      "setup_s" -> median(setupTotals.toSeq),
      "latency_p50_s" -> quantile(m.latencies.toSeq, 0.50),
      "latency_p95_s" -> quantile(m.latencies.toSeq, 0.95),
      "work_s" -> m.workS,
      "live_heap_peak_mb" -> m.heapMb.max)

    val layers = mutable.LinkedHashMap.empty[String, Any]
    layers("setup.jvm_s") = jvmStartS
    layers("setup.session_s") = median(setup.map(_._1).toSeq)
    layers("setup.warmup_s") = median(setup.map(_._2).toSeq)
    layers("setup.prepare_s") = median(setup.map(_._3).toSeq)
    layers("setup.first_s") = setupTotals.head
    layers("setup.warm_pass_s") = warmPassS
    layers("exec.gc_s") = gcS
    layers ++= execFigures
    layers ++= m.figures

    val env = Seq("cores" -> cores, "latency_samples" -> m.latencies.size,
      "measured_s" -> (t1 - t0) / 1e9,
      "setup_reps" -> setup.map(r => Seq(r._1, r._2, r._3)))
    val json = Json.obj(Seq(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "attempted" -> m.attempted, "failed" -> m.failed,
      "e2e" -> e2e.toMap, "layers" -> layers, "env" -> env.toMap,
      "self_s" -> tracer.selfSeconds(jobs),
      "spans" -> Json.Raw(tracer.json(jobs))))
    Files.writeString(result, json)
    spark.stop()
  }
}

/** Per-layer figures for Spark execution, from the job listener. */
object Layers {
  def exec(log: JobLog, from: Long, to: Long, untimedNs: Long, cores: Int): Seq[(String, Any)] = {
    val js = log.jobsIn(from, to).filter(_.spanId >= 0) // -1: untimed work (warm-up, check output)
    val busy = Intervals.union(js.map(j => (j.start, if (j.end < 0) to else j.end))) / 1e9
    val wall = (to - from - untimedNs) / 1e9
    val taskS = js.map(_.taskNs).sum / 1e9
    Seq(
      "exec.jobs" -> js.size,
      "exec.stages" -> js.map(_.stages).sum,
      "exec.tasks" -> js.map(_.tasks).sum,
      "exec.task_s" -> taskS,
      "exec.busy_share" -> taskS / (wall * cores),
      "exec.jobs_busy_s" -> busy,
      "exec.idle_s" -> (wall - busy),
      "exec.shuffle_write_bytes" -> js.map(_.shuffleWrite).sum,
      "exec.shuffle_read_bytes" -> js.map(_.shuffleRead).sum,
      "exec.spill_bytes" -> js.map(_.spill).sum,
      "exec.input_bytes" -> js.map(_.input).sum,
      "ops.concurrent_jobs_max" -> log.concurrentMax,
      "ops.cached_bytes_peak" -> log.blockBytesPeak)
  }
}
