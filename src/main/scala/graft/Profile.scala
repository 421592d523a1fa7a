package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.SparkSession
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Measurement harness for the optimization rounds (guide §1: measure
  * first). For each named query, runs the bench's exact timed action
  * twice and prints, per run: wall seconds, Catalyst phase times from
  * the QueryPlanningTracker (parsing/analysis/optimization/planning),
  * and the number of Spark jobs / stages / tasks the run submitted.
  * The gap between wall and (phases + task time / cores) is scheduling
  * and stage-barrier overhead — the thing plan-size reduction buys.
  *
  * Not part of the driver contract; a diagnostic main only.
  *
  * Usage: runMain graft.Profile q159_source_scorecard[,q166_...]
  */
object Profile {
  /** The operator behind a call stack Spark recorded: its first
    * graft.* frame past the eager plumbing every chain funnels through
    * (`Dedup.materialize`, `Par`) and this harness. */
  private def operatorOf(callStack: String): Option[String] =
    callStack.linesIterator.map(_.trim).find { f =>
      f.startsWith("graft.") && !f.startsWith("graft.operators.Dedup$.materialize") &&
        !f.startsWith("graft.operators.Par") && !f.startsWith("graft.Profile")
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = GraftSession.configure(
      SparkSession.builder().master(s"local[$cpus]").appName("graft-profile"), cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()
    val region = spark.read.parquet(s"$sfDir/region.parquet")
    region.selectExpr("count(*)", "sum(cast(r_regionkey as decimal(18,6)))").collect()
    region.selectExpr("max(r_name) over ()").collect()

    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskTimeMs = new AtomicLong(0L)
    // GRAFT_PROFILE_JOBS=1: additionally print one line per job with its
    // wall duration and submitting operator, so a chain's job count
    // decomposes to the operator calls that submitted them.
    val perJob = sys.env.get("GRAFT_PROFILE_JOBS").contains("1")
    val perStage = sys.env.get("GRAFT_PROFILE_STAGES").contains("1")
    val jobStartNs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    // A stage is credited to the operator in the call stack Spark
    // records for it (StageInfo.details). Stages that AQE submits from
    // its own thread pool record no graft frame; those take the call
    // stack of the SQL execution (the eager action) their job runs for,
    // or the description the timed action below sets. A job is
    // credited like its first stage.
    val execSite = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val stageSite = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          operatorOf(x.details).foreach(execSite.put(x.executionId, _))
        case _ =>
      }
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (perJob || perStage) {
          val props = Option(js.properties)
          val fallback = props
            .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
            .flatMap(id => Option(execSite.get(id.toLong)))
            .orElse(props.flatMap(p => Option(p.getProperty("spark.job.description"))))
            .getOrElse("?")
          def siteOf(si: StageInfo) = operatorOf(si.details).getOrElse(fallback)
          js.stageInfos.foreach(si => stageSite.put(si.stageId, siteOf(si)))
          if (perJob) jobStartNs.put(js.jobId, (System.nanoTime(),
            js.stageInfos.minByOption(_.stageId).map(siteOf).getOrElse(fallback)))
        }
      }
      override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        if (perJob) Option(jobStartNs.remove(je.jobId)).foreach { case (t0, site) =>
          println(f"[job] id=${je.jobId} ${(System.nanoTime() - t0) / 1e3}%.0fus $site")
        }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(sc.stageInfo.numTasks)
        taskTimeMs.addAndGet(
          sc.stageInfo.taskMetrics.executorRunTime)
        // GRAFT_PROFILE_STAGES=1: one line per stage with its operator,
        // so a chain's cost decomposes by operator.
        if (perStage) {
          val wallMs = (for {
            s <- sc.stageInfo.submissionTime; e <- sc.stageInfo.completionTime
          } yield e - s).getOrElse(-1L)
          println(s"[stage] id=${sc.stageInfo.stageId} wall=${wallMs}ms " +
            s"taskTime=${sc.stageInfo.taskMetrics.executorRunTime}ms " +
            s"tasks=${sc.stageInfo.numTasks} site=${stageSite.getOrDefault(sc.stageInfo.stageId, "?")}")
        }
      }
    })

    // tools/run_verify.sh always passes sfDir/outDir as the first two
    // args — filter to registered query names so it can launch this too
    val known = SparkEntry.specs.map(_.name).toSet
    val asked = args.flatMap(_.split(",")).filter(known)
    val names: Seq[String] =
      if (asked.nonEmpty) asked.toSeq else SparkEntry.specs.map(_.name)

    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to 2).foreach { run =>
        jobs.set(0); stages.set(0); tasks.set(0); taskTimeMs.set(0L)
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val tBuilt = System.nanoTime()
        // the final plan's jobs carry no operator frame: name them here
        spark.sparkContext.setJobDescription(s"$name final plan")
        df.queryExecution.toRdd.count()
        spark.sparkContext.setJobDescription(null)
        val t1 = System.nanoTime()
        // listener events are async; a short quiesce keeps the counters
        // attributable to this run (diagnostic precision, not contract)
        Thread.sleep(150)
        val phases = df.queryExecution.tracker.phases
          .map { case (k, v) => s"$k=${v.endTimeMs - v.startTimeMs}ms" }
          .mkString(" ")
        println(f"[profile] $name run$run wall=${(t1 - t0) / 1e9}%.3fs " +
          f"build=${(tBuilt - t0) / 1e9}%.3fs jobs=${jobs.get} stages=${stages.get} " +
          f"tasks=${tasks.get} taskTime=${taskTimeMs.get / 1e3}%.1fs $phases")
      }
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    spark.stop()
  }
}
