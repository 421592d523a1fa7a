package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import graft.SparkEntry

object Batch {
  /** Eager chains: many jobs each, built on the driver before the final plan. */
  val Chains = Seq("q58_neardup_clusters", "q161_dsir_resample")
  /** Single Catalyst plans over scans, shuffles and the native text kernels. */
  val Plans = Seq("q01_agg_pricing_summary", "q04_join_revenue_by_nation", "q15_grouping_sets",
    "q24_token_stats", "q26_lang_id", "q27_fingerprint", "q61_unicode_normalize")

  /** Exchange nodes in an executed plan, looking through adaptive stages. */
  def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => exchanges(s.plan)
    case r: ReusedExchangeExec => 1
    case e: Exchange => 1 + e.children.map(exchanges).sum
    case other => other.children.map(exchanges).sum
  }
}

/** `batch_curation`: a fixed query list over fixed tables. Each query
  * runs as `Bench` times it (build, then `toRdd.count()`),
  * [[BatchQueries.reps]] times in a row; cached and checkpointed blocks
  * are dropped between queries, never between repetitions. */
final class BatchQueries(names: Seq[String], data: String, work: Path) extends Workload {
  private val out = work.resolve("out")
  private val fns = names.map(n => n -> SparkEntry.queries(n))

  /** Queries read their tables lazily, so there is nothing to prepare
    * beyond the session. */
  def prepare(spark: SparkSession, rep: Int): Unit = ()

  def measure(ctx: Ctx): Measured = {
    val m = new Measured
    val spark = ctx.spark
    val sc = spark.sparkContext
    val reps = BatchQueries.reps(ctx.seconds)
    Files.createDirectories(out)
    for ((name, fn) <- fns) {
      val walls, builds, actions, idles, catalyst = mutable.ArrayBuffer.empty[Double]
      var buildJobs, exch = 0
      var last: DataFrame = null
      // One untimed run right before the timed ones: the first run of a
      // query after another one ran was 1.3-1.6x its later runs, even when
      // a pass over the whole list had run before.
      sc.setLocalProperty(JobLog.SpanKey, "-1")
      val tw = System.nanoTime()
      m.untimed {
        try fn(spark, data).queryExecution.toRdd.count()
        catch { case e: Throwable => System.err.println(s"[perfbench] $name failed: $e"); m.attempted += 1; m.failed += 1 }
      }
      m.figures(s"$name.warm_s") = (System.nanoTime() - tw) / 1e9
      sc.setLocalProperty(JobLog.SpanKey, null)
      for (_ <- 1 to reps) {
        m.attempted += 1
        try {
          ctx.tracer.span(s"query:$name") { q =>
            val t0 = System.nanoTime()
            val df = ctx.tracer.span("build", q.id) { b =>
              sc.setLocalProperty(JobLog.SpanKey, b.id.toString)
              fn(spark, data)
            }
            val t1 = System.nanoTime()
            ctx.tracer.span("action", q.id) { a =>
              sc.setLocalProperty(JobLog.SpanKey, a.id.toString)
              df.queryExecution.toRdd.count()
            }
            val t2 = System.nanoTime()
            sc.setLocalProperty(JobLog.SpanKey, null)
            walls += (t2 - t0) / 1e9; builds += (t1 - t0) / 1e9; actions += (t2 - t1) / 1e9
            m.latencies += (t2 - t0) / 1e9
            catalyst += df.queryExecution.tracker.phases.values.map(_.durationMs).sum.toDouble
            exch = Batch.exchanges(df.queryExecution.executedPlan)
            ctx.jobs.foreach { log =>
              val js = log.jobsIn(t0, t2)
              buildJobs = js.count(j => j.start < t1)
              idles += ((t2 - t0) - Intervals.union(js.map(j => (j.start, if (j.end < 0) t2 else j.end)))) / 1e9
            }
            last = df
          }
        } catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] $name failed: $e"); m.failed += 1
        }
      }
      m.heapMb += m.untimed(Jvm.liveHeapMb())
      if (last != null) m.untimed {
        sc.setLocalProperty(JobLog.SpanKey, "-1") // output written for the check, not timed
        last.coalesce(1).write.mode("overwrite").parquet(out.resolve(name).toString)
        sc.setLocalProperty(JobLog.SpanKey, null)
      }
      dropBlocks(sc)
      m.workS += Main.median(walls.toSeq)
      m.figures(s"$name.wall_s") = Main.median(walls.toSeq)
      m.figures(s"$name.rep_wall_s") = walls.toSeq
      if (ctx.tracer.enabled) m.figures ++= Seq(
        s"$name.build_s" -> Main.median(builds.toSeq),
        s"$name.action_s" -> Main.median(actions.toSeq),
        s"$name.build_jobs" -> buildJobs,
        s"$name.idle_s" -> Main.median(idles.toSeq),
        s"$name.catalyst_ms" -> Main.median(catalyst.toSeq),
        s"$name.exchanges" -> exch)
    }
    if (ctx.tracer.enabled) {
      def sum(suffix: String) = names.map(n => m.figures.getOrElse(s"$n.$suffix", 0) match {
        case d: Double => d; case i: Int => i.toDouble; case _ => 0.0 }).sum
      m.figures ++= Seq(
        "ops.build_s" -> sum("build_s"), "ops.build_jobs" -> sum("build_jobs").toInt,
        "ops.idle_s" -> sum("idle_s"), "queries.action_s" -> sum("action_s"),
        "queries.catalyst_ms" -> sum("catalyst_ms"), "queries.exchanges" -> sum("exchanges").toInt)
    }
    for ((label, list) <- Seq("chain_wall_s" -> Batch.Chains, "plan_wall_s" -> Batch.Plans))
      m.figures(label) = list.filter(names.contains).map(n => m.figures.getOrElse(s"$n.wall_s", 0.0).asInstanceOf[Double]).sum
    val oracle = names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _))
    Files.writeString(out.resolve("oracle_sql.json"), Json.obj(oracle))
    m
  }

  /** Drop cached and checkpointed blocks, waiting until they are gone so
    * their removal does not overlap the next timed run. */
  private def dropBlocks(sc: org.apache.spark.SparkContext): Unit =
    sc.getPersistentRDDs.values.foreach(_.unpersist(true))

  /** Result rows are compared with the DuckDB oracle by `run.py`. */
  def check(ctx: Ctx, m: Measured): Unit = ()
}

object BatchQueries {
  /** Timed repetitions of every query: a fixed count, so a run's work and
    * its counts repeat exactly; `--seconds` scales it (3 at 20 s). */
  def reps(seconds: Int): Int = math.max(3, seconds / 7)
}
