package perfbench

import java.nio.file.{Files, Path}
import java.time.Instant
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}
import graft.pipeline.EnvelopeParser
import graft.sinks.UpsertWriter
import graft.streaming.{BusPipeline, Observability, ProgressRecorder}

/** Pieces both CDC phases share: the sink under test, progress
  * bookkeeping, and the reference check of the final table. */
object Cdc {

  /** Progress of one committed micro-batch; `commitMs` is its trigger
    * start plus its trigger duration (wall clock, ms). */
  final case class Batch(id: Long, commitMs: Long, endOffset: Option[Long], durations: Map[String, Long])

  def batches(rec: ProgressRecorder): Seq[Batch] =
    rec.progress.asScala.toSeq.map(_.progress).filter(_.numInputRows > 0).map(batch).sortBy(_.id)

  private def batch(p: StreamingQueryProgress): Batch = {
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val start = Instant.parse(p.timestamp).toEpochMilli
    val end = p.sources.headOption.flatMap(s => Option(s.endOffset)).flatMap(_.toLongOption)
    Batch(p.batchId, start + d.getOrElse("triggerExecution", 0L), end, d)
  }

  /** Wait (at most 30 s) until the listener's non-empty batches satisfy `done`. */
  def awaitProgress(rec: ProgressRecorder, done: Seq[Batch] => Boolean): Seq[Batch] = {
    val deadline = System.nanoTime() + 30e9.toLong
    var b = batches(rec)
    while (!done(b) && System.nanoTime() < deadline) { Thread.sleep(20); b = batches(rec) }
    b
  }

  /** Start the pipeline. Untraced runs call `BusPipeline.run` as is. Traced
    * runs compose the same two stages in the benchmark's own foreachBatch
    * so parsing and upserting get separate spans: the parsed batch is
    * checkpointed inside the `parse` span (so its cost lands there) and
    * the sink's counts are probed outside both. */
  def start(src: DataFrame, table: String, ckpt: String, trigger: Option[Trigger],
      ctx: Option[Ctx]): StreamingQuery = ctx match {
    case None => BusPipeline.run(src, table, ckpt, trigger)
    case Some(c) =>
      val w = src.writeStream.option("checkpointLocation", ckpt).queryName("perfbench-traced")
        .foreachBatch { (raw: DataFrame, id: Long) => tracedBatch(c, raw, id, table) }
      trigger.fold(w)(w.trigger).start()
  }

  private def tracedBatch(c: Ctx, raw: DataFrame, id: Long, table: String): Unit = {
    val sc = c.spark.sparkContext
    c.tracer.span(s"batch:$id") { b =>
      sc.setLocalProperty(JobLog.SpanKey, b.id.toString)
      val envelopes = raw.count()
      val parsed = c.tracer.span("parse", b.id) { s =>
        sc.setLocalProperty(JobLog.SpanKey, s.id.toString)
        EnvelopeParser.transform(raw).localCheckpoint(true)
      }
      sc.setLocalProperty(JobLog.SpanKey, b.id.toString)
      val incoming = parsed.count()
      val touched = parsed.select("routeId").distinct().collect().map(_.get(0)).filter(_ != null)
      val before =
        if (tableExists(table))
          UpsertWriter.readTable(c.spark, table).filter(col("routeId").isin(touched.toIndexedSeq: _*)).count()
        else 0L
      c.tracer.span("upsert", b.id) { s =>
        sc.setLocalProperty(JobLog.SpanKey, s.id.toString)
        UpsertWriter.upsert(parsed, table)
      }
      sc.setLocalProperty(JobLog.SpanKey, null)
      b.attrs ++= Seq("envelopes" -> envelopes, "rows_incoming" -> incoming,
        "merge_read_rows" -> before, "partitions_touched" -> touched.length)
    }
  }

  /** Order-independent checksum of one table row, in the generator's terms. */
  def rowHash(b: Bus): Long = {
    val s = Seq(b.recordId, b.id, b.routeId, b.directionId.orNull, b.predictable.getOrElse(null),
      b.secsSinceReport, b.kph, b.heading.getOrElse(null),
      java.lang.Double.doubleToLongBits(b.lat), java.lang.Double.doubleToLongBits(b.lon),
      b.leadingVehicleId.getOrElse(null), b.eventTime).mkString("|")
    scala.util.hashing.MurmurHash3.stringHash(s).toLong * 0x9E3779B97F4A7C15L +
      scala.util.hashing.MurmurHash3.stringHash(s.reverse)
  }

  /** A normalized bus_status row in the generator's terms. */
  def toBus(r: org.apache.spark.sql.Row): Bus = {
    def opt[T](f: String): Option[T] = if (r.isNullAt(r.fieldIndex(f))) None else Some(r.getAs[T](f))
    Bus(r.getAs[Int]("record_id"), r.getAs[Int]("id"), r.getAs[Int]("routeId"), opt[String]("directionId"),
      opt[Int]("predictable"), r.getAs[Int]("secsSinceReport"), r.getAs[Int]("kph"), opt[Int]("heading"),
      r.getAs[Double]("lat"), r.getAs[Double]("lon"), opt[Int]("leadingVehicleId"),
      r.getAs[java.sql.Timestamp]("event_time").getTime)
  }

  /** Compare the table with the generator's newest image per key: same
    * count, unique record_id, same checksum. Returns a mismatch message. */
  def checkTable(spark: SparkSession, table: String, expected: scala.collection.Map[Int, Bus]): Option[String] = {
    val got = UpsertWriter.readTable(spark, table).collect().map(toBus)
    val unique = got.map(_.recordId).distinct.length
    val (gotSum, wantSum) = (got.map(rowHash).sum, expected.values.map(rowHash).sum)
    if (got.length != expected.size) Some(s"rows ${got.length} != expected ${expected.size}")
    else if (unique != got.length) Some(s"record_id not unique: ${got.length} rows, $unique keys")
    else if (gotSum != wantSum) Some(s"checksum $gotSum != expected $wantSum")
    else None
  }

  def tableFiles(table: String): (Long, Long) = {
    val files = Files.walk(Path.of(table)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")).toSeq
    (files.size.toLong, files.map(Files.size).sum)
  }

  def tableExists(table: String): Boolean = Files.isDirectory(Path.of(table)) &&
    Files.list(Path.of(table)).iterator().asScala.exists(_.getFileName.toString.startsWith("routeId="))

  def delete(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))

  def write(file: Path, lines: Iterator[String]): Unit = {
    Files.createDirectories(file.getParent)
    val w = Files.newBufferedWriter(file)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }
}

/** Per-layer figures of the sink and the parser, from the traced batch
  * spans (and the jobs credited to them) that started in [from, to). */
object SinkFigures {
  def apply(ctx: Ctx, from: Long, to: Long, table: String, sinks: String, pipeline: String): Seq[(String, Any)] = {
    val spans = ctx.tracer.spans.filter(s => s.start >= from && s.start < to && s.end >= 0)
    val batches = spans.filter(_.name.startsWith("batch:"))
    def sum(attr: String) = batches.map(_.attrs.getOrElse(attr, 0L).asInstanceOf[Long]).sum
    val upserts = spans.filter(_.name == "upsert")
    val upsertIds = upserts.map(_.id).toSet
    val upsertJobs = ctx.jobs.map(_.snapshot).getOrElse(Nil).filter(j => upsertIds.contains(j.spanId))
    val (written, in, envelopes) = (upsertJobs.map(_.rowsWritten).sum, sum("rows_incoming"), sum("envelopes"))
    val parseMs = spans.filter(_.name == "parse").map(_.seconds * 1e3).sum
    val (files, bytes) = Cdc.tableFiles(table)
    Seq(
      s"$sinks.upsert_ms_p50" -> Main.median(upserts.map(_.seconds * 1e3)),
      s"$sinks.rows_incoming" -> in,
      s"$sinks.rows_written" -> written,
      s"$sinks.write_amp" -> (if (in == 0) 0.0 else written.toDouble / in),
      s"$sinks.merge_read_rows" -> sum("merge_read_rows"),
      s"$sinks.bytes_written" -> upsertJobs.map(_.output).sum,
      s"$sinks.partitions_touched_p50" -> Main.median(batches.map(_.attrs("partitions_touched").asInstanceOf[Int].toDouble)),
      s"$sinks.table_files_end" -> files,
      s"$sinks.table_bytes_end" -> bytes,
      s"$pipeline.envelopes" -> envelopes,
      s"$pipeline.rows_out" -> in,
      s"$pipeline.parse_ms_per_kenv" -> (if (envelopes == 0) 0.0 else parseMs / (envelopes / 1e3)))
  }
}

/** Progress-event figures of the micro-batch engine; `envelopes` is each
  * batch's envelope count as the benchmark offered it. */
object StreamFigures {
  def apply(bs: Seq[Cdc.Batch], envelopes: Seq[Int]): Seq[(String, Any)] = {
    def p50(k: String) = Main.median(bs.map(_.durations.getOrElse(k, 0L).toDouble))
    Seq(
      "stream.batches" -> bs.size,
      "stream.envelopes_per_batch_p50" -> Main.median(envelopes.map(_.toDouble)),
      "stream.trigger_ms_p50" -> p50("triggerExecution"),
      "stream.add_batch_ms_p50" -> p50("addBatch"),
      "stream.overhead_ms_p50" -> Main.median(bs.map(b =>
        (b.durations.getOrElse("triggerExecution", 0L) - b.durations.getOrElse("addBatch", 0L)).toDouble)),
      "stream.planning_ms_p50" -> p50("queryPlanning"),
      "stream.batch_envelopes" -> envelopes,
      "stream.batch_ms" -> bs.map(_.durations.getOrElse("triggerExecution", 0L)))
  }
}

/** `cdc_ingest`: the paper's pipeline, first as a backfill and then live.
  *
  * Backfill: one log (an `op=r` snapshot, then a tail with a heavy share
  * of redeliveries) is replayed into an empty table with
  * `Trigger.AvailableNow`, [[Drains]] times into fresh tables; `work_s`
  * is the median drain wall time.
  *
  * Live: on the last drain's table, one generator thread offers envelopes
  * to a MemoryStream on a fixed open-loop schedule ([[Rate]] per second,
  * due times fixed before the run) while `BusPipeline.run` drains it with
  * the default micro-batch trigger. An envelope's freshness is its
  * batch's commit time minus its due time, so a stall also delays every
  * envelope queued behind it. */
final class CdcIngest(seed: Long, work: Path) extends Workload {
  import CdcIngest._
  private val gen = new Envelopes(seed)
  private val logDir = work.resolve("in/log")
  Cdc.write(logDir.resolve("part-000.json"), Iterator.fill(Snapshot)(gen.snapshot().json) ++
    Iterator.fill(LogEnvelopes - Snapshot)(gen.next(Envelopes.Replay).json))
  private val liveWarm = Vector.fill(LiveWarmEnvelopes)(gen.next(Envelopes.Steady).json)
  private val warmDir = work.resolve("in/warm")
  locally {
    val g = new Envelopes(seed + 1, routes = WarmRoutes)
    Cdc.write(warmDir.resolve("part-000.json"),
      Iterator.fill(WarmEnvelopes / 2)(g.snapshot().json) ++ Iterator.fill(WarmEnvelopes / 2)(g.next(Envelopes.Replay).json))
  }
  private var table: String = _

  private def fileSource(spark: SparkSession, dir: Path): DataFrame =
    spark.readStream.schema("value string").text(dir.toString)

  /** A small drain of a separate log, so the sink's code paths are warm. */
  def prepare(spark: SparkSession, rep: Int): Unit = {
    val d = work.resolve(s"ingest/warm$rep")
    BusPipeline.run(fileSource(spark, warmDir), d.resolve("table").toString, d.resolve("ckpt").toString,
      Some(Trigger.AvailableNow())).awaitTermination()
    Cdc.delete(d)
  }

  /** One untimed drain of the real log, so the timed drains run warm. */
  override def warm(spark: SparkSession): Unit = {
    val d = work.resolve("ingest/warm-drain")
    BusPipeline.run(fileSource(spark, logDir), d.resolve("table").toString, d.resolve("ckpt").toString,
      Some(Trigger.AvailableNow())).awaitTermination()
    Cdc.delete(d)
  }

  def measure(ctx: Ctx): Measured = {
    val m = new Measured
    val walls = backfill(ctx, m)
    m.workS = Main.median(walls)
    m.figures ++= Seq(
      "backfill_eps" -> LogEnvelopes / m.workS,
      "backfill.drains" -> walls.size,
      "backfill.envelopes_per_drain" -> LogEnvelopes,
      "backfill.drain_s" -> walls)
    live(ctx, m)
    m
  }

  private def traced(ctx: Ctx) = if (ctx.tracer.enabled) Some(ctx) else None

  private def backfill(ctx: Ctx, m: Measured): Seq[Double] = {
    val spark = ctx.spark
    val walls = mutable.ArrayBuffer.empty[Double]
    val all = mutable.ArrayBuffer.empty[Cdc.Batch]
    val t0 = System.nanoTime()
    for (k <- 0 until Drains) {
      if (k > 0) Cdc.delete(work.resolve(s"ingest/drain${k - 1}"))
      val d = work.resolve(s"ingest/drain$k")
      table = d.resolve("table").toString
      val rec = Observability.attach(spark)
      val s0 = System.nanoTime()
      val q = Cdc.start(fileSource(spark, logDir), table, d.resolve("ckpt").toString,
        Some(Trigger.AvailableNow()), traced(ctx))
      q.awaitTermination()
      walls += (System.nanoTime() - s0) / 1e9
      val bs = Cdc.awaitProgress(rec, _.nonEmpty)
      spark.streams.removeListener(rec)
      all ++= bs
      m.attempted += 1
      m.failed += q.exception.size + (if (bs.isEmpty) 1 else 0)
    }
    m.heapMb += m.untimed(Jvm.liveHeapMb())
    m.figures ++= StreamFigures(all.toSeq, all.map(_ => LogEnvelopes).toSeq).map { case (k, v) => s"backfill.$k" -> v }
    if (ctx.tracer.enabled) m.figures ++= SinkFigures(ctx, t0, System.nanoTime(), table, "backfill.sinks", "pipeline")
    walls.toSeq
  }

  private def live(ctx: Ctx, m: Measured): Unit = {
    val spark = ctx.spark
    val stream = MemoryStream[String](spark.implicits.newStringEncoder, spark)
    val query = Cdc.start(stream.toDF(), table, work.resolve("ingest/live-ckpt").toString, None, traced(ctx))
    liveWarm.grouped(LiveWarmEnvelopes / LiveWarmBatches).foreach { chunk =>
      stream.addData(chunk)
      query.processAllAvailable()
    }

    val n = Rate * ctx.seconds
    val envs = Vector.fill(n)(gen.next(Envelopes.Steady).json)
    val rec = Observability.attach(spark)
    val offsets = new Array[Long](n)
    val offeredNs = new Array[Long](n)
    val stepNs = 1e9 / Rate
    val t0 = System.nanoTime()
    val wall0 = System.currentTimeMillis()
    var i = 0
    while (i < n) {
      val now = System.nanoTime()
      var j = i
      while (j < n && t0 + (j * stepNs).toLong <= now) j += 1
      if (j > i) {
        val off = stream.addData(envs.slice(i, j)).json.toLong
        val at = System.nanoTime()
        (i until j).foreach { k => offsets(k) = off; offeredNs(k) = at }
        i = j
      } else Thread.sleep(math.max(0L, (t0 + (i * stepNs).toLong - now) / 1000000L))
    }
    val windowEndMs = wall0 + ctx.seconds * 1000L
    query.processAllAvailable()
    val bs = Cdc.awaitProgress(rec, _.exists(_.endOffset.exists(_ >= offsets(n - 1))))
      .filter(_.endOffset.exists(_ >= offsets(0)))
    spark.streams.removeListener(rec)
    m.attempted += bs.size
    m.failed += query.exception.size
    query.stop()

    def batchOf(off: Long): Option[Cdc.Batch] = bs.find(_.endOffset.exists(_ >= off))
    val lat = (0 until n).flatMap(k => batchOf(offsets(k)).map(b => (b.commitMs - (wall0 + k * 1e3 / Rate)) / 1e3))
    if (lat.size < n) m.failed += 1
    m.latencies ++= lat
    m.heapMb += m.untimed(Jvm.liveHeapMb())
    val perBatch = bs.map(b => offsets.count(o => batchOf(o).contains(b)))
    val late = (0 until n).map(k => (offeredNs(k) - t0 - k * stepNs) / 1e6)
    m.figures ++= StreamFigures(bs, perBatch)
    m.figures ++= Seq(
      "stream.backlog_end" -> (0 until n).count(k => batchOf(offsets(k)).forall(_.commitMs > windowEndMs)),
      "stream.generator_late_ms_p99" -> Main.quantile(late, 0.99),
      "stream.envelopes" -> n,
      "stream.rate_per_s" -> Rate,
      "freshness_p50_s" -> Main.median(lat),
      "freshness_p95_s" -> Main.quantile(lat, 0.95),
      "freshness_samples_envelopes" -> lat.size,
      "freshness_samples_batches" -> bs.size)
    if (ctx.tracer.enabled) m.figures ++= SinkFigures(ctx, t0, System.nanoTime(), table, "sinks", "live.pipeline")
  }

  def check(ctx: Ctx, m: Measured): Unit = {
    m.attempted += 1
    Cdc.checkTable(ctx.spark, table, gen.latest).foreach { msg =>
      System.err.println(s"[perfbench] cdc_ingest table check failed: $msg"); m.failed += 1
    }
    m.figures("check.table_rows") = gen.latest.size
    Cdc.delete(work.resolve("ingest"))
  }
}

object CdcIngest {
  /** Backfill log: envelopes, and how many of them are the snapshot. It is
    * one file, so one micro-batch per drain: a drain's second, merging
    * batch varied by ±15% from run to run, and every live batch merges. */
  val LogEnvelopes = 30000
  val Snapshot = 12000
  /** Timed drains of the log, each into a fresh table; `work_s` is their median. */
  val Drains = 3
  /** The separate warm-up log drained in each set-up: it only has to run
    * the sink's code paths, so it spans few routes (few partitions). */
  val WarmEnvelopes = 2000
  val WarmRoutes = 8
  /** Live traffic: envelopes per second offered by the open-loop generator. */
  val Rate = 10
  /** Live envelopes drained before the timed window, in batches of the
    * window's size: with one warm batch, the window's first few batches
    * were ~1.3x its later ones. */
  val LiveWarmEnvelopes = 40
  val LiveWarmBatches = 2
}
