package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._

/** A traced interval. Times are ns on the benchmark's monotonic clock. */
final class Span(val id: Int, val name: String, val parent: Int, val start: Long) {
  @volatile var end: Long = -1L
  val attrs = mutable.LinkedHashMap.empty[String, Any]
  def seconds: Double = (end - start) / 1e9
}

/** Spans recorded by the benchmark around its calls into each layer. They
  * stay in memory and are written as JSON when the run ends. A disabled
  * tracer records nothing, so untraced runs pay only the call. */
final class Tracer(val enabled: Boolean, val origin: Long) {
  private val ids = new AtomicInteger(0)
  private val buf = mutable.ArrayBuffer.empty[Span]

  def open(name: String, parent: Int = 0, at: Long = System.nanoTime()): Span = {
    val s = new Span(ids.incrementAndGet(), name, parent, at)
    if (enabled) buf.synchronized(buf += s)
    s
  }

  def span[T](name: String, parent: Int = 0)(f: Span => T): T = {
    val s = open(name, parent)
    try f(s) finally s.end = System.nanoTime()
  }

  def spans: Seq[Span] = buf.synchronized(buf.toList)

  /** Self time per span kind (the name up to ':'): duration minus the part
    * its child spans and the jobs credited to it cover. */
  def selfSeconds(jobs: Seq[JobRec]): Map[String, Double] = {
    val all = spans.filter(_.end >= 0)
    val kids = all.map(c => (c.parent, c.start, c.end)) ++ jobs.map(j => (j.spanId, j.start, j.end))
    val byParent = kids.filter(_._3 >= 0).groupBy(_._1)
    all.groupMapReduce(s => s.name.takeWhile(_ != ':')) { s =>
      val covered = Intervals.union(byParent.getOrElse(s.id, Nil).map(c => (c._2 max s.start, c._3 min s.end)))
      (s.end - s.start - covered) / 1e9
    }(_ + _)
  }

  /** Spans, then one `job:<id>` span per Spark job under the span credited with it. */
  def json(jobs: Seq[JobRec]): String = Json.arr(spans.map { s =>
    Json.obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_s" -> (s.start - origin) / 1e9, "end_s" -> (s.end - origin) / 1e9) ++ s.attrs.toSeq)
  } ++ jobs.map { j =>
    Json.obj(Seq("id" -> s"job:${j.id}", "name" -> s"job:${j.id}", "parent" -> j.spanId,
      "start_s" -> (j.start - origin) / 1e9, "end_s" -> (j.end - origin) / 1e9,
      "description" -> j.group, "stages" -> j.stages, "tasks" -> j.tasks, "task_s" -> j.taskNs / 1e9,
      "shuffle_write_bytes" -> j.shuffleWrite, "shuffle_read_bytes" -> j.shuffleRead,
      "input_bytes" -> j.input, "output_bytes" -> j.output))
  })
}

object Intervals {
  /** Total length covered by the union of [start, end) intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    for ((s, e) <- iv.filter(p => p._2 > p._1).sortBy(_._1)) {
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** One Spark job as the listener saw it, with its tasks' metrics summed. */
final class JobRec(val id: Int, val start: Long, val spanId: Int, val group: String) {
  @volatile var end: Long = -1L
  var stages, tasks = 0
  var taskNs, gcMs, shuffleWrite, shuffleRead, spill, input, output, rowsWritten = 0L
}

/** SparkListener recording jobs, stages, tasks and RDD-block storage from
  * public scheduler events. A job is credited to the span named by the
  * [[JobLog.SpanKey]] local property of the thread that submitted it;
  * threads forked by a query (e.g. `Par`) inherit it. */
final class JobLog extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  private val blocks = mutable.HashMap.empty[String, Long]
  private var blockBytes = 0L
  var blockBytesPeak = 0L
  private var running = 0
  var concurrentMax = 0

  // Listener events carry ms wall-clock times; map them onto the
  // benchmark's nanoTime clock once, at construction.
  private val wallToNano = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def nanos(ms: Long): Long = ms * 1000000L + wallToNano

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    val span = p.flatMap(x => Option(x.getProperty(JobLog.SpanKey))).map(_.toInt).getOrElse(0)
    val group = p.flatMap(x => Option(x.getProperty("spark.job.description"))).getOrElse("")
    val j = new JobRec(e.jobId, nanos(e.time), span, group)
    j.stages = e.stageIds.size
    e.stageIds.foreach(stageJob(_) = j)
    jobs(e.jobId) = j
    running += 1; concurrentMax = concurrentMax max running
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = nanos(e.time))
    running -= 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.taskNs += m.executorRunTime * 1000000L
      j.gcMs += m.jvmGCTime
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      j.input += m.inputMetrics.bytesRead
      j.output += m.outputMetrics.bytesWritten
      j.rowsWritten += m.outputMetrics.recordsWritten
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val key = b.blockId.name
      val now = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
      blockBytes += now - blocks.getOrElse(key, 0L)
      if (now == 0L) blocks.remove(key) else blocks(key) = now
      blockBytesPeak = blockBytesPeak max blockBytes
    }
  }

  def snapshot: Seq[JobRec] = synchronized(jobs.values.toList)
  def jobsIn(from: Long, to: Long): Seq[JobRec] = snapshot.filter(j => j.start >= from && j.start < to)
}

object JobLog {
  val SpanKey = "perfbench.span"
}

/** JVM-wide counters read at the edges of the timed part. */
object Jvm {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime max 0L).sum

  /** Heap in use right after a full collection, in MB. A second collection
    * after a pause also drops what Spark's ContextCleaner released in
    * reaction to the first, so the sample does not depend on its timing. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
