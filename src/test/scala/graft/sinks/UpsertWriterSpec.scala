package graft.sinks

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import graft.TestSpark

class UpsertWriterSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("upsert").toString

  private def row(recordId: Int, routeId: Int, eventTime: Long, kph: Int = 0) =
    (recordId, routeId, eventTime, kph)

  private def frame(rows: (Int, Int, Long, Int)*) =
    rows.toDF("record_id", "routeId", "event_time", "kph")

  test("within-batch precombine keeps max event_time per key") {
    val out = tmpDir()
    UpsertWriter.upsert(frame(row(1, 7, 100, 10), row(1, 7, 200, 20), row(2, 7, 50)), out)
    val t = UpsertWriter.readTable(spark, out)
    assert(t.count() == 2)
    assert(t.filter($"record_id" === 1).head().getAs[Int]("kph") == 20)
  }

  test("cross-batch upsert: newer replaces, older is ignored (out-of-order)") {
    val out = tmpDir()
    UpsertWriter.upsert(frame(row(1, 7, 100, 10)), out)
    UpsertWriter.upsert(frame(row(1, 7, 300, 30)), out)   // newer wins
    UpsertWriter.upsert(frame(row(1, 7, 200, 20)), out)   // late, older: ignored
    val t = UpsertWriter.readTable(spark, out)
    assert(t.count() == 1)
    assert(t.head().getAs[Int]("kph") == 30)
  }

  test("replay is idempotent (duplicate delivery)") {
    val out = tmpDir()
    val batch = frame(row(1, 7, 100, 10), row(2, 8, 100, 5))
    UpsertWriter.upsert(batch, out)
    UpsertWriter.upsert(batch, out)
    val t = UpsertWriter.readTable(spark, out)
    assert(t.count() == 2)
  }

  test("equal precombine: incoming batch wins the tie") {
    val out = tmpDir()
    UpsertWriter.upsert(frame(row(1, 7, 100, 10)), out)
    UpsertWriter.upsert(frame(row(1, 7, 100, 99)), out)
    assert(UpsertWriter.readTable(spark, out).head().getAs[Int]("kph") == 99)
  }

  test("output is partitioned by routeId and untouched partitions survive") {
    val out = tmpDir()
    UpsertWriter.upsert(frame(row(1, 7, 100), row(2, 8, 100)), out)
    // second batch touches only routeId=7
    UpsertWriter.upsert(frame(row(3, 7, 100)), out)
    val dirs = new java.io.File(out).listFiles().map(_.getName).filter(_.startsWith("routeId="))
    assert(dirs.toSet == Set("routeId=7", "routeId=8"))
    val t = UpsertWriter.readTable(spark, out)
    assert(t.count() == 3)
    assert(t.filter($"routeId" === 8).count() == 1)
  }

  test("unique keys with max event_time — the §7.4 invariant on generated data") {
    val out = tmpDir()
    val rnd = new scala.util.Random(42)
    val rows = Seq.fill(500)(row(rnd.nextInt(50), rnd.nextInt(5), rnd.nextInt(1000).toLong, rnd.nextInt(100)))
    rows.grouped(100).foreach(b => UpsertWriter.upsert(frame(b: _*), out))
    val t = UpsertWriter.readTable(spark, out)
    val keys = t.select("record_id").distinct().count()
    assert(t.count() == keys, "keys must be unique after upsert")
    // each key's event_time is the max seen for that key
    val expected = frame(rows: _*).groupBy("record_id").agg(max("event_time").as("m"))
    val bad = t.join(expected, "record_id").filter($"event_time" =!= $"m").count()
    assert(bad == 0)
  }

  private def partitionDirs(out: String, partition: String = "routeId"): Set[String] =
    new java.io.File(out).listFiles().map(_.getName).filter(_.startsWith(s"$partition=")).toSet

  private def files(dir: String): Set[String] =
    new java.io.File(dir).listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet

  test("null and escaped partition values are merged in place; untouched partitions survive") {
    val out = tmpDir()
    val keys = UpsertWriter.Keys(partition = "lang")
    def f(rows: (Int, String, Long, Int)*) = rows.toDF("record_id", "lang", "event_time", "kph")
    UpsertWriter.upsert(f((1, null, 100L, 1), (2, "a b/c=d", 100L, 2), (3, "en", 100L, 3)), out, keys)
    UpsertWriter.upsert(f((1, null, 200L, 10), (2, "a b/c=d", 200L, 20)), out, keys)
    UpsertWriter.upsert(f((4, "fr", 100L, 4)), out, keys)   // touches neither
    // one directory per value, named the way the writer escapes it
    assert(partitionDirs(out, "lang") ==
      Set("lang=__HIVE_DEFAULT_PARTITION__", "lang=a b%2Fc%3Dd", "lang=en", "lang=fr"))
    val got = UpsertWriter.readTable(spark, out)
      .select("record_id", "lang", "event_time", "kph").as[(Int, String, Long, Int)].collect().toSet
    assert(got == Set((1, null, 200L, 10), (2, "a b/c=d", 200L, 20), (3, "en", 100L, 3), (4, "fr", 100L, 4)))
  }

  test("upserts are partition-local, across batches and within one batch") {
    val out = tmpDir()
    UpsertWriter.upsert(frame(row(1, 7, 100, 1), row(2, 8, 100, 2), row(3, 9, 100, 3)), out)
    // across batches: key 1 moves 7 -> 8; its stale row stays in routeId=7
    UpsertWriter.upsert(frame(row(1, 8, 200, 10)), out)
    val route9 = files(s"$out/routeId=9")
    // within one batch: key 3's newest image is on route 7, an older one
    // on route 9; only route 7 is touched, route 9 is not rewritten
    UpsertWriter.upsert(frame(row(3, 9, 250, 25), row(3, 7, 300, 30)), out)
    assert(files(s"$out/routeId=9") == route9)
    val got = UpsertWriter.readTable(spark, out)
      .select("record_id", "routeId", "event_time", "kph").as[(Int, Int, Long, Int)].collect().toSet
    assert(got == Set((1, 7, 100L, 1), (1, 8, 200L, 10), (2, 8, 100L, 2), (3, 9, 100L, 3), (3, 7, 300L, 30)))
  }

  /** Runs `body` with `listener` attached and returns once the
    * listener has seen every event of it: listener events arrive in
    * order, so once a marker job submitted after `body` has been seen,
    * every job of `body` has been seen too. */
  private def listening(listener: SparkListener)(body: => Unit): Unit = {
    val sc = spark.sparkContext
    val marker = "upsert-spec-marker"
    val seen = new java.util.concurrent.CountDownLatch(1)
    val markerListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker))
          seen.countDown()
    }
    sc.addSparkListener(listener)
    sc.addSparkListener(markerListener)
    try {
      body
      sc.setJobDescription(marker)
      try spark.range(1).count() finally sc.setJobDescription(null)
      assert(seen.await(30, java.util.concurrent.TimeUnit.SECONDS), "listener saw no marker job")
    } finally {
      sc.removeSparkListener(markerListener)
      sc.removeSparkListener(listener)
    }
  }

  test("an upsert into a 40-partition table runs no table-wide file listing job") {
    // 40 > spark.sql.sources.parallelPartitionDiscovery.threshold (32):
    // listing the whole table would run a "Listing leaf files" job
    val out = tmpDir()
    UpsertWriter.upsert(frame((0 until 40).map(r => row(r, r, 100, r)): _*), out)
    val descriptions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    listening(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(descriptions.add)
    }) {
      UpsertWriter.upsert(frame(row(100, 3, 200, 7)), out)
    }
    val listings = descriptions.toArray.map(_.toString).filter(_.startsWith("Listing leaf files"))
    assert(listings.isEmpty, s"upsert listed the table: ${listings.mkString("; ")}")
    assert(partitionDirs(out).size == 40)
    val t = UpsertWriter.readTable(spark, out)
    assert(t.count() == 41 && t.select("record_id").distinct().count() == 41)
    assert(t.filter($"routeId" === 3).select("record_id").as[Int].collect().toSet == Set(3, 100))
  }

  /** Task counts of the stages of `body` that wrote output records. */
  private def writeStageTasks(body: => Unit): Seq[Int] = {
    val tasks = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val writing = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    listening(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.merge(e.stageId, 1, _ + _)
        if (e.taskMetrics != null && e.taskMetrics.outputMetrics.recordsWritten > 0)
          writing.add(e.stageId)
      }
    })(body)
    writing.toArray.map(id => tasks.get(id.asInstanceOf[Int])).toSeq
  }

  test("a batch writes one file per touched partition, on min(cores, touched) tasks") {
    val out = tmpDir()
    // 40 touched routes on local[4]: one write stage of 4 tasks
    val first = writeStageTasks(
      UpsertWriter.upsert(frame((0 until 40).map(r => row(r, r, 100, r)): _*), out))
    assert(first == Seq(4), s"write stage tasks: $first")
    val dirs = partitionDirs(out)
    assert(dirs.size == 40)
    val before = dirs.map(d => d -> files(s"$out/$d")).toMap
    assert(before.values.forall(_.size == 1), s"files per partition: ${before.values.map(_.size)}")
    // a merge touching one route: one task, one new file there, the
    // other 39 directories untouched
    val merge = writeStageTasks(UpsertWriter.upsert(frame(row(100, 3, 200, 7)), out))
    assert(merge == Seq(1), s"write stage tasks: $merge")
    val route3 = files(s"$out/routeId=3")
    assert(route3.size == 1 && route3 != before("routeId=3"))
    assert((dirs - "routeId=3").forall(d => files(s"$out/$d") == before(d)))
    assert(UpsertWriter.readTable(spark, out).count() == 41)
  }
}
