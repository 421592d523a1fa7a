package graft.sinks

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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

  test("an upsert into a 40-partition table runs no table-wide file listing job") {
    // 40 > spark.sql.sources.parallelPartitionDiscovery.threshold (32):
    // listing the whole table would run a "Listing leaf files" job
    val out = tmpDir()
    UpsertWriter.upsert(frame((0 until 40).map(r => row(r, r, 100, r)): _*), out)
    val sc = spark.sparkContext
    val descriptions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(descriptions.add)
    }
    sc.addSparkListener(listener)
    try {
      UpsertWriter.upsert(frame(row(100, 3, 200, 7)), out)
      // events arrive in order: once the marker job is seen, every
      // job of the upsert has been seen too
      sc.setJobDescription("upsert-listing-guard-marker")
      try spark.range(1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30e9.toLong
      while (!descriptions.contains("upsert-listing-guard-marker") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(descriptions.contains("upsert-listing-guard-marker"), "listener saw no marker job")
    } finally sc.removeSparkListener(listener)
    val listings = descriptions.toArray.map(_.toString).filter(_.startsWith("Listing leaf files"))
    assert(listings.isEmpty, s"upsert listed the table: ${listings.mkString("; ")}")
    assert(partitionDirs(out).size == 40)
    val t = UpsertWriter.readTable(spark, out)
    assert(t.count() == 41 && t.select("record_id").distinct().count() == 41)
    assert(t.filter($"routeId" === 3).select("record_id").as[Int].collect().toSet == Set(3, 100))
  }
}
