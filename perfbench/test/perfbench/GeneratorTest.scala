package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try
import org.apache.spark.sql.SparkSession
import graft.pipeline.{BusStatusSchema, EnvelopeParser}

/** Unit checks of the envelope generator and the reference check.
  * Run: `bash perfbench/test.sh` (exits non-zero on the first failed check). */
object GeneratorTest {
  private val json = new ObjectMapper()
  private var checks = 0

  private def check(cond: Boolean, what: => String): Unit = {
    checks += 1
    if (!cond) { System.err.println(s"FAIL: $what"); sys.exit(1) }
  }

  private def stream(seed: Long, n: Int): (Envelopes, Seq[Env]) = {
    val g = new Envelopes(seed)
    val envs = Seq.fill(500)(g.snapshot()) ++ Seq.fill(n)(g.next(Envelopes.Steady))
    (g, envs)
  }

  def main(args: Array[String]): Unit = {
    val (g1, a) = stream(7, 5000)
    val (_, b) = stream(7, 5000)
    val (_, c) = stream(8, 5000)
    check(a.map(_.json) == b.map(_.json), "same seed gives the same envelopes")
    check(a.map(_.json) != c.map(_.json), "another seed gives other envelopes")

    val kinds = a.groupBy(_.kind).view.mapValues(_.size).toMap
    check(Kind.values.forall(kinds.contains), s"every CDC case occurs: $kinds")
    check(kinds(Kind.Insert) > a.size / 2 - 500, s"inserts dominate live traffic: $kinds")

    // Well-formed envelopes follow the Debezium layout of BusStatusSchema.envelope.
    val allowed = BusStatusSchema.busStatusInferred.fieldNames.toSet
    for (e <- a if e.kind != Kind.Malformed && e.kind != Kind.Redelivery) {
      val p = json.readTree(e.json).get("payload")
      check(p != null && Seq("before", "after", "source", "op", "ts_ms", "transaction").forall(p.has),
        s"payload fields in ${e.json}")
      val op = p.get("op").asText
      val expectOp = e.kind match {
        case Kind.Snapshot => "r"; case Kind.Delete => "d"
        case Kind.Update | Kind.OutOfOrder => "u"; case _ => "c"
      }
      check(op == expectOp, s"op $op for ${e.kind}")
      val after = p.get("after")
      check(after.isNull == e.after.isEmpty, s"after-image present iff the event carries one: ${e.kind}")
      if (!after.isNull) {
        val names = after.fieldNames().asScala.toSet
        check(names.subsetOf(allowed), s"after-image fields $names")
        check(Seq("record_id", "routeId", "event_time").forall(names), "key, partition and precombine fields present")
      }
    }
    check(a.filter(_.kind == Kind.Malformed).forall(e => Try(json.readTree(e.json)).isFailure),
      "malformed envelopes do not parse")
    check(a.exists(e => e.after.exists(_.heading.isEmpty)), "some after-images omit optional fields")
    val seen = a.filter(_.kind != Kind.Redelivery).map(_.json).toSet
    check(a.filter(_.kind == Kind.Redelivery).forall(e => seen.contains(e.json)), "a redelivery repeats an earlier envelope")

    // Event times: one image per (key, time), and out-of-order updates are older than the key's newest.
    val images = a.flatMap(_.after).distinct
    check(images.groupBy(i => (i.recordId, i.eventTime)).forall(_._2.size == 1), "no two images of a key share an event time")
    check(images.groupBy(_.recordId).forall(_._2.map(_.routeId).distinct.size == 1), "a record keeps its route")
    val newest = mutable.HashMap.empty[Int, Long]
    for (e <- a) e.after.foreach { i =>
      if (e.kind == Kind.OutOfOrder) check(newest.get(i.recordId).exists(_ > i.eventTime), "out-of-order update is older")
      newest(i.recordId) = newest.getOrElse(i.recordId, Long.MinValue) max i.eventTime
    }

    // The reference is the newest image per key.
    val ref = images.groupBy(_.recordId).view.mapValues(_.maxBy(_.eventTime)).toMap
    check(ref == g1.latest.toMap, "latest equals the newest image per key")

    // Zipf route skew: the seed picks the hot routes; the hottest carries far more than 1/routes.
    val perRoute = a.flatMap(_.after).groupBy(_.routeId).view.mapValues(_.size).toMap
    val hot = perRoute.maxBy(_._2)
    check(perRoute.size <= Envelopes.Routes && hot._2 > 10 * images.size / Envelopes.Routes, s"skewed routes: $hot")
    val hotC = c.flatMap(_.after).groupBy(_.routeId).maxBy(_._2.size)._1
    check(hotC != hot._1, "another seed makes another route hot")
    val few = new Envelopes(7, routes = 8)
    check(Seq.fill(1000)(few.snapshot()).flatMap(_.after).map(_.routeId).distinct.size <= 8, "routes bounds the route ids")

    // The program parses exactly the after-images the generator produced.
    val spark = SparkSession.builder().master("local[2]").config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val sample = a.take(3000)
    val parsed = EnvelopeParser.transform(sample.map(_.json).toDF("value")).collect()
    val parsedBus = parsed.map(Cdc.toBus)
    val expected = sample.flatMap(_.after)
    check(parsedBus.map(Cdc.rowHash).sorted.toSeq == expected.map(Cdc.rowHash).sorted,
      s"EnvelopeParser yields the generated after-images (${parsedBus.length} vs ${expected.size})")
    spark.stop()
    println(s"GeneratorTest: $checks checks passed")
  }
}
