package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark

class ConnectedComponentsSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def pairsDF(edges: (Long, Long)*) = edges.toDF("a_id", "b_id")

  /** Brute-force union-find reference. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def resultMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getAs[Long]("node_id") -> r.getAs[Long]("cluster_id")).toMap

  test("a planted dup-chain collapses to one cluster rooted at the min id") {
    // worst case for naive propagation: a long chain, ids descending so
    // the min is at the far end
    val chain = (1L until 40L).map(i => (41L - i, 40L - i)) // (40,39),(39,38),...,(2,1)
    val res = resultMap(ConnectedComponents.components(pairsDF(chain: _*)))
    assert(res.keySet == (1L to 40L).toSet)
    assert(res.values.toSet == Set(1L), "every chain member must label to the global min")
  }

  test("a multi-round chain labels exactly and leaves the scheduler free for new work") {
    // A 32-chain needs several star rounds, each an eager checkpoint
    // job chain: the labels must still be exact, and once components()
    // returns the scheduler must accept and complete new work.
    val chain = (1L until 32L).map(i => (33L - i, 32L - i))
    val res = resultMap(ConnectedComponents.components(pairsDF(chain: _*)))
    assert(res.keySet == (1L to 32L).toSet)
    assert(res.values.toSet == Set(1L))
    assert(ConnectedComponents.lastRounds.get() >= 1L,
      "a 32-chain must need at least one star round")
    assert(spark.range(100).selectExpr("sum(id)").head().getLong(0) == 4950L,
      "a job after components() must run cleanly")
  }

  test("a round cap below convergence throws and leaves no job running") {
    // the throw path: one round cannot collapse a 32-chain into stars
    val chain = (1L until 32L).map(i => (33L - i, 32L - i))
    val e = intercept[IllegalStateException] {
      ConnectedComponents.components(pairsDF(chain: _*), maxIter = 1)
    }
    assert(e.getMessage.contains("did not converge after 1 rounds"))
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty,
      "no job may outlive the failed components() call")
    assert(spark.range(100).selectExpr("sum(id)").head().getLong(0) == 4950L,
      "a job after the failure must run cleanly")
  }

  test("matches brute-force union-find on random graphs") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val n = 60
      val edges = Seq.fill(50)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val expected = unionFind(edges)
      val res = resultMap(ConnectedComponents.components(pairsDF(edges: _*)))
      assert(res == expected, s"trial $trial: component labels diverge from union-find")
    }
  }

  test("disjoint cliques, stars and isolated pairs keep separate labels") {
    val clique = for (a <- 10L to 13L; b <- (a + 1) to 13L) yield (a, b)
    val star = Seq((20L, 25L), (20L, 26L), (20L, 27L))
    val pair = Seq((30L, 31L))
    val res = resultMap(ConnectedComponents.components(pairsDF(clique ++ star ++ pair: _*)))
    assert((10L to 13L).forall(res(_) == 10L))
    assert(Seq(20L, 25L, 26L, 27L).forall(res(_) == 20L))
    assert(res(30L) == 30L && res(31L) == 30L)
  }

  test("null endpoints, self-loops and duplicate edges are dropped; empty input yields empty output") {
    val withJunk = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 2L), (2L, 1L), (3L, 3L), (null, 4L), (5L, null))
      .toDF("a_id", "b_id")
    val res = resultMap(ConnectedComponents.components(withJunk))
    // 3 (self-loop only), 4 and 5 (null partner) never enter the graph
    assert(res == Map(1L -> 1L, 2L -> 1L))
    assert(ConnectedComponents.components(pairsDF()).count() == 0)
  }

  test("extreme ids near Long.MaxValue cluster without overflow") {
    val m = Long.MaxValue
    val res = resultMap(ConnectedComponents.components(
      pairsDF((m, m - 1), (m - 1, m - 2), (5L, m - 4))))
    assert(res == Map(m -> (m - 2), (m - 1) -> (m - 2), (m - 2) -> (m - 2),
      5L -> 5L, (m - 4) -> 5L))
  }

  test("clusterLabels labels absent items as their own singleton cluster") {
    val items = (1L to 6L).toDF("doc_id")
    val labels = ConnectedComponents.clusterLabels(items, "doc_id", pairsDF((2L, 4L), (4L, 5L)))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(labels == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 2L, 5L -> 2L, 6L -> 6L))
  }

  test("composed labels + keep-set over one components frame runs the star iteration exactly once") {
    val items = (1L to 12L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val pairs = pairsDF((1L, 2L), (2L, 3L), (5L, 6L), (9L, 10L), (10L, 11L))
    val before = ConnectedComponents.componentsRuns.get()
    val comp = ConnectedComponents.components(pairs)
    val labels = ConnectedComponents.clusterLabelsFromComponents(items, "doc_id", comp)
    val kept = ConnectedComponents.keepCanonicalFromComponents(items, "doc_id", comp)
    // consume BOTH outputs (twice, even) — still one iteration
    val nDropped = labels.filter(col("doc_id") =!= col("cluster_id")).count()
    assert(kept.count() == items.count() - nDropped)
    assert(labels.count() == 12 && kept.count() == 7)
    assert(ConnectedComponents.componentsRuns.get() - before == 1,
      "the composed pipeline must pay for the star iteration exactly once")

    // the precomputed-frame variants agree with the pairs conveniences
    val viaPairs = ConnectedComponents.clusterLabels(items, "doc_id", pairs)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    val viaComp = labels
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(viaPairs == viaComp)
    assert(ConnectedComponents.keepCanonical(items, "doc_id", pairs)
      .collect().map(_.getAs[Long]("doc_id")).toSet ==
      kept.collect().map(_.getAs[Long]("doc_id")).toSet)
  }

  test("componentsFromIncrement equals a full recompute, including cluster merges") {
    // standing graph: families {1,2,3} and {10,11,12}; 20 isolated
    val oldPairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L))
    val standing = ConnectedComponents.components(pairsDF(oldPairs: _*))
    // increment exercises every arm: extend a family (3→30), MERGE the
    // two standing families (3→10), a brand-new cluster (40,41), and a
    // previously-isolated old node entering the graph (20→40)
    val newPairs = Seq((3L, 30L), (3L, 10L), (40L, 41L), (20L, 40L))
    val updated = resultMap(
      ConnectedComponents.componentsFromIncrement(standing, pairsDF(newPairs: _*)))
    val full = resultMap(
      ConnectedComponents.components(pairsDF(oldPairs ++ newPairs: _*)))
    assert(updated == full,
      "the incremental path must be bitwise-equal to the monolithic recompute")
    // the merge collapsed both families onto the global min
    assert(Seq(1L, 2L, 3L, 10L, 11L, 12L, 30L).forall(updated(_) == 1L))
    assert(Seq(20L, 40L, 41L).forall(updated(_) == 20L))
  }

  test("a star-forest prior with an empty or small increment converges in O(1) rounds") {
    // 3k nodes in 1k converged star clusters, planted directly as a
    // labels frame (the shape a standing corpus persists between loads)
    val standing = (0L until 1000L).flatMap { c =>
      val root = c * 10
      Seq((root, root), (root + 1, root), (root + 2, root))
    }.toDF("node_id", "cluster_id")
    // empty increment: the prior IS the answer, zero star rounds
    val unchanged = ConnectedComponents.componentsFromIncrement(
      standing, pairsDF())
    assert(unchanged.count() == 3000)
    assert(ConnectedComponents.lastRounds.get() == 0L,
      "a converged prior with no new edges must not pay any star round")
    // a 5-pair batch (one of them merging two standing clusters):
    // absorbed in O(1) rounds, not a full-graph iteration; new ids
    // start above the standing node range (0..9992)
    val batch = pairsDF((1L, 1000001L), (12L, 1000002L), (22L, 9990L),
      (1000003L, 1000004L), (31L, 32L))
    val merged = resultMap(ConnectedComponents.componentsFromIncrement(standing, batch))
    assert(ConnectedComponents.lastRounds.get() <= 2L,
      "a small increment on a star-forest prior must settle in O(1) rounds")
    assert(merged == resultMap(ConnectedComponents.components(
      standing.filter(col("node_id") =!= col("cluster_id"))
        .toDF("a_id", "b_id").union(batch))))
    assert(merged(1000001L) == 0L && merged(1000002L) == 10L)
    assert(merged(9990L) == 20L && merged(22L) == 20L, "cross-cluster merge onto the min")
    assert(merged(1000004L) == 1000003L)
    assert(merged(32L) == 30L)
  }

  test("keepCanonical satisfies |kept| = |docs| - sum(|cluster| - 1)") {
    val items = (1L to 20L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val pairs = pairsDF((1L, 2L), (2L, 3L), (7L, 9L), (15L, 16L), (16L, 17L), (17L, 18L))
    val kept = ConnectedComponents.keepCanonical(items, "doc_id", pairs)
    val comp = ConnectedComponents.components(pairs)
    val dupCount = comp.filter(col("node_id") =!= col("cluster_id")).count()
    assert(kept.count() == items.count() - dupCount)
    // the kept members of each cluster are exactly the min ids
    val keptIds = kept.collect().map(_.getAs[Long]("doc_id")).toSet
    assert(Set(1L, 7L, 15L).subsetOf(keptIds))
    assert(Set(2L, 3L, 9L, 16L, 17L, 18L).intersect(keptIds).isEmpty)
  }

  test("keepBestFromComponents keeps the max-score member; ties break to the min id") {
    // cluster {1,2,3}: 2 carries the highest score (the full crawl);
    // cluster {10,11}: equal scores, the min id must win;
    // cluster {20,21}: the HIGHER id wins on score — the rule that
    // distinguishes this sheet from keepCanonical's min-id
    val items = Seq(1L -> 5L, 2L -> 50L, 3L -> 7L, 10L -> 9L, 11L -> 9L,
      20L -> 1L, 21L -> 100L).toDF("doc_id", "n_tokens")
    val comps = ConnectedComponents.components(
      pairsDF((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L)))
    val out = ConnectedComponents.keepBestFromComponents(
      items, "doc_id", "n_tokens", comps)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out.size == 7, "one disposition row per pair-graph member")
    assert(out.count(_._2._3 == 1L) == 3, "exactly one keeper per cluster")
    assert(out(2L) == ((1L, 50L, 1L)), "max score wins within the min-1 cluster")
    assert(out(1L)._3 == 0L && out(3L)._3 == 0L)
    assert(out(10L)._3 == 1L && out(11L)._3 == 0L, "score tie -> min id")
    assert(out(21L)._3 == 1L && out(20L)._3 == 0L,
      "high-id winner: the exact case keepCanonical decides differently")
    // every member carries its own score and its cluster's root label
    assert(out(3L)._1 == 1L && out(3L)._2 == 7L)
  }
}
