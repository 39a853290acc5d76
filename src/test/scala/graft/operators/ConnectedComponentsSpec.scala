package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def comps(edges: Seq[(Long, Long)]): Map[Long, Long] =
    ConnectedComponents.components(edges.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("chain contracts to one component rooted at the min") {
    // a 40-node chain needs 40 rounds of plain label propagation but only
    // O(log n) star rounds — maxRounds=25 passing IS the algorithm check
    val chain = (1L until 40L).map(i => (i, i + 1))
    val c = comps(chain)
    assert(c.size == 40 && c.values.toSet == Set(1L))
  }

  test("multiple components, duplicate and reversed edges, self loops") {
    val edges = Seq((5L, 3L), (3L, 5L), (3L, 3L), (5L, 9L),
      (20L, 21L), (21L, 22L), (30L, 30L))
    val c = comps(edges)
    assert(c == Map(3L -> 3L, 5L -> 3L, 9L -> 3L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("star with a high-degree hub keeps the min as center") {
    val star = (2L to 200L).map(i => (100L, i)).filter(p => p._1 != p._2) :+ (7L, 1L) :+ (100L, 7L)
    val c = comps(star)
    assert(c.values.toSet == Set(1L), "everything reaches node 1 through the hub")
    assert(c.size == 200)
  }

  test("dedupClusters marks exactly one keeper per cluster") {
    val pairs = Seq((10L, 11L), (11L, 12L), (40L, 41L)).toDF("id_a", "id_b")
    val out = ConnectedComponents.dedupClusters(pairs, "id_a", "id_b").collect()
    val byCluster = out.groupBy(_.getLong(1))
    assert(byCluster.keySet == Set(10L, 40L))
    byCluster.foreach { case (cid, rows) =>
      assert(rows.count(_.getBoolean(2)) == 1)
      assert(rows.filter(_.getBoolean(2)).head.getLong(0) == cid)
    }
  }

  test("agrees with brute-force transitive closure on a random graph") {
    val rnd = new scala.util.Random(42)
    val edges = Seq.fill(120)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter(p => p._1 != p._2)
    // driver-side union-find reference
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(n => n -> find(n)).toMap
    assert(comps(edges) == expected)
  }

  test("local union-find path ≡ distributed star loop (size dispatch)") {
    // the optimization seam: below the local-edge threshold the solve runs
    // on the driver; force BOTH paths over the same random graphs and
    // require identical (node → component) maps
    for (seed <- Seq(2, 13, 99)) {
      val rnd = new scala.util.Random(seed)
      val edges = Seq.fill(150)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
        .filter(p => p._1 != p._2)
      val df = edges.toDF("a", "b")
      def labels(comps: org.apache.spark.sql.DataFrame): Map[Long, Long] =
        comps.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val dist = labels(ConnectedComponents.componentsWithThreshold( // distributed
        df, "a", "b", maxRounds = 25, localEdgeThreshold = 0L))
      val local = labels(ConnectedComponents.components(df, "a", "b")) // local path
      assert(local == dist, s"seed=$seed")
      assert(local.nonEmpty)
    }
  }

  test("incrementalClusters ≡ from-scratch labels + exact delta (random splits)") {
    for (seed <- Seq(1, 7, 23)) {
      val rnd = new scala.util.Random(seed)
      // prior nodes 0..59, today nodes 100..139 (disjoint id spaces)
      val priorEdges = Seq.fill(50)(
        (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong)).filter(p => p._1 != p._2)
      val todayNodes = (100L until 140L)
      val todayEdges = Seq.fill(25)(
        (100L + rnd.nextInt(40), 100L + rnd.nextInt(40))).filter(p => p._1 != p._2)
      val crossEdges = Seq.fill(20)((100L + rnd.nextInt(40), rnd.nextInt(60).toLong))
      // ground truth: from-scratch over ALL edges
      val full = comps(priorEdges ++ todayEdges ++ crossEdges)
      val prior = comps(priorEdges)
      def lbl(m: Map[Long, Long])(n: Long) = m.getOrElse(n, n)
      val expToday = todayNodes.map(n => (n, lbl(full)(n), "today")).toSet
      val priorNodes = (priorEdges ++ crossEdges.map(e => (e._2, e._2)))
        .flatMap(e => Seq(e._1, e._2)).filter(_ < 100).distinct
      val expDelta = priorNodes.filter(n => lbl(full)(n) != lbl(prior)(n))
        .map(n => (n, lbl(full)(n), "prior")).toSet
      val out = ConnectedComponents.incrementalClusters(
          todayNodes.toDF("doc_id"), "doc_id",
          todayEdges.toDF("id_a", "id_b"), "id_a", "id_b",
          crossEdges.toDF("today_id", "prior_id"), "today_id", "prior_id",
          prior.toSeq.toDF("doc_id", "cluster_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
      assert(out == expToday ++ expDelta, s"seed=$seed")
    }
  }

  test("append + min-resolve storage algebra composes across days (q119/q123)") {
    // the maintained-assignment-table contract: each day's delta is
    // APPENDED (never merged in place), and the current label is
    // min(cluster_id) per doc — sound because labels only ever DECREASE
    // under merges. Pin the composition over THREE days of random edges:
    // resolve(day1 ∪ delta2 ∪ delta3) must equal from-scratch components
    // over all edges, for every doc any day touched.
    for (seed <- Seq(3, 11)) {
      val rnd = new scala.util.Random(seed)
      def edges(n: Int, lo: Long, hi: Long) = Seq.fill(n)(
        (lo + rnd.nextInt((hi - lo).toInt), lo + rnd.nextInt((hi - lo).toInt)))
        .filter(p => p._1 != p._2)
      val e1 = edges(40, 0, 50)
      val d2nodes = (100L until 130L)
      val e2 = edges(20, 100, 130) ++ Seq.fill(15)(
        (100L + rnd.nextInt(30), rnd.nextInt(50).toLong))
      val d3nodes = (200L until 225L)
      val e3 = edges(12, 200, 225) ++ Seq.fill(12)(
        (200L + rnd.nextInt(25), rnd.nextInt(50).toLong)) ++ Seq.fill(8)(
        (200L + rnd.nextInt(25), 100L + rnd.nextInt(30).toLong))
      def resolve(rows: Seq[(Long, Long)]): Map[Long, Long] =
        rows.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
      def inc(today: Seq[Long], te: Seq[(Long, Long)], ce: Seq[(Long, Long)],
          assign: Map[Long, Long]): Seq[(Long, Long)] =
        ConnectedComponents.incrementalClusters(
            today.toDF("doc_id"), "doc_id",
            te.filter(e => e._1 >= today.head && e._2 >= today.head)
              .toDF("id_a", "id_b"), "id_a", "id_b",
            te.filter(e => e._2 < today.head).toDF("today_id", "prior_id"),
            "today_id", "prior_id", assign.toSeq.toDF("doc_id", "cluster_id"))
          .collect().map(r => (r.getLong(0), r.getLong(1)))
      val day1 = comps(e1).toSeq
      val store2 = day1 ++ inc(d2nodes, e2, e2, resolve(day1))
      val store3 = store2 ++ inc(d3nodes, e3, e3, resolve(store2))
      val resolved = resolve(store3)
      val truth = comps(e1 ++ e2 ++ e3)
      for ((n, lbl) <- resolved)
        assert(lbl == truth.getOrElse(n, n), s"seed=$seed node=$n")
      // and every doc the truth labels non-trivially is in the store
      for ((n, lbl) <- truth if lbl != n)
        assert(resolved.getOrElse(n, n) == lbl, s"seed=$seed node=$n missing")
    }
  }
}
