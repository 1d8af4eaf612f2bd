package graft

import org.scalatest.funsuite.AnyFunSuite

/** Property-style invariants (SURVEY.md §5.3) on seeded random digraphs with
  * power-law-ish target skew. Deterministic seeds — each case is a
  * distributed job, so the case count is kept small.
  */
class PropertySpec extends AnyFunSuite with SparkTestBase {

  private def randomGraph(seed: Int): (Int, Seq[(Int, Int, Double)]) = {
    val rnd = new scala.util.Random(seed)
    val n = 3 + rnd.nextInt(38)
    val nEdges = n / 2 + rnd.nextInt(3 * n)
    val edges = Seq.fill(nEdges) {
      val s = rnd.nextInt(n)
      // skew targets toward low ids (hub in-degree, exercises the agg path)
      val t0 = (rnd.nextDouble() * rnd.nextDouble() * n).toInt min (n - 1)
      val t = if (t0 == s) (s + 1) % n else t0
      (s, t, 1.0)
    }
    (n, edges)
  }

  for (seed <- 1 to 4) {
    test(s"property[$seed]: PageRank iterates equal dense oracle; ‖x‖₁ = 1") {
      val (n, edges) = randomGraph(seed)
      val g = GraphFixtures.linkGraph(spark, n, edges)
      val (ranks, _) = graft.graph.PageRank.run(g,
        graft.model.PageRankConfig(alpha = 0.85, tol = 0.0, maxIter = 8))
      val got = ranks.collect().map(r => r.id -> r.rank).toMap
      val (exp, _) = DenseOracle.pagerank(n, edges, 0.85, tol = 0.0, maxIter = 8)
      (0 until n).foreach(i => assert(math.abs(got(i.toLong) - exp(i)) < 1e-9,
        s"seed=$seed vertex $i"))
      assert(math.abs(got.values.sum - 1.0) < 1e-10)
    }

    test(s"property[$seed]: Arnoldi reaches the dense oracle's fixed point") {
      val (n, edges) = randomGraph(seed)
      val g = GraphFixtures.linkGraph(spark, n, edges)
      val (ranks, stats) = graft.graph.ArnoldiPageRank.run(g,
        graft.graph.ArnoldiPageRank.ArnoldiConfig(alpha = 0.85, tol = 1e-10))
      assert(stats.reason.converged, s"seed=$seed: $stats")
      val got = ranks.collect().map(r => r.id -> r.rank).toMap
      val (exp, _) = DenseOracle.pagerank(n, edges, 0.85, tol = 1e-13)
      (0 until n).foreach(i => assert(math.abs(got(i.toLong) - exp(i)) < 1e-6,
        s"seed=$seed vertex $i: got ${got(i.toLong)}, expected ${exp(i)}"))
    }

    test(s"property[$seed]: PageRank invariant under vertex relabeling") {
      val (n, edges) = randomGraph(seed + 100)
      val relabeled = edges.map { case (s, d, w) => (n - 1 - s, n - 1 - d, w) }
      val g1 = GraphFixtures.linkGraph(spark, n, edges)
      val g2 = GraphFixtures.linkGraph(spark, n, relabeled)
      val cfg = graft.model.PageRankConfig(alpha = 0.85, tol = 0.0, maxIter = 6)
      val a = graft.graph.PageRank.run(g1, cfg)._1.collect().map(r => r.id -> r.rank).toMap
      val b = graft.graph.PageRank.run(g2, cfg)._1.collect().map(r => r.id -> r.rank).toMap
      (0 until n).foreach(i =>
        assert(math.abs(a(i.toLong) - b((n - 1 - i).toLong)) < 1e-12, s"seed=$seed vertex $i"))
    }

    test(s"property[$seed]: CC matches union-find; triangles match brute force") {
      val (n, edges) = randomGraph(seed + 200)
      val g = GraphFixtures.linkGraph(spark, n, edges)
      val pairs = edges.map(e => (e._1, e._2))
      val cc = graft.graph.ConnectedComponents.run(g.edges, g.vertices)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val exp = DenseOracle.components(n, pairs)
      (0 until n).foreach(i => assert(cc(i.toLong) == exp(i).toLong, s"seed=$seed vertex $i"))
      assert(graft.graph.Triangles.count(g.edges) == DenseOracle.triangles(n, pairs))
    }

    test(s"property[$seed]: label propagation matches dense oracle") {
      val (n, edges) = randomGraph(seed + 300)
      val g = GraphFixtures.linkGraph(spark, n, edges)
      val got = graft.graph.LabelPropagation.run(g.edges, g.vertices, rounds = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val exp = DenseOracle.labelProp(n, edges.map(e => (e._1, e._2)), 3)
      (0 until n).foreach(i => assert(got(i.toLong) == exp(i).toLong, s"seed=$seed vertex $i"))
    }
  }

  for (seed <- 1 to 2) {
    test(s"property[$seed]: incremental merge (adds + deletes) equals batch rebuild") {
      import org.apache.spark.sql.functions._
      import spark.implicits._
      val rnd = new scala.util.Random(seed + 400)
      val n = 30 + rnd.nextInt(40)
      def edgeSet(m: Int) = Seq.fill(m) {
        val s = rnd.nextInt(n)
        val t0 = (rnd.nextDouble() * rnd.nextDouble() * n).toInt min (n - 1)
        (s.toLong, (if (t0 == s) (s + 1) % n else t0).toLong,
          1.0 + rnd.nextInt(3))
      }
      val base = edgeSet(4 * n)
        .groupBy(e => (e._1, e._2)).map { case ((s, d), es) => (s, d, es.map(_._3).sum) }.toSeq
      val adds = edgeSet(n)
      // deletions: negative multiplicity for a random subset of base edges
      // (some partial, some removing the edge entirely)
      val dels = rnd.shuffle(base).take(n / 3).map { case (s, d, w) =>
        (s, d, -(if (rnd.nextBoolean()) w else math.max(1.0, w - 1)))
      }
      val baseDf = base.toDF("src", "dst", "weight")
      val deltaDf = (adds ++ dels).toDF("src", "dst", "weight")
      def graphOf(raw: org.apache.spark.sql.DataFrame) = {
        val agg = raw.groupBy(col("src"), col("dst"))
          .agg(sum(col("weight")).as("weight")).where(col("weight") > 0)
        val verts = (0 until n).map(_.toLong).toDF("id")
        graft.graph.GraphOps.normalizeFrom(agg, verts,
          verts.select(concat(lit("v"), col("id")).as("conv_id"), col("id")))
      }
      val store = java.nio.file.Files.createTempDirectory(s"prop-merge$seed").toString
      graft.ingest.EdgeStore.write(graphOf(baseDf), store, buckets = 8)
      graft.ingest.EdgeStore.mergeDelta(spark, store, deltaDf)
      val got = graft.ingest.EdgeStore.scanNorm(spark, store)
        .select(col("src"), col("dst"), col("weight")).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      val exp = graphOf(baseDf.unionByName(deltaDf)).edges.toDF().collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(got.keySet == exp.keySet, s"seed=$seed edge sets differ")
      exp.foreach { case (k, w) =>
        assert(math.abs(got(k) - w) < 1e-12, s"seed=$seed edge $k") }
    }
  }
}
