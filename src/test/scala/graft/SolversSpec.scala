package graft

import org.apache.spark.sql.Dataset
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.{ArnoldiPageRank, InOutPageRank, LinkGraph, PageRank}
import graft.model.{PageRankConfig, PageRankStats, VertexRank}

/** The reference exposes three algorithms (-alg power|inout|arnoldi,
  * /root/reference/ppagerank.cc:130-142); all must converge to the same
  * fixed point (allclose 1e-6, the north-rule contract).
  */
class SolversSpec extends AnyFunSuite with SparkTestBase {

  for ((name, (n, edges)) <- Seq("g1" -> GraphFixtures.g1, "g2" -> GraphFixtures.g2,
      "g4" -> GraphFixtures.g4)) {
    test(s"inout converges to the power fixed point on $name") {
      val g = GraphFixtures.linkGraph(spark, n, edges)
      val (expected, _) = DenseOracle.pagerank(n, edges, 0.85, tol = 1e-12)
      val (ranks, stats) = InOutPageRank.run(g,
        InOutPageRank.InOutConfig(alpha = 0.85, tol = 1e-8, maxIter = 300))
      assert(stats.reason.converged, s"inout did not converge on $name: $stats")
      val got = ranks.collect().map(r => r.id -> r.rank).toMap
      (0 until n).foreach(i => assert(math.abs(got(i.toLong) - expected(i)) < 1e-6,
        s"$name vertex $i: got ${got(i.toLong)}, expected ${expected(i)}"))
    }
  }

  test("inout uses inner iterations then degrades to power (trace sanity)") {
    val (n, edges) = GraphFixtures.g1
    val g = GraphFixtures.linkGraph(spark, n, edges)
    val (_, stats) = InOutPageRank.run(g,
      InOutPageRank.InOutConfig(alpha = 0.85, tol = 1e-8, maxIter = 300))
    assert(stats.trace.nonEmpty)
    // residuals eventually decay below tol
    assert(stats.trace.last.residual < 1e-8)
  }

  for ((name, (n, edges)) <- Seq("g2" -> GraphFixtures.g2, "g4" -> GraphFixtures.g4)) {
    test(s"arnoldi converges to the power fixed point on $name") {
      val g = GraphFixtures.linkGraph(spark, n, edges)
      val (expected, _) = DenseOracle.pagerank(n, edges, 0.85, tol = 1e-12)
      val (ranks, stats) = ArnoldiPageRank.run(g,
        ArnoldiPageRank.ArnoldiConfig(alpha = 0.85, tol = 1e-8, maxRestarts = 40, k = 4))
      assert(stats.reason.converged, s"arnoldi did not converge on $name: $stats")
      val got = ranks.collect().map(r => r.id -> r.rank).toMap
      val s = got.values.sum
      (0 until n).foreach(i => assert(math.abs(got(i.toLong) / s - expected(i)) < 1e-6,
        s"$name vertex $i: got ${got(i.toLong) / s}, expected ${expected(i)}"))
    }
  }

  // happy breakdown: M·x = x from the start on the first two (β = 0 at the
  // first extend step, one basis column), and a Krylov space of at most 5
  // dimensions on g3 at k = 8
  for ((name, (n, edges)) <- Seq("a single vertex" -> (1, Nil),
      "5 vertices without edges" -> (5, Nil), "g3 (fewer vertices than k)" -> GraphFixtures.g3)) {
    test(s"arnoldi breaks down on $name and converges in one restart") {
      val g = GraphFixtures.linkGraph(spark, n, edges)
      val (expected, _) = DenseOracle.pagerank(n, edges, 0.85, tol = 1e-13)
      val (ranks, stats) = ArnoldiPageRank.run(g,
        ArnoldiPageRank.ArnoldiConfig(alpha = 0.85, tol = 1e-10, k = 8, maxRestarts = 40))
      assert(stats.reason.converged && stats.iterations == 1, s"$name: $stats")
      val got = ranks.collect().map(r => r.id -> r.rank).toMap
      (0 until n).foreach(i => assert(math.abs(got(i.toLong) - expected(i)) < 1e-6,
        s"$name vertex $i: got ${got(i.toLong)}, expected ${expected(i)}"))
    }
  }

  test("arnoldi with k < 1 is a require error") {
    val (n, edges) = GraphFixtures.g2
    val g = GraphFixtures.linkGraph(spark, n, edges)
    for (k <- Seq(0, -1)) {
      val e = intercept[IllegalArgumentException](
        ArnoldiPageRank.run(g, ArnoldiPageRank.ArnoldiConfig(k = k)))
      assert(e.getMessage.contains(s"k >= 1, got $k"), e.getMessage)
    }
  }

  test("a checkpoint cadence below 1 is a require error in every rank solver") {
    val (n, edges) = GraphFixtures.g2
    val g = GraphFixtures.linkGraph(spark, n, edges)
    val dir = Some(java.nio.file.Files.createTempDirectory("graft-cadence").toString)
    for (every <- Seq(0, -2); (name, solve) <- Seq[(String, () => Any)](
        "power" -> (() => PageRank.run(g, PageRankConfig(maxIter = 3,
          checkpointDir = dir, checkpointEvery = every))),
        "multi-seed PPR" -> (() => PageRank.runMultiSeed(g, Seq(0L), PageRankConfig(
          maxIter = 3, checkpointDir = dir, checkpointEvery = every))),
        "inout" -> (() => InOutPageRank.run(g, InOutPageRank.InOutConfig(maxIter = 3,
          checkpointDir = dir, checkpointEvery = every))),
        "arnoldi" -> (() => ArnoldiPageRank.run(g, ArnoldiPageRank.ArnoldiConfig(
          maxRestarts = 3, checkpointDir = dir, checkpointEvery = every))))) {
      val e = intercept[IllegalArgumentException](solve())
      assert(e.getMessage.contains(s"checkpointEvery must be at least 1, got $every"),
        s"$name: ${e.getMessage}")
    }
  }

  test("inout + arnoldi honor a personalization vector (fixed point vs dense oracle)") {
    import spark.implicits._
    val (n, edges) = GraphFixtures.g2
    val g = GraphFixtures.linkGraph(spark, n, edges)
    // mass concentrated on vertices 0 and 1
    val vArr = Array.tabulate(n)(i => if (i == 0) 0.7 else if (i == 1) 0.3 else 0.0)
    val vDf = vArr.zipWithIndex.collect { case (w, i) if w > 0 => (i.toLong, w) }
      .toSeq.toDF("id", "v")
    val (expected, _) = DenseOracle.pagerank(n, edges, 0.85, tol = 1e-13, v = Some(vArr))
    val (ri, si) = InOutPageRank.run(g,
      InOutPageRank.InOutConfig(alpha = 0.85, tol = 1e-9, maxIter = 300),
      personalization = Some(vDf))
    assert(si.reason.converged)
    val gi = ri.collect().map(r => r.id -> r.rank).toMap
    (0 until n).foreach(i => assert(math.abs(gi(i.toLong) - expected(i)) < 1e-6,
      s"inout vertex $i: got ${gi(i.toLong)}, expected ${expected(i)}"))
    val (ra, sa) = ArnoldiPageRank.run(g,
      ArnoldiPageRank.ArnoldiConfig(alpha = 0.85, tol = 1e-9, k = 6, maxRestarts = 60),
      personalization = Some(vDf))
    assert(sa.reason.converged)
    val ga = ra.collect().map(r => r.id -> r.rank).toMap
    (0 until n).foreach(i => assert(math.abs(ga(i.toLong) - expected(i)) < 1e-6,
      s"arnoldi vertex $i: got ${ga(i.toLong)}, expected ${expected(i)}"))
  }

  test("inout analytic d'x recurrence: dangling-heavy graph, deep inner sweeps " +
      "(single-job sweep step internals)") {
    // The round-6 inner sweep computes d'x = beta*d'y + d'f analytically
    // BEFORE each step's job (seeded by the init observe) instead of
    // measuring e'P'x after it. 7 of 10 vertices dangling makes d'v = 0.7 —
    // any recurrence error compounds visibly; eta = 1e-6 forces MANY inner
    // iterations per sweep so the d'y propagation is exercised deeply.
    import spark.implicits._
    val n = 10
    val edges = Seq((0, 1, 1.0), (1, 2, 1.0), (2, 0, 1.0)) ++
      (3 to 9).map(i => (0, i, 1.0))
    val g = GraphFixtures.linkGraph(spark, n, edges)
    val (expected, _) = DenseOracle.pagerank(n, edges, 0.85, tol = 1e-13)
    val (ranks, stats) = InOutPageRank.run(g,
      InOutPageRank.InOutConfig(alpha = 0.85, eta = 1e-6, tol = 1e-10, maxIter = 300))
    assert(stats.reason.converged, s"did not converge: $stats")
    val got = ranks.collect().map(r => r.id -> r.rank).toMap
    (0 until n).foreach(i => assert(math.abs(got(i.toLong) - expected(i)) < 1e-8,
      s"vertex $i: got ${got(i.toLong)}, expected ${expected(i)}"))
    // personalization with ALL teleport mass on a dangling vertex: d'v = 1,
    // the recurrence's strongest coupling
    val vArr = Array.tabulate(n)(i => if (i == 9) 1.0 else 0.0)
    val vDf = Seq((9L, 1.0)).toDF("id", "v")
    val (expP, _) = DenseOracle.pagerank(n, edges, 0.85, tol = 1e-13, v = Some(vArr))
    val (rp, sp) = InOutPageRank.run(g,
      InOutPageRank.InOutConfig(alpha = 0.85, eta = 1e-6, tol = 1e-10, maxIter = 300),
      personalization = Some(vDf))
    assert(sp.reason.converged, s"personalized did not converge: $sp")
    val gp = rp.collect().map(r => r.id -> r.rank).toMap
    (0 until n).foreach(i => assert(math.abs(gp(i.toLong) - expP(i)) < 1e-8,
      s"personalized vertex $i: got ${gp(i.toLong)}, expected ${expP(i)}"))
  }

  for ((name, solve) <- Seq[(String, LinkGraph => Any)](
      "power" -> (g => PageRank.run(g)),
      "multi-seed PPR" -> (g => PageRank.runMultiSeed(g, Seq(0L))),
      "inout" -> (g => InOutPageRank.run(g)),
      "arnoldi" -> (g => ArnoldiPageRank.run(g)))) {
    test(s"$name on an empty vertex domain is a require error, not an NPE") {
      val g = GraphFixtures.linkGraph(spark, 0, Nil)
      val e = intercept[IllegalArgumentException](solve(g))
      assert(e.getMessage.contains("empty vertex domain"))
    }
  }

  /** Checkpointing keeps the in-memory iterate: a checkpointed solve stops
    * at the same iteration as a plain one, with the same ranks.
    */
  private type Solve = (Dataset[VertexRank], PageRankStats)
  private def assertSameSolve(plain: Solve, ckpt: Solve): Unit = {
    assert(ckpt._2.iterations == plain._2.iterations)
    val a = plain._1.collect().map(r => r.id -> r.rank).toMap
    val b = ckpt._1.collect().map(r => r.id -> r.rank).toMap
    assert(a.keySet == b.keySet)
    a.foreach { case (id, r) => assert(math.abs(b(id) - r) < 1e-12,
      s"vertex $id: checkpointed ${b(id)} vs plain $r") }
  }

  test("solvers do not leak cached blocks across iterations/restarts") {
    val (n, edges) = GraphFixtures.g2
    val g = GraphFixtures.linkGraph(spark, n, edges)
    // warm up (graph prep persists a fixed set of frames)
    InOutPageRank.run(g, InOutPageRank.InOutConfig(alpha = 0.85, tol = 1e-6, maxIter = 50))
    val before = spark.sparkContext.getPersistentRDDs.size
    InOutPageRank.run(g, InOutPageRank.InOutConfig(alpha = 0.85, tol = 1e-10, maxIter = 200))
    ArnoldiPageRank.run(g, ArnoldiPageRank.ArnoldiConfig(alpha = 0.85, tol = 1e-10,
      k = 6, maxRestarts = 40))
    val after = spark.sparkContext.getPersistentRDDs.size
    // rolling truncation retires every intermediate; only O(1) live handles
    // (final iterates) may remain per solver run
    assert(after - before <= 4, s"cached blocks grew $before -> $after")
  }

  test("inout checkpoint + resume reproduces the uninterrupted result (kill-and-resume)") {
    val (n, edges) = GraphFixtures.g2
    val g = GraphFixtures.linkGraph(spark, n, edges)
    val dir = java.nio.file.Files.createTempDirectory("graft-io-ckpt").toString
    val cfg = InOutPageRank.InOutConfig(alpha = 0.85, tol = 1e-10, maxIter = 300,
      checkpointDir = Some(dir), checkpointEvery = 2)
    val plain = InOutPageRank.run(g, cfg.copy(checkpointDir = None))
    val (full, fullSt) = InOutPageRank.run(g, cfg, runId = "full")
    assertSameSolve(plain, (full, fullSt))
    // kill after 3 outer iterations (snapshot committed at iter 2)
    InOutPageRank.run(g, cfg.copy(maxIter = 3), runId = "res")
    assert(graft.ingest.TableIO.snapshots(spark, s"$dir/res", "iter_").nonEmpty)
    val (resumed, st) = InOutPageRank.run(g, cfg, runId = "res", resume = true)
    assert(st.reason.converged)
    val a = full.collect().map(r => r.id -> r.rank).toMap
    val b = resumed.collect().map(r => r.id -> r.rank).toMap
    a.foreach { case (id, r) => assert(math.abs(b(id) - r) < 1e-9,
      s"vertex $id: resumed ${b(id)} vs full $r") }
    assert(spark.read.parquet(s"$dir/res/_metrics").count() > 0)
  }

  test("inout resumes across the switch to power iterations") {
    import org.apache.spark.sql.functions.{col, lit}
    val (n, edges) = GraphFixtures.g1 // inner sweeps, then power from iteration 4
    val g = GraphFixtures.linkGraph(spark, n, edges)
    val dir = java.nio.file.Files.createTempDirectory("graft-io-switch").toString
    val cfg = InOutPageRank.InOutConfig(alpha = 0.85, tol = 1e-8, maxIter = 300,
      checkpointDir = Some(dir), checkpointEvery = 1)
    val plain = InOutPageRank.run(g, cfg.copy(checkpointDir = None))
    // kill the solve at its first power-mode snapshot, then resume it
    InOutPageRank.run(g, cfg.copy(maxIter = 4), runId = "res")
    val modes = graft.ingest.TableIO.snapshots(spark, s"$dir/res", "iter_").sortBy(_._1)
      .map { case (k, path) => k -> spark.read.parquet(path).select("im").head().getBoolean(0) }
    assert(modes == Seq(1 -> true, 2 -> true, 3 -> true, 4 -> false), modes)
    // (the cadence does not change the iterates; 100 keeps the run short)
    val resumed = InOutPageRank.run(g, cfg.copy(checkpointEvery = 100), runId = "res",
      resume = true)
    assert(resumed._2.reason == plain._2.reason)
    assertSameSolve(plain, resumed)
    // a power-mode snapshot in another layout is refused by name
    val foreign = PageRank.dangling(g).withColumn("x", lit(1.0 / n))
      .withColumn("im", lit(false))
    graft.ingest.TableIO.commitSnapshotWithLineage(foreign, s"$dir/old", "old", 5)
    val e = intercept[IllegalArgumentException](
      InOutPageRank.run(g, cfg, runId = "old", resume = true))
    assert(e.getMessage.contains("carries columns id,dang,x,im"), e.getMessage)
  }

  test("arnoldi checkpoint + resume reproduces the uninterrupted result (kill-and-resume)") {
    val (n, edges) = GraphFixtures.g2
    val g = GraphFixtures.linkGraph(spark, n, edges)
    val dir = java.nio.file.Files.createTempDirectory("graft-ar-ckpt").toString
    val cfg = ArnoldiPageRank.ArnoldiConfig(alpha = 0.85, tol = 1e-10, k = 4,
      maxRestarts = 60, checkpointDir = Some(dir), checkpointEvery = 2)
    val plain = ArnoldiPageRank.run(g, cfg.copy(checkpointDir = None))
    val (full, fullSt) = ArnoldiPageRank.run(g, cfg, runId = "full")
    assertSameSolve(plain, (full, fullSt))
    // kill after 3 restarts (snapshot committed at restart 2)
    ArnoldiPageRank.run(g, cfg.copy(maxRestarts = 3), runId = "res")
    assert(graft.ingest.TableIO.snapshots(spark, s"$dir/res", "iter_").nonEmpty)
    val (resumed, st) = ArnoldiPageRank.run(g, cfg, runId = "res", resume = true)
    assert(st.reason.converged)
    val a = full.collect().map(r => r.id -> r.rank).toMap
    val b = resumed.collect().map(r => r.id -> r.rank).toMap
    a.foreach { case (id, r) => assert(math.abs(b(id) - r) < 1e-9,
      s"vertex $id: resumed ${b(id)} vs full $r") }
  }

  test("multi-seed PPR checkpoint + resume reproduces the uninterrupted result") {
    val (n, edges) = GraphFixtures.g2
    val g = GraphFixtures.linkGraph(spark, n, edges)
    val dir = java.nio.file.Files.createTempDirectory("graft-ppr-ckpt").toString
    val seeds = Seq(0L, 3L)
    val cfg = PageRankConfig(alpha = 0.85, tol = 1e-10, maxIter = 300,
      checkpointDir = Some(dir), checkpointEvery = 2)
    val (full, _) = PageRank.runMultiSeed(g, seeds, cfg, runId = "full")
    PageRank.runMultiSeed(g, seeds, cfg.copy(maxIter = 3), runId = "res")
    assert(graft.ingest.TableIO.snapshots(spark, s"$dir/res", "iter_").nonEmpty)
    val (resumed, st) = PageRank.runMultiSeed(g, seeds, cfg, runId = "res", resume = true)
    assert(st.reason.converged)
    val a = full.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val b = resumed.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(a.keySet == b.keySet)
    a.foreach { case (k, r) => assert(math.abs(b(k) - r) < 1e-9,
      s"$k: resumed ${b(k)} vs full $r") }
    // a mismatched seed set must be rejected, not silently mis-resumed
    intercept[IllegalArgumentException] {
      PageRank.runMultiSeed(g, Seq(0L, 3L, 4L), cfg, runId = "res", resume = true)
    }
    // …including a DIFFERENT seed set of the SAME size (seed identity, not
    // arity, is checkpointed — via the seed-named rank columns)
    intercept[IllegalArgumentException] {
      PageRank.runMultiSeed(g, Seq(0L, 4L), cfg, runId = "res", resume = true)
    }
  }

  test("multi-seed PPR rejects a seed outside the vertex domain") {
    val (n, edges) = GraphFixtures.g1
    val g = GraphFixtures.linkGraph(spark, n, edges)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    for (_ <- 1 to 3) intercept[IllegalArgumentException] {
      PageRank.runMultiSeed(g, Seq(0L, 999L),
        PageRankConfig(alpha = 0.85, tol = 0.0, maxIter = 2))
    }
    // a rejected call leaves nothing cached (compared by RDD id: the
    // registry holds RDDs weakly, so a collection can only shrink it)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert(after.subsetOf(before),
      s"cached RDDs ${before.toSeq.sorted} -> ${after.toSeq.sorted}")
  }

  test("a personalization with no mass, or an unknown seed, is a require error " +
      "that leaves nothing cached") {
    import spark.implicits._
    val (n, edges) = GraphFixtures.g2
    val g = GraphFixtures.linkGraph(spark, n, edges)
    val zero = (0 until n).map(i => (i.toLong, 0.0)).toDF("id", "v")
    val unknown = Seq((999L, 1.0)).toDF("id", "v") // not a vertex of g
    for (salt <- Seq(0, 1); (vName, v) <- Seq("zero" -> zero, "unknown seed" -> unknown)) {
      val pr = PageRankConfig(alpha = 0.85, tol = 1e-8, maxIter = 5,
        saltThreshold = salt, saltBuckets = 4)
      val solves = Seq[(String, () => Any)](
        "power" -> (() => PageRank.run(g, pr, personalization = Some(v))),
        "inout" -> (() => InOutPageRank.run(g, InOutPageRank.InOutConfig(maxIter = 5,
          saltThreshold = salt, saltBuckets = 4), personalization = Some(v))),
        "arnoldi" -> (() => ArnoldiPageRank.run(g, ArnoldiPageRank.ArnoldiConfig(
          maxRestarts = 5, k = 4, saltThreshold = salt, saltBuckets = 4),
          personalization = Some(v))),
        "multi-seed" -> (() => PageRank.runMultiSeed(g, Seq(0L, 999L), pr)))
      for ((name, solve) <- solves if vName == "unknown seed" || name != "multi-seed") {
        val before = spark.sparkContext.getPersistentRDDs.keySet
        val e = intercept[IllegalArgumentException](solve())
        assert(e.getMessage.contains("no positive weight on the graph's vertices"),
          s"$name, $vName, salt $salt: ${e.getMessage}")
        // compared by RDD id: the registry holds RDDs weakly, so a
        // collection can only shrink it
        val after = spark.sparkContext.getPersistentRDDs.keySet
        assert(after.subsetOf(before), s"$name, $vName, salt $salt: cached RDDs " +
          s"${before.toSeq.sorted} -> ${after.toSeq.sorted}")
      }
    }
  }

  test("arnoldi at alpha=0.95 tol=1e-7 converges (test_script config; " +
      "fast-GS must escalate to CGS2 on stagnation, not spin)") {
    // regression: the analytic-β fast path stagnated at 1.8e-7 on a
    // transcript graph at α=0.95 and would have run to maxRestarts; the
    // auto-escalation flips to measured CGS2 after two flat restarts
    val g = graft.graph.GraphOps.fromTranscripts(
      graft.ingest.TranscriptGen.generate(spark, 2000))
    val (_, stats) = ArnoldiPageRank.run(g, ArnoldiPageRank.ArnoldiConfig(
      alpha = 0.95, tol = 1e-7, maxRestarts = 40))
    assert(stats.reason.converged,
      s"arnoldi(0.95) did not converge in 40 restarts: residual=${stats.residual}")
    assert(stats.iterations < 30, s"needed ${stats.iterations} restarts")
  }

  test("SmallSvd matches known singular values and A·v = σ·u") {
    // A = [[3,0],[0,2],[0,0]] → σ = (3, 2)
    val a = Array(Array(3.0, 0.0), Array(0.0, 2.0), Array(0.0, 0.0))
    val (sig, v) = graft.util.SmallSvd.svd(a)
    assert(math.abs(sig(0) - 3.0) < 1e-12 && math.abs(sig(1) - 2.0) < 1e-12)
    // random 5x4: check A v_j has norm sigma_j and U columns orthogonal
    val rnd = new scala.util.Random(7)
    val b = Array.fill(5, 4)(rnd.nextDouble() - 0.5)
    val (s2, v2) = graft.util.SmallSvd.svd(b)
    for (j <- 0 until 4) {
      val av = Array.tabulate(5)(i => (0 until 4).map(c => b(i)(c) * v2(c)(j)).sum)
      val norm = math.sqrt(av.map(x => x * x).sum)
      assert(math.abs(norm - s2(j)) < 1e-9, s"column $j: $norm vs ${s2(j)}")
    }
    assert(s2.sliding(2).forall(p => p(0) >= p(1) - 1e-12)) // descending
  }
}
