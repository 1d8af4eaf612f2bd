package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.graph.PageRank
import graft.model.PageRankConfig

class PageRankSpec extends AnyFunSuite with SparkTestBase {

  /** Fixed-iteration equality: run engine and dense oracle for exactly K
    * steps and compare the iterates — sharper than comparing only the fixed
    * point (every intermediate update must match), and bounded runtime.
    */
  private def checkIterates(name: String, n: Int, edges: Seq[(Int, Int, Double)],
      alpha: Double, k: Int = 25): Unit = {
    val g = GraphFixtures.linkGraph(spark, n, edges)
    val (ranks, stats) = PageRank.run(g,
      PageRankConfig(alpha = alpha, tol = 0.0, maxIter = k))
    val got = ranks.collect().map(r => r.id -> r.rank).toMap
    val (expected, _) = DenseOracle.pagerank(n, edges, alpha, tol = 0.0, maxIter = k)
    assert(stats.iterations == k)
    (0 until n).foreach { i =>
      assert(math.abs(got(i.toLong) - expected(i)) < 1e-9,
        s"$name vertex $i @iter$k: got ${got(i.toLong)}, expected ${expected(i)}")
    }
    assert(math.abs(got.values.sum - 1.0) < 1e-12) // ‖x‖₁ = 1 invariant
  }

  for ((name, (n, edges)) <- GraphFixtures.all; alpha <- Seq(0.85, 0.95)) {
    test(s"iterates match dense oracle on $name at alpha=$alpha") {
      checkIterates(name, n, edges, alpha)
    }
  }

  test("converged result matches converged dense oracle (g2, alpha=0.85)") {
    val (n, edges) = GraphFixtures.g2
    val g = GraphFixtures.linkGraph(spark, n, edges)
    val (ranks, stats) = PageRank.run(g, PageRankConfig(alpha = 0.85, tol = 1e-8))
    assert(stats.reason.converged)
    val got = ranks.collect().map(r => r.id -> r.rank).toMap
    val (expected, _) = DenseOracle.pagerank(n, edges, 0.85, tol = 1e-12)
    (0 until n).foreach(i => assert(math.abs(got(i.toLong) - expected(i)) < 1e-6))
  }

  test("salted SpMV is exact: hub salting does not change ranks") {
    val (n, edges) = GraphFixtures.g2
    val g = GraphFixtures.linkGraph(spark, n, edges)
    val (plain, _) = PageRank.run(g, PageRankConfig(alpha = 0.5, tol = 0.0, maxIter = 15))
    val (salted, _) = PageRank.run(g,
      PageRankConfig(alpha = 0.5, tol = 0.0, maxIter = 15, saltThreshold = 1, saltBuckets = 4))
    val a = plain.collect().map(r => r.id -> r.rank).toMap
    val b = salted.collect().map(r => r.id -> r.rank).toMap
    a.foreach { case (id, r) => assert(math.abs(b(id) - r) < 1e-12) }
    // multi-seed PPR runs on the same kernel, so it salts too
    def multiSeed(salt: Int) = PageRank.runMultiSeed(g, Seq(0L, 3L), PageRankConfig(
        alpha = 0.85, tol = 0.0, maxIter = 15, saltThreshold = salt, saltBuckets = 4))._1
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val (mp, ms) = (multiSeed(0), multiSeed(1))
    assert(mp.keySet == ms.keySet)
    mp.foreach { case (k, r) => assert(math.abs(ms(k) - r) < 1e-12, s"$k: salted ${ms(k)} vs $r") }
  }

  test("resuming a personalized run's snapshot without personalization is refused") {
    import spark.implicits._
    val (n, edges) = GraphFixtures.g1
    val g = GraphFixtures.linkGraph(spark, n, edges)
    val dir = java.nio.file.Files.createTempDirectory("pr_personalized").toString
    val cfg = PageRankConfig(alpha = 0.85, tol = 0.0, maxIter = 2,
      checkpointDir = Some(dir), checkpointEvery = 2)
    PageRank.run(g, cfg, runId = "pv",
      personalization = Some(Seq((0L, 1.0)).toDF("id", "v")))
    // the snapshot carries (id, dang, v, rank); the uniform run iterates
    // the sign-packed (id, rank)
    val e = intercept[IllegalArgumentException] {
      PageRank.run(g, cfg.copy(maxIter = 4), runId = "pv", resume = true)
    }
    assert(e.getMessage.contains("personalization"))
  }

  test("a fresh solve under a reused runId leaves no stale snapshot to resume") {
    val (n, edges) = GraphFixtures.g1
    val g = GraphFixtures.linkGraph(spark, n, edges)
    val dir = java.nio.file.Files.createTempDirectory("pr_reused").toString
    val cfg = PageRankConfig(alpha = 0.85, tol = 0.0, maxIter = 8,
      checkpointDir = Some(dir), checkpointEvery = 2)
    PageRank.run(g, cfg, runId = "r") // snapshots at 2, 4, 6, 8
    PageRank.run(g, cfg.copy(maxIter = 3), runId = "r") // fresh: snapshot at 2
    val valid = graft.ingest.TableIO.latestValidSnapshot(spark, s"$dir/r")
    assert(valid.map(_._1) == Some(2),
      s"expected the second run's iteration 2, got ${valid.map(_._1)}")
  }

  test("a resumed solve that re-commits an invalid snapshot's iteration validates it") {
    val (n, edges) = GraphFixtures.g1
    val g = GraphFixtures.linkGraph(spark, n, edges)
    val dir = java.nio.file.Files.createTempDirectory("pr_recommit").toString
    val cfg = PageRankConfig(alpha = 0.85, tol = 0.0, maxIter = 4,
      checkpointDir = Some(dir), checkpointEvery = 2)
    PageRank.run(g, cfg, runId = "r") // snapshots at 2 and 4
    val iter4 = new java.io.File(s"$dir/r/iter_4")
    iter4.listFiles().filter(_.getName.endsWith(".parquet")).foreach(_.delete())
    PageRank.run(g, cfg, runId = "r", resume = true) // from 2; re-commits 4
    val valid = graft.ingest.TableIO.latestValidSnapshot(spark, s"$dir/r")
    assert(valid.map(_._1) == Some(4),
      s"expected the re-committed iteration 4, got ${valid.map(_._1)}")
  }

  test("salted prepare releases its cached frames when the run ends") {
    val (n, edges) = GraphFixtures.g2
    val g = GraphFixtures.linkGraph(spark, n, edges)
    val cfg = PageRankConfig(alpha = 0.5, tol = 0.0, maxIter = 5,
      saltThreshold = 1, saltBuckets = 4)
    val before = spark.sparkContext.getPersistentRDDs.size
    val (r1, _) = PageRank.run(g, cfg)
    r1.count()
    val (r2, _) = PageRank.run(g, cfg)
    r2.count()
    val after = spark.sparkContext.getPersistentRDDs.size
    // each run may leave its own truncated result frame cached, but the
    // per-run salted edge copy + hub set must not accumulate (Prepared.close)
    assert(after - before <= 2, s"cached blocks grew $before -> $after")
  }

  test("rank sum is 1 every iteration (trace invariant)") {
    val (n, edges) = GraphFixtures.g1
    val g = GraphFixtures.linkGraph(spark, n, edges)
    val (_, stats) = PageRank.run(g, PageRankConfig(alpha = 0.5, tol = 1e-8))
    assert(stats.trace.nonEmpty)
    stats.trace.foreach(m => assert(math.abs(m.rank_sum - 1.0) < 1e-12,
      s"iter ${m.iter}: rank_sum=${m.rank_sum}"))
  }

  test("checkpoint + resume reproduces the uninterrupted result exactly") {
    val (n, edges) = GraphFixtures.g1
    val g = GraphFixtures.linkGraph(spark, n, edges)
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val cfg = PageRankConfig(alpha = 0.5, tol = 1e-8,
      checkpointDir = Some(dir), checkpointEvery = 3)

    val (full, _) = PageRank.run(g, cfg, runId = "full")
    // interrupted: stop after 4 iterations (snapshot committed at iter 3)
    PageRank.run(g, cfg.copy(maxIter = 4), runId = "resumed")
    val (resumed, resumedStats) =
      PageRank.run(g, cfg, runId = "resumed", resume = true)

    val a = full.collect().map(r => r.id -> r.rank).toMap
    val b = resumed.collect().map(r => r.id -> r.rank).toMap
    a.foreach { case (id, r) => assert(math.abs(b(id) - r) < 1e-12) }
    assert(resumedStats.reason.converged)
    // metrics sidecar exists and has rows
    val metrics = spark.read.parquet(s"$dir/resumed/_metrics")
    assert(metrics.count() > 0)
  }

  test("per-partition lineage sidecar is written with every snapshot and " +
      "covers every partition (north rule)") {
    import org.apache.spark.sql.functions._
    val (n, edges) = GraphFixtures.g1
    val g = GraphFixtures.linkGraph(spark, n, edges)
    val dir = java.nio.file.Files.createTempDirectory("graft-lin").toString
    PageRank.run(g, PageRankConfig(alpha = 0.5, tol = 1e-8,
      checkpointDir = Some(dir), checkpointEvery = 3), runId = "lin")
    val snaps = graft.ingest.TableIO.snapshots(spark, s"$dir/lin", "iter_")
    assert(snaps.nonEmpty)
    val lineage = spark.read.parquet(s"$dir/lin/_lineage")
    assert(lineage.columns.sorted.toSeq ==
      Seq("digest", "iter", "partition_id", "row_count", "run_id"))
    snaps.foreach { case (k, path) =>
      val lin = lineage.where(col("iter") === k)
      // every non-empty partition of the committed snapshot has a lineage row
      // and the recorded row counts sum to the snapshot's total
      val snap = spark.read.parquet(path)
      val parts = snap.groupBy(spark_partition_id().as("p")).count().count()
      assert(lin.count() == parts, s"iter $k: ${lin.count()} lineage rows, $parts partitions")
      assert(lin.agg(sum(col("row_count"))).head().getLong(0) == snap.count())
    }
  }

  test("resume distrusts a snapshot whose lineage digest no longer validates") {
    import org.apache.spark.sql.functions._
    val (n, edges) = GraphFixtures.g1
    val g = GraphFixtures.linkGraph(spark, n, edges)
    val dir = java.nio.file.Files.createTempDirectory("graft-corrupt").toString
    val cfg = PageRankConfig(alpha = 0.5, tol = 1e-10,
      checkpointDir = Some(dir), checkpointEvery = 2)
    PageRank.run(g, cfg.copy(maxIter = 5), runId = "c") // snapshots at 2 and 4
    val snaps = graft.ingest.TableIO.snapshots(spark, s"$dir/c", "iter_")
    assert(snaps.map(_._1) == Seq(2, 4))
    // corrupt the latest snapshot: delete its data files but keep the dir
    val latestPath = new java.io.File(new java.net.URI(snaps.last._2).getPath)
    latestPath.listFiles().filter(_.getName.endsWith(".parquet")).foreach(_.delete())
    val valid = graft.ingest.TableIO.latestValidSnapshot(spark, s"$dir/c")
    assert(valid.isDefined && valid.get._1 == 2,
      s"expected fallback to iter 2, got ${valid.map(_._1)}")
    // and the resumed run still converges to the uninterrupted result
    val (full, _) = PageRank.run(g, cfg, runId = "full")
    val (resumed, _) = PageRank.run(g, cfg, runId = "c", resume = true)
    val a = full.collect().map(r => r.id -> r.rank).toMap
    val b = resumed.collect().map(r => r.id -> r.rank).toMap
    a.foreach { case (id, r) => assert(math.abs(b(id) - r) < 1e-12) }
  }

  test("personalization vector shifts mass toward the personalized vertex") {
    val (n, edges) = GraphFixtures.g3
    val g = GraphFixtures.linkGraph(spark, n, edges)
    import spark.implicits._
    val v = Seq((0L, 1.0)).toDF("id", "v") // all teleport mass to vertex 0
    val (ranks, _) = PageRank.run(g, PageRankConfig(alpha = 0.5, tol = 1e-8),
      personalization = Some(v))
    val got = ranks.collect().map(r => r.id -> r.rank).toMap
    // component {3,4} receives no teleport and no links from component 1
    assert(got(3L) < 1e-9 && got(4L) < 1e-9)
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
  }

  test("multi-seed PPR equals per-seed personalized runs (one join per iteration)") {
    import org.apache.spark.sql.functions._
    val (n, edges) = GraphFixtures.g1
    val g = GraphFixtures.linkGraph(spark, n, edges)
    val seeds = Seq(0L, 3L, 5L)
    val cfg = PageRankConfig(alpha = 0.85, tol = 1e-12, maxIter = 300)
    val (long, stats) = PageRank.runMultiSeed(g, seeds, cfg)
    assert(stats.reason.converged)
    seeds.foreach { sd =>
      val v = g.vertices.select(col("id"),
        when(col("id") === sd, 1.0).otherwise(0.0).as("v"))
      val (single, _) = PageRank.run(g, cfg, personalization = Some(v))
      val diff = long.where(col("seed") === sd)
        .select(col("id"), col("rank").as("a"))
        .join(single.toDF().withColumnRenamed("rank", "b"), "id")
        .agg(max(abs(col("a") - col("b")))).head().getDouble(0)
      assert(diff < 1e-9, s"seed $sd differs from single personalized run by $diff")
    }
    // every seed's PPR is a probability vector
    val sums = long.groupBy(col("seed")).agg(sum(col("rank")).as("s"))
      .collect().map(_.getDouble(1))
    sums.foreach(x => assert(math.abs(x - 1.0) < 1e-9))
  }
}
