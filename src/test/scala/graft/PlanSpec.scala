package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.{ConnectedComponents, LabelPropagation, PageRank}
import graft.model.PageRankConfig

/** Physical-plan quality gates: the 100 TB posture depends on these plan
  * shapes, so they are asserted, not hoped for.
  */
class PlanSpec extends AnyFunSuite with SparkTestBase {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("parquet scan gets predicate pushdown and column pruning (r1)") {
    val df = SparkEntry.queries("r1_agg_pushdown")(spark, "/root/testdata/sf0.001")
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"no pushed filter in:\n$p")
    // pruned read schema: only the 5 referenced columns reach the scan
    val readSchema = "ReadSchema: struct<(.*?)>".r.findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(readSchema.split(",").length <= 5, s"scan reads too many columns: $readSchema")
    assert(!readSchema.contains("l_orderkey"), s"unpruned column: $readSchema")
  }

  test("SpMV join is a shuffled hash join — never a broadcast of the rank vector") {
    val g = TestdataGraph.linkGraph(spark, "/root/testdata/sf0.001")
    val prep = PageRank.prepare(g, PageRankConfig())
    val x = g.vertices.withColumn("rank", lit(1.0 / g.numVertices))
    val full = plan(PageRank.spmv(prep, x))
    // judge only the per-iteration plan: everything under InMemoryRelation is
    // the one-time cached graph build, where broadcasts are fine
    val p = full.split("InMemoryRelation").head
    assert(p.contains("ShuffledHashJoin"), s"expected ShuffledHashJoin in:\n$p")
    // the rank-vector side must not be broadcast (driver-serialized O(V))
    assert(!p.contains("BroadcastHashJoin"), s"rank vector broadcast in:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("whole-stage codegen covers the SpMV aggregate pipeline") {
    val g = TestdataGraph.linkGraph(spark, "/root/testdata/sf0.001")
    val prep = PageRank.prepare(g, PageRankConfig())
    val x = g.vertices.withColumn("rank", lit(1.0 / g.numVertices))
    val p = plan(PageRank.spmv(prep, x))
    assert(p.contains("*("), s"no WholeStageCodegen spans in:\n$p") // codegen'd stages marked *(n)
  }

  test("exact dedup aggregates partially before its exchange (t3)") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val p = plan(graft.pipeline.Dedup.exact(df))
    // the groupBy+rejoin form: duplicate-heavy groups collapse map-side, so
    // a partial HashAggregate must sit below the exchange (the old window
    // form shipped every row's full text unreduced through a sort)
    assert(p.contains("partial_min") && p.contains("partial_count"),
      s"no partial aggregation in:\n$p")
    assert(!p.contains("Window"), s"window form regressed:\n$p")
  }

  test("blocked truncate round-trips every row exactly (strings/arrays/nulls)") {
    import spark.implicits._
    import org.apache.spark.sql.GraftSqlInternals
    // mixed widths: fixed-size doubles, variable strings, arrays, nulls
    val df = (0 until 5000).map { i =>
      (i.toLong,
        if (i % 7 == 0) null else "s" * (i % 50) + i,
        i * 0.125,
        if (i % 11 == 0) null else Seq.tabulate(i % 6)(j => (i * j).toDouble))
    }.toDF("id", "s", "d", "arr")
    val (t, _) = GraftSqlInternals.truncateObserved(df.repartition(7))
    val a = df.collect().map(_.toString).sorted
    val b = t.df.collect().map(_.toString).sorted
    assert(a.sameElements(b), "blocked cache lost or altered rows")
    // observe metrics ride the materializing job and match a direct agg
    val (t2, obs) = GraftSqlInternals.truncateObserved(
      df.observe("m", sum(col("d")), count(lit(1))))
    assert(obs("m").getDouble(0) == df.agg(sum(col("d"))).head().getDouble(0))
    assert(obs("m").getLong(1) == 5000L)
    assert(t2.df.count() == 5000L)
    t.handle.unpersist(false); t2.handle.unpersist(false)
  }

  test("fixed-stride truncate: null-free fixed-width frames take the packed layout and round-trip") {
    import spark.implicits._
    import org.apache.spark.sql.{GraftRowChunk, GraftSqlInternals}
    // the iterate shape: all fixed-width, no nulls → fixed-stride chunks
    val df = (0 until 20000).map(i => (i.toLong, 1.0 / (i + 1), i % 3))
      .toDF("id", "rank", "tag")
    val (t, _) = GraftSqlInternals.truncateObserved(df.repartition(5))
    val chunks = t.handle.asInstanceOf[org.apache.spark.rdd.RDD[GraftRowChunk]]
      .collect()
    assert(chunks.nonEmpty && chunks.forall(_.stride == 32), // bitset + 3 slots
      s"expected 3-slot fixed-stride chunks, got strides ${chunks.map(_.stride).toSet}")
    assert(chunks.map(_.n).sum == 20000)
    assert(chunks.forall(_.offsets.isEmpty), "fixed-stride chunk kept an offsets index")
    val a = df.collect().map(_.toString).sorted
    val b = t.df.collect().map(_.toString).sorted
    assert(a.sameElements(b), "fixed-stride cache lost or altered rows")

    // nulls are just bitset bits — the layout stays fixed-stride and exact
    val dfN = (0 until 5000).map(i =>
      (i.toLong, if (i >= 2500 && i % 97 == 0) None else Some(i * 0.5)))
      .toDF("id", "maybe").coalesce(1)
    val (tN, _) = GraftSqlInternals.truncateObserved(dfN)
    val chunksN = tN.handle.asInstanceOf[org.apache.spark.rdd.RDD[GraftRowChunk]]
      .collect()
    assert(chunksN.nonEmpty && chunksN.forall(_.stride == 24),
      s"nullable fixed-width frame should stay packed, got strides ${chunksN.map(_.stride).toSet}")
    val aN = dfN.collect().map(_.toString).sorted
    val bN = tN.df.collect().map(_.toString).sorted
    assert(aN.sameElements(bN), "nullable fixed-stride cache lost or altered rows")
    t.handle.unpersist(false); tN.handle.unpersist(false)
  }

  /** Jobs `body` submits from `file`'s code, and the step plans it builds.
    * Broadcast jobs (submitted from Spark's own threads) are not counted.
    * Runs without adaptive execution, as graft.Bench and the benchmark do:
    * AQE submits a query's shuffle stages as jobs of their own, from its
    * own threads.
    */
  private def jobsAndPlans[T](file: String)(body: => T): (T, Int, Long) = {
    import org.apache.spark.sql.GraftSqlInternals
    val aqe = "spark.sql.adaptive.enabled"
    val was = spark.conf.get(aqe)
    spark.conf.set(aqe, "false")
    try {
      val plans0 = GraftSqlInternals.stepPlanCount
      val (r, sites) = org.apache.spark.JobSites(spark.sparkContext)(body)
      (r, sites.count(_.contains(s" at $file:")),
        GraftSqlInternals.stepPlanCount - plans0)
    } finally spark.conf.set(aqe, was)
  }

  /** A skewed link graph from the transcript generator (2,000
    * conversations): PageRank needs tens of iterations, CC several rounds.
    */
  private lazy val generated = graft.graph.GraphOps.fromTranscripts(
    graft.ingest.TranscriptGen.generate(spark, 2000))

  test("PageRank.run to tol plans its step once: one job per iteration plus one") {
    val g = generated
    val ((_, st), jobs, plans) = jobsAndPlans("PageRank.scala")(
      PageRank.run(g, PageRankConfig(tol = 1e-6)))
    assert(st.reason.converged && st.iterations > 5, s"degenerate solve: $st")
    assert(jobs == st.iterations + 1, s"$jobs jobs for ${st.iterations} iterations")
    assert(plans == 1, s"step planned $plans times")
  }

  test("multi-seed PPR runs on PageRank's kernel: one plan, one job per iteration plus one") {
    val ((_, st), jobs, plans) = jobsAndPlans("PageRank.scala")(
      PageRank.runMultiSeed(generated, Seq(1L, 5L), PageRankConfig(tol = 1e-6)))
    assert(st.reason.converged && st.iterations > 5, s"degenerate solve: $st")
    assert(jobs == st.iterations + 1, s"$jobs jobs for ${st.iterations} iterations")
    assert(plans == 1, s"step planned $plans times")
  }

  test("InOut plans its inner sweep once, and PageRank's kernel once when it turns to power") {
    import graft.graph.InOutPageRank
    val (n, edges) = GraphFixtures.g1 // three inner sweeps, then power iterations
    val g = GraphFixtures.linkGraph(spark, n, edges)
    val cfg = InOutPageRank.InOutConfig(alpha = 0.85, tol = 1e-8, maxIter = 300)
    val ((_, st), powerJobs, plans) = jobsAndPlans("PageRank.scala")(InOutPageRank.run(g, cfg))
    assert(st.reason.converged, s"degenerate solve: $st")
    assert(powerJobs > 1, s"$powerJobs kernel jobs: the solve never reached power mode")
    assert(plans == 2, s"a solve that reached power mode planned $plans steps")
    val ((_, innerSt), innerPowerJobs, innerPlans) =
      jobsAndPlans("PageRank.scala")(InOutPageRank.run(g, cfg.copy(maxIter = 3)))
    assert(innerSt.iterations == 3 && innerPowerJobs == 0,
      s"$innerPowerJobs kernel jobs in ${innerSt.iterations} inner iterations")
    assert(innerPlans == 1, s"a solve in inner mode planned $innerPlans steps")
  }

  test("Arnoldi plans its three step kinds once: k+1 jobs per CGS restart, 2k+1 per CGS2 restart") {
    import graft.graph.ArnoldiPageRank
    val k = 4
    // tol ≥ 1e-9 runs single-pass CGS (one extend job per basis column and
    // one restart job), tol < 1e-9 CGS2 (a correct job after every extend)
    for ((tol, perRestart) <- Seq(1e-7 -> (k + 1), 1e-10 -> (2 * k + 1))) {
      val ((_, st), jobs, plans) = jobsAndPlans("ArnoldiPageRank.scala")(ArnoldiPageRank.run(
        generated, ArnoldiPageRank.ArnoldiConfig(tol = tol, k = k, maxRestarts = 60)))
      assert(st.reason.converged && st.iterations >= 2, s"tol $tol: degenerate solve: $st")
      assert(jobs == 1 + st.iterations * perRestart,
        s"tol $tol: $jobs jobs for ${st.iterations} restarts")
      assert(plans <= 3, s"tol $tol: $plans step plans")
    }
  }

  test("CC and LP plan their round once and submit one job per round") {
    val g = generated
    // CC reports no round count: a cap below its fixpoint fixes the rounds
    val (_, fullJobs, _) = jobsAndPlans("ConnectedComponents.scala")(
      ConnectedComponents.run(g.edges, g.vertices))
    assert(fullJobs - 1 > 2, s"CC stopped after ${fullJobs - 1} rounds")
    val (_, ccJobs, ccPlans) = jobsAndPlans("ConnectedComponents.scala")(
      ConnectedComponents.run(g.edges, g.vertices, maxIter = 2))
    assert(ccJobs == 1 + 2, s"$ccJobs CC jobs for 2 rounds (+1 adjacency build)")
    assert(ccPlans == 1, s"CC round planned $ccPlans times")
    val ((_, rounds), lpJobs, lpPlans) = jobsAndPlans("LabelPropagation.scala")(
      LabelPropagation.runWithStats(g.edges, g.vertices, rounds = 4))
    assert(lpJobs == 1 + rounds, s"$lpJobs LP jobs for $rounds rounds (+1 adjacency build)")
    assert(lpPlans == 1, s"LP round planned $lpPlans times")
  }

  test("CC stays exact on the shuffle-join plan, whose rounds reuse exchanges") {
    // broadcasts off: the plan a large graph gets. The round's first join
    // feeds two later joins, so its exchanges are reused in the kept plan,
    // and every round must re-point them at that round's fresh exchanges
    val n = 40
    val perm = (0 until n).map(i => (i * 17 + 5) % n) // a long path, scrambled ids
    val edges = (0 until n - 1).map(i => (perm(i), perm(i + 1), 1.0))
    val g = GraphFixtures.linkGraph(spark, n, edges)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val was = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val got = ConnectedComponents.run(g.edges, g.vertices)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expected = DenseOracle.components(n, edges.map(e => (e._1, e._2)))
      (0 until n).foreach(i => assert(got(i.toLong) == expected(i).toLong,
        s"vertex $i: got ${got(i.toLong)}, expected ${expected(i)}"))
    } finally spark.conf.set(key, was)
  }

  test("checkpointing keeps the in-memory iterate; resume from a mid-solve snapshot converges to the same ranks") {
    val g = generated
    val dir = java.nio.file.Files.createTempDirectory("graft-plan-ckpt").toString
    val cfg = PageRankConfig(tol = 1e-8)
    def ranks(df: org.apache.spark.sql.Dataset[graft.model.VertexRank]) =
      df.collect().map(r => r.id -> r.rank).toMap
    val (plain, plainSt) = PageRank.run(g, cfg)
    val ckpt = cfg.copy(checkpointDir = Some(dir), checkpointEvery = 2)
    val (withCkpt, ckptSt) = PageRank.run(g, ckpt, runId = "full")
    assert(ckptSt.iterations == plainSt.iterations)
    val a = ranks(plain)
    val b = ranks(withCkpt)
    assert(a.keySet == b.keySet)
    a.foreach { case (id, r) => assert(math.abs(b(id) - r) < 1e-12,
      s"vertex $id: checkpointed ${b(id)} vs plain $r") }
    // killed after 5 iterations: the last snapshot is iteration 4's
    PageRank.run(g, ckpt.copy(maxIter = 5), runId = "killed")
    val (resumed, resumedSt) = PageRank.run(g, ckpt, runId = "killed", resume = true)
    assert(resumedSt.reason.converged)
    val c = ranks(resumed)
    a.foreach { case (id, r) => assert(math.abs(c(id) - r) < 1e-12,
      s"vertex $id: resumed ${c(id)} vs plain $r") }
  }

  test("solves in sequence share no plan or slot") {
    import org.apache.spark.sql.{GraftSqlInternals, ScalarSlot}
    import spark.implicits._
    // two planned loops alive at once, stepped alternately: each reads its
    // own iterate and its own slot (x ← a·x + 1, with a = 2 and a = 3)
    val slotA = new ScalarSlot(2.0)
    val slotB = new ScalarSlot(3.0)
    def loop(slot: ScalarSlot) = GraftSqlInternals.iterate(
        (0 until 50).map(i => (i.toLong, 1.0)).toDF("id", "x"), keys = Seq("id")) { f =>
      f.select(col("id"), (col("x") * GraftSqlInternals.slotLit(slot) + lit(1.0)).as("x"))
        .observe("m", sum(col("x")).as("s"))
    }
    val la = loop(slotA)
    val lb = loop(slotB)
    var xa = 1.0
    var xb = 1.0
    for (_ <- 1 to 3) {
      xa = 2 * xa + 1; xb = 3 * xb + 1
      assert(la.step()("m").getDouble(0) == 50 * xa)
      assert(lb.step()("m").getDouble(0) == 50 * xb)
    }
    // a slot set between steps is read by the next step
    slotA.value = 0.5
    xa = 0.5 * xa + 1
    assert(la.step()("m").getDouble(0) == 50 * xa)
    assert(la.frame.collect().forall(_.getDouble(1) == xa))
    la.close(); lb.close()

    // PageRank on two different graphs in turn: each matches its oracle
    for ((n, edges) <- Seq(GraphFixtures.g1, GraphFixtures.g2)) {
      val g = GraphFixtures.linkGraph(spark, n, edges)
      val (r, _) = PageRank.run(g, PageRankConfig(alpha = 0.85, tol = 1e-10))
      val got = r.collect().map(v => v.id -> v.rank).toMap
      val (expected, _) = DenseOracle.pagerank(n, edges, 0.85, tol = 1e-12)
      (0 until n).foreach(i => assert(math.abs(got(i.toLong) - expected(i)) < 1e-8))
    }
  }

  test("flagship entry() returns ranked conversations (driver smoke contract)") {
    val df = SparkEntry.entry(spark)
    val rows = df.collect()
    assert(rows.length > 0)
    // ranks are a probability vector over the vertex domain
    val s = rows.map(_.getAs[Double]("rank")).sum
    assert(math.abs(s - 1.0) < 1e-6)
  }
}
