package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.{GraphOps, PageRank}
import graft.ingest.EdgeStore
import graft.model.PageRankConfig
import graft.streaming.IncrementalRank

/** Incremental maintenance: EdgeStore.mergeDelta + warm-started re-rank.
  * The invariant under test everywhere: the incremental path must be
  * indistinguishable from a full batch rebuild.
  */
class IncrementalSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  /** Deterministic synthetic raw edge list (multiplicity weights). */
  private def rawEdges(n: Int): DataFrame =
    (0 until n).flatMap { i =>
      Seq((i.toLong, ((i * 7 + 3) % n).toLong, 1.0),
          (i.toLong, ((i * 13 + 5) % n).toLong, 1.0),
          (i.toLong, ((i * 3 + 1) % n).toLong, if (i % 4 == 0) 2.0 else 1.0))
        .filter { case (s, d, _) => s != d }
    }.toDF("src", "dst", "w")
      .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("weight"))

  private def buildGraph(raw: DataFrame) = {
    val verts = raw.select(col("src").as("id"))
      .union(raw.select(col("dst").as("id"))).distinct()
    val dict = verts.select(concat(lit("v"), col("id")).as("conv_id"), col("id"))
    GraphOps.normalizeFrom(raw, verts, dict)
  }

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def edgeMap(df: DataFrame): Map[(Long, Long), Double] =
    df.select(col("src"), col("dst"), col("weight")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

  test("mergeDelta equals full batch rebuild (normalized + raw)") {
    val all = rawEdges(200).persist()
    val late = pmod(col("src") + col("dst"), lit(5)) === 0
    val base = all.where(!late)
    val delta = all.where(late)

    val store = tmp("inc_merge")
    EdgeStore.write(buildGraph(base), store, buckets = 8)
    val stats = EdgeStore.mergeDelta(spark, store, delta)
    assert(stats.totalBuckets == 8)
    assert(stats.touchedSrcs == delta.select("src").distinct().count())

    val full = buildGraph(all)
    // multiplicities are integer-valued doubles → normalization is exact
    assert(edgeMap(EdgeStore.scanNorm(spark, store)) ==
      edgeMap(full.edges.toDF()))
    assert(edgeMap(EdgeStore.scanRaw(spark, store)) ==
      edgeMap(full.rawEdges.toDF()))
    // vertex domain caught up too
    assert(spark.read.parquet(s"$store/vertices").as[Long].collect().toSet ==
      full.vertices.as[Long].collect().toSet)
    all.unpersist()
  }

  test("mergeDelta rewrites ONLY affected bucket directories") {
    val all = rawEdges(120).persist()
    val base = all.where(col("src") =!= 7L)
    val delta = all.where(col("src") === 7L) // single touched src

    val store = tmp("inc_buckets")
    EdgeStore.write(buildGraph(base), store, buckets = 8)

    def fileState(sub: String): Map[String, (Long, Long)] = {
      val root = Paths.get(s"$store/$sub")
      val it = Files.walk(root).iterator()
      val m = scala.collection.mutable.Map[String, (Long, Long)]()
      while (it.hasNext) {
        val p: Path = it.next()
        if (Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
          m += root.relativize(p).toString ->
            ((Files.size(p), Files.getLastModifiedTime(p).toMillis))
      }
      m.toMap
    }
    val before = fileState("data/tbl=norm")
    val stats = EdgeStore.mergeDelta(spark, store, delta)
    assert(stats.affectedBuckets == 1)
    val after = fileState("data/tbl=norm")

    val affected = delta.select(
      pmod(xxhash64(col("src")), lit(8)).cast("int").as("b"))
      .distinct().as[Int].collect().toSet
    val untouchedBefore = before.filter { case (f, _) =>
      !affected.exists(b => f.startsWith(s"bucket=$b/")) }
    val untouchedAfter = after.filter { case (f, _) =>
      !affected.exists(b => f.startsWith(s"bucket=$b/")) }
    assert(untouchedBefore == untouchedAfter,
      "files outside affected buckets must not be rewritten")
    assert(before != after, "affected bucket must change")
    all.unpersist()
  }

  test("negative multiplicity removes edges and renormalizes the src group") {
    val base = Seq((0L, 1L, 2.0), (0L, 2L, 1.0), (1L, 2L, 1.0))
      .toDF("src", "dst", "weight")
    val store = tmp("inc_del")
    EdgeStore.write(buildGraph(base), store, buckets = 4)
    // remove one multiplicity of 0→1 and ALL of 0→2
    val delta = Seq((0L, 1L, -1.0), (0L, 2L, -1.0)).toDF("src", "dst", "weight")
    EdgeStore.mergeDelta(spark, store, delta)
    val raw = edgeMap(EdgeStore.scanRaw(spark, store))
    assert(raw == Map((0L, 1L) -> 1.0, (1L, 2L) -> 1.0))
    val norm = edgeMap(EdgeStore.scanNorm(spark, store))
    assert(norm == Map((0L, 1L) -> 1.0, (1L, 2L) -> 1.0)) // re-stochastic
  }

  test("deleting ALL edges of a src clears its bucket (no stale files)") {
    val base = Seq((0L, 1L, 2.0), (0L, 2L, 1.0), (1L, 2L, 1.0))
      .toDF("src", "dst", "weight")
    val store = tmp("inc_empty")
    EdgeStore.write(buildGraph(base), store, buckets = 4)
    val delta = Seq((0L, 1L, -2.0), (0L, 2L, -1.0)).toDF("src", "dst", "weight")
    EdgeStore.mergeDelta(spark, store, delta)
    assert(edgeMap(EdgeStore.scanRaw(spark, store)) ==
      Map((1L, 2L) -> 1.0))
    assert(edgeMap(EdgeStore.scanNorm(spark, store)) ==
      Map((1L, 2L) -> 1.0))
  }

  test("new vertices (and dict rows) appended for ids first seen in delta") {
    val base = Seq((0L, 1L, 1.0)).toDF("src", "dst", "weight")
    val store = tmp("inc_verts")
    EdgeStore.write(buildGraph(base), store, buckets = 4)
    val delta = Seq((1L, 5L, 1.0), (6L, 0L, 1.0)).toDF("src", "dst", "weight")
    val dict = Seq(("v5", 5L), ("v6", 6L), ("v0", 0L)).toDF("conv_id", "id")
    val stats = EdgeStore.mergeDelta(spark, store, delta, Some(dict))
    assert(stats.newVertices == 2)
    assert(spark.read.parquet(s"$store/vertices").as[Long].collect().toSet ==
      Set(0L, 1L, 5L, 6L))
    val d = spark.read.parquet(s"$store/dict")
      .as[(String, Long)].collect().toSet
    assert(d.contains(("v5", 5L)) && d.contains(("v6", 6L)))
    assert(d.count(_._2 == 0L) == 1, "existing dict ids must not duplicate")
  }

  /** Skewed fixture for the warm-start tests: varying out-degree + hub
    * attraction, so the stationary distribution is FAR from uniform. (The
    * near-regular `rawEdges` fixture has a near-uniform fixed point, where a
    * cold uniform start is already converged and warm-starting from a
    * different graph's ranks is genuinely counterproductive.)
    */
  private def skewedRaw(n: Int): DataFrame =
    (0 until n).flatMap { i =>
      val deg = 1 + (i % 7)
      val outs = (0 until deg).map(k => ((i * (k + 11) * 13 + k * 7 + 5) % n).toLong) ++
        (if (i % 2 == 0) Seq((i % 3).toLong) else Nil) // hubs 0,1,2
      outs.filter(_ != i).map(d => (i.toLong, d, 1.0))
    }.toDF("src", "dst", "w")
      .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("weight"))

  test("warm-started re-rank reaches the new fixed point in fewer iterations") {
    val all = skewedRaw(400).persist()
    val late = pmod(col("src") * 31 + col("dst"), lit(29)) === 0 // ~3% delta
    val base = all.where(!late)
    val gBase = buildGraph(base)
    val cfg = PageRankConfig(tol = 1e-10, maxIter = 500)
    val (prevRanks, _) = PageRank.run(gBase, cfg)

    val gFull = buildGraph(all)
    val (coldRanks, coldStats) = PageRank.run(gFull, cfg)
    val (warmRanks, warmStats) =
      PageRank.run(gFull, cfg, warmStart = Some(prevRanks.toDF()))

    val diff = coldRanks.toDF().withColumnRenamed("rank", "a")
      .join(warmRanks.toDF().withColumnRenamed("rank", "b"), "id")
      .agg(max(abs(col("a") - col("b")))).head().getDouble(0)
    assert(diff < 1e-8, s"warm and cold fixed points differ by $diff")
    assert(warmStats.iterations < coldStats.iterations,
      s"warm ${warmStats.iterations} !< cold ${coldStats.iterations}")
    all.unpersist()
  }

  test("streaming foreachBatch maintain() keeps ranks at the batch fixed point") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx = spark.sqlContext

    val all = skewedRaw(120).persist()
    // base store = ~2/3 of edges; the rest arrives as two stream batches
    val part = pmod(col("src") * 13 + col("dst"), lit(3))
    val base = all.where(part === 0 || part === 1)
    val b1 = all.where(part === 2 && col("src") % 2 === 0)
    val b2 = all.where(part === 2 && col("src") % 2 === 1)

    val store = tmp("inc_stream")
    val ranksPath = tmp("inc_stream_ranks") + "/ranks"
    EdgeStore.write(buildGraph(base), store, buckets = 8)
    val cfg = PageRankConfig(tol = 1e-10, maxIter = 500)

    val stream = MemoryStream[(Long, Long, Double)]
    val q = stream.toDS().toDF("src", "dst", "weight")
      .writeStream.outputMode("append")
      .trigger(Trigger.ProcessingTime("50 milliseconds"))
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        IncrementalRank.maintain(spark, store, ranksPath, cfg)(b.toDF(), id)
      }
      .start()
    def rows(df: DataFrame): Seq[(Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    stream.addData(rows(b1)) // cold start (no ranks yet)
    q.processAllAvailable()
    stream.addData(rows(b2)) // warm start from batch-1 ranks
    q.processAllAvailable()
    q.stop()

    val (expect, _) = PageRank.run(buildGraph(all), cfg)
    val got = spark.read.parquet(ranksPath)
    val diff = got.withColumnRenamed("rank", "a")
      .join(expect.toDF().withColumnRenamed("rank", "b"), "id")
      .agg(max(abs(col("a") - col("b")))).head().getDouble(0)
    assert(diff < 1e-8, s"streamed ranks differ from batch by $diff")
    assert(got.count() == expect.toDF().count())
    all.unpersist()
  }

  test("mergeDelta with >64 buckets (non-bitmask path) equals full rebuild") {
    val all = rawEdges(300).persist()
    val late = pmod(col("src") + col("dst"), lit(5)) === 0
    val base = all.where(!late)
    val delta = all.where(late)
    assert(!delta.isEmpty)
    val store = tmp("inc_bigbuckets")
    // 128 buckets exceeds the Long bitmask the observe fast path rides on —
    // exercises the explicit distinct+collect fallback
    EdgeStore.write(buildGraph(base), store, buckets = 128)
    val stats = EdgeStore.mergeDelta(spark, store, delta)
    assert(stats.totalBuckets == 128)
    assert(edgeMap(EdgeStore.scanNorm(spark, store)) ==
      edgeMap(buildGraph(all).edges.toDF()))
    assert(edgeMap(EdgeStore.scanRaw(spark, store)) ==
      edgeMap(buildGraph(all).rawEdges.toDF()))
    all.unpersist()
  }

  test("a re-delivered micro-batch is NOT merged twice (at-least-once idempotency)") {
    val all = rawEdges(100).persist()
    // NOTE mod 5, not 4: the a·i+b edge arithmetic makes src+dst ≡ {1,3,odd}
    // mod 4, so a mod-4 split yields an EMPTY delta (degenerate fixture)
    val part = pmod(col("src") + col("dst"), lit(5))
    val base = all.where(part =!= 0)
    val delta = all.where(part === 0)
    assert(!delta.isEmpty, "degenerate fixture: empty delta")
    val store = tmp("inc_replay")
    val ranksPath = tmp("inc_replay_ranks") + "/ranks"
    EdgeStore.write(buildGraph(base), store, buckets = 8)
    val cfg = PageRankConfig(tol = 1e-10, maxIter = 500)

    IncrementalRank.maintain(spark, store, ranksPath, cfg)(delta, batchId = 0L)
    val afterFirst = edgeMap(EdgeStore.scanNorm(spark, store))
    assert(EdgeStore.lastMergeTag(spark, store).contains(0L))
    // foreachBatch retry: SAME batchId re-delivered — the store must not
    // double-apply the multiplicities (but ranks are still refreshed)
    IncrementalRank.maintain(spark, store, ranksPath, cfg)(delta, batchId = 0L)
    assert(edgeMap(EdgeStore.scanNorm(spark, store)) == afterFirst,
      "replayed batch double-applied the delta")
    // the raw store equals the full rebuild exactly (single application)
    assert(edgeMap(EdgeStore.scanRaw(spark, store)) ==
      edgeMap(buildGraph(all).rawEdges.toDF()))
    // a NEW batch id still merges
    IncrementalRank.maintain(spark, store, ranksPath, cfg)(
      Seq((0L, 1L, 1.0)).toDF("src", "dst", "weight"), batchId = 1L)
    assert(EdgeStore.lastMergeTag(spark, store).contains(1L))
    all.unpersist()
  }

  test("maintain scoped by runId refuses a store bound to another streaming run") {
    val all = rawEdges(60).persist()
    val store = tmp("inc_runid")
    val ranksPath = tmp("inc_runid_ranks") + "/ranks"
    EdgeStore.write(buildGraph(all), store, buckets = 4)
    val cfg = PageRankConfig(tol = 1e-8, maxIter = 200)
    val delta = Seq((0L, 1L, 1.0)).toDF("src", "dst", "weight")
    IncrementalRank.maintain(spark, store, ranksPath, cfg, runId = "ckpt-A")(
      delta, batchId = 5L)
    assert(EdgeStore.lastMergeRun(spark, store).contains("ckpt-A"))
    // same run, retried batch: idempotent refresh, no error
    IncrementalRank.maintain(spark, store, ranksPath, cfg, runId = "ckpt-A")(
      delta, batchId = 5L)
    // a FRESH checkpoint (new run, batchIds restart at 0) must fail loudly —
    // the old cursor (5) would otherwise silently swallow batches 0..5
    intercept[IllegalArgumentException] {
      IncrementalRank.maintain(spark, store, ranksPath, cfg, runId = "ckpt-B")(
        delta, batchId = 0L)
    }
    all.unpersist()
  }

  test("maintain scoped by runId refuses a legacy UNSCOPED cursor (tag without run)") {
    val all = rawEdges(60).persist()
    val store = tmp("inc_runid_legacy")
    val ranksPath = tmp("inc_runid_legacy_ranks") + "/ranks"
    EdgeStore.write(buildGraph(all), store, buckets = 4)
    val cfg = PageRankConfig(tol = 1e-8, maxIter = 200)
    val delta = Seq((0L, 1L, 1.0)).toDF("src", "dst", "weight")
    // legacy caller: empty runId records a tag but no run identity
    IncrementalRank.maintain(spark, store, ranksPath, cfg)(delta, batchId = 5L)
    assert(EdgeStore.lastMergeTag(spark, store).contains(5L))
    assert(EdgeStore.lastMergeRun(spark, store).isEmpty)
    // a scoped run binding to that store cannot validate the cursor — its
    // first batches (0..5) would be silently swallowed; must fail loudly
    intercept[IllegalArgumentException] {
      IncrementalRank.maintain(spark, store, ranksPath, cfg, runId = "ckpt-B")(
        delta, batchId = 0L)
    }
    all.unpersist()
  }

  test("an unscoped merge clears a previous run's cursor identity") {
    val all = rawEdges(60).persist()
    val store = tmp("inc_unscoped_clears")
    val ranksPath = tmp("inc_unscoped_clears_ranks") + "/ranks"
    EdgeStore.write(buildGraph(all), store, buckets = 4)
    val cfg = PageRankConfig(tol = 1e-8, maxIter = 200)
    val delta = Seq((0L, 1L, 1.0)).toDF("src", "dst", "weight")
    IncrementalRank.maintain(spark, store, ranksPath, cfg, runId = "ckpt-A")(
      delta, batchId = 5L)
    assert(EdgeStore.lastMergeRun(spark, store).contains("ckpt-A"))
    // a direct unscoped merge advances the tag WITHOUT a run identity; the
    // stale "ckpt-A" claim must not survive to vouch for a cursor it did
    // not write
    EdgeStore.mergeDelta(spark, store,
      Seq((1L, 2L, 1.0)).toDF("src", "dst", "weight"), tag = Some(9L))
    assert(EdgeStore.lastMergeRun(spark, store).isEmpty,
      "_last_merge_run survived an unscoped merge")
    // the original run resuming now fails loudly (unscoped-cursor guard)
    // instead of silently skipping its batches at or below tag 9
    intercept[IllegalArgumentException] {
      IncrementalRank.maintain(spark, store, ranksPath, cfg, runId = "ckpt-A")(
        delta, batchId = 6L)
    }
    all.unpersist()
  }

  test("an unscoped query refuses a store whose cursor a scoped run wrote") {
    val all = rawEdges(60).persist()
    val store = tmp("inc_unscoped_refuses")
    val ranksPath = tmp("inc_unscoped_refuses_ranks") + "/ranks"
    EdgeStore.write(buildGraph(all), store, buckets = 4)
    val cfg = PageRankConfig(tol = 1e-8, maxIter = 200)
    val delta = Seq((0L, 1L, 1.0)).toDF("src", "dst", "weight")
    IncrementalRank.maintain(spark, store, ranksPath, cfg, runId = "ckpt-A")(
      delta, batchId = 5L)
    // mirror of the scoped-vs-unscoped guard: an unscoped caller comparing
    // its fresh batchIds against ckpt-A's high-water mark would silently
    // swallow batches 0..5
    intercept[IllegalArgumentException] {
      IncrementalRank.maintain(spark, store, ranksPath, cfg)(delta, batchId = 0L)
    }
    all.unpersist()
  }

  test("stale marker reports its phase: pre-write 'locked' vs mid-rewrite 'writing'") {
    val all = rawEdges(40)
    val store = tmp("inc_marker_phase")
    EdgeStore.write(buildGraph(all), store, buckets = 4)
    def plantMarker(body: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(s"$store/_merge_inprogress")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = fs.create(p, true)
      out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      out.close()
    }
    def refusalMessage(): String = {
      val e = intercept[IllegalArgumentException](EdgeStore.read(spark, store))
      e.getMessage
    }
    plantMarker("locked") // ≙ killed after taking the marker, before writing
    val m1 = refusalMessage()
    assert(m1.contains("phase=locked") && m1.contains("intact"),
      s"pre-write crash message must say the store is intact: $m1")
    plantMarker("writing") // ≙ killed mid-rewrite
    val m2 = refusalMessage()
    assert(m2.contains("phase=writing") && m2.contains("rebuild"), m2)
    plantMarker("") // pre-phase marker from an older version
    assert(refusalMessage().contains("phase=unknown"))
    val p = new org.apache.hadoop.fs.Path(s"$store/_merge_inprogress")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, false)
    val g = EdgeStore.read(spark, store) // recovered after manual delete
    assert(g.numEdges > 0)
    g.edges.unpersist(); g.vertices.unpersist()
  }

  test("a merge that fails before any write releases the in-progress marker") {
    val all = rawEdges(40)
    val store = tmp("inc_prewrite_fail")
    EdgeStore.write(buildGraph(all), store, buckets = 4)
    // delta missing the weight column → analysis error well before any
    // rewrite; the marker must be released (the store is untouched) instead
    // of misreporting a crashed half-commit
    intercept[Exception] {
      EdgeStore.mergeDelta(spark, store, Seq((1L, 2L)).toDF("src", "dst"))
    }
    val g = EdgeStore.read(spark, store) // must not refuse the store
    assert(g.numEdges > 0)
    g.edges.unpersist(); g.vertices.unpersist()
  }

  test("an unfinished merge marker makes read() and mergeDelta refuse the store") {
    val all = rawEdges(60).persist()
    val store = tmp("inc_marker")
    EdgeStore.write(buildGraph(all), store, buckets = 4)
    // simulate a crash mid-merge: marker present
    Files.createFile(Paths.get(store, "_merge_inprogress"))
    intercept[IllegalArgumentException] { EdgeStore.read(spark, store) }
    intercept[IllegalArgumentException] {
      EdgeStore.mergeDelta(spark, store, Seq((0L, 1L, 1.0)).toDF("src", "dst", "weight"))
    }
    Files.delete(Paths.get(store, "_merge_inprogress"))
    assert(EdgeStore.read(spark, store).numEdges > 0) // healthy again
    all.unpersist()
  }

  test("readBuckets propagates corrupt-meta failures instead of guessing 64") {
    val store = tmp("inc_meta")
    EdgeStore.write(buildGraph(rawEdges(60)), store, buckets = 4)
    val meta = Paths.get(store, "_meta.txt")
    assert(Files.readString(meta) == "buckets=4\nlayout=2\n")
    assert(EdgeStore.readBuckets(spark, store) == 4)
    // rewritten through Hadoop's FS so its checksum file stays consistent
    def writeMeta(body: String): Unit = {
      val p = new org.apache.hadoop.fs.Path(meta.toString)
      val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration).create(p, true)
      try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8)) finally out.close()
    }
    // a corrupt sidecar, a layout-1 store and a store without a sidecar are
    // all refused; none is read with a guessed bucket count
    writeMeta("junk")
    intercept[IllegalArgumentException] { EdgeStore.readBuckets(spark, store) }
    writeMeta("buckets=4\nlayout=1\n")
    intercept[IllegalArgumentException] { EdgeStore.readBuckets(spark, store) }
    intercept[IllegalArgumentException] { EdgeStore.read(spark, store) }
    Files.delete(meta)
    intercept[IllegalArgumentException] { EdgeStore.readBuckets(spark, store) }
    intercept[IllegalArgumentException] {
      EdgeStore.mergeDelta(spark, store, Seq((0L, 1L, 1.0)).toDF("src", "dst", "weight"))
    }
  }

  test("updateAndRank end-to-end equals full recompute") {
    val all = skewedRaw(150).persist()
    val late = pmod(col("src") + col("dst") * 3, lit(7)) === 0
    val base = all.where(!late)
    val delta = all.where(late)
    val gBase = buildGraph(base)
    val store = tmp("inc_e2e")
    EdgeStore.write(gBase, store, buckets = 8)
    val cfg = PageRankConfig(tol = 1e-10, maxIter = 500)
    val (prevRanks, _) = PageRank.run(gBase, cfg)

    val res = IncrementalRank.updateAndRank(
      spark, store, delta, Some(prevRanks.toDF()), cfg)
    val (expect, _) = PageRank.run(buildGraph(all), cfg)

    val diff = res.ranks.withColumnRenamed("rank", "a")
      .join(expect.toDF().withColumnRenamed("rank", "b"), "id")
      .agg(max(abs(col("a") - col("b")))).head().getDouble(0)
    assert(diff < 1e-8, s"incremental ranks differ from batch by $diff")
    assert(res.merge.touchedSrcs > 0)
    all.unpersist()
  }
}
