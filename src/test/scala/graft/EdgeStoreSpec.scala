package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.{GraphOps, PageRank}
import graft.ingest.{EdgeStore, TranscriptGen}
import graft.model.PageRankConfig

class EdgeStoreSpec extends AnyFunSuite with SparkTestBase {

  test("bucketed round-trip preserves the graph and PageRank results") {
    val g = GraphOps.fromTranscripts(TranscriptGen.generate(spark, 300))
    val dir = java.nio.file.Files.createTempDirectory("graft-edges").toString
    EdgeStore.write(g, dir, buckets = 8)
    val g2 = EdgeStore.read(spark, dir)
    assert(g2.numVertices == g.numVertices && g2.numEdges == g.numEdges)
    // identical normalized edge multiset
    val a = g.edges.collect().map(e => (e.src, e.dst, e.weight)).toSet
    val b = g2.edges.collect().map(e => (e.src, e.dst, e.weight)).toSet
    assert(a == b)
    // PageRank from the durable layout matches in-memory exactly
    val cfg = PageRankConfig(alpha = 0.85, tol = 0.0, maxIter = 8)
    val r1 = PageRank.run(g, cfg)._1.collect().map(r => r.id -> r.rank).toMap
    val r2 = PageRank.run(g2, cfg)._1.collect().map(r => r.id -> r.rank).toMap
    r1.foreach { case (id, v) => assert(math.abs(r2(id) - v) < 1e-12) }
    // partition pruning: tbl + bucket filters prune partition directories of
    // the combined tree
    val pruned = spark.read.parquet(s"$dir/data")
      .where(col("tbl") === "norm" && col("bucket") === 3)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(pruned.count() > 0)
    assert(plan.contains("PartitionFilters: [isnotnull(tbl") ||
      plan.contains("PartitionFilters: [isnotnull(bucket"), plan)
    // raw (pre-normalization) multiplicities survive the round trip
    val ra = g.rawEdges.collect().map(e => (e.src, e.dst, e.weight)).toSet
    val rb = g2.rawEdges.collect().map(e => (e.src, e.dst, e.weight)).toSet
    assert(ra == rb)
  }

  test("rank join over a re-read store shuffles only the vector side") {
    val g = GraphOps.fromTranscripts(TranscriptGen.generate(spark, 300))
    val dir = java.nio.file.Files.createTempDirectory("graft-edges2").toString
    EdgeStore.write(g, dir, buckets = 8)
    val g2 = EdgeStore.read(spark, dir)
    g2.edges.count() // materialize the cache
    val prep = PageRank.prepare(g2, PageRankConfig())
    val x = g2.vertices.withColumn("rank", lit(1.0 / g2.numVertices))
    val spmv = PageRank.spmv(prep, x)
    spmv.count() // finalize AQE plan
    val p = spmv.queryExecution.executedPlan.toString
    // the edge side must flow from the cached, already-src-partitioned scan
    // straight into the join: a re-shuffle would show up as an
    // ENSURE_REQUIREMENTS exchange on src (the cache-build REPARTITION_BY_COL
    // inside InMemoryRelation is the one-time read cost, not per-join)
    assert(p.contains("InMemoryTableScan"), s"edge cache not used:\n$p")
    assert(p.contains("ShuffledHashJoin"), s"expected ShuffledHashJoin:\n$p")
    val edgeReshuffle =
      """Exchange hashpartitioning\(src#\d+L?, \d+\), ENSURE_REQUIREMENTS""".r
    assert(edgeReshuffle.findFirstIn(p).isEmpty,
      s"edge side re-shuffled despite durable store:\n$p")
  }

  private def edgeSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("a copied store reads back equal; merging into the copy leaves the source untouched") {
    import spark.implicits._
    val g = GraphOps.fromTranscripts(TranscriptGen.generate(spark, 300))
    val src = java.nio.file.Files.createTempDirectory("graft-copy-src").toString
    EdgeStore.write(g, src, buckets = 8)
    val dst = java.nio.file.Files.createTempDirectory("graft-copy-dst").toString
    EdgeStore.copy(src, dst)
    assert(EdgeStore.readBuckets(spark, dst) == 8)
    val (norm, raw) = (edgeSet(EdgeStore.scanNorm(spark, src)), edgeSet(EdgeStore.scanRaw(spark, src)))
    assert(edgeSet(EdgeStore.scanNorm(spark, dst)) == norm)
    assert(edgeSet(EdgeStore.scanRaw(spark, dst)) == raw)
    val g2 = EdgeStore.read(spark, dst)
    assert(g2.numVertices == g.numVertices && g2.numEdges == g.numEdges)
    assert(g2.dict.collect().toSet == g.dict.collect().toSet)
    // one more link out of each of three existing vertices
    val ids = g.vertices.select("id").as[Long].collect().sorted
    val delta = Seq((ids(0), ids(1), 1.0), (ids(2), ids(3), 1.0), (ids(4), ids(5), 1.0))
      .toDF("src", "dst", "weight")
    EdgeStore.mergeDelta(spark, dst, delta)
    assert(edgeSet(EdgeStore.scanRaw(spark, dst)) != raw, "the merge changed nothing")
    assert(edgeSet(EdgeStore.scanNorm(spark, src)) == norm)
    assert(edgeSet(EdgeStore.scanRaw(spark, src)) == raw)
    assert(EdgeStore.read(spark, src).numEdges == g.numEdges)
  }

  test("i1_incremental_merge equals the full testdata graph's normalized edges") {
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("i1_incremental_merge")(spark, dir)
    val expected = TestdataGraph.linkGraph(spark, dir).edges.toDF()
      .select(col("src"), col("dst"), round(col("weight"), 8).as("weight"))
    val a = edgeSet(got)
    assert(a.nonEmpty && got.count() == a.size)
    assert(a == edgeSet(expected))
  }
}
