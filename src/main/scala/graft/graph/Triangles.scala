package graft.graph

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.model.Edge

/** Triangle counting over the undirected simple graph underlying the link
  * graph. Degree-ordered edge orientation (each undirected edge kept once,
  * directed from the lower-(degree, id) endpoint to the higher) bounds every
  * vertex's oriented out-degree by O(√m), which bounds the wedge join — the
  * standard scalable formulation (Suri & Vassilvitskii, WWW'11). The count is
  * orientation-invariant, so a plain src<dst SQL oracle agrees exactly.
  */
object Triangles {

  /** Undirected simple edge set, canonicalized to src < dst. */
  def undirected(edges: Dataset[Edge]): DataFrame =
    edges.select(
        least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()

  /** Orient each undirected edge from the lower-(degree, id) endpoint `a` to
    * the higher `b` — every vertex's oriented out-degree is O(√m), so the
    * wedge self-join below never goes quadratic on a hub.
    */
  private def orient(und: DataFrame): DataFrame = {
    val deg = und.select(col("u").as("id")).union(und.select(col("v").as("id")))
      .groupBy(col("id")).agg(expr("count(1)").as("deg"))
    val du = deg.select(col("id").as("u"), col("deg").as("du"))
    val dv = deg.select(col("id").as("v"), col("deg").as("dv"))
    und.join(du, "u").join(dv, "v")
      .select(
        when(col("du") < col("dv") ||
             (col("du") === col("dv") && col("u") < col("v")), col("u"))
          .otherwise(col("v")).as("a"),
        when(col("du") < col("dv") ||
             (col("du") === col("dv") && col("u") < col("v")), col("v"))
          .otherwise(col("u")).as("b"))
  }

  /** Each triangle exactly once as (a, b, c): wedges a→b, a→c (b<c) from the
    * degree orientation, closed by an oriented edge between b and c in either
    * direction — every triangle has exactly one pivot a in this orientation.
    */
  private def enumerate(oriented: DataFrame): DataFrame = {
    val e1 = oriented.select(col("a"), col("b"))
    val e2 = oriented.select(col("a"), col("b").as("c"))
    val wedges = e1.join(e2, "a").where(col("b") < col("c"))
    // `closing` has distinct (b,c) pairs, so the inner join keeps wedge
    // multiplicity (= 1 per triangle)
    val closing = oriented.select(col("a").as("b"), col("b").as("c"))
      .union(oriented.select(col("b").as("b"), col("a").as("c")))
    wedges.join(closing, Seq("b", "c"), "inner")
      .select(col("a"), col("b"), col("c"))
  }

  /** Runs `f` over the degree-oriented edge set, cached and materialized
    * (one job for the undirected set, one for the orientation), at the edge
    * set's shuffle width; the orientation is released when `f` returns.
    */
  private def withOriented[T](edges: Dataset[Edge])(f: DataFrame => T): T =
    graft.util.ShuffleWidth.withWidth(edges.sparkSession,
      edges.rdd.getNumPartitions) {
      val und = undirected(edges).persist(StorageLevel.MEMORY_AND_DISK)
      und.count()
      val oriented = orient(und).persist(StorageLevel.MEMORY_AND_DISK)
      oriented.count()
      und.unpersist(false)
      try f(oriented) finally oriented.unpersist(false)
    }

  /** Total triangle count. */
  def count(edges: Dataset[Edge]): Long = withOriented(edges)(enumerate(_).count())

  /** Per-vertex triangle participation counts (id, triangles) — same
    * degree-oriented wedge join as `count` (the unoriented form is O(d²) on
    * hubs); the three corners of each enumerated triangle are exploded back
    * out, so attribution is orientation-invariant.
    */
  def perVertex(edges: Dataset[Edge], vertices: DataFrame): DataFrame =
    perVertexTruncated(edges, vertices).df

  /** Like `perVertex`, but returns the truncation handle of the cached
    * per-corner counts alongside the result frame (the engine's standard
    * handle pattern — PageRank/LabelPropagation do the same for their
    * iterates): a long-lived service calling this repeatedly unpersists
    * `handle` once it is done with the result, instead of waiting on the
    * ContextCleaner to collect the checkpoint blocks.
    */
  def perVertexTruncated(edges: Dataset[Edge],
      vertices: DataFrame): org.apache.spark.sql.GraftSqlInternals.Truncated =
    withOriented(edges) { oriented =>
      // eager: the per-corner counts must materialize BEFORE `oriented` is
      // unpersisted, or the caller's later action re-derives the whole wedge
      // join from scratch
      val (counts, _) = org.apache.spark.sql.GraftSqlInternals.truncateObserved(
        enumerate(oriented)
          .select(explode(array(col("a"), col("b"), col("c"))).as("id"))
          .groupBy(col("id")).agg(expr("count(1)").as("triangles")))
      val result = vertices.join(counts.df, Seq("id"), "left")
        .select(col("id"), coalesce(col("triangles"), lit(0L)).as("triangles"))
      org.apache.spark.sql.GraftSqlInternals.Truncated(result, counts.handle)
    }
}
