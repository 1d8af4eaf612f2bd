package graft.graph

import org.apache.spark.sql.{DataFrame, Dataset, GraftSqlInternals}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.model.Edge

/** Connected components (undirected view of the link graph) — exact, per the
  * north rule. Min-id label propagation to fixpoint with doubling-style label
  * shortcutting: each round every vertex takes the minimum label in its
  * closed neighborhood, then labels are path-compressed by joining labels
  * against themselves (label → label-of-label), which converges in
  * O(log diameter) rounds instead of O(diameter).
  *
  * Deterministic: component id = min vertex id of the component
  * (tie-break-free), independent of partitioning.
  */
object ConnectedComponents {

  /** @return (id, component) for every vertex in `vertices`. */
  def run(edges: Dataset[Edge], vertices: DataFrame, maxIter: Int = 50): DataFrame = {
    val spark = edges.sparkSession
    graft.util.ShuffleWidth.withWidth(spark, edges.rdd.getNumPartitions) {

    // Undirected, deduplicated adjacency; both directions materialized once.
    val und = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .where(col("src") =!= col("dst"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    und.count()

    // each round's step is planned once; the labels come out keyed by
    // their (shortcut) component, not by id, so the iterate claims no layout
    val loop = GraftSqlInternals.iterate(
        vertices.select(col("id"), col("id").as("component"))) { labels =>
      // min over closed neighborhood
      val neigh = und.join(labels, und("dst") === labels("id"))
        .groupBy(und("src").as("id"))
        .agg(min(col("component")).as("nmin"))
      // `old` (the pre-round label) rides through the round so convergence
      // is an `observe` accumulator on the SAME tasks that materialize the
      // new labels — no dedicated join+count action per round
      val step1 = labels.join(neigh, Seq("id"), "left")
        .select(col("id"), col("component").as("old"),
          least(col("component"), coalesce(col("nmin"), col("component"))).as("component"))
      // label shortcutting: component ← label(component)
      val byId = step1.select(col("id").as("cid"), col("component").as("cc2"))
      // labels is referenced 3× per round (neigh, step1, shortcut) — the plan
      // would grow 3^k without per-round lineage truncation.
      step1.join(byId, step1("component") === byId("cid"), "left")
        .select(col("id"),
          coalesce(col("cc2"), col("component")).as("component"), col("old"))
        .observe("cc",
          sum(when(col("component") =!= col("old"), 1L).otherwise(0L)).as("changed"))
        .select(col("id"), col("component"))
    }
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val obs = loop.step()
      changed = Option(obs("cc").get(0)).map(_.asInstanceOf[Long]).getOrElse(0L)
      iter += 1
    }
    loop.close()
    und.unpersist(false)
    loop.frame
    } // withWidth
  }
}
