package graft.graph

import org.apache.spark.sql.{DataFrame, Dataset, GraftSqlInternals}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.model.Edge

/** Synchronous label propagation (community detection) with deterministic
  * min-tiebreak — the north rule requires exact, order-independent labels.
  *
  * Semantics (ours, defined precisely so the SQL oracle can replicate them):
  *  - labels start as the vertex id;
  *  - each round, vertex v takes the most frequent label among its incoming
  *    neighbors' labels (edge multiplicity/weight ignored: one neighbor = one
  *    vote); ties break toward the SMALLEST label; vertices with no incoming
  *    neighbors keep their current label;
  *  - runs up to `rounds` synchronous rounds (no damping, no async), exiting
  *    early at a fixpoint: if NO label changed in a round, every subsequent
  *    round recomputes identical votes and labels, so stopping is
  *    semantics-preserving (the oracle for a fixed round count still agrees).
  *
  * Physical shape: the same single-action iteration kernel as the rank
  * solvers — each round is one job whose materializing tasks also fold the
  * changed-label count as an `observe` accumulator (no dedicated count
  * action). The round is planned once per run (`GraftSqlInternals.iterate`),
  * which caches each round's labels and unpersists the superseded round's
  * blocks deterministically (not left to the ContextCleaner).
  */
object LabelPropagation {

  def run(edges: Dataset[Edge], vertices: DataFrame, rounds: Int = 5): DataFrame =
    runWithStats(edges, vertices, rounds)._1

  /** `run` + the number of rounds actually executed (< `rounds` iff the
    * label fixpoint was reached early).
    */
  def runWithStats(edges: Dataset[Edge], vertices: DataFrame,
      rounds: Int = 5): (DataFrame, Int) = {
    graft.util.ShuffleWidth.withWidth(edges.sparkSession,
      edges.rdd.getNumPartitions) {
    val adj = edges.select(col("src"), col("dst")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    adj.count()

    val loop = GraftSqlInternals.iterate(
        vertices.select(col("id"), col("id").as("label")), keys = Seq("id")) { labels =>
      val votes = adj.join(labels, adj("src") === labels("id"))
        .groupBy(adj("dst").as("id"), col("label"))
        .agg(count(lit(1)).as("n"))
      // deterministic argmax: max count, then min label — a single
      // max_by over an orderable struct (no window, one shuffle).
      val winner = votes
        .groupBy(col("id"))
        .agg(max(struct(col("n"), (-col("label")).as("neg"), col("label"))).as("w"))
        .select(col("id"), col("w.label").as("newlabel"))
      labels.join(winner, Seq("id"), "left")
        .select(col("id"), col("label").as("oldlabel"),
          coalesce(col("newlabel"), col("label")).as("label"))
        .observe("lp", sum(when(col("label") =!= col("oldlabel"), 1L)
          .otherwise(0L)).as("changed"))
        .select(col("id"), col("label"))
    }
    var r = 0
    var changed = -1L
    while (r < rounds && changed != 0L) {
      // sum over an empty vertex domain observes NULL — treat as fixpoint
      changed = Option(loop.step()("lp").get(0)).map(_.asInstanceOf[Long]).getOrElse(0L)
      r += 1
    }
    loop.close()
    adj.unpersist(false)
    (loop.frame, r)
    } // withWidth
  }
}
