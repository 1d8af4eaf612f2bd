package graft.graph

import org.apache.spark.sql.DataFrame

import graft.ingest.TableIO
import graft.model._
import graft.util.ShuffleWidth

/** The outer loop shared by the rank solvers (power, multi-seed PPR,
  * inner-outer, Arnoldi) — the analogue of the reference's single
  * `ComputePageRank` entry point (ppagerank.cc:49-147) and
  * its PRVS sketch of one solver object with pluggable algorithms
  * (pagacprvs.h:33-70).
  *
  * The driver owns everything the solvers have in common: the
  * empty-domain check, the shuffle-width scope, resume from the latest
  * valid `iter_<k>` snapshot under `<dir>/<runId>`, the stop rule
  * (`iter < maxIter && residual >= tol`), the `IterMetric` trace, the
  * checkpoint cadence (snapshot with lineage, then the not-yet-flushed
  * `_metrics` rows) and the stop reason. A solver supplies its start state,
  * one outer iteration and the frame to snapshot, as an [[Iteration]].
  *
  * This file submits no Spark job: every job runs inside the solver's
  * `start` or `step` (or in TableIO), so Spark names it after the solver's
  * own source file. A checkpoint only writes the snapshot; the solver keeps
  * its in-memory iterate, and the snapshot is the resume source.
  */
object RankSolve {

  /** One solve in progress, built by the solver from its start frame. */
  trait Iteration[R] {
    /** Runs one outer iteration; returns (residual, rank sum). */
    def step(): (Double, Double)
    /** The frame a checkpoint commits, which `start` accepts on resume. */
    def snapshot: DataFrame
    /** The solve's result, built once the loop stops. */
    def result(): R
  }

  /** Runs `start` and then its iterations to `tol` or `maxIter`. `start`
    * receives the snapshot of a resumed run, or None for a fresh one. A
    * fresh solve (one that did not resume from a snapshot) with checkpoints
    * first deletes `<dir>/<runId>`: the lineage sidecar is append-only, so
    * an earlier run's snapshots would otherwise outlive (and out-number)
    * the new run's, and its lineage rows would invalidate the new run's
    * re-commits of the same iterations. A resumed solve drops the
    * snapshots and sidecar rows past the iteration it resumed from, for the
    * same reason.
    */
  def run[R](g: LinkGraph, runId: String, maxIter: Int, tol: Double,
      checkpointDir: Option[String], checkpointEvery: Int, resume: Boolean)(
      start: Option[DataFrame] => Iteration[R]): (R, PageRankStats) = {
    val spark = g.edges.sparkSession
    import spark.implicits._
    require(g.numVertices > 0, "empty vertex domain")
    val runDir = checkpointDir.map { d =>
      require(runId.nonEmpty, "checkpointing needs a non-empty runId")
      s"$d/$runId"
    }
    ShuffleWidth.withWidth(spark, g.edges.rdd.getNumPartitions) {
      val resumed = if (resume) runDir.flatMap(TableIO.latestValidSnapshot(spark, _)) else None
      runDir.foreach { dir =>
        resumed.fold(TableIO.delete(spark, dir))(r => TableIO.dropAfter(spark, dir, r._1))
      }
      val it = start(resumed.map(_._2))

      val trace = scala.collection.mutable.ArrayBuffer[IterMetric]()
      var flushedUpTo = 0
      var iter = resumed.fold(0)(_._1)
      var residual = Double.MaxValue
      while (iter < maxIter && residual >= tol) {
        val t0 = System.nanoTime()
        val (r, rankSum) = it.step()
        residual = r
        iter += 1
        trace += IterMetric(runId, iter, residual, rankSum, (System.nanoTime() - t0) / 1000000L)
        runDir.filter(_ => residual < tol || iter % checkpointEvery == 0).foreach { dir =>
          TableIO.commitSnapshotWithLineage(it.snapshot, dir, runId, iter)
          // K1 convergence-trace sink: append only not-yet-flushed rows
          TableIO.appendRows(trace.drop(flushedUpTo).toSeq.toDF(), s"$dir/_metrics")
          flushedUpTo = trace.size
        }
      }
      val reason =
        if (residual < tol) ConvergedReason.ResidualBelowTol else ConvergedReason.MaxIterations
      (it.result(), PageRankStats(iter, residual, reason, trace.toSeq))
    }
  }
}
