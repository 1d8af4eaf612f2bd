package graft.graph

import org.apache.spark.sql.{Column, DataFrame, Dataset, GraftSqlInternals}
import org.apache.spark.sql.functions._

import graft.model._
import graft.util.SmallSvd

/** Restarted Arnoldi PageRank — Spark rebuild of the reference's
  * `ComputePageRank_AlgArnoldi` (/root/reference/ppagerank.cc:505-677).
  *
  * Per restart: build a k-step Arnoldi factorization M·Vₖ = Vₖ₊₁·H of the
  * FULL PageRank operator M x = αPᵀx + (α·dᵀx + (1−α)·eᵀx)·v
  * (PageRankMult, ppagerank.cc:692-718), subtract the identity from H
  * (ppagerank.cc:591-594), take the right singular vector of the smallest
  * singular value of H (gesvd at 596-643 — here a driver-side Jacobi SVD,
  * SmallSvd), and restart from x = V·v_min (645-647). Convergence:
  * ‖Mx − x‖₁ / ‖x‖₁ < tol (649-657).
  *
  * Spark shape: the k basis vectors live as k columns of ONE id-aligned
  * frame (never k separate shuffles); each Arnoldi step is one SpMV job plus
  * two batched-dot-products jobs (VecMTDot ≙ a single multi-sum aggregate).
  * The second dot pass is CGS2 re-orthogonalization ("twice is enough") —
  * the reference's single-pass classical Gram-Schmidt (VecMTDot + VecMAXPY,
  * ppagerank.cc:573-587) loses orthogonality near convergence and floors
  * the residual around 1e-10; the repeat pass pushes the attainable floor
  * to ~1e-13. It also lets ‖g‖ and the eᵀ/dᵀ sums of each new basis vector
  * be MEASURED in the same aggregate instead of propagated analytically
  * (cancellation-free where the analytic recursions drift).
  *
  * Deviation from the reference: the reference leaves the final iterate
  * ‖·‖₂-normalized with arbitrary sign (its output sink is unimplemented,
  * ppagerank_main.cc:426-471); we sign-fix and L1-normalize the returned
  * ranks so they form a probability vector like the other solvers.
  */
object ArnoldiPageRank {

  final case class ArnoldiConfig(
      alpha: Double = 0.85,
      tol: Double = 1e-7,
      k: Int = 8, // hardcoded 8 in the reference (ppagerank.cc:509)
      maxRestarts: Int = 1250,
      saltThreshold: Int = 0,
      saltBuckets: Int = 8,
      /** North-rule resumability: the restart vector x IS the whole solver
        * state (the V basis is rebuilt from it each restart), so a snapshot
        * per `checkpointEvery` restarts — with per-partition lineage — lets
        * `run(resume = true)` continue from the last validated restart; the
        * scalar sums are re-measured from the snapshot.
        */
      checkpointDir: Option[String] = None,
      checkpointEvery: Int = 5)

  /** w = M x for column `xc` of `frame` (PageRankMult,
    * ppagerank.cc:692-718): w = αPᵀx + teleport·v, with the scalar
    * teleport = α·dᵀx + (1−α)·eᵀx. Pure plan transformation (no action):
    * adds column `w`. Shared with tools.Probe (plan).
    */
  def mMult(prep: PageRank.Prepared, frame: DataFrame, xc: String, alpha: Double,
      teleport: Column, vCol: Column): DataFrame = {
    val yraw = PageRank.spmv(prep,
      frame.select(col("id"), col(xc).as("rank"))).withColumnRenamed("y", "yraw")
    frame.join(yraw.hint("shuffle_hash"), Seq("id"), "left")
      .withColumn("w", lit(alpha) * coalesce(col("yraw"), lit(0.0)) + teleport * vCol)
      .drop("yraw")
  }

  def run(g: LinkGraph, cfg: ArnoldiConfig = ArnoldiConfig(),
      runId: String = "arnoldi",
      personalization: Option[DataFrame] = None,
      resume: Boolean = false): (Dataset[VertexRank], PageRankStats) = {
    val spark = g.edges.sparkSession
    import spark.implicits._
    val alpha = cfg.alpha
    val k = cfg.k
    // personalization v (ppagerank.cc:91-104) rides as a column; the full
    // operator becomes M x = αPᵀx + (α·dᵀx + (1−α)·eᵀx)·v
    val hasV = personalization.isDefined
    val vCol = if (hasV) col("v") else lit(1.0 / g.numVertices)
    RankSolve.run(g, runId, cfg.maxRestarts, cfg.tol, cfg.checkpointDir,
        cfg.checkpointEvery, resume) { resumed =>
    val prep = PageRank.prepare(g,
      PageRankConfig(saltThreshold = cfg.saltThreshold, saltBuckets = cfg.saltBuckets))

    val base = personalization match {
      case Some(p) => PageRank.dangling(g)
        .join(p.select(col("id"), col("v").cast("double")), Seq("id"), "left")
        .select(col("id"), col("dang"), coalesce(col("v"), lit(0.0)).as("v"))
      case None => PageRank.dangling(g)
    }
    val carry = Seq(col("id"), col("dang")) ++ (if (hasV) Seq(col("v")) else Nil)

    // Resume (north rule): x is the whole inter-restart state; scalars are
    // re-measured below, identically for a cold and a resumed start.
    // x₀ = v (ppagerank.cc:544-550)
    val tr0 = GraftSqlInternals.truncate(resumed.getOrElse(base.withColumn("x", vCol)))
    var x = tr0.df
    var xHandle = tr0
    var (ex, dx, xNorm2, xNorm1) = {
      val r = x.agg(sum(col("x")), sum(col("dang") * col("x")),
        sum(col("x") * col("x")), sum(abs(col("x"))), sum(vCol)).head()
      // a v with no mass would make x₀ ≡ 0 and every basis vector NaN
      val massed = r.getDouble(4) > 0
      if (!massed) { xHandle.handle.unpersist(false); prep.close() }
      require(massed, "the personalization puts no positive weight on the graph's vertices")
      (r.getDouble(0), r.getDouble(1), math.sqrt(r.getDouble(2)), r.getDouble(3))
    }

    // Gram-Schmidt: single-reduction classical GS for tol ≥ 1e-9 (one
    // observe job per Arnoldi step — β, eᵀ, dᵀ of the new basis vector
    // derived analytically via ‖g‖² = ‖w‖² − Σh²), ESCALATING to measured
    // CGS2 (two jobs per step, residual floor ~1e-13) if the restart
    // residual stagnates: the analytic β cancels catastrophically once
    // β/‖w‖ nears √ε, and where that floor lands depends on α and the
    // spectrum (measured: fine at α=0.85/tol 1e-7, stalls at 1.8e-7 for
    // α=0.95), so it cannot be predicted from tol alone. CGS2 from the
    // start for tol < 1e-9. The reference is single-pass CGS + a norm
    // reduction (ppagerank.cc:573-587) — the fast path here is one
    // reduction CHEAPER than that, the deep path one more accurate.
    var cgs2 = cfg.tol < 1e-9
    var stagnant = 0
    var prevDelta = Double.MaxValue

    /** One restart: a k-step Arnoldi factorization from x, then the
      * restarted x; returns the restart residual.
      */
    def restart(): Double = {
      val h = Array.ofDim[Double](k + 1, k) // (k+1)×k, ppagerank.cc:527
      // v0 = x/‖x‖₂ (ppagerank.cc:556-559)
      var frame = x.withColumn("v0",
        col("x") / GraftSqlInternals.stableLit(xNorm2)).drop("x")
      var ev = ex / xNorm2 // eᵀv_j
      var dv = dx / xNorm2 // dᵀv_j
      val evs = Array.fill(k + 1)(0.0); evs(0) = ev
      val dvs = Array.fill(k + 1)(0.0); dvs(0) = dv
      var effK = 0 // columns of H actually built
      var breakdown = false

      var j = 0
      var prevHandle: Option[org.apache.spark.sql.GraftSqlInternals.Truncated] = None
      // release the previous truncated frame only AFTER an action has
      // materialized its successor — localCheckpoint truncates lineage, so
      // unpersisting earlier would lose the only copy of the data
      def retire(t: org.apache.spark.sql.GraftSqlInternals.Truncated): Unit = {
        prevHandle.foreach(_.handle.unpersist(false))
        prevHandle = Some(t)
      }
      while (j < k && !breakdown) {
        // w = M v_j; H(i,j) = vᵢᵀw for i ≤ j (VecMTDot, ppagerank.cc:573).
        // The teleport (and every other measured scalar below) travels
        // through the codegen REFERENCES array (stableLit), never an inline
        // literal: parallel-sum reduction order perturbs these doubles in the
        // last ulp between runs, so a `lit` would change the generated source
        // every run and force a full Janino recompile of every Arnoldi-step
        // stage (~95 classes per solve — measured as the dominant,
        // environment-sensitive cost of this solver before the fix)
        frame = mMult(prep, frame, s"v$j", alpha,
          GraftSqlInternals.stableLit(alpha * dvs(j) + (1 - alpha) * evs(j)), vCol)
        // ONE observe job per step: the dots H(i,j) = vᵢᵀw, ‖w‖², eᵀw and
        // dᵀw ride the tasks that materialize w (batched VecMTDot as
        // CollectMetrics accumulators, as in PageRank.run)
        val dotCols = (0 to j).map(i => sum(col(s"v$i") * col("w"))) ++
          Seq(sum(col("w") * col("w")), sum(col("w")), sum(col("dang") * col("w")))
        val (t1, obs1) = GraftSqlInternals.truncateObserved(
          frame.observe("dots", dotCols.head, dotCols.tail: _*))
        frame = t1.df
        val row = obs1("dots")
        retire(t1)
        for (i <- 0 to j) h(i)(j) = row.getDouble(i)
        val ww = row.getDouble(j + 1)
        // g = w − Σ h(i,j)·vᵢ
        val gCol = (0 to j).foldLeft(col("w")) { (acc, i) =>
          acc - GraftSqlInternals.stableLit(h(i)(j)) * col(s"v$i")
        }
        // CGS: β and the eᵀ/dᵀ sums of g follow analytically (β² = ‖w‖² −
        // Σh² by orthogonality). CGS2: a second job measures the residual
        // projections c_i = vᵢᵀg (≈0 in exact arithmetic), folds them back
        // into H, and measures ‖g‖², eᵀg, dᵀg directly in the same aggregate
        // (the eᵀ/dᵀ sums of the new basis vector subtract the h
        // projections from w's sums under CGS, the c projections from g's
        // measured sums under CGS2)
        val (next, proj, beta2, eg, dg) = if (!cgs2) {
          (gCol, Array.tabulate(j + 1)(i => h(i)(j)),
            ww - (0 to j).map(i => h(i)(j) * h(i)(j)).sum,
            row.getDouble(j + 2), row.getDouble(j + 3))
        } else {
          frame = frame.withColumn("g", gCol).drop("w")
          val dotCols2 = (0 to j).map(i => sum(col(s"v$i") * col("g"))) ++
            Seq(sum(col("g") * col("g")), sum(col("g")), sum(col("dang") * col("g")))
          val (t2, obs2) = GraftSqlInternals.truncateObserved(
            frame.observe("dots2", dotCols2.head, dotCols2.tail: _*))
          frame = t2.df
          val row2 = obs2("dots2")
          retire(t2)
          val c = Array.tabulate(j + 1)(i => row2.getDouble(i))
          for (i <- 0 to j) h(i)(j) += c(i)
          val g2Col = (0 to j).foldLeft(col("g")) { (acc, i) =>
            acc - GraftSqlInternals.stableLit(c(i)) * col(s"v$i")
          }
          // β = ‖g − Σ cᵢvᵢ‖₂ via the identity on the measured gᵀg — safe
          // here because the c correction is O(ε)·‖g‖, so no catastrophic
          // cancellation
          (g2Col, c, row2.getDouble(j + 1) - c.map(x => x * x).sum,
            row2.getDouble(j + 2), row2.getDouble(j + 3))
        }
        val beta = math.sqrt(math.max(beta2, 0.0))
        h(j + 1)(j) = beta
        effK = j + 1
        if (beta < 1e-12 * math.sqrt(ww)) {
          breakdown = true // happy breakdown: Krylov space exhausted
        } else {
          frame = frame.withColumn(s"v${j + 1}", next / GraftSqlInternals.stableLit(beta))
            .drop("w", "g")
          evs(j + 1) = (eg - (0 to j).map(i => proj(i) * evs(i)).sum) / beta
          dvs(j + 1) = (dg - (0 to j).map(i => proj(i) * dvs(i)).sum) / beta
        }
        j += 1
      }

      // H ← H − [I; 0] (ppagerank.cc:591-594), on the effK-sized block
      val m = effK
      val hBlock = Array.tabulate(m + 1, m) { (i, jj) =>
        h(i)(jj) - (if (i == jj) 1.0 else 0.0)
      }
      val (_, vMat) = SmallSvd.svd(hBlock)
      val vmin = Array.tabulate(m)(i => vMat(i)(m - 1)) // smallest σ's right vector

      // x ← Σ vmin_i · v_i (VecMAXPY, ppagerank.cc:645-647)
      val xCol = (0 until m).map(i =>
          GraftSqlInternals.stableLit(vmin(i)) * col(s"v$i"))
        .reduce((a, b) => a + b)
      // convergence: δ = ‖Mx − x‖₁/‖x‖₁ (ppagerank.cc:649-657). The
      // reference applies the operator once more (PageRankMult at 651); here
      // Mx − x follows from the Arnoldi relation M·Vₘ = Vₘ₊₁·H — exact to
      // rounding REGARDLESS of basis quality, because each v_{j+1} is
      // constructed as (w − Σ hᵢⱼ vᵢ)/β — so
      // Mx − x = Vₘ₊₁·(H − [I;0])·vmin, a column combination of basis
      // vectors already in the frame. The restart therefore pays NO extra
      // SpMV: residual, ‖x‖₁, dᵀx, ‖x‖₂ and eᵀx all ride one shuffle-free
      // observe job on the frame. On happy breakdown v_m was never built;
      // its coefficient is β·vmin_{m−1} with β < 1e-12·‖w‖ — dropped.
      val rCoef = Array.tabulate(m + 1)(i =>
        (0 until m).map(jj => hBlock(i)(jj) * vmin(jj)).sum)
      val residCol = (0 to (if (breakdown) m - 1 else m)).map(i =>
          GraftSqlInternals.stableLit(rCoef(i)) * col(s"v$i"))
        .reduce((a, b) => a + b)
      val (tr2, obsR) = GraftSqlInternals.truncateObserved(
        frame.withColumn("x", xCol)
          .observe("restart", sum(abs(residCol)), sum(abs(col("x"))),
            sum(col("dang") * col("x")), sum(col("x") * col("x")),
            sum(col("x")))
          .select(carry :+ col("x"): _*))
      val row = obsR("restart")
      val num = row.getDouble(0)
      xNorm1 = row.getDouble(1)
      dx = row.getDouble(2)
      xNorm2 = math.sqrt(row.getDouble(3))
      ex = row.getDouble(4) // measured eᵀx (an analytic recursion drifts)
      val delta = num / xNorm1
      x = tr2.df
      // the basis-vector frame and the previous restart's x are dead now
      prevHandle.foreach(_.handle.unpersist(false))
      xHandle.handle.unpersist(false)
      xHandle = tr2

      // stagnation → escalate to CGS2: two consecutive
      // restarts without ≥10% residual improvement means the fast path has
      // hit its analytic-β cancellation floor above tol — without this the
      // solver would spin to maxRestarts at a flat residual
      if (!cgs2 && delta >= cfg.tol) {
        if (delta > 0.9 * prevDelta) stagnant += 1 else stagnant = 0
        if (stagnant >= 2) cgs2 = true
      }
      prevDelta = delta
      delta
    }

    new RankSolve.Iteration[Dataset[VertexRank]] {
      def step(): (Double, Double) = (restart(), xNorm1)
      def snapshot: DataFrame = x
      def result(): Dataset[VertexRank] = {
        prep.close()
        // sign-fix + L1-normalize (deviation from reference; see scaladoc).
        // eᵀx of the final iterate is `ex` — measured by the observe of the
        // job that materialized this x (restart loop) or by the init
        // aggregate (no restarts ran); a dedicated agg job here re-measured
        // the same sum.
        val sign = if (ex < 0) -1.0 else 1.0
        x.select(col("id"),
          (col("x") * lit(sign) /
            GraftSqlInternals.stableLit(math.abs(ex))).as("rank")).as[VertexRank]
      }
    }
    } // RankSolve.run
  }
}
