package graft.graph

import org.apache.spark.sql.{Column, DataFrame, Dataset, GraftSqlInternals, ScalarSlot}
import org.apache.spark.sql.catalyst.expressions.KnownNotNull
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
  * Spark shape: ONE fixed-shape iterate (id, dang, [v,] b0…bk, w) — the
  * basis vectors as columns of one id-aligned frame (never k separate
  * shuffles) beside a work column w — and three step kinds, each planned
  * once per solve (`GraftSqlInternals.iterate`) and run as ONE job:
  * `extend` (finalize b_n, then w = M·b_n with every dot in one observe:
  * VecMTDot ≙ a multi-sum aggregate), `correct` and `combine` (the
  * restart). Per-step scalars are [[Slots]]; a column at or past the step
  * index n is skipped with `when`, never weighted by 0: an unbuilt column
  * is null, and 0·null is null. Between restarts w holds x; a snapshot is
  * (id, dang, [v,] x).
  * The correct step is CGS2 re-orthogonalization ("twice is enough") —
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

  /** The kept steps' scalars, set before each job: the pending column n
    * (= the projections taken out of w), projection coefficients p, divisor
    * div (β, or ‖x‖₂ for b0), M·b_n's teleport α·dᵀb_n + (1−α)·eᵀb_n, and
    * the restart's coefficients of x (xs) and of its residual (rs).
    */
  private[graft] final class Slots(val k: Int) {
    val n, div, teleport = new ScalarSlot(0.0)
    val p, xs = Seq.fill(k)(new ScalarSlot(0.0))
    val rs = Seq.fill(k + 1)(new ScalarSlot(0.0))
  }

  private val (extendKind, correctKind, restartKind) = (0, 1, 2)

  private def b(i: Int): Column = col(s"b$i")
  private def slot(s: ScalarSlot): Column = GraftSqlInternals.slotLit(s)
  private def carried(frame: DataFrame): Seq[Column] =
    frame.columns.toSeq.takeWhile(_ != "b0").map(col)

  /** `c`, typed non-null: a sum that reads only built basis columns. */
  private def notNull(c: Column): Column =
    GraftSqlInternals.columnOf(KnownNotNull(GraftSqlInternals.expressionOf(c)))

  /** w − Σ_{l<n} p_l·b_l, subtracted in column order; a column at or past n
    * subtracts 0.0.
    */
  private def projected(s: Slots): Column = notNull((0 until s.k).foldLeft(col("w")) {
    (acc, l) => acc - when(slot(s.n) > l, slot(s.p(l)) * b(l)).otherwise(0.0)
  })

  private def pending(s: Slots): Column = projected(s) / slot(s.div)

  /** Observes "dots" of column c: bᵢᵀc for every basis column (the driver
    * reads i ≤ n), ‖c‖², eᵀc and dᵀc.
    */
  private def dots(frame: DataFrame, c: Column, k: Int): DataFrame = {
    val sums = (0 to k).map(i => sum(b(i) * c)) ++
      Seq(sum(c * c), sum(c), sum(col("dang") * c))
    frame.observe("dots", sums.head, sums.tail: _*)
  }

  /** The iterate of a restart vector (id, dang, [v,] x): x in w, and
    * unbuilt (null) basis columns, nullable as extend's divisions are.
    * Shared with tools.Probe (plan).
    */
  private[graft] def iterateOf(x: DataFrame, k: Int): DataFrame =
    x.select(x.columns.toSeq.filter(_ != "x").map(col) ++
      (0 to k).map(i => lit(null).cast("double").as(s"b$i")) :+ col("x").as("w"): _*)

  /** The extend step: b_n = (w − Σ_{l<n} p_l·b_l)/div, then w = M·b_n =
    * αPᵀb_n + teleport·v (PageRankMult, ppagerank.cc:692-718). Shared with
    * tools.Probe (plan).
    */
  private[graft] def extend(prep: PageRank.Prepared, frame: DataFrame, alpha: Double,
      s: Slots, vCol: Column): DataFrame = {
    val carry = carried(frame)
    val cur = pending(s)
    val y = PageRank.spmv(prep, frame.select(col("id"), cur.as("rank")))
    val w = lit(alpha) * coalesce(col("y"), lit(0.0)) + slot(s.teleport) * vCol
    dots(frame.select(carry ++ (0 to s.k).map(i =>
        when(slot(s.n) === i, cur).otherwise(b(i)).as(s"b$i")): _*)
      .join(y.hint("shuffle_hash"), Seq("id"), "left")
      .select(carry ++ (0 to s.k).map(b) :+ w.as("w"): _*), col("w"), s.k)
  }

  /** The CGS2 correct step: w ← w − Σ_{l<n} p_l·b_l. */
  private def correct(frame: DataFrame, s: Slots): DataFrame =
    dots(frame.withColumn("w", projected(s)), col("w"), s.k)

  /** The restart step: x = Σ_{i<n} sᵢ·bᵢ into w, observing ‖Σ_{i≤n} rᵢ·bᵢ‖₁
    * (b_n the pending column), ‖x‖₁, dᵀx, ‖x‖₂² and eᵀx.
    */
  private def combine(frame: DataFrame, s: Slots): DataFrame = {
    val basis = carried(frame) ++ (0 to s.k).map(b)
    val n = slot(s.n)
    val x = notNull(s.xs.indices.map(i => when(n > i, slot(s.xs(i)) * b(i)).otherwise(0.0))
      .reduce(_ + _))
    val r = s.rs.indices.map(i => when(n > i, slot(s.rs(i)) * b(i))
      .when(n === i, slot(s.rs(i)) * pending(s)).otherwise(0.0)).reduce(_ + _)
    frame.select(basis :+ x.as("x") :+ r.as("r"): _*)
      .observe("restart", sum(abs(col("r"))), sum(abs(col("x"))),
        sum(col("dang") * col("x")), sum(col("x") * col("x")), sum(col("x")))
      .select(basis :+ col("x").as("w"): _*)
  }

  def run(g: LinkGraph, cfg: ArnoldiConfig = ArnoldiConfig(),
      runId: String = "arnoldi",
      personalization: Option[DataFrame] = None,
      resume: Boolean = false): (Dataset[VertexRank], PageRankStats) = {
    val spark = g.edges.sparkSession
    import spark.implicits._
    val (alpha, k) = (cfg.alpha, cfg.k)
    require(k >= 1, s"Arnoldi needs a Krylov dimension k >= 1, got $k")
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

    // Resume (north rule): x is the whole inter-restart state; scalars are
    // re-measured below, identically for a cold and a resumed start.
    // x₀ = v (ppagerank.cc:544-550)
    val s = new Slots(k)
    val loop = GraftSqlInternals.iterate(
        iterateOf(resumed.getOrElse(base.withColumn("x", vCol)), k), keys = Seq("id"))(
      extend(prep, _, alpha, s, vCol), correct(_, s), combine(_, s))
    var (ex, dx, xNorm2, xNorm1) = {
      val r = loop.frame.agg(sum(col("w")), sum(col("dang") * col("w")),
        sum(col("w") * col("w")), sum(abs(col("w"))), sum(vCol)).head()
      // a v with no mass would make x₀ ≡ 0 and every basis vector NaN
      val massed = r.getDouble(4) > 0
      if (!massed) { loop.discard(); prep.close() }
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
      // b0 = x/‖x‖₂ (ppagerank.cc:556-559): w holds x, nothing to project
      s.div.value = xNorm2
      val evs = Array.fill(k + 1)(0.0); evs(0) = ex / xNorm2 // eᵀb_j
      val dvs = Array.fill(k + 1)(0.0); dvs(0) = dx / xNorm2 // dᵀb_j
      var m = 0 // columns of H built
      var breakdown = false
      while (m < k && !breakdown) {
        val j = m
        // w = M b_j; H(i,j) = bᵢᵀw for i ≤ j (VecMTDot, ppagerank.cc:573),
        // with ‖w‖², eᵀw and dᵀw, observed by the job that materializes w
        s.n.value = j
        s.teleport.value = alpha * dvs(j) + (1 - alpha) * evs(j)
        val row = loop.step(extendKind)("dots")
        for (i <- 0 to j) h(i)(j) = row.getDouble(i)
        val ww = row.getDouble(k + 1)
        // g = w − Σ h(i,j)·bᵢ. CGS: β and the eᵀ/dᵀ sums of g follow
        // analytically (β² = ‖w‖² − Σh² by orthogonality); the next step
        // finalizes b_{j+1} = g/β. CGS2: a correct job stores g in w and
        // measures cᵢ = bᵢᵀg (≈0 in exact arithmetic, folded into H), ‖g‖²,
        // eᵀg and dᵀg; the next step finalizes b_{j+1} = (g − Σ cᵢbᵢ)/β
        for (i <- 0 to j) s.p(i).value = h(i)(j)
        val (proj, beta2, eg, dg) = if (!cgs2) {
          (Array.tabulate(j + 1)(i => h(i)(j)),
            ww - (0 to j).map(i => h(i)(j) * h(i)(j)).sum,
            row.getDouble(k + 2), row.getDouble(k + 3))
        } else {
          s.n.value = j + 1
          val row2 = loop.step(correctKind)("dots")
          val c = Array.tabulate(j + 1)(i => row2.getDouble(i))
          for (i <- 0 to j) { h(i)(j) += c(i); s.p(i).value = c(i) }
          // β = ‖g − Σ cᵢbᵢ‖₂ via the identity on the measured gᵀg — safe
          // here because the c correction is O(ε)·‖g‖, so no catastrophic
          // cancellation
          (c, row2.getDouble(k + 1) - c.map(x => x * x).sum,
            row2.getDouble(k + 2), row2.getDouble(k + 3))
        }
        val beta = math.sqrt(math.max(beta2, 0.0))
        h(j + 1)(j) = beta
        m = j + 1
        if (beta < 1e-12 * math.sqrt(ww)) {
          breakdown = true // happy breakdown: Krylov space exhausted
        } else {
          s.div.value = beta
          evs(j + 1) = (eg - (0 to j).map(i => proj(i) * evs(i)).sum) / beta
          dvs(j + 1) = (dg - (0 to j).map(i => proj(i) * dvs(i)).sum) / beta
        }
      }

      // H ← H − [I; 0] (ppagerank.cc:591-594), on the m-column block
      val hBlock = Array.tabulate(m + 1, m) { (i, jj) =>
        h(i)(jj) - (if (i == jj) 1.0 else 0.0)
      }
      val (_, vMat) = SmallSvd.svd(hBlock)
      val vmin = Array.tabulate(m)(i => vMat(i)(m - 1)) // smallest σ's right vector

      // x ← Σ vmin_i · b_i (VecMAXPY, ppagerank.cc:645-647)
      // convergence: δ = ‖Mx − x‖₁/‖x‖₁ (ppagerank.cc:649-657). The
      // reference applies the operator once more (PageRankMult at 651); here
      // Mx − x follows from the Arnoldi relation M·Vₘ = Vₘ₊₁·H — exact to
      // rounding REGARDLESS of basis quality, because each b_{j+1} is
      // constructed as (w − Σ hᵢⱼ bᵢ)/β — so Mx − x = Vₘ₊₁·(H − [I;0])·vmin,
      // a combination of b₀…b_{m−1} and the pending b_m: NO extra SpMV. On
      // happy breakdown b_m was never built; its coefficient is β·vmin_{m−1}
      // with β < 1e-12·‖w‖ — dropped (0).
      val rCoef = Array.tabulate(m + 1)(i =>
        (0 until m).map(jj => hBlock(i)(jj) * vmin(jj)).sum)
      s.n.value = m
      for (i <- 0 until m) s.xs(i).value = vmin(i)
      for (i <- 0 to m) s.rs(i).value = if (i < m || !breakdown) rCoef(i) else 0.0
      val row = loop.step(restartKind)("restart")
      val num = row.getDouble(0)
      xNorm1 = row.getDouble(1)
      dx = row.getDouble(2)
      xNorm2 = math.sqrt(row.getDouble(3))
      ex = row.getDouble(4) // measured eᵀx (an analytic recursion drifts)
      val delta = num / xNorm1

      // stagnation → escalate to CGS2: two consecutive restarts without
      // ≥10% residual improvement means the fast path has hit its analytic-β
      // cancellation floor above tol — without this the solver would spin
      // to maxRestarts at a flat residual
      if (!cgs2 && delta >= cfg.tol) {
        if (delta > 0.9 * prevDelta) stagnant += 1 else stagnant = 0
        if (stagnant >= 2) cgs2 = true
      }
      prevDelta = delta
      delta
    }

    new RankSolve.Iteration[Dataset[VertexRank]] {
      def step(): (Double, Double) = (restart(), xNorm1)
      def snapshot: DataFrame = loop.frame.select(carried(loop.frame) :+ col("w").as("x"): _*)
      def result(): Dataset[VertexRank] = {
        loop.close()
        prep.close()
        // sign-fix + L1-normalize (deviation from reference; see scaladoc).
        // eᵀx of the final iterate is `ex` — measured by the observe of the
        // job that materialized this x (restart loop) or by the init
        // aggregate (no restarts ran); a dedicated agg job here re-measured
        // the same sum.
        val sign = if (ex < 0) -1.0 else 1.0
        loop.frame.select(col("id"), (col("w") * lit(sign) /
          slot(new ScalarSlot(math.abs(ex)))).as("rank")).as[VertexRank]
      }
    }
    } // RankSolve.run
  }
}
