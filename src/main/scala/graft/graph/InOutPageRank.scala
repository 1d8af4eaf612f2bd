package graft.graph

import org.apache.spark.sql.{Column, DataFrame, Dataset, GraftSqlInternals, Row}
import org.apache.spark.sql.functions._

import graft.model._

/** Inner-outer PageRank (Gleich/Gray/Greif/Lau) — a faithful Spark rebuild of
  * the reference's `ComputePageRank_AlgInOut`
  * (/root/reference/ppagerank.cc:341-501).
  *
  * Outer system: (I − βPᵀ)x = (α−β)Pᵀx + (1−α)v, solved by inner Richardson
  * sweeps x ← βy + f with the dangling-corrected operator
  * y = Bx = Pᵀx + (dᵀx)v (PageRankDanglingMult, ppagerank.cc:738-778; we use
  * its implicit form dᵀx = eᵀx − eᵀPᵀx, ppagerank.cc:754-767). Once an inner
  * solve converges in 0 steps the algorithm degrades to plain power
  * iterations (ppagerank.cc:438-444), exactly as the reference does.
  *
  * Defaults mirror the reference: β = α/2 (ppagerank.cc:347-348),
  * η = 1e-2 (350-351), max inner 1000 (353-355).
  *
  * Scalar bookkeeping: B is column-stochastic, so eᵀ(Bx) = eᵀx; the sums of
  * x and f are tracked analytically instead of with extra reductions. The
  * frame carries the static dangling indicator, so dᵀx of each sweep step is
  * known analytically BEFORE the step's job (dᵀx = β·dᵀy + dᵀf, seeded by
  * the init job's observes) — each inner sweep step is ONE materializing job
  * whose observe carries the inner and outer residuals, the same
  * single-action kernel as a power step.
  */
object InOutPageRank {

  final case class InOutConfig(
      alpha: Double = 0.85,
      beta: Option[Double] = None, // default α/2
      eta: Double = 1e-2,
      maxInnerIter: Int = 1000,
      tol: Double = 1e-7,
      maxIter: Int = 10000,
      saltThreshold: Int = 0,
      saltBuckets: Int = 8,
      /** North-rule resumability, at parity with PageRankConfig: every
        * `checkpointEvery` OUTER iterations the solver state — the iterate
        * frame plus the inner/power mode flag — is snapshotted with
        * per-partition lineage; `run(resume = true)` restarts from the
        * latest snapshot whose lineage digest validates.
        */
      checkpointDir: Option[String] = None,
      checkpointEvery: Int = 10)

  /** The iterate's carried columns: id, the static dangling indicator and,
    * when personalized, v.
    */
  private def carried(fr: DataFrame): Seq[Column] =
    Seq(col("id"), col("dang")) ++ (if (fr.columns.contains("v")) Seq(col("v")) else Nil)

  /** One power step (ppagerank.cc:385-409) as one frame over the iterate
    * (id, dang, [v,] x): x ← αPᵀx + ωv, with the residual ‖x − x_prev‖₁ and
    * the new dᵀx and eᵀx observed as "pw". Shared with tools.Probe (plan).
    */
  def powerStep(prep: PageRank.Prepared, frame: DataFrame, alpha: Double,
      omega: Column, vCol: Column): DataFrame = {
    val carry = carried(frame)
    val yraw = PageRank.spmv(prep, frame.select(col("id"), col("x").as("rank")))
    frame.select(carry :+ col("x").as("x_prev"): _*)
      .join(yraw.hint("shuffle_hash"), Seq("id"), "left")
      .withColumn("x", lit(alpha) * coalesce(col("y"), lit(0.0)) + omega * vCol)
      .observe("pw",
        sum(abs(col("x") - col("x_prev"))).as("delta"),
        sum(col("dang") * col("x")).as("dtx"),
        sum(col("x")).as("sx"))
      .select(carry :+ col("x"): _*)
  }

  /** One inner Richardson sweep step (ppagerank.cc:423-435) as one frame
    * over the sweep frame (id, dang, [v,] f, y): x ← βy + f, then
    * y ← Bx = Pᵀx + (dᵀx)v with dᵀx known before the job (`dtx`). The
    * observe "in" carries dᵀ(Pᵀx) for the next step's dᵀx, the inner
    * residual ‖f + βy_new − x‖₁ and the outer residual
    * ‖x − αy_new − (1−α)v‖₁ (ppagerank.cc:456-465). Shared with
    * tools.Probe (plan).
    */
  def innerStep(prep: PageRank.Prepared, st: DataFrame, alpha: Double,
      beta: Double, dtx: Column, vCol: Column): DataFrame = {
    val carry = carried(st)
    val withX = st.withColumn("x", lit(beta) * col("y") + col("f")).drop("y")
    val yraw = PageRank.spmv(prep, withX.select(col("id"), col("x").as("rank")))
    withX.join(yraw.hint("shuffle_hash"), Seq("id"), "left")
      .withColumn("yc", coalesce(col("y"), lit(0.0)))
      .withColumn("yn", col("yc") + dtx * vCol)
      .observe("in",
        sum(col("dang") * col("yc")).as("dyraw"),
        sum(abs(col("f") + lit(beta) * col("yn") - col("x"))).as("din"),
        sum(abs(col("x") - lit(alpha) * col("yn") - lit(1 - alpha) * vCol)).as("dout"))
      .select(carry ++ Seq(col("f"), col("x"), col("yn").as("y")): _*)
  }

  def run(g: LinkGraph, cfg: InOutConfig = InOutConfig(),
      runId: String = "inout",
      personalization: Option[DataFrame] = None,
      resume: Boolean = false): (Dataset[VertexRank], PageRankStats) = {
    val spark = g.edges.sparkSession
    import spark.implicits._
    val alpha = cfg.alpha
    val beta = cfg.beta.getOrElse(alpha / 2)
    // personalization v (ppagerank.cc:91-104): carried as a column; the
    // analytic eᵀ bookkeeping generalizes with sv = eᵀv (1 for uniform)
    val hasV = personalization.isDefined
    val vCol = if (hasV) col("v") else lit(1.0 / g.numVertices)
    RankSolve.run(g, runId, cfg.maxIter, cfg.tol, cfg.checkpointDir,
        cfg.checkpointEvery, resume) { resumed =>
    val prep = PageRank.prepare(g,
      PageRankConfig(saltThreshold = cfg.saltThreshold, saltBuckets = cfg.saltBuckets))

    // rolling lineage truncation: each checkpointed frame is unpersisted as
    // soon as its successor has materialized (the reference pattern from
    // PageRank.run) — without this, every inner sweep leaks cached blocks.
    // The aggregates ride as CollectMetrics accumulators on the
    // materializing tasks (same single-action kernel as PageRank.run).
    var prevHandle: Option[GraftSqlInternals.Truncated] = None
    def retire(t: GraftSqlInternals.Truncated): DataFrame = {
      prevHandle.foreach(_.handle.unpersist(false))
      prevHandle = Some(t)
      t.df
    }
    def truncateAndAgg(df: DataFrame, aggCols: Seq[Column]): (DataFrame, Row) = {
      val (t, observed) = GraftSqlInternals.truncateObserved(
        df.observe("agg", aggCols.head, aggCols.tail: _*))
      (retire(t), observed("agg"))
    }

    // Resume (north rule): the snapshot carries the iterate frame plus `im`
    // (the inner/power mode flag — the only non-recomputable scalar state;
    // eᵀx and eᵀv are re-measured from the frame below). Cold start:
    // x₀ = v (ppagerank.cc:366-371) beside the static dangling indicator
    // (dang=1 iff no out-edges), which the inner sweep's analytic dᵀx
    // recurrence and the power kernel's observe both read.
    var innerMode = resumed.forall(_.select(col("im")).head().getBoolean(0))
    var frame = resumed.map(_.drop("im")).getOrElse(personalization match {
      case Some(p) => PageRank.dangling(g)
        .join(p.select(col("id"), col("v").cast("double")), Seq("id"), "left")
        .select(col("id"), col("dang"), coalesce(col("v"), lit(0.0)).as("v"))
        .withColumn("x", col("v"))
      case None => PageRank.dangling(g).withColumn("x", vCol)
    })
    val sv = if (hasV) frame.agg(sum(col("v"))).head().getDouble(0) else 1.0
    var sx = if (resumed.isDefined) frame.agg(sum(col("x"))).head().getDouble(0) else sv
    // dᵀv (static) and dᵀy of the frame's y column — the seeds of the inner
    // sweep's analytic dᵀx recurrence (dᵀx = β·dᵀy + dᵀf)
    var dv = 0.0
    var dy = 0.0
    if (resumed.isEmpty || innerMode && !frame.columns.contains("y")) {
      // init y₀ = Bx₀ = Pᵀx₀ + (dᵀx₀)v with dᵀx₀ = sx − eᵀPᵀx₀
      // (ppagerank.cc:366-377, implicit form 754-767) — ONE job whose
      // observe also measures dᵀv and dᵀ(Pᵀx₀) for the recurrence seeds
      val yraw = PageRank.spmv(prep, frame.select(col("id"), col("x").as("rank")))
      val pre = frame.join(yraw, Seq("id"), "left")
        .withColumn("yraw", coalesce(col("y"), lit(0.0))).drop("y")
      val (joined, row) = truncateAndAgg(pre, Seq(sum(col("yraw")),
        sum(col("dang") * col("yraw")), sum(col("dang") * vCol)))
      val s = Option(row.get(0)).map(_.asInstanceOf[Double]).getOrElse(0.0)
      val dtx0 = sx - s
      dv = Option(row.get(2)).map(_.asInstanceOf[Double]).getOrElse(0.0)
      dy = Option(row.get(1)).map(_.asInstanceOf[Double]).getOrElse(0.0) + dtx0 * dv
      frame = joined
        .withColumn("y", col("yraw") + GraftSqlInternals.stableLit(dtx0) * vCol)
        .drop("yraw") // (id, dang, [v,] x, y)
    } else if (innerMode) {
      // resumed mid-inner-mode snapshot (carries y): re-measure the seeds
      val row = frame.agg(sum(col("dang") * col("y")),
        sum(col("dang") * vCol)).head()
      dy = Option(row.get(0)).map(_.asInstanceOf[Double]).getOrElse(0.0)
      dv = Option(row.get(1)).map(_.asInstanceOf[Double]).getOrElse(0.0)
    }

    // Power-mode scalar state: dᵀx and eᵀx of the CURRENT frame, measured by
    // the job that materialized it (the single-action kernel of
    // PageRank.run). `powerReady` marks that the scalars are current; the
    // transition job below establishes them in one materialization.
    var dtxP = 0.0
    var sxP = 0.0
    var powerReady = false

    /** Transition into the power kernel: drop the sweep columns and measure
      * dᵀx, eᵀx — ONE job. Afterwards every power step is a single
      * materializing job whose observe feeds the next step's ω, exactly the
      * PageRank.run kernel (ω = 1 − α(eᵀx − dᵀx) = 1 − ‖αPᵀx‖₁,
      * ppagerank.cc:307-315 — the measured-sum form the old two-job step
      * computed with a dedicated aggregation pass per step).
      */
    def enterPower(fr: DataFrame): DataFrame = {
      val (t, row) = truncateAndAgg(fr.select(carried(fr) :+ col("x"): _*),
        Seq(sum(col("dang") * col("x")), sum(col("x"))))
      dtxP = row.getDouble(0)
      sxP = row.getDouble(1)
      powerReady = true
      t
    }

    /** One power step (ppagerank.cc:385-409): y = αPᵀx; ω = 1−‖y‖₁; y += ωv;
      * δ = ‖y − x‖₁; x ← y. ONE job: the residual, dᵀx and eᵀx of the new
      * iterate ride the materializing tasks as observe accumulators; ω comes
      * from the PREVIOUS step's scalars via ω = 1 − α(eᵀx − dᵀx) (identical
      * to 1 − ‖αPᵀx‖₁ in exact arithmetic — P is row-stochastic, so
      * eᵀPᵀx = eᵀx − dᵀx).
      */
    def powerIteration(): Double = {
      if (!powerReady) frame = enterPower(frame)
      val omega = 1.0 - alpha * (sxP - dtxP)
      val (t, observed) = GraftSqlInternals.truncateObserved(powerStep(prep, frame, alpha,
        GraftSqlInternals.stableLit(omega), vCol))
      frame = retire(t)
      val row = observed("pw")
      dtxP = row.getDouble(1)
      sxP = row.getDouble(2)
      sx = sxP
      row.getDouble(0)
    }

    /** One outer inner-outer iteration: an inner Richardson sweep to η
      * (ppagerank.cc:412-465); a sweep that converges in one step switches
      * the solve to power iterations. Returns the outer residual.
      */
    def innerIteration(): Double = {
      // f = (α−β)y + (1−α)v (ppagerank.cc:412-421); f is FIXED across the
      // sweep, so dᵀf is one scalar computed from the recurrence seeds
      var st = frame.withColumn("f",
        lit(alpha - beta) * col("y") + lit(1 - alpha) * vCol)
      // sums: eᵀy = eᵀx (B column-stochastic); eᵀf
      var sy = sx
      val sf = (alpha - beta) * sy + (1 - alpha) * sv
      val dfD = (alpha - beta) * dy + (1 - alpha) * dv
      var innerIter = 0
      var exitedAtZero = false
      var continue = true
      var lastOdiff = Double.MaxValue
      while (continue && innerIter < cfg.maxInnerIter) {
        // x ← βy + f; y ← Bx; δ_in = ‖f + βy_new − x‖₁ (ppagerank.cc:423-435)
        // in ONE materializing job: dᵀx = β·dᵀy + dᵀf is known BEFORE the
        // job (d is static, f fixed across the sweep — same scalar as the
        // old measured sx − eᵀPᵀx form in exact arithmetic), so
        // y_new = Pᵀx + (dᵀx)v is an in-job column and the inner residual,
        // the outer residual δ = ‖x − αy − (1−α)v‖₁ (ppagerank.cc:456-465)
        // and the next step's dᵀ(Pᵀx) all ride the observe — the old shape
        // paid a second aggregation job per sweep step for the residuals
        val dtxK = beta * dy + dfD
        val sxInner = beta * sy + sf
        val (t, observed) = GraftSqlInternals.truncateObserved(innerStep(prep, st,
          alpha, beta, GraftSqlInternals.stableLit(dtxK), vCol))
        st = retire(t)
        val row = observed("in")
        def obs(i: Int): Double =
          Option(row.get(i)).map(_.asInstanceOf[Double]).getOrElse(0.0)
        dy = obs(0) + dtxK * dv // dᵀy_new = dᵀ(Pᵀx) + (dᵀx)(dᵀv)
        lastOdiff = obs(2)
        sy = sxInner // eᵀ(Bx) = eᵀx
        sx = sxInner
        innerIter += 1
        if (obs(1) < cfg.eta) {
          if (innerIter == 1) { innerMode = false; exitedAtZero = true }
          continue = false
        }
      }
      if (exitedAtZero) {
        // x ← αy + (1−α)v (ppagerank.cc:467-477) before switching to power
        // (lazy projection over the cached sweep frame; the power
        // transition job materializes it — dang rides along, so the
        // transition needs no dangling join)
        frame = st.select(carried(st) :+
          (lit(alpha) * col("y") + lit(1 - alpha) * vCol).as("x"): _*)
        sx = alpha * sy + (1 - alpha) * sv
        powerReady = false
      } else {
        frame = st
      }
      lastOdiff
    }

    new RankSolve.Iteration[Dataset[VertexRank]] {
      def step(): (Double, Double) =
        (if (innerMode) innerIteration() else powerIteration(), sx)
      def snapshot: DataFrame = frame.withColumn("im", lit(innerMode))
      def result(): Dataset[VertexRank] = {
        prep.close()
        // In inner mode the current iterate satisfies x with y = Bx; the
        // rank vector the solver returns is x (same convention as the
        // reference, which leaves the iterate in p).
        frame.select(col("id"), col("x").as("rank")).as[VertexRank]
      }
    }
    } // RankSolve.run
  }
}
