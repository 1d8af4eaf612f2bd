package graft.graph

import org.apache.spark.sql.{Column, DataFrame, Dataset, GraftSqlInternals, ScalarSlot}
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
  * solve converges in one step the algorithm degrades to plain power
  * iterations (ppagerank.cc:438-444), exactly as the reference does: the
  * rest of the solve runs on `PageRank.power`, the kernel of `PageRank.run`.
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
  * single-action kernel as a power step. The sweep step is planned once per
  * solve (`GraftSqlInternals.iterate`), with dᵀx and the sweep-start flag as
  * slots.
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

  /** One inner Richardson sweep step (ppagerank.cc:423-435) as one frame
    * over the sweep iterate (id, dang, [v,] f, x, y): where `first` > 0 (a
    * sweep's first step) f ← (α−β)y + (1−α)v (ppagerank.cc:412-421), later
    * steps carry f; then x ← βy + f and y ← Bx = Pᵀx + (dᵀx)v with dᵀx
    * known before the job (`dtx`). The observe "in" carries dᵀ(Pᵀx) for the
    * next step's dᵀx, the inner residual ‖f + βy_new − x‖₁ and the outer
    * residual ‖x − αy_new − (1−α)v‖₁ (ppagerank.cc:456-465). Shared with
    * tools.Probe (plan).
    */
  def innerStep(prep: PageRank.Prepared, st: DataFrame, alpha: Double,
      beta: Double, dtx: Column, first: Column, vCol: Column): DataFrame = {
    // carried: id, the static dangling indicator and, when personalized, v
    val carry = Seq(col("id"), col("dang")) ++
      (if (st.columns.contains("v")) Seq(col("v")) else Nil)
    val f = when(first > 0, lit(alpha - beta) * col("y") + lit(1 - alpha) * vCol)
      .otherwise(col("f"))
    val withX = st.select(carry ++ Seq(f.as("f"), col("y")): _*)
      .withColumn("x", lit(beta) * col("y") + col("f")).drop("y")
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
    val (ranks, stats) = RankSolve.run(g, runId, cfg.maxIter, cfg.tol, cfg.checkpointDir,
        cfg.checkpointEvery, resume) { resumed =>
    val prep = PageRank.prepare(g,
      PageRankConfig(saltThreshold = cfg.saltThreshold, saltBuckets = cfg.saltBuckets))

    // Resume (north rule): a snapshot is the current iterate plus the mode
    // flag `im` — the sweep iterate in inner mode, the power kernel's
    // iterate in power mode, so its layout tells the mode.
    val carry = Seq("id", "dang") ++ (if (hasV) Seq("v") else Nil)
    val sweepCols = carry ++ Seq("f", "x", "y")
    val powerCols = if (hasV) carry :+ "rank" else Seq("id", "rank")
    resumed.foreach { snap =>
      require(Seq(sweepCols, powerCols).exists(_ :+ "im" == snap.columns.toSeq),
        s"checkpoint $runId carries columns ${snap.columns.mkString(",")} but this " +
          s"run iterates ${sweepCols.mkString(",")},im or ${powerCols.mkString(",")},im: " +
          "resume with the same personalization, or restart")
    }
    def powerMode(start: DataFrame) = {
      val k = PageRank.power(prep, start, alpha, Seq("rank" -> vCol))
      new RankSolve.Iteration[DataFrame] {
        def step(): (Double, Double) = k.step()
        def snapshot: DataFrame = k.snapshot.withColumn("im", lit(false))
        def result(): DataFrame = k.result()
      }
    }
    resumed.filter(_.columns.contains("rank")) match {
      case Some(snap) => powerMode(snap.drop("im"))
      case None =>

    // Inner-mode scalars: eᵀv, eᵀx, and dᵀv and dᵀy — the seeds of the
    // sweep's analytic dᵀx recurrence (dᵀx = β·dᵀy + dᵀf).
    var (sv, sx, dv, dy) = (1.0, 0.0, 0.0, 0.0)
    var initBlocks: Option[GraftSqlInternals.Truncated] = None
    val start = resumed match {
      case Some(snap) =>
        // mid-sweep snapshot: re-measure the scalars
        val row = snap.agg(sum(vCol), sum(col("x")), sum(col("dang") * vCol),
          sum(col("dang") * col("y"))).head()
        if (hasV) sv = row.getDouble(0)
        sx = row.getDouble(1)
        dv = row.getDouble(2)
        dy = row.getDouble(3)
        snap.drop("im")
      case None =>
        // cold start: x₀ = v (ppagerank.cc:366-371) beside the static
        // dangling indicator (dang=1 iff no out-edges)
        val frame = personalization match {
          case Some(p) => PageRank.dangling(g)
            .join(p.select(col("id"), col("v").cast("double")), Seq("id"), "left")
            .select(col("id"), col("dang"), coalesce(col("v"), lit(0.0)).as("v"))
            .withColumn("x", col("v"))
          case None => PageRank.dangling(g).withColumn("x", vCol)
        }
        if (hasV) sv = frame.agg(sum(col("v"))).head().getDouble(0)
        if (!(sv > 0)) prep.close()
        require(sv > 0, "the personalization puts no positive weight on the graph's vertices")
        sx = sv
        // init y₀ = Bx₀ = Pᵀx₀ + (dᵀx₀)v with dᵀx₀ = sx − eᵀPᵀx₀
        // (ppagerank.cc:366-377, implicit form 754-767) — ONE job whose
        // observe also measures dᵀv and dᵀ(Pᵀx₀) for the recurrence seeds
        val yraw = PageRank.spmv(prep, frame.select(col("id"), col("x").as("rank")))
        val (t, observed) = GraftSqlInternals.truncateObserved(frame
          .join(yraw, Seq("id"), "left")
          .withColumn("yraw", coalesce(col("y"), lit(0.0))).drop("y")
          .observe("agg", sum(col("yraw")), sum(col("dang") * col("yraw")),
            sum(col("dang") * vCol)))
        val row = observed("agg")
        val dtx0 = sx - row.getDouble(0)
        dv = row.getDouble(2)
        dy = row.getDouble(1) + dtx0 * dv
        initBlocks = Some(t)
        t.df.select(carry.map(col) ++ Seq(lit(0.0).as("f"), col("x"),
          (col("yraw") + lit(dtx0) * vCol).as("y")): _*)
    }

    val dtx = new ScalarSlot(0.0) // dᵀx of the step's x
    val first = new ScalarSlot(0.0) // > 0 on a sweep's first step
    val sweep = GraftSqlInternals.iterate(start, keys = Seq("id"))(innerStep(prep, _,
      alpha, beta, GraftSqlInternals.slotLit(dtx), GraftSqlInternals.slotLit(first), vCol))

    new RankSolve.Iteration[DataFrame] {
      private var power: Option[RankSolve.Iteration[DataFrame]] = None

      /** One outer inner-outer iteration: an inner Richardson sweep to η
        * (ppagerank.cc:412-465), one job per step; a sweep that converges
        * in one step hands the solve to the power kernel. Returns the outer
        * residual.
        */
      private def innerIteration(): Double = {
        // f is FIXED across the sweep, so eᵀf and dᵀf are scalars of the
        // sweep's start (eᵀy = eᵀx: B is column-stochastic)
        val sf = (alpha - beta) * sx + (1 - alpha) * sv
        val df = (alpha - beta) * dy + (1 - alpha) * dv
        first.value = 1.0
        var innerIter = 0
        var converged = false
        var outDiff = Double.MaxValue
        while (!converged && innerIter < cfg.maxInnerIter) {
          // x ← βy + f; y ← Bx in ONE job: dᵀx = β·dᵀy + dᵀf is known
          // BEFORE the job (d is static, f fixed across the sweep), so
          // y_new = Pᵀx + (dᵀx)v is an in-job column and both residuals and
          // the next step's dᵀ(Pᵀx) ride the observe
          dtx.value = beta * dy + df
          val row = sweep.step()("in")
          first.value = 0.0
          initBlocks.foreach(_.handle.unpersist(false))
          initBlocks = None
          dy = row.getDouble(0) + dtx.value * dv // dᵀy_new = dᵀ(Pᵀx) + (dᵀx)(dᵀv)
          converged = row.getDouble(1) < cfg.eta
          outDiff = row.getDouble(2)
          sx = beta * sx + sf // eᵀ(Bx) = eᵀx
          innerIter += 1
        }
        if (converged && innerIter == 1) {
          // x ← αy + (1−α)v (ppagerank.cc:467-477) in the kernel's layout:
          // x > 0, so the uniform path packs dang into its sign. The
          // kernel's first job materializes it; the sweep's blocks go after.
          val x = lit(alpha) * col("y") + lit(1 - alpha) * vCol
          val layout = if (hasV) carry.map(col) :+ x.as("rank")
            else Seq(col("id"), when(col("dang") === 1.0, -x).otherwise(x).as("rank"))
          power = Some(powerMode(sweep.frame.select(layout: _*)))
          sweep.discard()
          sx = alpha * sx + (1 - alpha) * sv
        }
        outDiff
      }

      def step(): (Double, Double) = power.fold((innerIteration(), sx))(_.step())
      def snapshot: DataFrame =
        power.fold(sweep.frame.withColumn("im", lit(true)))(_.snapshot)
      // in inner mode the rank vector is x (with y = Bx), as the reference
      // leaves the iterate in p
      def result(): DataFrame = power.fold {
        sweep.close()
        prep.close()
        sweep.frame.select(col("id"), col("x").as("rank"))
      }(_.result())
    }
    } // power-mode snapshot, or inner mode
    } // RankSolve.run
    (ranks.as[VertexRank], stats)
  }
}
