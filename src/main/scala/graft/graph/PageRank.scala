package graft.graph

import org.apache.spark.sql.{Column, DataFrame, Dataset, GraftSqlInternals, ScalarSlot}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.model._

/** Damped power-method PageRank, rebuilt Spark-first.
  *
  * Semantics mirror the reference power loop
  * (/root/reference/ppagerank.cc:278-337) exactly:
  *
  *   x₀ = v (uniform 1/N by default, ppagerank.cc:291-295)
  *   y  = α·Pᵀx                    — one distributed SpMV ≙ join + sum-agg
  *   ω  = 1 − ‖y‖₁                 — single scalar folding BOTH dangling and
  *                                   teleport mass (ppagerank.cc:307-315,
  *                                   683-689): ‖αPᵀx‖₁ = α(eᵀx − dᵀx)
  *   y += ω·v
  *   δ  = ‖y − x‖₁; stop when δ < tol (ppagerank.cc:319-329)
  *
  * Physical shape — one iteration is ONE Spark job with NO dedicated
  * aggregation stage: the dangling indicator d is static, so
  * ω = α·dᵀxₖ + (1−α)·eᵀxₖ with eᵀxₖ = 1 by construction; dᵀxₖ, eᵀxₖ and
  * the residual are `observe`d (CollectMetrics accumulators) by the same
  * tasks that materialize iteration k's iterate, one iteration ahead of
  * their use — the Spark analogue of the reference's
  * one-SpMV + O(1)-allreduce step, with the allreduces folded into the
  * SpMV tasks themselves. The step is planned ONCE per solve
  * (`GraftSqlInternals.iterate`): its physical plan is built over the first
  * iterate and re-executed over each new one, with ω a driver-set slot, so
  * an iteration pays no DataFrame build, analysis, optimization or
  * physical planning — only code generation and the job. The iterate stays
  * a flat cached scan (lineage truncated every iteration); checkpoints
  * write atomic parquet snapshots beside it (resumable, north rule).
  *
  * Skew: hub sources (out-degree > saltThreshold) have their edge rows
  * salted across `saltBuckets` sub-keys and the rank vector replicated per
  * sub-key for the join — the declarative analogue of the reference's
  * nnz-weighted row redistribution (/root/reference/petsc_util.cc:1093-1263).
  * Summation is exact, so salting never changes results.
  */
object PageRank {

  final case class Prepared(
      joinEdges: DataFrame,        // (src[, salt], dst, weight)
      hubs: DataFrame,             // (src) hub sources, broadcast-sized
      saltBuckets: Int,
      saltEnabled: Boolean) {
    /** Release the frames `prepare` persisted. Salt-disabled preparation
      * persists nothing (joinEdges is the graph's own cached edge set, owned
      * by the caller); the salted path persists hubs + the salted edge copy
      * per `prepare` call, and a long-lived service that runs many solves
      * would accumulate dead cached blocks without this.
      */
    def close(): Unit = if (saltEnabled) {
      joinEdges.unpersist(false)
      hubs.unpersist(false)
    }
  }

  /** One-time per-graph preparation shared across runs (≙ script mode's
    * normalize-once, /root/reference/ppagerank_main.cc:408-467).
    */
  def prepare(g: LinkGraph, cfg: PageRankConfig): Prepared = {
    if (cfg.saltThreshold <= 0) {
      Prepared(g.edges.toDF(), null, 1, saltEnabled = false)
    } else {
      val s = cfg.saltBuckets
      val hubs = g.edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
        .where(col("outdeg") > cfg.saltThreshold)
        .select(col("src"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      hubs.count()
      val salted = g.edges.toDF()
        .join(broadcast(hubs.withColumn("is_hub", lit(true))), Seq("src"), "left")
        .withColumn("salt",
          when(col("is_hub").isNotNull, pmod(xxhash64(col("dst")), lit(s)).cast("int"))
            .otherwise(lit(0)))
        .select(col("src"), col("salt"), col("dst"), col("weight"))
        .repartition(col("src"), col("salt"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      salted.count()
      Prepared(salted, hubs, s, saltEnabled = true)
    }
  }

  /** y_raw = Pᵀx as (id, y) — the SpMV kernel (C2):
    * equi-join of edges with the rank vector on source id, then per-dst sum
    * (map-side partial agg absorbs hub in-degree skew).
    * ≙ MatMultTranspose at /root/reference/ppagerank.cc:301-305.
    */
  def spmv(prep: Prepared, x: DataFrame): DataFrame = spmv(prep, x, Seq("rank" -> "y"))

  /** Pᵀ applied to k rank columns of x at once: `cols` maps each input
    * column of x to its output column, (id, in₁…in_k) → (id, out₁…out_k),
    * in one join and one hash aggregate of k sums.
    */
  private[graph] def spmv(prep: Prepared, x: DataFrame,
      cols: Seq[(String, String)]): DataFrame = {
    // SHUFFLE_HASH on the rank-vector side: broadcasting x would serialize
    // O(V) bytes through the driver every iteration (kills scaling), and
    // sort-merge would re-sort the edge partitions every iteration; a
    // shuffled hash join streams the pre-partitioned edges and builds only
    // the per-partition slice of x.
    val joined =
      if (!prep.saltEnabled) {
        val xs = x.hint("shuffle_hash")
        prep.joinEdges.join(xs, prep.joinEdges("src") === xs("id"))
      } else {
        // replicate hub rank rows across all sub-keys
        val xs = x.join(broadcast(prep.hubs.withColumnRenamed("src", "id")
              .withColumn("is_hub", lit(true))), Seq("id"), "left")
          .withColumn("salts",
            when(col("is_hub").isNotNull,
              sequence(lit(0), lit(prep.saltBuckets - 1)))
            .otherwise(array(lit(0))))
          .select(col("id") +: explode(col("salts")).as("salt") +: cols.map(c => col(c._1)): _*)
          .hint("shuffle_hash")
        prep.joinEdges.join(xs, prep.joinEdges("src") === xs("id") &&
          prep.joinEdges("salt") === xs("salt"))
      }
    val sums = cols.map { case (in, out) => sum(col("weight") * col(in)).as(out) }
    joined.groupBy(col("dst").as("id")).agg(sums.head, sums.tail: _*)
  }

  /** Static dangling indicator (id, dang): dang = 1 iff the vertex has no
    * out-edges (C6 complement). Every rank solver carries it (or, in
    * `run`'s uniform path, its sign) so dᵀx is a free side-aggregate.
    */
  def dangling(g: LinkGraph): DataFrame = {
    val srcs = g.edges.select(col("src").as("id")).distinct().withColumn("nd", lit(1))
    g.vertices.join(srcs, Seq("id"), "left")
      .select(col("id"), when(col("nd").isNull, 1.0).otherwise(0.0).as("dang"))
  }

  /** Run from scratch or resume from the latest committed checkpoint under
    * cfg.checkpointDir (north-rule resumability; the loop is RankSolve's).
    */
  def run(g: LinkGraph, cfg: PageRankConfig = PageRankConfig(),
      runId: String = "pr", resume: Boolean = false,
      personalization: Option[DataFrame] = None,
      warmStart: Option[DataFrame] = None): (Dataset[VertexRank], PageRankStats) = {
    val spark = g.edges.sparkSession
    import spark.implicits._
    val n = g.numVertices
    val (ranks, stats) = RankSolve.run(g, runId, cfg.maxIter, cfg.tol, cfg.checkpointDir,
        cfg.checkpointEvery, resume) { resumed =>
    val prep = prepare(g, cfg)

    // personalization v (default uniform 1/n); carried as a column when given
    val vDf = personalization.map(_.select(col("id"), col("v").cast("double")))
    val hasV = vDf.isDefined

    // Iterate representation. Uniform teleport (the headline/maintenance
    // path): the dangling bit rides in the SIGN of the rank value and the
    // per-iteration frame is just (id, rank) — at 10⁷ vertices the carried
    // dang column was ~25% of the cached bytes per iteration, pure overhead
    // for a static per-vertex bit. Sound because every magnitude is strictly
    // positive (rank = α·yraw + ω·(1/n) with ω ≥ 1−α > 0), so the sign is
    // never ambiguous. The personalized path keeps the explicit (dang, v)
    // columns: with a sparse v a rank can be exactly 0.0, which cannot carry
    // a sign, so packing would silently mislabel a dangling vertex.

    // Warm start (incremental re-rank after a graph delta): x₀ = previous
    // ranks where known, teleport vector elsewhere. No explicit
    // renormalization is needed — the ω fold uses the MEASURED eᵀx, so the
    // first iteration maps any positive start vector back onto the
    // eᵀx = 1 simplex exactly (αPᵀx sums to α(eᵀx − dᵀx) and
    // ω = 1 − α(eᵀx − dᵀx) restores the total); the power method then
    // contracts from wherever the warm vector sits.
    val fallback = if (hasV) col("v") else lit(1.0 / n)
    val initial: DataFrame = {
      val base = dangling(g)
      val withV = vDf match {
        case Some(v) => base.join(v, Seq("id"), "left")
          .select(col("id"), col("dang"), coalesce(col("v"), lit(0.0)).as("v"))
        case None => base
      }
      val x0 = warmStart match {
        case Some(w0) =>
          // non-positive warm ranks are treated as missing: a sane previous
          // iterate is strictly positive, and in the packed representation a
          // zero magnitude would drop the dangling sign bit
          val w = w0.select(col("id"), col("rank").cast("double").as("rank_ws"))
          withV.join(w, Seq("id"), "left")
            .select(withV.columns.map(col).toSeq :+
              when(col("rank_ws") > 0, col("rank_ws")).otherwise(fallback).as("rank"): _*)
        case None =>
          withV.select(withV.columns.map(col).toSeq :+ fallback.as("rank"): _*)
      }
      if (hasV) x0
      else x0.select(col("id"),
        when(col("dang") === 1.0, -col("rank")).otherwise(col("rank")).as("rank"))
    }
    // a snapshot resumes only into the representation that wrote it
    val start = resumed.fold(initial) { snap =>
      require(snap.columns.toSeq == initial.columns.toSeq,
        s"checkpoint $runId carries columns ${snap.columns.mkString(",")} but this " +
          s"run iterates ${initial.columns.mkString(",")}: resume with the same " +
          "personalization, or restart")
      snap
    }
    power(prep, start, cfg.alpha, Seq("rank" -> fallback))
    } // RankSolve.run
    (ranks.as[VertexRank], stats)
  }

  /** The power kernel over a prepared start frame, for k rank columns at
    * once. `teleport` names each rank column of `start` with its teleport
    * vector vⱼ, a column over the frame. Two iterate layouts:
    *  - packed `(id, ±rank)`, one column with uniform teleport 1/n and the
    *    dangling bit in the sign (a frame without `dang`);
    *  - `(id, dang, [v,] r₁…r_k)`: personalized `run` is k = 1 with
    *    v = `col("v")`, multi-seed PPR one indicator column per seed.
    * Shared by `run`, `runMultiSeed` and InOutPageRank's power phase. One
    * job measures the start's dᵀxⱼ and eᵀxⱼ and each vⱼ's mass (a vⱼ with
    * none fails the solve, after releasing the loop and `prep`); then every
    * `step` is ONE job — one SpMV join and one aggregate for all k columns —
    * and returns (max residual, mean eᵀx) over the columns. `result` is
    * `(id, r₁…r_k)` with the rank magnitudes, and closes the loop and `prep`.
    */
  private[graph] def power(prep: Prepared, start: DataFrame, alpha: Double,
      teleport: Seq[(String, Column)]): RankSolve.Iteration[DataFrame] = {
    val packed = !start.columns.contains("dang")
    val ranks = teleport.map(_._1)
    val k = ranks.size

    // dangling indicator + magnitude of the CURRENT iterate row, under
    // either representation
    def dangOf(rank: Column): Column =
      if (packed) when(rank < 0, 1.0).otherwise(0.0) else col("dang")
    def magOf(rank: Column): Column = if (packed) abs(rank) else rank
    def p(j: Int) = col(s"p$j") // column j of the previous iterate
    def nx(j: Int) = col(s"n$j") // column j of the next iterate, magnitude

    // ωⱼ = 1 − ‖αPᵀxⱼ‖₁ = 1 − α·(eᵀxⱼ − dᵀxⱼ), with eᵀxⱼ and dᵀxⱼ measured
    // as side scalars of the previous iteration's job — same self-correcting
    // fold as the reference (ppagerank.cc:307-315). The driver sets the
    // slots before each step; the step itself is planned once, below.
    val omega = Seq.fill(k)(new ScalarSlot(0.0))
    val carry = start.columns.toSeq.filterNot(ranks.contains).map(col)
    val loop = GraftSqlInternals.iterate(start, keys = Seq("id")) { frame =>
      val contrib = spmv(prep, frame.select(col("id") +: ranks.map(r => magOf(col(r)).as(r)): _*),
        ranks.indices.map(j => ranks(j) -> s"y$j"))
      // the new magnitude is always positive; packed mode re-applies the
      // (static) dangling sign carried by the previous rank value
      val next = teleport.indices.map(j => (lit(alpha) * coalesce(col(s"y$j"), lit(0.0)) +
        GraftSqlInternals.slotLit(omega(j)) * teleport(j)._2).as(s"n$j"))
      def stored(j: Int) = if (packed) when(p(j) < 0, -nx(j)).otherwise(nx(j)) else nx(j)
      val metrics = ranks.indices.flatMap(j =>
        Seq(sum(abs(nx(j) - magOf(p(j)))), sum(dangOf(p(j)) * nx(j)), sum(nx(j))))
      frame.select(carry ++ ranks.indices.map(j => col(ranks(j)).as(s"p$j")): _*)
        .join(contrib.hint("shuffle_hash"), Seq("id"), "left")
        .select(carry ++ ranks.indices.map(p) ++ next: _*)
        // per column: residual ‖xₖ₊₁−xₖ‖₁, next dᵀx and eᵀx, observed as
        // accumulator side-effects of the SAME tasks that materialize the
        // iterate (no dedicated aggregation stage, no read-back of the
        // fresh cache)
        .observe("it", metrics.head, metrics.tail: _*)
        .select(frame.columns.toSeq.map { c =>
          val j = ranks.indexOf(c)
          if (j < 0) col(c) else stored(j).as(c)
        }: _*)
    }

    // scalars for iteration 0 / resume: dᵀxⱼ, eᵀxⱼ and eᵀvⱼ (one job, once)
    val m0 = teleport.flatMap { case (r, v) =>
      Seq(sum(dangOf(col(r)) * magOf(col(r))), sum(magOf(col(r))), sum(v)) }
    val r0 = loop.frame.agg(m0.head, m0.tail: _*).head()
    val dtx = Array.tabulate(k)(j => r0.getDouble(3 * j))
    val sx = Array.tabulate(k)(j => r0.getDouble(3 * j + 1))
    val massless = ranks.indices.filterNot(j => r0.getDouble(3 * j + 2) > 0).map(ranks)
    if (massless.nonEmpty) { loop.discard(); prep.close() }
    require(massless.isEmpty, s"no teleport mass for ${massless.mkString(", ")}: the " +
      "personalization puts no positive weight on the graph's vertices, or a seed is not one")

    new RankSolve.Iteration[DataFrame] {
      def step(): (Double, Double) = {
        for (j <- 0 until k) omega(j).value = 1.0 - alpha * (sx(j) - dtx(j))
        // ONE job: the next iterate materialized and lineage-truncated, the
        // previous iterate's blocks retired
        val row = loop.step()("it")
        for (j <- 0 until k) { dtx(j) = row.getDouble(3 * j + 1); sx(j) = row.getDouble(3 * j + 2) }
        ((0 until k).map(j => row.getDouble(3 * j)).max, sx.sum / k)
      }
      def snapshot: DataFrame = loop.frame
      def result(): DataFrame = {
        loop.close()
        prep.close() // the iterate is lineage-truncated — independent of prep's caches
        loop.frame.select(col("id") +: ranks.map(r => magOf(col(r)).as(r)): _*)
      }
    }
  }

  /** Batched multi-seed personalized PageRank: k PPR vectors (teleport
    * vector = indicator of one seed vertex each) solved SIMULTANEOUSLY as k
    * rank columns of the power kernel's frame — one edge join and one
    * materializing job per iteration TOTAL, not per seed. The reference
    * threads a single `-pvec` through one solve (ppagerank.cc:91-104); at
    * web scale the SpMV join dominates the iteration, so batching k seeds
    * cuts per-seed cost ~k-fold.
    *
    * Stops when EVERY seed's L1 residual is below tol. Returns the long
    * form (id, seed, rank).
    */
  def runMultiSeed(g: LinkGraph, seeds: Seq[Long],
      cfg: PageRankConfig = PageRankConfig(),
      runId: String = "ppr", resume: Boolean = false): (DataFrame, PageRankStats) = {
    val k = seeds.size
    require(k >= 1 && k <= 64, s"1..64 seeds supported, got $k")
    require(seeds.distinct.size == k, "duplicate seeds")
    // rank columns are named BY SEED ID (r<seed>, not r<index>): the column
    // names travel into every checkpoint, so a resume validates the exact
    // seed set, not just its size — resuming k different seeds against k
    // old columns would silently start from an unrelated state
    val teleport = seeds.map(s => s"r$s" -> when(col("id") === s, 1.0).otherwise(0.0))
    val (ranks, stats) = RankSolve.run(g, runId, cfg.maxIter, cfg.tol, cfg.checkpointDir,
        cfg.checkpointEvery, resume) { resumed =>
      // the k rank columns are the whole state; x₀_j = v_j on a cold start
      // (the reference's personalized start, ppagerank.cc:291-295)
      val stateCols = "id" +: "dang" +: teleport.map(_._1)
      val start = resumed match {
        case Some(snap) =>
          require(snap.columns.toSet == stateCols.toSet,
            s"checkpoint $runId carries columns ${snap.columns.sorted.mkString(",")} " +
              s"but seeds ${seeds.mkString(",")} were requested — seed set must match")
          snap.select(stateCols.map(col): _*)
        case None =>
          dangling(g).select(col("id") +: col("dang") +: teleport.map { case (r, v) => v.as(r) }: _*)
      }
      power(prepare(g, cfg), start, cfg.alpha, teleport)
    }
    // long form (id, seed, rank)
    val stackArgs = seeds.map(s => s"${s}L, `r$s`").mkString(", ")
    (ranks.select(col("id"), expr(s"stack($k, $stackArgs)").as(Seq("seed", "rank"))), stats)
  }
}
