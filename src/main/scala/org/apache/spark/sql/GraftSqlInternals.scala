package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, LeafExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning, PartitioningCollection, UnknownPartitioning}
import org.apache.spark.sql.classic.{DataFrame => CDataFrame, Dataset => CDataset, SparkSession => CSparkSession}
import org.apache.spark.sql.execution.{CollectMetricsExec, LogicalRDD, QueryExecution, RDDScanExec, SQLExecutionRDD, SparkPlan}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.reuse.ReuseExchangeAndSubquery
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.storage.StorageLevel

/** A per-iteration scalar (ω, dᵀx, …) that the driver sets between jobs.
  * Generated code reads it through the codegen REFERENCES ARRAY instead of
  * an inlined literal: `lit(omega)` bakes the double into the Java text, so
  * every iteration would produce different source and pay a fresh Janino
  * compile of every stage touching it. With a slot the source is
  * byte-identical across iterations and the CodeGenerator cache hits from
  * iteration 2 on. A step planned once per solve (`GraftSqlInternals.iterate`)
  * reads the slot's value as of each job's submission: the tasks carry the
  * slot serialized with the job, so the driver may set it again as soon as
  * the job has returned.
  */
final class ScalarSlot(@volatile var value: Double) extends Serializable {
  override def toString: String = value.toString
}

/** Reads a ScalarSlot. foldable=false keeps the optimizer from
  * constant-folding it into an inline literal; two reads of different slots
  * are never equal, so distinct scalars never merge.
  */
case class SlotValue(slot: ScalarSlot) extends LeafExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = slot.value
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("graftSlot", slot, classOf[ScalarSlot].getName)
    ev.copy(
      code = code"final double ${ev.value} = $ref.value();",
      isNull = FalseLiteral)
  }
}

/** A cached block of UnsafeRow payloads packed back-to-back into ONE byte
  * array — the "primitive-array rank block" representation of an iterate.
  * Caching `RDD[InternalRow]` stores two JVM objects per row (the UnsafeRow
  * wrapper + its private byte[]): at 10⁷ vertices an iterative solver
  * allocates and retires ~2·10⁷ objects per iteration, and that
  * allocator/GC/LLC churn is what caps scaling at high thread counts. A
  * chunk stores the same bytes as O(1) objects per partition; the read side
  * replays rows as a single reused UnsafeRow view — the same row-reuse
  * contract every Spark scan (Parquet, columnar cache) already has.
  *
  * Two layouts, self-described by `stride`:
  *  - stride > 0 (fixed-stride): every row of an all-fixed-width schema has
  *    the identical UnsafeRow size — one 8-byte null bitset word plus
  *    nFields 8-byte slots (nulls just set bitset bits; the size never
  *    varies) — so rows are stored at a constant stride and the offsets
  *    index is dropped entirely. The read side stays zero-copy (pointTo at
  *    i·stride). vs the generic layout this saves the 4 B/row offset AND
  *    the offset buffer's boxing (ArrayBuffer[Int] boxes — 10⁷ Integer
  *    allocations per iteration at headline scale). A payload-only variant
  *    (bitset stripped, 33% fewer bytes) was measured and REJECTED: it
  *    forces a per-row scratch memcpy on read, ~8% slower at
  *    dedicated-core thread counts where bandwidth isn't the binding
  *    constraint — zero-copy replay wins over smaller footprint.
  *  - stride == 0 (generic): raw UnsafeRow bytes back-to-back with an
  *    offsets index (row i at [offsets(i), offsets(i+1))) — any schema
  *    with variable-length fields.
  */
final class GraftRowChunk(
    val bytes: Array[Byte],
    val offsets: Array[Int], // generic layout only (empty when stride > 0)
    val n: Int,
    val stride: Int) extends Serializable

/** Growable primitive int buffer (ArrayBuffer[Int] boxes every element —
  * at 10⁷ rows/iteration that is 10⁷ Integer allocations of pure GC churn).
  */
private[sql] final class GraftIntBuffer(initial: Int) {
  private var arr = new Array[Int](initial)
  private var len = 0
  def add(v: Int): Unit = {
    if (len == arr.length) arr = java.util.Arrays.copyOf(arr, arr.length * 2)
    arr(len) = v
    len += 1
  }
  def size: Int = len
  def toArray: Array[Int] = java.util.Arrays.copyOf(arr, len)
}

object GraftSqlInternals {

  /** Column reading a slot fixed at `value`: a per-iteration scalar of a
    * step that is rebuilt every iteration, with iteration-stable codegen.
    */
  def stableLit(value: Double): Column = slotLit(new ScalarSlot(value))

  /** Column reading `slot`, which the driver sets before each job. */
  def slotLit(slot: ScalarSlot): Column = columnOf(SlotValue(slot))

  /** Column ⇄ Expression bridge (classic.ExpressionUtils is private[sql]). */
  def columnOf(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)
  def expressionOf(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** Blocks until every listener has seen every event posted so far
    * (listener events arrive asynchronously; the bus is private[spark]).
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  final case class Truncated(df: DataFrame, handle: RDD[_])

  private val ByteArrayOffset =
    org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET

  /** Pack a partition's rows into GraftRowChunk blocks (segmented so one
    * chunk's byte array stays ≤ ~64 MB). Rows out of whole-stage codegen
    * are UnsafeRows whose bytes are copied directly; any other InternalRow
    * (non-codegen tails) is converted through a per-partition
    * UnsafeProjection first.
    *
    * All-fixed-width schemas pack fixed-stride chunks (see GraftRowChunk);
    * a row whose size ever deviates from the expected stride (defensive —
    * should not happen for fixed-width schemas) demotes the partition's
    * remaining rows to the generic layout (mixed chunk kinds within a
    * partition are fine — each chunk self-describes).
    */
  private def packPartition(it: Iterator[InternalRow],
      types: Array[org.apache.spark.sql.types.DataType]): Iterator[GraftRowChunk] =
    new Iterator[GraftRowChunk] {
      private val maxChunk = 64 << 20
      private lazy val proj = org.apache.spark.sql.catalyst.expressions
        .UnsafeProjection.create(types)
      private val nFields = types.length
      // fixed-stride eligible: every field a single 8-byte slot (no
      // variable-length region), and ≤64 fields so the bitset is one word
      private val fixedEligible = nFields <= 64 &&
        types.forall(org.apache.spark.sql.catalyst.expressions.UnsafeRow.isFixedLength)
      private val fixedStride = 8 + 8 * nFields // bitset word + slots
      private var demoted = false // odd-sized row seen → generic from there on
      private var pending: org.apache.spark.sql.catalyst.expressions.UnsafeRow = _

      private def nextUnsafe(): org.apache.spark.sql.catalyst.expressions.UnsafeRow =
        it.next() match {
          case ur: org.apache.spark.sql.catalyst.expressions.UnsafeRow => ur
          case other => proj(other)
        }

      def hasNext: Boolean = pending != null || it.hasNext

      def next(): GraftRowChunk = {
        var bytes = new Array[Byte](1 << 16)
        var used = 0
        def ensure(sz: Int): Unit = if (used + sz > bytes.length) {
          var cap = bytes.length
          while (cap < used + sz) cap *= 2
          bytes = java.util.Arrays.copyOf(bytes, cap)
        }
        if (fixedEligible && !demoted) {
          var n = 0
          while (pending == null && it.hasNext && used < maxChunk) {
            val u = nextUnsafe()
            if (u.getSizeInBytes != fixedStride) { demoted = true; pending = u }
            else {
              ensure(fixedStride)
              org.apache.spark.unsafe.Platform.copyMemory(
                u.getBaseObject, u.getBaseOffset,
                bytes, ByteArrayOffset + used, fixedStride)
              used += fixedStride
              n += 1
            }
          }
          if (n > 0 || pending == null)
            return new GraftRowChunk(
              if (bytes.length == used) bytes else java.util.Arrays.copyOf(bytes, used),
              Array.emptyIntArray, n, fixedStride)
          // n == 0 && pending != null: first row already deviated — fall
          // through to the generic layout below, consuming `pending`
        }
        val offs = new GraftIntBuffer(1 << 12)
        while ((pending != null || it.hasNext) && used < maxChunk) {
          val u = if (pending != null) { val p = pending; pending = null; p }
            else nextUnsafe()
          val sz = u.getSizeInBytes
          ensure(sz)
          org.apache.spark.unsafe.Platform.copyMemory(
            u.getBaseObject, u.getBaseOffset,
            bytes, ByteArrayOffset + used, sz)
          offs.add(used)
          used += sz
        }
        offs.add(used) // sentinel: end of last row
        new GraftRowChunk(
          if (bytes.length == used) bytes else java.util.Arrays.copyOf(bytes, used),
          offs.toArray, offs.size - 1, 0)
      }
    }

  /** Replay a chunk as InternalRows through ONE reused UnsafeRow view —
    * zero-copy under both layouts (fixed-stride rows live at i·stride).
    */
  private def unpackChunks(chunks: Iterator[GraftRowChunk],
      nFields: Int): Iterator[InternalRow] =
    chunks.flatMap { c =>
      if (c.stride > 0) new Iterator[InternalRow] {
        private val row =
          new org.apache.spark.sql.catalyst.expressions.UnsafeRow(nFields)
        private var i = 0
        def hasNext: Boolean = i < c.n
        def next(): InternalRow = {
          row.pointTo(c.bytes, ByteArrayOffset + i.toLong * c.stride, c.stride)
          i += 1
          row
        }
      } else new Iterator[InternalRow] {
        private val row =
          new org.apache.spark.sql.catalyst.expressions.UnsafeRow(nFields)
        private var i = 0
        def hasNext: Boolean = i < c.n
        def next(): InternalRow = {
          row.pointTo(c.bytes, ByteArrayOffset + c.offsets(i),
            c.offsets(i + 1) - c.offsets(i))
          i += 1
          row
        }
      }
    }

  /** Cache `rows` as GraftRowChunk blocks with truncated lineage.
    * localCheckpoint matters as much as persist: persist alone keeps the
    * parent-RDD object graph alive, which deepens every iteration until the
    * scheduler or task deserializer recurses into a StackOverflowError.
    */
  private[sql] def cacheChunks(rows: RDD[InternalRow], types: Array[DataType],
      level: StorageLevel, eager: Boolean): RDD[GraftRowChunk] = {
    // row buffers may be reused by the producing operator — irrelevant
    // here, the bytes are copied into the chunk immediately
    val chunks = rows.mapPartitions(packPartition(_, types),
      preservesPartitioning = true)
    chunks.persist(level)
    chunks.localCheckpoint()
    if (eager) chunks.count()
    chunks
  }

  private[sql] def replay(chunks: RDD[GraftRowChunk], nFields: Int): RDD[InternalRow] =
    chunks.mapPartitions(unpackChunks(_, nFields), preservesPartitioning = true)

  private def truncateImpl(cdf: CDataFrame, level: StorageLevel,
      eagerCount: Boolean): Truncated = {
    val chunks = cacheChunks(cdf.queryExecution.toRdd,
      cdf.schema.fields.map(_.dataType), level, eagerCount)
    val logical = LogicalRDD.fromDataset(replay(chunks, cdf.schema.length), cdf,
      isStreaming = false)
    Truncated(CDataset.ofRows(cdf.sparkSession, logical), chunks)
  }

  /** Persist the computed rows of a DataFrame and rebuild it as a flat
    * LogicalRDD scan — what `Dataset.localCheckpoint` does, but returning
    * the underlying RDD handle so the caller can unpersist it
    * deterministically instead of waiting for the ContextCleaner. Output
    * partitioning/ordering are preserved (LogicalRDD.fromDataset), so
    * co-partitioned joins stay shuffle-free.
    */
  def truncate(df: DataFrame,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): Truncated =
    truncateImpl(df.asInstanceOf[CDataFrame], level, eagerCount = false)

  /** `truncate` + EAGER materialization in ONE job, returning the metrics of
    * any `Dataset.observe` (CollectMetrics) nodes in the plan.
    *
    * This is the single-action iteration kernel: an iterative solver needs
    * (a) the next iterate materialized + lineage-truncated and (b) a handful
    * of global scalars about it (residual, dangling mass, sum). Running a
    * separate `.agg().head()` pays one extra stage barrier plus a full
    * read-back of the just-cached data per iteration; `observe` computes the
    * same scalars in AggregatingAccumulators as a side-effect of the SAME
    * tasks that write the cache, so the per-iteration job has no dedicated
    * aggregation stage at all.
    */
  def truncateObserved(df: DataFrame,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): (Truncated, Map[String, Row]) = {
    val cdf = df.asInstanceOf[CDataFrame]
    val qe = cdf.queryExecution
    val t = truncateImpl(cdf, level, eagerCount = true)
    (t, qe.observedMetrics)
  }

  // ------------------------------------------------- plan once, execute many

  private val stepPlans = new java.util.concurrent.atomic.AtomicLong

  /** Solver steps planned by `iterate` in this JVM, one per solve. */
  def stepPlanCount: Long = stepPlans.get

  /** Start an iterative solve whose step is planned ONCE.
    *
    * The first iterate is `initial`, cached as chunks (as `truncate` does);
    * its scan is the placeholder leaf. `step` builds the next iterate from a
    * frame, and is called exactly once, over the placeholder. The physical
    * plan of that frame is kept for the whole solve, and each
    * `PlannedIteration.step()` executes a fresh copy of it over the current
    * iterate's chunks: the per-iteration driver cost drops to code
    * generation and RDD building — no DataFrame build, analysis,
    * optimization or physical planning. Per-iteration scalars enter the
    * step as `slotLit` columns and are set by the driver before each step.
    *
    * The kept plan relies on two properties of the placeholder holding for
    * every iterate, both checked here:
    *  - schema: the step's output has the iterate's column names and types,
    *    nullable only where the iterate is;
    *  - layout: with `keys`, every iterate is hash-partitioned on them at
    *    the session's shuffle width — `initial` is repartitioned if it is
    *    not, and the step's output must be — so joins on the keys need no
    *    exchange on the iterate side. Without `keys` the placeholder claims
    *    no partitioning (and no ordering in either case).
    *
    * The first iterate and the step are planned without adaptive execution,
    * whatever the session's setting: AQE re-plans from the logical plan at
    * run time, which would read the placeholder's RDD again, and a fixed
    * plan (with a layout known before it runs) is the point.
    */
  def iterate(initial: DataFrame, keys: Seq[String] = Nil)(
      step: DataFrame => DataFrame): PlannedIteration = {
    val session = initial.asInstanceOf[CDataFrame].sparkSession
    // optimized logical plan + physical plan, with the preparation rules of
    // a non-adaptive query (the subquery preparations, which omit only
    // exchange reuse, then exchange reuse)
    def planned(df: DataFrame): (LogicalPlan, SparkPlan) = session.withActive {
      val qe = session.sessionState.executePlan(
        df.asInstanceOf[CDataFrame].queryExecution.analyzed)
      (qe.optimizedPlan, ReuseExchangeAndSubquery(
        QueryExecution.prepareExecutedPlan(session, qe.sparkPlan)))
    }
    val width = session.sessionState.conf.numShufflePartitions
    def keyAttrs(output: Seq[Attribute]): Seq[Attribute] = keys.map(k =>
      output.find(_.name == k).getOrElse(
        throw new IllegalArgumentException(s"iterate has no column $k")))

    val first0 = planned(initial)
    val (logical0, physical0) =
      if (keys.isEmpty || hashedOn(first0._2.outputPartitioning,
          keyAttrs(first0._1.output), width)) first0
      else planned(initial.repartition(width, keys.map(functions.col): _*))
    val output = logical0.output
    val partitioning =
      if (keys.isEmpty) UnknownPartitioning(0)
      else HashPartitioning(keyAttrs(output), width)
    // size only: column statistics and constraints describe `initial`, not
    // the iterates that follow it
    val stats = Statistics(logical0.stats.sizeInBytes, logical0.stats.rowCount)
    val chunks = cacheChunks(
      new SQLExecutionRDD(physical0.execute(), session.sessionState.conf),
      output.map(_.dataType).toArray, StorageLevel.MEMORY_AND_DISK, eager = false)
    val rows = replay(chunks, output.length)
    val leaf = LogicalRDD(output, rows, partitioning, Nil)(session, Some(stats))

    val stepDf = step(CDataset.ofRows(session, leaf))
    val in = leaf.schema
    val out = stepDf.schema
    require(out.length == in.length && out.zip(in).forall { case (o, i) =>
      o.name == i.name && o.dataType == i.dataType && (i.nullable || !o.nullable)
    }, s"step output ${out.simpleString} does not fit the iterate ${in.simpleString}")
    val plan = planned(stepDf)._2
    stepPlans.incrementAndGet()
    require(keys.isEmpty || hashedOn(plan.outputPartitioning,
      keys.map(k => plan.output(output.indexWhere(_.name == k))), width),
      s"step output is not hash-partitioned on ${keys.mkString(", ")} at " +
        s"width $width: ${plan.outputPartitioning}")
    new PlannedIteration(session, output, partitioning, stats, rows, plan, chunks)
  }

  private def hashedOn(p: Partitioning, keys: Seq[Expression], width: Int): Boolean =
    p match {
      case HashPartitioning(es, n) => n == width && es.length == keys.length &&
        es.zip(keys).forall { case (e, k) => e.semanticEquals(k) }
      case PartitioningCollection(ps) => ps.exists(hashedOn(_, keys, width))
      case _ => false
    }

  /** A copy of `plan` that reads `rows` wherever it read the placeholder.
    * Every non-leaf node is a new instance: an exchange memoizes its shuffle
    * dependency and an observe its accumulator, so re-running the kept
    * instances would return the first run's shuffle output and metrics.
    * Leaves other than the placeholder (cached-relation scans) are shared.
    * A reused exchange points at the copy of the exchange it reuses.
    */
  private[sql] def refresh(plan: SparkPlan, placeholder: RDD[InternalRow],
      rows: RDD[InternalRow]): SparkPlan = {
    val copies = new java.util.IdentityHashMap[SparkPlan, SparkPlan]()
    def copyOf(p: SparkPlan): SparkPlan = {
      val done = copies.get(p)
      if (done != null) return done
      val fresh = p match {
        case s: RDDScanExec if s.rdd eq placeholder => s.copy(rdd = rows)
        case r: ReusedExchangeExec =>
          r.copy(child = copyOf(r.child).asInstanceOf[Exchange])
        case _ if p.children.isEmpty => p
        case _ =>
          val kids = p.children.map(copyOf)
          def arg(a: Any): Any = a match {
            case c: SparkPlan =>
              val i = p.children.indexWhere(_ eq c)
              if (i >= 0) kids(i) else c
            case cs: Seq[_] if cs.exists(_.isInstanceOf[SparkPlan]) => cs.map(arg)
            case other => other
          }
          p.makeCopy(p.productIterator.map(arg(_).asInstanceOf[AnyRef]).toArray)
      }
      copies.put(p, fresh)
      fresh
    }
    copyOf(plan)
  }

}

/** The iterate of a solve whose step was planned once
  * (`GraftSqlInternals.iterate`). `step()` runs one iteration as ONE job —
  * the next iterate materialized as cached chunks, with the step's observed
  * metrics — and retires the previous iterate's blocks. `close()` drops the
  * kept plan and the placeholder; the current iterate stays cached, since
  * `frame` is what the solve returns.
  */
final class PlannedIteration private[sql] (
    session: CSparkSession,
    output: Seq[Attribute],
    partitioning: Partitioning,
    stats: Statistics,
    private var placeholder: RDD[InternalRow],
    private var plan: SparkPlan,
    private var chunks: RDD[GraftRowChunk]) {

  private val types = output.map(_.dataType).toArray

  /** The current iterate: a scan of its cached chunks. */
  def frame: DataFrame = CDataset.ofRows(session,
    LogicalRDD(output, GraftSqlInternals.replay(chunks, types.length),
      partitioning, Nil)(session, Some(stats)).newInstance())

  /** Run the kept step over the current iterate; returns its observed
    * metrics by `observe` name.
    */
  def step(): Map[String, Row] = {
    require(plan != null, "iteration is closed")
    val exec = GraftSqlInternals.refresh(plan, placeholder,
      GraftSqlInternals.replay(chunks, types.length))
    val next = session.withActive(GraftSqlInternals.cacheChunks(
      new SQLExecutionRDD(exec.execute(), session.sessionState.conf),
      types, StorageLevel.MEMORY_AND_DISK, eager = true))
    chunks.unpersist(false)
    chunks = next
    exec.collect { case c: CollectMetricsExec => c.name -> c.collectedMetrics }.toMap
  }

  def close(): Unit = {
    plan = null
    placeholder = null
  }
}
