package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.graph.LinkGraph
import graft.model.Edge

/** Durable CSR-like edge layout (SURVEY.md §1.2): normalized + raw edges
  * written bucketed by `pmod(hash(src), buckets)` as parquet partition
  * directories — metastore-free bucketing that survives across sessions —
  * sorted within files by (src, dst), mirroring the reference's per-row
  * column sort (/root/reference/petsc_util.cc:714-722) and block row
  * partitioning (petsc_util.cc:331-344).
  *
  * Layout (the only one; `_meta.txt` says `layout=2`): ONE parquet tree
  * `data/tbl={norm,raw}/bucket=N/` holding both the normalized and the raw
  * (pre-normalization multiplicity) edges, discriminated by the `tbl`
  * partition column, beside `vertices/`, `dict/` and the `_meta.txt`
  * sidecar (`buckets=N`, `layout=2`). One tree means the initial write AND
  * a mergeDelta rewrite are each a single job over the discriminated union
  * instead of two per-table jobs — at the incremental-maintenance cadence
  * the per-job fixed overhead (planning + stage barriers + commit protocol)
  * was about half the merge cost. A store without `_meta.txt`, or with
  * another layout, is refused.
  *
  * Plain parquet `partitionBy` directories carry NO bucketing metadata, so a
  * bare re-read would re-shuffle the edge side of every rank-vector join.
  * `read` therefore repartitions by `src` ONCE and persists: the cached
  * InMemoryRelation advertises HashPartitioning(src), so every subsequent
  * rank-join exchange lands on the vector side only (asserted by
  * EdgeStoreSpec). The directory bucketing still pays for itself on the
  * scan: bucket pruning applies to bucket-key filters, and the read's
  * repartition moves already-clustered rows.
  */
object EdgeStore {

  def bucketCol(buckets: Int) = pmod(xxhash64(col("src")), lit(buckets)).cast("int")

  def write(g: LinkGraph, path: String, buckets: Int = 64): Unit = {
    // one discriminated union, one write job for both tables
    val unioned = g.edges.toDF().withColumn("tbl", lit("norm"))
      .unionByName(g.rawEdges.toDF().withColumn("tbl", lit("raw")))
    writeData(unioned, path, buckets)
    g.vertices.write.mode("overwrite").parquet(s"$path/vertices")
    g.dict.write.mode("overwrite").parquet(s"$path/dict")
    writeMeta(g.edges.sparkSession, path, buckets)
  }

  /** Copy the store at `src` into the local directory `dst`: exactly the
    * paths `write` lays down — `data/`, `vertices/`, `dict/` and the
    * `_meta.txt` sidecar with its checksum — and no merge state. Both paths
    * are local; the files (~200 small ones, .crc sidecars included) are
    * copied by a parallel NIO tree copy, which a sequential per-file Hadoop
    * walk would make ~3 ms a file slower.
    */
  def copy(src: String, dst: String): Unit = {
    import java.nio.file.{Files, Path, Paths, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    val (from, to) = (Paths.get(src), Paths.get(dst))
    val paths: Seq[Path] = Seq("data", "vertices", "dict", "_meta.txt", "._meta.txt.crc")
      .map(from.resolve).filter(Files.exists(_)).flatMap { p =>
        val st = Files.walk(p)
        try st.iterator().asScala.toList finally st.close()
      }
    val (dirs, files) = paths.partition(Files.isDirectory(_))
    (to +: dirs.map(d => to.resolve(from.relativize(d)))).foreach(Files.createDirectories(_))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try files.map { f =>
      pool.submit(new Runnable {
        def run(): Unit = Files.copy(f, to.resolve(from.relativize(f)),
          StandardCopyOption.REPLACE_EXISTING): Unit
      })
    }.foreach(_.get())
    finally pool.shutdown()
  }

  /** Write/overwrite the combined tree from a frame carrying
    * (src, dst, weight, tbl); dynamic mode rewrites only present partitions.
    */
  private def writeData(df: DataFrame, path: String, buckets: Int,
      dynamic: Boolean = false): Unit = {
    val w = df
      .withColumn("bucket", bucketCol(buckets))
      .repartition(col("tbl"), col("bucket"))
      .sortWithinPartitions(col("tbl"), col("bucket"), col("src"), col("dst"))
      .write.mode("overwrite")
    (if (dynamic) w.option("partitionOverwriteMode", "dynamic") else w)
      .partitionBy("tbl", "bucket")
      .parquet(s"$path/data")
  }

  /** The `_meta.txt` sidecar every merge and read consults — a text file
    * read driver-side, so no Spark job.
    */
  private def writeMeta(spark: SparkSession, path: String, buckets: Int): Unit = {
    val (fs, _) = hfs(spark, path)
    writeSmallFile(fs, s"$path/_meta.txt", s"buckets=$buckets\nlayout=2\n")
  }

  private def hfs(spark: SparkSession, path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Bucket count the store was written with, from its `_meta.txt`
    * sidecar. A store without the sidecar, or whose sidecar does not say
    * `layout=2`, is refused: merging with a guessed bucket count would prune
    * with the wrong bucket mapping and silently drop touched sources'
    * existing edges, and any other layout has no `data/` tree to read.
    */
  def readBuckets(spark: SparkSession, path: String): Int = {
    val (fs, p) = hfs(spark, s"$path/_meta.txt")
    require(fs.exists(p), s"edge store $path has no _meta.txt")
    val kv = readSmallFile(fs, p).linesIterator.flatMap(_.split("=", 2) match {
      case Array(k, v) => Some(k.trim -> v.trim)
      case _ => None
    }).toMap
    require(kv.get("layout").contains("2") && kv.contains("buckets"),
      s"edge store $path: _meta.txt must give buckets and layout=2, got $kv")
    kv("buckets").toInt
  }

  /** Total bytes under the store's data tree — driver-side FS metadata
    * only, no Spark job. Sizes the merge's shuffle width (guide: make
    * partitioning scale-adaptive, not a constant tuned for the session).
    */
  private def dataBytes(spark: SparkSession, path: String): Long = {
    val (fs, p) = hfs(spark, s"$path/data")
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  /** Scan one logical table ("norm" | "raw") as (src, dst, weight, bucket)
    * — bucket kept for partition pruning.
    */
  private def scanTbl(spark: SparkSession, path: String, tbl: String): DataFrame =
    spark.read.parquet(s"$path/data").where(col("tbl") === tbl)
      .select(col("src"), col("dst"), col("weight"), col("bucket"))

  /** Scans of the two logical tables (src, dst, weight) — callers must not
    * hardcode the physical tree shape.
    */
  def scanNorm(spark: SparkSession, path: String): DataFrame =
    scanTbl(spark, path, "norm").select(col("src"), col("dst"), col("weight"))
  def scanRaw(spark: SparkSession, path: String): DataFrame =
    scanTbl(spark, path, "raw").select(col("src"), col("dst"), col("weight"))

  // ---- merge commit protocol ----
  // A merge rewrites raw_edges and edges in two separate commits; a crash
  // between them would leave the store internally inconsistent with no
  // trace. `_merge_inprogress` is created (exclusively — concurrent merges
  // collide here) before the first rewrite and removed after the last, so
  // read()/mergeDelta can refuse a store whose last merge died mid-commit.
  // `_last_merge_tag` records the caller-supplied tag (e.g. a streaming
  // batchId) atomically with merge completion, giving at-least-once sinks an
  // idempotency cursor.

  private def markerPath(path: String) = s"$path/_merge_inprogress"

  /** Marker body records the PHASE of the interrupted operation, so an
    * operator facing a stale marker knows whether the store content can be
    * trusted: "locked" = the merge crashed (or was killed) before
    * its first write — the store is intact and deleting the marker file is
    * safe; "writing" = it crashed mid-rewrite — rebuild or restore. Markers
    * from pre-phase versions are empty → reported as unknown.
    */
  private def createMarker(fs: org.apache.hadoop.fs.FileSystem,
      m: org.apache.hadoop.fs.Path): Unit = {
    val out = fs.create(m, false) // exclusive: concurrent mutators collide here
    try out.write("locked".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def markerWriting(fs: org.apache.hadoop.fs.FileSystem,
      m: org.apache.hadoop.fs.Path): Unit = {
    val out = fs.create(m, true)
    try out.write("writing".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def requireConsistent(spark: SparkSession, path: String): Unit = {
    val (fs, m) = hfs(spark, markerPath(path))
    if (fs.exists(m)) {
      val phase = readSmallFile(fs, m)
      val advice = phase match {
        case "locked" =>
          "it died BEFORE its first write, so the store content is intact — " +
            "verify no merge process is still alive, then delete the marker " +
            "file to recover"
        case "writing" =>
          "it died mid-rewrite — rebuild the store or restore from a snapshot"
        case _ =>
          "its phase is unrecorded (pre-phase marker): it may have died " +
            "before writing anything (store intact — delete the marker after " +
            "verifying the data) or mid-rewrite (rebuild or restore)"
      }
      throw new IllegalArgumentException(
        s"requirement failed: edge store $path has an unfinished " +
          s"merge (${m.getName} present, phase=" +
          s"${if (phase.isEmpty) "unknown" else phase}): $advice")
    }
  }

  /** Tag recorded by the last completed merge (None for never-merged or
    * pre-tag stores).
    */
  def lastMergeTag(spark: SparkSession, path: String): Option[Long] = {
    val (fs, p) = hfs(spark, s"$path/_last_merge_tag")
    if (fs.exists(p)) Some(readSmallFile(fs, p).toLong) else None
  }

  /** Run identity recorded alongside the last merge tag (None for stores
    * merged without one). The tag (a streaming batchId) is only a valid
    * idempotency cursor WITHIN one streaming run: a fresh query checkpoint
    * restarts batchIds at 0, so a cursor compared across runs silently
    * skips genuinely new batches — callers scope the cursor by recording
    * the run identity with it (IncrementalRank.maintain).
    */
  def lastMergeRun(spark: SparkSession, path: String): Option[String] = {
    val (fs, p) = hfs(spark, s"$path/_last_merge_run")
    if (fs.exists(p)) Some(readSmallFile(fs, p)) else None
  }

  private def writeSmallFile(fs: org.apache.hadoop.fs.FileSystem,
      path: String, body: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val out = fs.create(p, true)
    try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Body of a small sidecar file, trimmed. */
  private def readSmallFile(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8).trim
    finally in.close()
  }

  final case class MergeStats(
      touchedSrcs: Long, affectedBuckets: Int, totalBuckets: Int,
      newVertices: Long)

  /** Incrementally fold a delta of RAW edges (src, dst, weight=multiplicity
    * to ADD; negative multiplicity deletes) into a durable store, touching
    * only the data that can change:
    *
    *  - bucket pruning: only the bucket directories whose hash range
    *    contains a delta src are read or rewritten (dynamic partition
    *    overwrite) — at web scale a small delta touches a handful of the
    *    store's buckets and the other ~99% of bytes are never opened;
    *  - src-level renormalization: within an affected bucket, rows of
    *    untouched sources pass through verbatim (anti-join on the delta src
    *    set — broadcast while small, shuffle above ~5M touched srcs);
    *    only touched src groups re-aggregate and re-divide
    *    by their new out-sum — normalization is per-source, so this is
    *    exactly the minimal recompute set.
    *
    * This is the batch-incremental analogue of the reference's script mode
    * (normalize once, reuse across queries — ppagerank_main.cc:408-467)
    * extended with maintenance the reference lacks: the stored matrix stays
    * row-stochastic under edge arrivals without a full rebuild.
    */
  def mergeDelta(spark: SparkSession, path: String, deltaRaw: DataFrame,
      deltaDict: Option[DataFrame] = None, tag: Option[Long] = None,
      runId: Option[String] = None): MergeStats = {
    import org.apache.spark.sql.{GraftSqlInternals => GI}
    import spark.implicits._
    requireConsistent(spark, path)
    // in-progress marker, taken BEFORE the meta read and the store scans:
    // exclusive create — a concurrent merge fails here instead of
    // interleaving. Failures before the first write release the marker (the
    // store is untouched); from the first write on, a crash leaves it so
    // read()/mergeDelta refuse the possibly-inconsistent store.
    val (mfs, mpath) = hfs(spark, markerPath(path))
    createMarker(mfs, mpath)
    var wroteAnything = false
    def noteFirstWrite(): Unit =
      if (!wroteAnything) { wroteAnything = true; markerWriting(mfs, mpath) }
    try {
    val buckets = readBuckets(spark, path)
    // Shuffle width sized to the store's own bytes (~8 MB parquet per
    // partition), never above the session width: an incremental merge over a
    // small (or small-remaining-after-bucket-pruning) store otherwise pays a
    // full session-width task wave for each of its ~8 micro-stages — measured
    // 2.1 s → ~1.2 s on the bench store. A 100 TB store keeps the session
    // width (the cap only ever narrows).
    val mergeWidth = math.max(2L, math.min(
      spark.conf.get("spark.sql.shuffle.partitions", "200").toLong,
      dataBytes(spark, path) / (8L << 20) + 1)).toInt
    graft.util.ShuffleWidth.withWidth(spark, mergeWidth) {
    // bucket-membership bitmask: ⌈buckets/64⌉ `bit_or` words, word w
    // holding buckets 64w…64w+63, ride as observe accumulators on the jobs
    // that materialize data anyway (no dedicated distinct+collect job). A
    // word no row reached is null.
    val words = (buckets + 63) / 64
    def bucketMask(b: Column): Seq[Column] =
      Seq.tabulate(words)(w => bit_or(when(b.between(64 * w, 64 * w + 63),
        call_function("shiftleft", lit(1L), b - 64 * w))).as(s"mask$w"))
    def maskToBuckets(r: Row, at: Int): Seq[Int] =
      (0 until buckets).filter { b =>
        val w = at + b / 64
        !r.isNullAt(w) && ((r.getLong(w) >>> (b % 64)) & 1L) == 1L
      }
    val delta = deltaRaw
      .select(col("src").cast("long"), col("dst").cast("long"),
        col("weight").cast("double"))
      .groupBy(col("src"), col("dst")).agg(sum(col("weight")).as("weight"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // ---- job 1: touched srcs (cached for the joins) + their count and
    // bucket set as observe side-metrics of the same materialization ----
    val affSrcsPre = delta.select(col("src")).distinct()
    val (affT, affObs) = GI.truncateObserved(affSrcsPre.observe("aff",
      count(lit(1)).as("n"),
      bucketMask(pmod(xxhash64(col("src")), lit(buckets)).cast("int")): _*))
    val nTouched = affObs("aff").getLong(0)
    val affBuckets = maskToBuckets(affObs("aff"), 1)
    // broadcast the touched-src set only while it is actually small; a bulk
    // delta (e.g. a backfill touching 10^8 sources) must shuffle-join or the
    // broadcast would OOM the driver
    val affSrcs = if (nTouched <= 5000000L) broadcast(affT.df) else affT.df

    // ---- vertex-domain growth (read-only observe job), submitted BEFORE
    // the merge materialization so it overlaps it (guide §2.6: independent
    // jobs back-fill each other's tails; it reads only the cached delta and
    // the vertices tree, disjoint from everything the merge reads/writes).
    // Its result is awaited after the data rewrite; the append write below
    // stays sequenced after noteFirstWrite like every other mutation. ----
    val vertsScan = spark.read.parquet(s"$path/vertices")
    val vertPool = java.util.concurrent.Executors.newSingleThreadExecutor(
      (r: Runnable) => { // daemon: a merge failing before the await must
        val t = new Thread(r) // not leave a non-daemon thread pinning the JVM
        t.setDaemon(true)
        t.setName("edgestore-vertex-growth")
        t
      })
    val newFut = vertPool.submit(
      new java.util.concurrent.Callable[(GI.Truncated, Map[String, org.apache.spark.sql.Row])] {
        def call() = GI.truncateObserved(
          delta.select(col("src").as("id"))
            .union(delta.select(col("dst").as("id"))).distinct()
            .join(vertsScan, Seq("id"), "left_anti")
            .observe("nv", count(lit(1)).as("n")))
      })

    // ---- job 2: ONE materialization of everything the rewrites need.
    // Eager checkpoint before the first overwrite is load-bearing: every
    // frame below reads the store's parquet files, and a lazy recompute
    // after the rewrite would re-read already-rewritten files (double-
    // applying the delta or resolving stale listings). Raw and normalized
    // rows travel in one discriminated union so one job materializes both;
    // the written-raw bucket set (for emptied-bucket cleanup) rides as an
    // observe mask on the same tasks. ----
    val rawAff = scanTbl(spark, path, "raw")
      .where(col("bucket").isin(affBuckets: _*)) // partition pruning
      .select(col("src"), col("dst"), col("weight"))
    val keepRaw = rawAff.join(affSrcs, Seq("src"), "left_anti")
    val touchedRaw = rawAff.join(affSrcs, Seq("src"), "left_semi")
      .unionByName(delta)
      .groupBy(col("src"), col("dst")).agg(sum(col("weight")).as("weight"))
      .where(col("weight") > 0) // net-negative multiplicity = edge removed
    // normalized rows of touched srcs: per-src window re-divide (one pass,
    // no groupBy+rejoin; multiplicities are exact-integer doubles so the
    // summation-order change is value-identical)
    val touchedNorm = touchedRaw
      .withColumn("weight", col("weight") /
        sum(col("weight")).over(org.apache.spark.sql.expressions.Window.partitionBy(col("src"))))
    val keepNorm = scanTbl(spark, path, "norm")
      .where(col("bucket").isin(affBuckets: _*))
      .select(col("src"), col("dst"), col("weight"))
      .join(affSrcs, Seq("src"), "left_anti")
    val unioned0 = keepRaw.unionByName(touchedRaw).withColumn("tbl", lit("raw"))
      .unionByName(
        keepNorm.unionByName(touchedNorm).withColumn("tbl", lit("norm")))
    val presentMask = bucketMask(when(col("tbl") === "raw",
      pmod(xxhash64(col("src")), lit(buckets)).cast("int")))
    val (mergedT, mergedObs) = GI.truncateObserved(
      unioned0.observe("present", presentMask.head, presentMask.tail: _*))
    val merged = mergedT.df

    // Rewrite only the affected bucket dirs (dynamic partition overwrite);
    // the checkpoint above bounds the rewrite to affected-bucket bytes. The
    // marker (taken at entry) stays on disk through the rewrites, the
    // emptied-bucket cleanup, and the vertex append, and is removed only
    // once all are durable.
    noteFirstWrite()
    // BOTH tables land in ONE rewrite job — the merged union already
    // carries the tbl discriminator
    writeData(merged, path, buckets, dynamic = true)

    // dynamic overwrite replaces only partitions PRESENT in the written
    // frame — an affected bucket whose rows were all deleted must be
    // cleared explicitly or its stale files would survive
    val presentBuckets = maskToBuckets(mergedObs("present"), 0).toSet
    val emptied = affBuckets.filterNot(presentBuckets)
    for (t <- Seq("raw", "norm"); b <- emptied) {
      val (fs, p) = hfs(spark, s"$path/data/tbl=$t/bucket=$b")
      if (fs.exists(p)) fs.delete(p, true)
    }

    // ---- vertex-domain growth: await the overlapped observe job ----
    val (newT, newObs) =
      try newFut.get()
      finally vertPool.shutdown()
    val newVerts = newT.df
    val nNew = newObs("nv").getLong(0)
    if (nNew > 0) {
      newVerts.write.mode("append").parquet(s"$path/vertices")
      deltaDict.foreach { dd =>
        dd.join(newVerts, Seq("id"), "left_semi")
          .select(col("conv_id"), col("id"))
          .write.mode("append").parquet(s"$path/dict")
      }
    }
    tag.foreach(t => writeSmallFile(mfs, s"$path/_last_merge_tag", t.toString))
    runId match {
      case Some(r) => writeSmallFile(mfs, s"$path/_last_merge_run", r)
      case None =>
        // an unscoped merge invalidates any previous run's claim on the
        // cursor: leaving a stale _last_merge_run would let that run resume
        // later and validate (storedRun == runId) against a _last_merge_tag
        // it did not write, silently skipping its early batches — exactly
        // the failure the run scoping exists to prevent
        val rp = new org.apache.hadoop.fs.Path(s"$path/_last_merge_run")
        if (mfs.exists(rp)) mfs.delete(rp, false)
    }
    mfs.delete(mpath, false)
    affT.handle.unpersist(false); mergedT.handle.unpersist(false)
    newT.handle.unpersist(false); delta.unpersist()
    MergeStats(nTouched, affBuckets.size, buckets, nNew)
    } // withWidth
    } catch { case t: Throwable =>
      // nothing was written yet → the store is untouched; release the
      // marker so the failure is not misreported as a crashed half-commit
      if (!wroteAnything) mfs.delete(mpath, false)
      throw t
    }
  }

  def read(spark: SparkSession, path: String): LinkGraph = {
    import spark.implicits._
    requireConsistent(spark, path)
    readBuckets(spark, path) // refuses a store without a layout-2 sidecar
    // edges and vertices are repartitioned at the SAME (session) width so the
    // solvers' iterate joins stay co-partitioned; the solvers then cap their
    // iteration width to edges.rdd.getNumPartitions — which equals this
    // width by construction. (Repartitioning by an explicit data-derived
    // count would also work, but both sides must agree or every iteration
    // re-exchanges one side.)
    val edges = scanNorm(spark, path).as[Edge]
      .repartition(col("src")) // restore co-partitioning for rank joins
      .persist(StorageLevel.MEMORY_AND_DISK)
    val rawEdges = scanRaw(spark, path).as[Edge]
    val vertices = spark.read.parquet(s"$path/vertices")
      .repartition(col("id")) // co-partition with the edge layout (see
      .persist()              // GraphOps.normalizeFrom)
    val dict = spark.read.parquet(s"$path/dict")
    LinkGraph(edges, rawEdges, vertices, dict, vertices.count(), edges.count())
  }
}
