package graft.ingest

import java.net.URI

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Thin table-IO layer (SURVEY.md §7). Production target is Iceberg
  * (`df.writeTo(table).append()` / `spark.read.table`); no Iceberg runtime
  * jar ships in this sandbox, so the in-sandbox implementation writes the
  * same schemas as Parquet directories and provides the two properties the
  * north rule actually depends on:
  *
  *  - **atomic snapshot commit**: write to `<dir>/.tmp_<name>`, then a single
  *    filesystem rename to `<dir>/<name>` — readers never observe a partial
  *    snapshot (≙ an Iceberg snapshot commit);
  *  - **snapshot listing/latest** for resume-from-checkpoint.
  */
object TableIO {

  private def fs(spark: SparkSession, path: String): FileSystem =
    FileSystem.get(new URI(path), spark.sparkContext.hadoopConfiguration)

  /** Atomically publish `df` as `<dir>/<name>` (parquet). */
  def commitSnapshot(df: DataFrame, dir: String, name: String): String = {
    val spark = df.sparkSession
    val f = fs(spark, dir)
    val tmp = new Path(s"$dir/.tmp_$name")
    val dst = new Path(s"$dir/$name")
    f.delete(tmp, true)
    df.write.mode("overwrite").parquet(tmp.toString)
    f.delete(dst, true)
    require(f.rename(tmp, dst), s"atomic rename failed: $tmp -> $dst")
    dst.toString
  }

  /** Committed snapshots under `dir` matching `prefix`, by numeric suffix. */
  def snapshots(spark: SparkSession, dir: String, prefix: String): Seq[(Int, String)] = {
    val f = fs(spark, dir)
    val p = new Path(dir)
    if (!f.exists(p)) return Nil
    f.listStatus(p).toSeq
      .map(_.getPath)
      .filter(x => x.getName.startsWith(prefix) && !x.getName.startsWith("."))
      .flatMap { x =>
        x.getName.stripPrefix(prefix).toIntOption.map(i => (i, x.toString))
      }
      .sortBy(_._1)
  }

  /** Append rows to a growing parquet table (metrics / lineage sidecars). */
  def appendRows(df: DataFrame, dir: String): Unit =
    df.write.mode("append").parquet(dir)

  /** Recursively delete `dir` (no-op when absent). */
  def delete(spark: SparkSession, dir: String): Unit =
    fs(spark, dir).delete(new Path(dir), true)

  // ---- per-partition lineage (north rule: "every iteration checkpointed …
  // alongside per-partition lineage and residual metrics") ----

  /** Drop what a run directory holds past iteration `iter`: the `iter_<k>`
    * snapshots with k > iter, and the rows of the `_lineage` and `_metrics`
    * sidecars with a larger `iter`. A sidecar with such rows is rewritten
    * through `.tmp_<name>` and a rename, like `commitSnapshot`. A solve that
    * resumes from `iter` calls this first: it re-commits the iterations
    * after it, and lineage rows left by an earlier commit of the same
    * iteration would be summed with the new ones.
    */
  def dropAfter(spark: SparkSession, dir: String, iter: Int): Unit = {
    val f = fs(spark, dir)
    snapshots(spark, dir, "iter_").filter(_._1 > iter).foreach(s => f.delete(new Path(s._2), true))
    for (name <- Seq("_lineage", "_metrics") if f.exists(new Path(s"$dir/$name"))) {
      val rows = spark.read.parquet(s"$dir/$name")
      if (!rows.where(col("iter") > iter).isEmpty)
        commitSnapshot(rows.where(col("iter") <= iter), dir, name)
    }
  }

  /** Per-partition lineage of a committed snapshot: one row per non-empty
    * partition with its row count and an order-independent content digest
    * (bit_xor fold of xxhash64 over all columns). Because xor is associative
    * and commutative, the fold of the per-partition digests equals the
    * whole-table digest under ANY partitioning — so resume can validate a
    * snapshot even when a different session re-splits the parquet files into
    * a different partition count.
    */
  def partitionLineage(df: DataFrame, runId: String, iter: Int): DataFrame =
    df.groupBy(spark_partition_id().as("partition_id"))
      .agg(count(lit(1)).as("row_count"),
        bit_xor(xxhash64(df.columns.map(col): _*)).as("digest"))
      .select(lit(runId).as("run_id"), lit(iter).as("iter"),
        col("partition_id"), col("row_count"), col("digest"))

  /** Commit `df` as snapshot `<dir>/iter_<iter>` AND record its
    * per-partition lineage in the `_lineage` sidecar, computed from the
    * files actually committed (not the pre-write plan), so the digest
    * certifies the bytes a resume will read.
    */
  def commitSnapshotWithLineage(df: DataFrame, dir: String, runId: String,
      iter: Int): Unit = {
    val path = commitSnapshot(df, dir, s"iter_$iter")
    appendRows(partitionLineage(df.sparkSession.read.parquet(path), runId, iter),
      s"$dir/_lineage")
  }

  /** Latest `iter_<k>` snapshot under `dir` whose content validates against
    * the lineage recorded for it (total row count + xor-fold of digests).
    * Only validated snapshots are trusted: one that fails validation, is
    * unreadable, or has no lineage rows is skipped in favour of the previous
    * one, and a `dir` without a `_lineage` table has no valid snapshot.
    * Lineage rows are summed per `iter`, so a run directory must hold one
    * commit per iteration (a fresh solve deletes it first, and a resumed one
    * drops what is past its resume point, see RankSolve).
    */
  def latestValidSnapshot(spark: SparkSession, dir: String): Option[(Int, DataFrame)] = {
    val all = snapshots(spark, dir, "iter_").reverse
    if (all.isEmpty || !fs(spark, dir).exists(new Path(s"$dir/_lineage"))) return None
    val lineage = spark.read.parquet(s"$dir/_lineage")
      .groupBy(col("iter"))
      .agg(sum(col("row_count")).as("rows"), bit_xor(col("digest")).as("digest"))
      .collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    all.view.flatMap { case (k, p) =>
      lineage.get(k).flatMap { case (expRows, expDigest) =>
        // an unreadable snapshot (partially deleted / mid-write crash) is
        // just another failed validation — fall through to the previous one
        scala.util.Try {
          val df = spark.read.parquet(p)
          val got = df.agg(count(lit(1)), bit_xor(xxhash64(df.columns.map(col): _*))).head()
          val rows = got.getLong(0)
          val digest = if (rows == 0) 0L else got.getLong(1)
          if (rows == expRows && (rows == 0 || digest == expDigest)) Some((k, df))
          else None
        }.toOption.flatten
      }
    }.headOption
  }
}
