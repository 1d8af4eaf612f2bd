package graft.tools

import org.apache.spark.sql.{GraftSqlInternals, SparkSession}
import org.apache.spark.sql.functions._

import graft.TestdataGraph
import graft.graph.{InOutPageRank, PageRank}
import graft.model.PageRankConfig

/** Dumps the physical plan of ONE inner-outer power-phase step job
  * (`InOutPageRank.powerStep`: SpMV join + iterate join + observe), for the
  * plans/r06 evidence. Args: <outFile> [<innerOutFile>] — the optional
  * second file gets the INNER-sweep step job's plan
  * (`InOutPageRank.innerStep`: y_new in-job from a dᵀx known before the
  * job, inner+outer residuals and the next dᵀ(Pᵀx) on the observe). Both
  * steps are the solver's own builders, run with representative scalars.
  */
object InOutStepDump {
  def main(args: Array[String]): Unit = {
    val outFile = args(0)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val g = TestdataGraph.linkGraph(spark, sfDir)
    graft.util.ShuffleWidth.withWidth(spark, g.edges.rdd.getNumPartitions) {
      val prep = PageRank.prepare(g, PageRankConfig())
      val vCol = lit(1.0 / g.numVertices)
      val t0 = GraftSqlInternals.truncate(PageRank.dangling(g).withColumn("x", vCol))
      t0.handle.count()
      val frame = t0.df
      val next = InOutPageRank.powerStep(prep, frame, 0.85,
        GraftSqlInternals.stableLit(0.15), vCol)
      val plan = next.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
        plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[dump] wrote $outFile (${plan.length} chars)")

      args.drop(1).headOption.foreach { innerOut =>
        // the inner-sweep step job (InOutPageRank inner branch, round-6
        // single-job form), with representative scalar values
        val alpha = 0.85; val beta = alpha / 2
        val st = t0.df
          .withColumn("y", col("x")) // stand-in y column of the sweep frame
          .withColumn("f", lit(alpha - beta) * col("x") + lit(1 - alpha) * vCol)
        val inner = InOutPageRank.innerStep(prep, st, alpha, beta,
          GraftSqlInternals.stableLit(0.01), vCol)
        val p2 = inner.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(java.nio.file.Paths.get(innerOut),
          p2.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"[dump] wrote $innerOut (${p2.length} chars)")
      }
    }
    spark.stop()
  }
}
