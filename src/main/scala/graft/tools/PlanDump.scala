package graft.tools

import org.apache.spark.sql.{GraftSqlInternals, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.TestdataGraph
import graft.graph.{ArnoldiPageRank, PageRank}
import graft.model.PageRankConfig

/** Dumps the physical plan of one Arnoldi step job (`ArnoldiPageRank.mMult`
  * plus the dot-product observe, with a representative teleport) against the
  * memoized bench graph, to audit exchange/stage counts without
  * reverse-engineering them from listener output.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
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
    println(s"edges partitions = ${g.edges.rdd.getNumPartitions}")
    graft.util.ShuffleWidth.withWidth(spark, g.edges.rdd.getNumPartitions) {
      val prep = PageRank.prepare(g, PageRankConfig())
      val tr0 = GraftSqlInternals.truncate(PageRank.dangling(g).withColumn("v0", lit(1.0)))
      tr0.handle.count()
      val frame = tr0.df
      println("=== frame (truncated) partitioning ===")
      println(frame.queryExecution.executedPlan.outputPartitioning)
      val step = ArnoldiPageRank.mMult(prep, frame, "v0", 0.85,
          GraftSqlInternals.stableLit(0.15), lit(1.0 / g.numVertices))
        .observe("dots", sum(col("v0") * col("w")), sum(col("w") * col("w")))
      println("=== one Arnoldi step plan ===")
      step.explain("formatted")
    }
    spark.stop()
  }
}
