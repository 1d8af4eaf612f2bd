package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.graph.PageRank
import graft.model.PageRankConfig
import graft.tools.Probe

/** The probe main's listener tally and its argument handling. */
class ProbeSpec extends AnyFunSuite with SparkTestBase {

  test("the tally counts a solve's jobs by call site: iterations + 1 from PageRank.scala") {
    val g = graft.graph.GraphOps.fromTranscripts(
      graft.ingest.TranscriptGen.generate(spark, 300))
    g.edges.count()
    val sc = spark.sparkContext
    // without AQE, as the probe sessions run: AQE submits shuffle stages as
    // jobs of their own
    val aqe = "spark.sql.adaptive.enabled"
    val was = spark.conf.get(aqe)
    spark.conf.set(aqe, "false")
    try {
      val (((_, st), t), sites) = org.apache.spark.JobSites(sc)(
        Probe.tally(sc)(PageRank.run(g, PageRankConfig(tol = 1e-6))))
      assert(st.reason.converged && st.iterations > 5, s"degenerate solve: $st")
      assert(t.jobsIn("PageRank.scala") == st.iterations + 1,
        s"${t.jobsIn("PageRank.scala")} jobs for ${st.iterations} iterations: ${t.jobsBySite}")
      assert(t.jobsIn("PageRank.scala") == sites.count(_.contains(" at PageRank.scala:")))
      assert(t.jobs == sites.size)
      assert(t.plans == 1, s"step planned ${t.plans} times")
      assert(t.stages >= t.jobs && t.tasks >= t.stages && t.runMs > 0)
      assert(t.stageMsBySite.keys.exists(_.startsWith("PageRank.scala:")))
    } finally spark.conf.set(aqe, was)
  }

  test("Probe with an unknown subcommand or bad arguments fails with its usage line") {
    for (args <- Seq(Array("bogus"), Array.empty[String], Array("block", "x"),
        Array("solve", "a5"), Array("plan", "out", "after", "no_such_query"))) {
      val err = new java.io.ByteArrayOutputStream()
      val code = Console.withErr(err)(Probe.run(args))
      assert(code == 2, s"${args.mkString(" ")}: exit $code")
      assert(err.toString.trim == Probe.usage, s"${args.mkString(" ")}: $err")
    }
  }
}
