package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicBoolean, LongAdder}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, GraftSqlInternals, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

import graft.{SparkEntry, TestdataGraph}
import graft.graph.{ArnoldiPageRank, GraphOps, InOutPageRank, PageRank}
import graft.ingest.{EdgeStore, TranscriptGen}
import graft.model.{PageRankConfig, PageRankStats}
import graft.util.ShuffleWidth

/** The measuring probes, one main:
  *
  *  - `block [passes] [q,…]`: the bench query block (or the named queries),
  *    timed per pass, with each query's tally;
  *  - `solve a3|a4|power [reps] [iters] [sample] [synth:<n>]`: one solver on
  *    the sf graph (or a `TranscriptGen` graph of n conversations), to tol
  *    1e-7 or for exactly `iters` outer iterations; `sample` profiles the
  *    driver thread of the last rep by stack sampling;
  *  - `scale <store> <threads> [reps] [iters] [nConv]`: Bench's fixed-work
  *    scaling sample on a durable EdgeStore (built first if absent);
  *  - `plan <outDir> <suffix> <name,…>`: the formatted physical plan of each
  *    named bench query or solver step shape (`a3_power_step`,
  *    `a3_inner_step`, `a4_step`) to `<outDir>/<name>_<suffix>.txt`.
  *
  * Every session comes from one factory with Bench's conf, and every
  * measured query or solve runs under one listener [[Tally]]. Settings:
  * SPARK_GRAFT_SF_DIR (required by every subcommand that reads the sf
  * tables), SPARK_GRAFT_CPUS (local threads and shuffle width),
  * GRAFT_LOCAL_DIR (Spark's local dir) and GRAFT_EXTRA_CONF="k=v;…" (Spark
  * confs applied after the factory's own, for A/B experiments).
  *
  * sbt "runMain graft.tools.Probe <subcommand> …"
  */
object Probe {

  val usage: String = "usage: Probe block [passes] [q,...] | " +
    "solve a3|a4|power [reps] [iters] [sample] [synth:<n>] | " +
    "scale <store> <threads> [reps] [iters] [nConv] | plan <outDir> <suffix> <name,...>"

  private val stepShapes = Set("a3_power_step", "a3_inner_step", "a4_step")

  private def sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
    throw new IllegalArgumentException("SPARK_GRAFT_SF_DIR (the testdata dir) is not set"))
  private def cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  def main(args: Array[String]): Unit = {
    val code = run(args)
    if (code != 0) sys.exit(code)
  }

  /** Runs the subcommand `args` names and returns 0, or prints the usage
    * line to stderr and returns 2 when the arguments do not parse.
    */
  def run(args: Array[String]): Int = parse(args.toList) match {
    case Some(command) => command(); 0
    case None => Console.err.println(usage); 2
  }

  private def parse(args: List[String]): Option[() => Unit] = Try((args: @unchecked) match {
    case "block" :: rest if rest.size <= 2 =>
      val passes = rest.headOption.fold(3)(_.toInt)
      val only = rest.lift(1).fold(Set.empty[String])(_.split(',').toSet)
      require(only.forall(SparkEntry.queries.contains))
      () => block(passes, only)
    case "solve" :: which :: rest if Set("a3", "a4", "power")(which) =>
      val (flags, nums) = rest.partition(a => a == "sample" || a.startsWith("synth:"))
      require(nums.size <= 2)
      val synth = flags.collectFirst { case s if s.startsWith("synth:") => s.drop(6).toLong }
      () => solve(which, nums.headOption.fold(3)(_.toInt), nums.lift(1).map(_.toInt),
        flags.contains("sample"), synth)
    case "scale" :: store :: threads :: rest if rest.size <= 3 =>
      val (t, reps) = (threads.toInt, rest.headOption.fold(2)(_.toInt))
      val iters = rest.lift(1).fold(12)(_.toInt)
      // nConv defaults to Bench's GRAFT_BENCH_SCALE_NCONV: the probe size
      // changes the serial-floor arithmetic of the efficiency
      val nConv = rest.lift(2).fold(10000000L)(_.toLong)
      () => scale(store, t, reps, iters, nConv)
    case "plan" :: outDir :: suffix :: names :: Nil =>
      val ns = names.split(',').toSeq
      require(ns.forall(n => stepShapes(n) || SparkEntry.queries.contains(n)))
      () => plan(outDir, suffix, ns)
  }).toOption

  /** A local session with Bench's conf at `threads` threads and shuffle
    * width, then GRAFT_EXTRA_CONF; stopped when `f` returns.
    */
  private def withSession[T](threads: Int)(f: SparkSession => T): T = {
    val b = SparkSession.builder()
      .master(s"local[$threads]")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.local.dir", sys.env.getOrElse("GRAFT_LOCAL_DIR", "/dev/shm/graft-spark"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    for (kv <- sys.env.getOrElse("GRAFT_EXTRA_CONF", "").split(';') if kv.contains('=')) {
      val Array(k, v) = kv.split("=", 2)
      b.config(k.trim, v.trim)
    }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try f(spark) finally spark.stop()
  }

  /** What Spark ran for one query or solve: jobs, stages, tasks and Janino
    * compiles; summed executor run time, task CPU, GC and shuffle bytes;
    * and job count and stage wall time by call site ("PageRank.scala:146",
    * from the stage name Spark takes from the first frame outside its own
    * packages; a job's site is its result stage's).
    */
  final case class Tally(wallS: Double, jobs: Long, stages: Long, tasks: Long,
      compiles: Long, runMs: Long, cpuMs: Long, gcMs: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long,
      jobsBySite: Map[String, Long], stageMsBySite: Map[String, (Long, Long)]) {

    /** Jobs whose call site is in source file `file`. */
    def jobsIn(file: String): Long =
      jobsBySite.collect { case (s, n) if s.startsWith(file + ":") => n }.sum

    def summary: String = f"$wallS%7.3f s jobs=$jobs stages=$stages tasks=$tasks " +
      f"compiles=$compiles run=${runMs}ms cpu=${cpuMs}ms gc=${gcMs}ms " +
      f"shuffleRead=${shuffleReadBytes / 1048576.0}%.1fMiB " +
      f"shuffleWrite=${shuffleWriteBytes / 1048576.0}%.1fMiB"

    /** Stage wall totals and job counts by call site, largest first. */
    def bySite: Seq[String] =
      stageMsBySite.toSeq.sortBy(-_._2._1).take(12).map { case (s, (ms, n)) =>
        f"stages $ms%7d ms x$n%-4d $s" } ++
      jobsBySite.toSeq.sortBy(-_._2).take(12).map { case (s, n) => f"jobs   x$n%-4d $s" }
  }

  /** Runs `body` under a listener that tallies what Spark runs for it. The
    * listener bus is drained before and after `body`, so the tally holds
    * exactly the events of `body`'s jobs.
    */
  def tally[T](sc: SparkContext)(body: => T): (T, Tally) = {
    val jobs, stages, tasks, execRun, cpu, gc, read, write = new LongAdder
    val jobSites = new ConcurrentHashMap[String, Long]()
    val stageSites = new ConcurrentHashMap[String, (Long, Long)]()
    def site(stageName: String): String = stageName.split(" at ").last
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.increment()
        val s = if (e.stageInfos.isEmpty) "?" else site(e.stageInfos.maxBy(_.stageId).name)
        jobSites.merge(s, 1L, (a: Long, b: Long) => a + b)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        stages.increment()
        val ms = si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
        stageSites.merge(site(si.name), (ms, 1L), (a, b) => (a._1 + b._1, a._2 + b._2))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        tasks.increment()
        Option(e.taskMetrics).foreach { m =>
          execRun.add(m.executorRunTime)
          cpu.add(m.executorCpuTime / 1000000L)
          gc.add(m.jvmGCTime)
          read.add(m.shuffleReadMetrics.totalBytesRead)
          write.add(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    }
    GraftSqlInternals.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime()
      val r = body
      val wallS = (System.nanoTime() - t0) / 1e9
      GraftSqlInternals.drainListenerBus(sc)
      (r, Tally(wallS, jobs.sum, stages.sum, tasks.sum,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0,
        execRun.sum, cpu.sum, gc.sum, read.sum, write.sum,
        jobSites.asScala.toMap, stageSites.asScala.toMap))
    } finally sc.removeSparkListener(listener)
  }

  private def query(name: String): (SparkSession, String) => DataFrame =
    SparkEntry.benchOverrides.getOrElse(name, SparkEntry.queries(name))

  private def block(passes: Int, only: Set[String]): Unit = withSession(cpus) { spark =>
    SparkEntry.benchSetup(spark, sfDir)
    val names = SparkEntry.queries.keys.toSeq.sorted.filter(n => only.isEmpty || only(n))
    // a failed query is reported and left out of the sums, as Bench does
    val secs = for (p <- 1 to passes) yield names.map { name =>
      Try(tally(spark.sparkContext)(query(name)(spark, sfDir).count())._2).fold({ e =>
        println(f"[block] pass $p $name%-22s FAILED: $e")
        None
      }, { t =>
        println(f"[block] pass $p $name%-22s ${t.summary}")
        if (p == passes) t.bySite.foreach(s => println(s"[block]   $s"))
        Some(t.wallS)
      })
    }
    secs.zipWithIndex.foreach { case (s, p) =>
      println(f"[block] pass ${p + 1} total ${s.flatten.sum}%.3f s") }
    for (i <- names.indices; q = secs.flatMap(_(i)).sorted if q.nonEmpty)
      println(f"[block] ${names(i)}%-22s best=${q.head}%.3f s median=${q(q.size / 2)}%.3f s")
  }

  private def solve(which: String, reps: Int, iters: Option[Int], sample: Boolean,
      synth: Option[Long]): Unit = withSession(cpus) { spark =>
    val g = synth.fold(TestdataGraph.linkGraph(spark, sfDir)) { n =>
      val g = GraphOps.fromTranscripts(TranscriptGen.generate(spark, n), denseIds = false)
      g.edges.count()
      g
    }
    println(s"[solve] graph: V=${g.numVertices} E=${g.numEdges} " +
      s"parts=${g.edges.rdd.getNumPartitions}")
    // a fixed iteration count runs at tol 0
    val tol = if (iters.isEmpty) 1e-7 else 0.0
    def once(): PageRankStats = which match {
      case "a3" =>
        val c = InOutPageRank.InOutConfig(tol = tol)
        InOutPageRank.run(g, iters.fold(c)(n => c.copy(maxIter = n)))._2
      case "a4" =>
        val c = ArnoldiPageRank.ArnoldiConfig(tol = tol)
        ArnoldiPageRank.run(g, iters.fold(c)(n => c.copy(maxRestarts = n)))._2
      case "power" =>
        val c = PageRankConfig(tol = tol)
        PageRank.run(g, iters.fold(c)(n => c.copy(maxIter = n)))._2
    }
    for (r <- 1 to reps) {
      val (st, t) = tally(spark.sparkContext)(if (sample && r == reps) sampled(once()) else once())
      println(f"[solve] rep $r $which: outer=${st.iterations} residual=${st.residual}%.3e " +
        s"${t.summary} iterWallMs=${st.trace.map(_.wall_ms).mkString(",")}")
      t.bySite.foreach(s => println(s"[solve]   $s"))
    }
  }

  /** Runs `body` while a daemon thread samples the calling thread's stack
    * every 2 ms, then prints the samples by driver activity: where the
    * driver time between jobs goes (optimizer, physical planning, codegen
    * source, Janino, scheduling).
    */
  private def sampled[T](body: => T): T = {
    val driver = Thread.currentThread()
    val counts = new ConcurrentHashMap[String, Integer]()
    val go = new AtomicBoolean(true)
    val sampler = new Thread(() => while (go.get) {
      counts.merge(activity(driver.getStackTrace), 1, (a: Integer, b: Integer) => a + b)
      Thread.sleep(2)
    })
    sampler.setDaemon(true)
    sampler.start()
    try body finally {
      go.set(false)
      sampler.join()
      counts.asScala.toSeq.sortBy(-_._2).take(20).foreach { case (k, v) =>
        println(f"[sample] $v%5d  $k")
      }
    }
  }

  /** The first recognizable subsystem frame of a driver stack. */
  private def activity(st: Array[StackTraceElement]): String = st.collectFirst {
    case f if f.getClassName.contains("optimizer") &&
      !f.getClassName.contains("RuleExecutor") && f.getMethodName == "apply" =>
      "rule:" + f.getClassName.split("\\.").last.split("\\$").head
    case f if f.getClassName.contains("janino") => "janino-compile"
    case f if f.getClassName.contains("CodeGenerator") ||
      f.getClassName.contains("doGenCode") ||
      f.getClassName.contains("WholeStageCodegen") => "codegen-source"
    case f if f.getClassName.contains("Optimizer") ||
      f.getClassName.contains("RuleExecutor") => "optimizer"
    case f if f.getClassName.contains("QueryPlanner") ||
      f.getClassName.contains("SparkStrateg") ||
      f.getClassName.contains("EnsureRequirements") => "physical-planning"
    case f if f.getClassName.contains("CheckAnalysis") ||
      f.getClassName.contains("Analyzer") => "analysis"
    case f if f.getMethodName == "awaitResult" || f.getMethodName == "runJob" => "await-job"
    case f if f.getClassName.contains("Dataset") ||
      f.getClassName.contains("QueryExecution") => "queryexec-other"
  }.getOrElse(st.headOption.fold("?")(f =>
    f.getClassName.split("\\.").last + "." + f.getMethodName))

  private def scale(store: String, threads: Int, reps: Int, iters: Int, nConv: Long): Unit = {
    if (!new java.io.File(store + "/vertices").exists()) withSession(cpus) { s =>
      val g = GraphOps.fromTranscripts(TranscriptGen.generate(s, nConv), denseIds = false)
      EdgeStore.write(g, store, buckets = 64)
      println(s"[scale] built store at $store")
    }
    for (r <- 1 to reps) withSession(threads) { s =>
      val g = EdgeStore.read(s, store)
      val (st, t) = tally(s.sparkContext)(
        PageRank.run(g, PageRankConfig(tol = 0.0, maxIter = iters))._2)
      val walls = st.trace.map(_.wall_ms)
      val steady = (if (walls.size > 4) walls.drop(2) else walls).sorted
      val best = steady.head / 1000.0
      val med = steady(steady.size / 2) / 1000.0
      println(f"[scale] threads=$threads rep=$r best=$best%.3f median=$med%.3f " +
        f"edges=${g.numEdges} eps_best=${g.numEdges / best}%.0f ${t.summary}")
    }
  }

  private def plan(outDir: String, suffix: String, names: Seq[String]): Unit =
    withSession(cpus) { spark =>
      if (names.exists(!stepShapes(_))) SparkEntry.benchSetup(spark, sfDir)
      Files.createDirectories(Paths.get(outDir))
      for (name <- names) {
        val text =
          if (stepShapes(name)) stepPlan(spark, name)
          else query(name)(spark, sfDir).queryExecution.explainString(FormattedMode)
        val file = s"$outDir/${name}_$suffix.txt"
        Files.write(Paths.get(file), text.getBytes(StandardCharsets.UTF_8))
        println(s"[plan] wrote $file (${text.length} chars)")
      }
    }

  /** The plan of one solver step job, built by the solver's own step
    * builder over the sf graph's cold iterate, with representative scalars:
    * InOut's power step (SpMV join, iterate join, observe) and inner-sweep
    * step, and Arnoldi's w = M·v₀ with the dot-product observe.
    */
  private def stepPlan(spark: SparkSession, name: String): String = {
    val g = TestdataGraph.linkGraph(spark, sfDir)
    ShuffleWidth.withWidth(spark, g.edges.rdd.getNumPartitions) {
      val prep = PageRank.prepare(g, PageRankConfig())
      val vCol = lit(1.0 / g.numVertices)
      val (alpha, teleport) = (0.85, GraftSqlInternals.stableLit(0.15))
      val t0 = GraftSqlInternals.truncate(PageRank.dangling(g)
        .withColumn(if (name == "a4_step") "v0" else "x", if (name == "a4_step") lit(1.0) else vCol))
      t0.handle.count()
      val step = name match {
        case "a3_power_step" => InOutPageRank.powerStep(prep, t0.df, alpha, teleport, vCol)
        case "a3_inner_step" =>
          val beta = alpha / 2
          val st = t0.df.withColumn("y", col("x")) // stand-in y of the sweep frame
            .withColumn("f", lit(alpha - beta) * col("x") + lit(1 - alpha) * vCol)
          InOutPageRank.innerStep(prep, st, alpha, beta, GraftSqlInternals.stableLit(0.01), vCol)
        case "a4_step" => ArnoldiPageRank.mMult(prep, t0.df, "v0", alpha, teleport, vCol)
          .observe("dots", sum(col("v0") * col("w")), sum(col("w") * col("w")))
      }
      try step.queryExecution.explainString(FormattedMode)
      finally t0.handle.unpersist(false)
    }
  }
}
