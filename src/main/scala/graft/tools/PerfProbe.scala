package graft.tools

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.sql.SparkSession

import graft.graph.{GraphOps, PageRank}
import graft.ingest.TranscriptGen
import graft.model.PageRankConfig

/** Per-iteration cost probe at bench scale, with task-metric attribution
  * (executor run vs CPU vs GC vs shuffle) so thread-scaling losses can be
  * located instead of guessed at.
  *
  * sbt "runMain graft.tools.PerfProbe <nConv> <threads> <aqe> <broadcast>"
  * Env: GRAFT_SHUFFLE_PARTS, GRAFT_PROBE_ITERS, GRAFT_LOCAL_DIR,
  *      GRAFT_EXTRA_CONF="k=v;k=v" (extra spark confs for A/B experiments)
  */
object PerfProbe {
  def main(args: Array[String]): Unit = {
    val nConv = args(0).toLong
    val threads = args(1).toInt
    val aqe = args(2)
    val bcast = args(3) // "on" -> default 10MB, "off" -> -1
    val parts = sys.env.getOrElse("GRAFT_SHUFFLE_PARTS", threads.toString)
    val builder = SparkSession.builder()
      .master(s"local[$threads]")
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.sql.adaptive.enabled", aqe)
      .config("spark.sql.autoBroadcastJoinThreshold", if (bcast == "on") "10485760" else "-1")
      .config("spark.local.dir", sys.env.getOrElse("GRAFT_LOCAL_DIR", "/tmp"))
      .config("spark.ui.enabled", "false")
    sys.env.get("GRAFT_EXTRA_CONF").foreach { kvs =>
      kvs.split(';').filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        builder.config(k.trim, v.trim)
      }
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val turns = TranscriptGen.generate(spark, nConv)
    val g = GraphOps.fromTranscripts(turns, denseIds = false)
    g.edges.count()

    val stageAgg = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
    val runMs = new LongAdder; val cpuMs = new LongAdder; val gcMs = new LongAdder
    val serMs = new LongAdder; val deserMs = new LongAdder
    val shufFetchMs = new LongAdder; val shufWriteMs = new LongAdder
    val shufBytes = new LongAdder; val schedDelayMs = new LongAdder
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          runMs.add(m.executorRunTime)
          cpuMs.add(m.executorCpuTime / 1000000L)
          gcMs.add(m.jvmGCTime)
          serMs.add(m.resultSerializationTime)
          deserMs.add(m.executorDeserializeTime)
          shufFetchMs.add(m.shuffleReadMetrics.fetchWaitTime)
          shufWriteMs.add(m.shuffleWriteMetrics.writeTime / 1000000L)
          shufBytes.add(m.shuffleWriteMetrics.bytesWritten)
          schedDelayMs.add(
            (te.taskInfo.finishTime - te.taskInfo.launchTime) - m.executorRunTime
              - m.executorDeserializeTime - m.resultSerializationTime)
        }
      }
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
        val key = si.name.split(" at ").lastOption.getOrElse(si.name)
        stageAgg.merge(key, (wall, 1L),
          (a, b) => (a._1 + b._1, a._2 + b._2))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    val nIter = sys.env.getOrElse("GRAFT_PROBE_ITERS", "8").toInt
    val (_, stats) = PageRank.run(g, PageRankConfig(tol = 0.0, maxIter = nIter))
    val sec = (System.nanoTime() - t0) / 1e9
    Thread.sleep(500)
    import scala.jdk.CollectionConverters._
    println("stage wall-time totals (ms, count):")
    stageAgg.asScala.toSeq.sortBy(-_._2._1).take(12).foreach { case (k, (w, c)) =>
      println(f"  $w%7d ms  x$c%-3d  $k")
    }
    println(f"task-metric totals over ${nIter} iters: " +
      f"run=${runMs.sum}%d ms, cpu=${cpuMs.sum}%d ms, gc=${gcMs.sum}%d ms, " +
      f"deser=${deserMs.sum}%d ms, resultSer=${serMs.sum}%d ms, " +
      f"shufFetchWait=${shufFetchMs.sum}%d ms, shufWrite=${shufWriteMs.sum}%d ms, " +
      f"shufBytes=${shufBytes.sum / 1048576}%d MiB, schedDelay=${schedDelayMs.sum}%d ms")
    println(f"  per-iter: run=${runMs.sum / nIter}%d ms, cpu=${cpuMs.sum / nIter}%d ms " +
      f"(cpu/run=${cpuMs.sum.toDouble / runMs.sum}%.2f)")
    println(f"nConv=$nConv threads=$threads aqe=$aqe bcast=$bcast parts=$parts: " +
      f"${stats.iterations} iters in $sec%.1f s = ${sec / stats.iterations}%.2f s/iter " +
      s"(per-iter ms: ${stats.trace.map(_.wall_ms).mkString(",")})")
    spark.stop()
  }
}
