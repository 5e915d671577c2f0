package graft

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.graft.ListenerBusBridge

/** Dev tool: noise-robust per-query cost attribution. Wall-clock on this
  * host swings up to 4x between identical runs (BASELINE.md), so A/B
  * optimization decisions need channels interference cannot fake:
  * job/stage/task counts (deterministic per plan) and summed executor
  * CPU time (far steadier than wall). One warm-up rep, then `reps`
  * measured reps; reports the MIN across reps per channel (counts are
  * identical across reps; min CPU is the least-interfered rep).
  * `reps=0` is a quick look instead: no warm-up, and each query's one
  * untimed rep reports its channels and wall time and shows its rows.
  *
  * Usage: runMain graft.DevMeter [reps=N] <query> [<query>...|all]
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1); session from [[GraftSession]].
  */
object DevMeter {

  private class Meter extends SparkListener {
    val jobs = new LongAdder
    val stages = new LongAdder
    val tasks = new LongAdder
    val cpuNs = new LongAdder
    val runMs = new LongAdder
    val shufRead = new LongAdder
    val shufWrite = new LongAdder
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs.increment()
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = stages.increment()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.increment()
      val m = t.taskMetrics
      if (m != null) {
        cpuNs.add(m.executorCpuTime)
        runMs.add(m.executorRunTime)
        shufRead.add(m.shuffleReadMetrics.totalBytesRead)
        shufWrite.add(m.shuffleWriteMetrics.bytesWritten)
      }
    }
    def snapshot(): Array[Long] = Array(jobs.sum, stages.sum, tasks.sum,
      cpuNs.sum, runMs.sum, shufRead.sum, shufWrite.sum)
  }

  def main(args: Array[String]): Unit = {
    val (repArg, names0) = args.partition(_.startsWith("reps="))
    val reps = repArg.headOption.map(_.stripPrefix("reps=").toInt).getOrElse(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession(sfDir)
    val names =
      if (names0.isEmpty || names0.sameElements(Array("all")))
        SparkEntry.queries.keys.toSeq.sorted.sortBy(_.startsWith("stream_"))
      else names0.toSeq
    // Bench-style warm-up + memo prewarm so reps measure serving.
    if (reps > 0) {
      Seq("q1_pricing", "v_knn_join", "q_events_hourly").foreach { n =>
        SparkEntry.queries.get(n).foreach { fn =>
          try fn(spark, sfDir).count() catch { case _: Throwable => () }
        }
      }
      try Memo.prewarm(spark, sfDir)
      catch { case e: Throwable => System.err.println(s"prewarm failed: $e") }
    }
    println("query,rep,wall_s,jobs,stages,tasks,cpu_s,run_s,shuf_read_mb,shuf_write_mb")
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query '$name'"))
      (0 to reps).foreach { rep =>
        val meter = new Meter
        spark.sparkContext.addSparkListener(meter)
        val t0 = System.nanoTime()
        val df =
          try {
            val d = fn(spark, sfDir)
            d.write.format("noop").mode("overwrite").save()
            Some(d)
          } catch { case e: Throwable => System.err.println(s"$name failed: $e"); None }
        val wall = (System.nanoTime() - t0) / 1e9
        ListenerBusBridge.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(meter)
        val Array(j, st, tk, cpu, run, sr, sw) = meter.snapshot()
        // rep 0 is the untimed warm-up, reported only when it is the only rep
        if (rep > 0 || reps == 0)
          println(f"$name,$rep,$wall%.3f,$j,$st,$tk,${cpu / 1e9}%.3f,${run / 1e3}%.3f," +
            f"${sr / 1e6}%.2f,${sw / 1e6}%.2f")
        if (reps == 0) df.foreach(_.show(12, 60))
        spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
