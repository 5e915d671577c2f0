package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.SparkSession

/** One measured op: latency, the items it served, whether its output
  * passed its checks, and the engine counters it consumed.
  */
final case class OpRecord(kind: String, path: String, latencyS: Double, items: Long,
    ok: Boolean, error: String, counters: Counters, gcMs: Long)

/** A workload: its set-up, its op schedule, and its checks. `extra`
  * carries the workload's own useful-work ratios.
  */
trait Workload {
  /** The one-time builds, run once per set-up rep; returns named build
    * seconds.
    */
  def setup(rep: Int): Map[String, Double]
  /** Untimed warm-up after the set-up reps. */
  def warmup(): Unit = ()
  /** The number of ops in one cycle of the op mix. */
  def cycleLength: Int
  /** Run op `i` (0-based) of the schedule. */
  def op(i: Int): OpOutcome
  /** Run-level checks after the measured loop. */
  def finish(): Seq[(String, Boolean, String)]
  def extra: Map[String, Any]
}

/** What one op served; `check` runs after its timer stops and returns
  * "" when the op's output is correct, else what was wrong.
  */
final case class OpOutcome(kind: String, path: String, items: Long, check: () => String)

/** Harness entry: `Main <workload> <inputsDir> <workDir> <seconds> <trace 0|1> <setupReps> <outJson>`.
  * Starts one local session, sets the workload up `setupReps` times,
  * then runs whole cycles of its op mix, closed-loop with one client,
  * until `seconds` have passed. Raw per-op records go to `outJson`;
  * run.py turns them into metrics.
  */
object Main {
  /** Reference samples taken after the warm-up, and again after the loop. */
  val RefSamples = 2

  /** Seconds for a fixed integer loop on four threads. */
  def cpuLoop(): Double = {
    val a = System.nanoTime()
    val threads = (0 until 4).map { k =>
      val t = new Thread(() => {
        var x = k + 1L
        var i = 0
        while (i < 30000000) { x = x * 6364136223846793005L + 1442695040888963407L; x ^= x >>> 29; i += 1 }
        CpuLoop.sink += x
      })
      t.start(); t
    }
    threads.foreach(_.join())
    (System.nanoTime() - a) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, inputs, work, secondsArg, traceArg, repsArg, out) = args
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"$work/checkpoints")
    val meter = new Meter
    spark.sparkContext.addSparkListener(meter)
    spark.listenerManager.register(meter)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark, meter, traced)
    val w: Workload = workload match {
      case "rag_serve" => new RagServe(spark, tracer, inputs)
      case "curate_batch" => new CurateBatch(spark, tracer, inputs)
      case "ingest_refresh" => new IngestRefresh(spark, tracer, inputs, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs: Long = gcBeans.map(_.getCollectionTime).sum

    val setups = (0 until repsArg.toInt).map { rep =>
      val s0 = System.nanoTime()
      val builds = w.setup(rep)
      Map("total_s" -> (System.nanoTime() - s0) / 1e9) ++ builds
    }
    w.warmup()
    // Two fixed reference workloads outside the engine's code: a Spark job
    // (one aggregation, one shuffle) and an integer loop on four threads.
    // A shared host's speed can drift by tens of percent within minutes;
    // op latency over the references cancels the drift while engine
    // changes still move it. The Spark job tracks the scheduling and
    // planning that bound small ops, the loop the executor CPU that bounds
    // large ones. A sample is the minimum of three runs, which filters the
    // clean-up work an op leaves behind. Samples are taken after the
    // warm-up, before every op and after the loop.
    val jobRefs, cpuRefs = mutable.ArrayBuffer[Double]()
    def reference(): Unit = {
      jobRefs += (1 to 3).map { _ =>
        val a = System.nanoTime()
        spark.range(0, 400000, 1, 4).selectExpr("sum(id % 7)").collect()
        spark.range(0, 100000, 1, 4).selectExpr("id % 64 as k").groupBy("k").count().collect()
        (System.nanoTime() - a) / 1e9
      }.min
      cpuRefs += (1 to 3).map(_ => cpuLoop()).min
    }
    reference()
    jobRefs.clear()
    cpuRefs.clear()
    (1 to RefSamples).foreach(_ => reference())

    val ops = mutable.ArrayBuffer[OpRecord]()
    val listenerNs0 = meter.handlerNs
    val loopStart = System.nanoTime()
    val deadline = loopStart + (seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < deadline || i % w.cycleLength != 0) {
      reference()
      BusDrain(spark.sparkContext)
      val before = meter.snapshot
      val gc0 = gcMs
      tracer.op = i
      val a = System.nanoTime()
      val outcome =
        try tracer.span("op", s"op$i")(w.op(i))
        catch { case e: Exception => val msg = e.toString; OpOutcome("error", "", 0L, () => msg) }
      val lat = (System.nanoTime() - a) / 1e9
      tracer.op = -1
      val err = try outcome.check() catch { case e: Exception => e.toString }
      BusDrain(spark.sparkContext)
      ops += OpRecord(outcome.kind, outcome.path, lat, outcome.items, err == null || err.isEmpty,
        Option(err).getOrElse(""), meter.snapshot.minus(before), gcMs - gc0)
      i += 1
    }
    val loopS = (System.nanoTime() - loopStart) / 1e9
    (1 to RefSamples).foreach(_ => reference())
    val listenerS = (meter.handlerNs - listenerNs0) / 1e9
    val checks = w.finish()
    // let the context cleaner drop unreferenced blocks between collections
    System.gc(); Thread.sleep(500); System.gc(); Thread.sleep(200); System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val result = Map(
      "workload" -> workload,
      "traced" -> traced,
      "session_start_s" -> sessionS,
      "setups" -> setups,
      "loop_s" -> loopS,
      "listener_s" -> listenerS,
      "reference_job_samples" -> jobRefs.toSeq,
      "reference_cpu_samples" -> cpuRefs.toSeq,
      "live_heap_mb" -> heapMb,
      "ops" -> ops.map(o => Map(
        "kind" -> o.kind, "path" -> o.path, "latency_s" -> o.latencyS, "items" -> o.items,
        "ok" -> o.ok, "error" -> o.error, "gc_ms" -> o.gcMs)
        ++ o.counters.toMap).toSeq,
      "checks" -> checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "extra" -> w.extra,
      "layers" -> (if (traced) tracer.layerTable() else Map.empty),
    )
    if (traced) {
      val lines = tracer.spanRecords(t0).map(Json(_))
      Files.write(Paths.get(s"$work/spans.jsonl"), lines.asJava)
    }
    Files.write(Paths.get(out), Json(result).getBytes("UTF-8"))
    spark.stop()
  }
}

/** Keeps the reference loop's result live, so the JIT cannot drop it. */
object CpuLoop {
  @volatile var sink = 0L
}

/** JSON for the raw result: Scala maps, sequences and primitives. */
object Json {
  private val mapper = com.fasterxml.jackson.databind.json.JsonMapper.builder()
    .addModule(com.fasterxml.jackson.module.scala.DefaultScalaModule).build()
  def apply(v: Any): String = mapper.writeValueAsString(v)
}
