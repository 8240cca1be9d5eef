package perfbench

import java.io.File

import scala.collection.immutable.ListMap
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** One benchmark run in one JVM: set up, warm up and check, then a timed
  * closed loop with one client (the next op starts when the previous
  * one returns), then the end-of-run checks. Raw records go to
  * `<out>/result.json` (and `<out>/spans.json` when tracing); `run.py`
  * turns them into metrics.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --out DIR [--pins FILE] [--record-pins]
  */
object Main {
  def describe(t: Throwable): String = {
    val root = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq.last
    s"${root.getClass.getSimpleName}: " +
      Option(root.getMessage).getOrElse("").linesIterator.take(1).mkString.take(300)
  }

  final case class OpRecord(name: String, pass: Int, traced: Boolean, start: Double,
      seconds: Double, error: Option[String], parts: Map[String, Double],
      counters: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val record = args.contains("--record-pins")
    val workloadName = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt.get("trace").contains("1")
    val out = new File(opt("out"))
    val dataDir = opt("data")
    val cpus = Runtime.getRuntime.availableProcessors()
    val pins = new Pins(opt.get("pins").map(new File(_)), record)

    val spark = graft.GraftSession.builder(cpus)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
      .config("spark.sql.warehouse.dir", new File(out.getParentFile, "warehouse").getPath)
      .config("spark.local.dir", System.getProperty("java.io.tmpdir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = if (trace) Some(new Tracer) else None
    tracer.foreach { t =>
      spark.sparkContext.addSparkListener(new SparkSide(t))
      spark.listenerManager.register(new CatalystSide(t))
    }
    val ctx = new Ctx(spark, dataDir, seed, tracer)
    val workload = Workload(workloadName, pins)

    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    def sinceStart = (System.currentTimeMillis() - jvmStart) / 1000.0
    val sessionS = sinceStart
    workload.setup(ctx)
    val inputsS = sinceStart
    val warmChecks = workload.warm(ctx)
    val setupS = sinceStart

    // Timed phase: whole passes, the workload's constant count scaled by
    // `seconds`, and at least two (the first-pass drift needs them). The
    // count never depends on how fast the code runs, so every run of a
    // workload at the same `seconds` times the same ops. A traced run
    // traces every other occurrence of each op name, starting with half
    // the names, so each name is seen both ways and every pass carries
    // about half the tracing.
    val passes = math.max(2,
      math.round(workload.timedPasses * seconds / Workload.NominalSeconds).toInt)
    val ops = scala.collection.mutable.ArrayBuffer.empty[OpRecord]
    val seen = scala.collection.mutable.HashMap.empty[String, Int]
    val t0 = Clock.nowMs
    for (p <- 1 to passes) {
      workload.pass(ctx, p, last = p == passes).foreach { op =>
        val k = seen.getOrElse(op.name, 0)
        seen(op.name) = k + 1
        ops += run(ctx, op, p, traced = trace && (k + (op.name.hashCode & 1)) % 2 == 0, t0)
      }
    }
    val timedS = (Clock.nowMs - t0) / 1000
    // the least of four readings, each after a full GC and a pause in
    // which Spark's context cleaner can drop what the GC made unreachable
    val heapMb = {
      val mem = java.lang.management.ManagementFactory.getMemoryMXBean
      Seq.fill(4) { System.gc(); Thread.sleep(100); mem.getHeapMemoryUsage.getUsed / 1e6 }.min
    }
    val checks = warmChecks ++ workload.finish(ctx)

    out.mkdirs()
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    json.writeValue(new File(out, "result.json"), ListMap(
      "workload" -> workloadName, "seed" -> seed, "cpus" -> cpus, "setup_s" -> setupS,
      "setup_phases_s" -> ListMap("session" -> sessionS, "inputs" -> (inputsS - sessionS),
        "warm" -> (setupS - inputsS)),
      "timed_s" -> timedS, "passes" -> passes, "heap_retained_mb" -> heapMb,
      "gauges" -> workload.gauges, "checks" -> checks, "ops" -> ops))
    tracer.foreach(t => json.writeValue(new File(out, "spans.json"), t.allSpans))
    if (record) json.writeValue(new File(out, "pins.json"), pins.taken.map {
      case (q, (n, sha)) => q -> ListMap("rows" -> n, "sha" -> sha)
    })
    spark.stop()
  }

  /** Runs one op on the calling thread and times it from outside. */
  private def run(ctx: Ctx, op: Op, pass: Int, traced: Boolean, t0: Double): OpRecord = {
    val sc = ctx.spark.sparkContext
    val id = ctx.tracer.filter(_ => traced).map(_.nextId()).getOrElse(0L)
    ctx.parts = Map.empty
    ctx.traced = traced
    ctx.opId = id
    ctx.tracer.foreach(_.op = id)
    if (id != 0) {
      sc.setLocalProperty(Tracer.OpKey, id.toString)
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
    }
    val start = Clock.nowMs
    val error = try { op.body(ctx); None } catch { case NonFatal(t) => Some(describe(t)) }
    val end = Clock.nowMs
    sc.setLocalProperty(Tracer.OpKey, null)
    sc.setLocalProperty(Tracer.SpanKey, null)
    // settle this op's listener events before the next op starts
    ctx.tracer.foreach { t =>
      org.apache.spark.perfbench.ListenerBus.drain(sc)
      if (id != 0) t.span(Span(id, 0, id, op.name, "op", start, end))
      t.op = 0
    }
    try op.after(ctx) catch { case NonFatal(t) => System.err.println(s"${op.name}: ${describe(t)}") }
    OpRecord(op.name, pass, traced, start - t0, (end - start) / 1000, error, ctx.parts,
      ctx.tracer.map(_.countersOf(id)).getOrElse(Map.empty))
  }
}
