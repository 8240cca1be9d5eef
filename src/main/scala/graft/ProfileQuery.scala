package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Measurement harness (guide §1): run one named query warm, then once
  * more under a listener that records every Spark job's wall span, and
  * print the job timeline plus the DRIVER GAPS between jobs — the
  * split that says whether a query's time goes to task execution or to
  * driver-side work (planning, manifest I/O, commit protocol) between
  * jobs. Each rep's line also carries its codegen compile count and
  * compile ms, so a codegen-cache miss regression shows without a JFR
  * session. Not part of the driver contract; a profiling tool only.
  *
  * Usage: ProfileQuery <queryName> [sfDir] [reps]
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 1
    val spark = GraftSession.builder(32)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    names.foreach(n => profileOne(spark, n, sfDir, reps))
    spark.stop()
  }

  private def profileOne(spark: org.apache.spark.sql.SparkSession,
                         name: String, sfDir: String, reps: Int): Unit = {
    val fn = SparkEntry.queries(name)
    // per-action Catalyst phase totals (analysis/optimization/planning),
    // summed across every action the query triggers in a rep
    val phaseTotals = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.LongAdder]()
    val actionCount = new java.util.concurrent.atomic.LongAdder
    val qeListener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = {
        actionCount.increment()
        qe.tracker.phases.foreach { case (ph, summary) =>
          phaseTotals.computeIfAbsent(ph,
            _ => new java.util.concurrent.atomic.LongAdder)
            .add(summary.durationMs)
        }
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    // warmup
    fn(spark, sfDir).count()
    fn(spark, sfDir).count()
    spark.listenerManager.register(qeListener)

    // gap sampler: while NO job is running, sample every thread at 5 ms
    // and aggregate the first "interesting" frame — attributes the
    // driver-gap time that job spans cannot explain
    // track ids, not a counter: a JobEnd for a job started BEFORE this
    // listener registered must not underflow the gauge
    val runningIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val running = new java.util.concurrent.atomic.AtomicInteger(0)
    val sampling = new java.util.concurrent.atomic.AtomicBoolean(false)
    val gapFrames = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.LongAdder]()
    def interesting(st: Array[StackTraceElement]): Option[String] = {
      val full = st.map(_.toString)
      // skip pure-idle stacks
      if (full.isEmpty) return None
      val skip = Array("jdk.internal.misc.Unsafe.park", "java.lang.Object.wait",
        "sun.nio.ch.EPoll", "java.lang.Thread.sleep", "io.netty",
        "java.net.", "sun.nio.ch.Net.")
      if (skip.exists(full.head.startsWith)) return None
      st.collectFirst {
        case e if !e.getClassName.startsWith("java.") &&
          !e.getClassName.startsWith("jdk.") &&
          !e.getClassName.startsWith("sun.") &&
          !e.getClassName.startsWith("scala.") =>
          e.getClassName + "." + e.getMethodName
      }.orElse(Some(st.head.getClassName + "." + st.head.getMethodName))
    }
    val sampler = new Thread(() => {
      while (sampling.get()) {
        if (running.get() == 0) {
          val all = Thread.getAllStackTraces
          val it = all.entrySet().iterator()
          while (it.hasNext) {
            val e = it.next()
            val t = e.getKey
            if (t.getName != "gap-sampler" &&
                (t.getState == Thread.State.RUNNABLE)) {
              interesting(e.getValue).foreach { f =>
                gapFrames.computeIfAbsent(f,
                  _ => new java.util.concurrent.atomic.LongAdder).increment()
              }
            }
          }
        }
        Thread.sleep(5)
      }
    }, "gap-sampler")
    val gapListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        runningIds.add(e.jobId); running.set(runningIds.size)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        runningIds.remove(e.jobId); running.set(runningIds.size)
      }
    }
    spark.sparkContext.addSparkListener(gapListener)
    sampling.set(true); sampler.setDaemon(true); sampler.start()

    final case class J(id: Int, desc: String, start: Long, var end: Long,
                       var stages: Int, var tasks: Int,
                       var taskMs: Long = 0L, var deserMs: Long = 0L,
                       var gcMs: Long = 0L, var resultSerMs: Long = 0L,
                       var schedDelayMs: Long = 0L)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    val order = java.util.Collections.synchronizedList(
      new java.util.ArrayList[J]())
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val j = J(e.jobId,
          Option(e.properties.getProperty("spark.job.description"))
            .orElse(Option(e.properties.getProperty("callSite.short")))
            .getOrElse(e.stageInfos.map(_.name).lastOption.getOrElse("")),
          e.time, -1L, e.stageInfos.size, 0)
        jobs.put(e.jobId, j); order.add(j)
        e.stageInfos.foreach(si => stageToJob.put(si.stageId, j))
      }
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val j = stageToJob.get(e.stageId)
        if (j != null && e.taskInfo != null && e.taskMetrics != null) {
          j.synchronized {
            j.tasks += 1
            j.taskMs += e.taskInfo.duration
            j.deserMs += e.taskMetrics.executorDeserializeTime
            j.gcMs += e.taskMetrics.jvmGCTime
            j.resultSerMs += e.taskMetrics.resultSerializationTime
            j.schedDelayMs += math.max(0L,
              e.taskInfo.duration - e.taskMetrics.executorRunTime -
                e.taskMetrics.executorDeserializeTime -
                e.taskMetrics.resultSerializationTime)
          }
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        ()
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId); if (j != null) j.end = e.time
      }
    }
    spark.sparkContext.addSparkListener(listener)
    var r = 0
    while (r < reps) {
      order.clear(); jobs.clear()
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val compileNs0 = CodeGenerator.compileTime
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e6
      Thread.sleep(300) // let the listener bus drain
      val js = {
        val it = order.iterator(); val b = Seq.newBuilder[J]
        while (it.hasNext) b += it.next(); b.result().sortBy(_.start)
      }
      val jobTotal = js.map(j => math.max(0L, j.end - j.start)).sum
      // JVM-wide codegen cache misses during the rep (driver + local
      // executors): a warm rep of a cached plan compiles nothing, so a
      // nonzero count here is a recompile regression
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      val compileMs = (CodeGenerator.compileTime - compileNs0) / 1e6
      println(f"== $name rep$r wall=${wall}%.0f ms, ${js.size} jobs, " +
        f"sum(job spans)=$jobTotal ms, codegen compiles=$compiles " +
        f"(${compileMs}%.0f ms) ==")
      var cursor = if (js.nonEmpty) js.head.start else 0L
      var gapTotal = 0L
      js.foreach { j =>
        val gap = j.start - cursor
        if (gap > 1) { println(f"   [driver gap ${gap}%5d ms]"); gapTotal += gap }
        val dur = j.end - j.start
        println(f"  job ${j.id}%3d ${dur}%5d ms  stages=${j.stages} tasks=${j.tasks}%3d taskSum=${j.taskMs}%5d deser=${j.deserMs}%4d sched=${j.schedDelayMs}%4d gc=${j.gcMs}%3d  ${j.desc.take(60)}")
        cursor = math.max(cursor, j.end)
      }
      val phases = {
        val it = phaseTotals.entrySet().iterator()
        val b = Seq.newBuilder[(String, Long)]
        while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.sum() }
        b.result().sortBy(-_._2)
      }
      println(s"== actions=${actionCount.sum()} catalyst phases (ms, summed over actions): " +
        phases.map { case (k, v) => s"$k=$v" }.mkString(", ") + " ==")
      phaseTotals.clear(); actionCount.reset()
      r += 1
    }
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    sampling.set(false)
    spark.sparkContext.removeSparkListener(gapListener)
    val gf = {
      val it = gapFrames.entrySet().iterator()
      val b = Seq.newBuilder[(String, Long)]
      while (it.hasNext) { val e = it.next(); b += e.getKey -> e.getValue.sum() }
      b.result().sortBy(-_._2)
    }
    println(s"== gap-time RUNNABLE frames (5 ms samples while no job ran) ==")
    gf.take(25).foreach { case (f, c) => println(f"  $c%5d  $f") }
  }
}
