package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. It calls graft only through its public entry
  * points (`SparkEntry.queries`, `MetadataStar.materialize`,
  * `Registries.materialize`, the `DocStreams`/`EmbStreams` flows) and
  * writes raw per-query and per-batch records as JSON lines; `run.py`
  * turns them into metrics and checks the outputs.
  *
  * Usage: Main <workload> <dataDir> <outDir> <seconds> <trace 0|1>
  */
object Main {
  private val Cpus = Runtime.getRuntime.availableProcessors()

  /** Queries the batch workload runs. A full pass over all 145 registered
    * queries takes about 95 s on `local[4]` at sf0.01, which does not fit
    * the run budget, so the workload runs this many, evenly spaced through
    * the sorted registry: no query is picked by hand, every prefix family
    * is represented in proportion, and every run runs the same queries. */
  val SampleSize = 10

  def sampledQueries: Seq[String] = {
    val all = graft.SparkEntry.queries.keys.toSeq.sorted
    (0 until SampleSize).map(i => all(i * all.size / SampleSize))
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, outDir, secondsArg, traceArg) = args
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    new File(outDir).mkdirs()
    val out = new PrintWriter(new File(outDir, "records.jsonl"))
    val rec = new Records(out)

    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", 1 << 21)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$outDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$outDir/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "4096")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftExtensions.registerAll(spark)
    val sessionMs = System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime
    rec.emit("session", "ms" -> sessionMs, "cores" -> Cpus,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20))

    try {
      if (workload == "stream_ingest") new StreamRun(spark, dataDir, outDir, rec).run(seconds, traced)
      else new BatchRun(spark, dataDir, outDir, rec, sampledQueries).run(seconds, traced)
    } finally {
      rec.emit("memory", "peak_rss_mb" -> peakRssMb())
      out.close()
      spark.stop()
    }
  }

  /** The JVM's peak resident set (VmHWM), read from procfs. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }

  /** Load average and all-cores spin, recorded before and after the timed
    * window. Reported with the run, never used to adjust a metric. The
    * first spin of a JVM runs partly interpreted, so the "before" stamp
    * spins once unrecorded. */
  def stamp(rec: Records, when: String): Unit = {
    if (when == "before") graft.Calib.spinMt()
    rec.emit("stamp", "when" -> when,
      "load_avg" -> ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage,
      "spin_mt_s" -> graft.Calib.spinMt())
  }

  def timed(rec: Records, what: String)(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    f
    rec.emit("setup", "step" -> what, "ms" -> (System.nanoTime() - t0) / 1e6)
  }
}

/** JSON-lines writer for flat records of numbers, booleans and strings. */
final class Records(out: PrintWriter) {
  private def value(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case d: Double if d.isNaN || d.isInfinite => "null"
    case x => x.toString
  }
  def emit(kind: String, fields: (String, Any)*): Unit = synchronized {
    out.println((("kind" -> kind) +: fields)
      .map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}"))
    out.flush()
  }
}

/** Closed loop over the batch workload's queries: one client runs them in
  * sorted order, one at a time, in whole passes. */
final class BatchRun(spark: SparkSession, dir: String, outDir: String,
                     rec: Records, names: Seq[String]) {
  import Main._

  private val sc = spark.sparkContext

  private def persistentIds: Set[Int] = sc.getPersistentRDDs.keySet.toSet

  /** Drops what a query left cached, after counting it. */
  private def releaseCaches(before: Set[Int]): Int = {
    val leaked = persistentIds -- before
    spark.catalog.clearCache()
    sc.getPersistentRDDs.foreach { case (id, r) =>
      if (leaked.contains(id)) r.unpersist(blocking = true) }
    leaked.size
  }

  def run(seconds: Double, traced: Boolean): Unit = {
    timed(rec, "meta_materialize")(graft.meta.MetadataStar.materialize(spark, dir))
    // no sampled query reads a stored registry, and building them all
    // takes 17-28 s, a fifth of the run budget: only the traced run builds
    // them, for the store layer's per-layer number
    if (traced) timed(rec, "store_materialize")(graft.store.Registries.materialize(spark, dir))
    // warm-up on the workload's own inputs: each query once written out
    // (the results run.py checks against the oracles) and once as the
    // timed passes run it
    val oracles = graft.SparkEntry.oracleSql
    names.foreach { n =>
      rec.emit("oracle", "name" -> n, "sql" -> oracles.getOrElse(n, ""))
    }
    timed(rec, "warmup") {
      names.foreach { n =>
        val before = persistentIds
        val w0 = System.nanoTime()
        val err = try {
          graft.SparkEntry.queries(n)(spark, dir)
            .write.mode("overwrite").parquet(s"$outDir/results/$n")
          releaseCaches(before)
          graft.SparkEntry.queries(n)(spark, dir).write.format("noop").mode("overwrite").save()
          ""
        } catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}" }
        releaseCaches(before)
        rec.emit("warmup", "name" -> n, "ms" -> (System.nanoTime() - w0) / 1e6,
          "error" -> err.take(300))
      }
    }
    stamp(rec, "before")
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // whole passes in sorted order, at least three, then more while the
    // next one is expected to end within the window: every query's best
    // time comes from a comparable number of executions. A traced run
    // alternates untraced and traced passes, so the tracing overhead is
    // measured within one JVM on the same inputs, the untraced passes
    // bracketing the traced ones.
    val tracer = new Tracer
    val spans = new SpanLog
    var execId = 0L
    var pass = 0
    var lastPass = 0.0
    while (pass < 3 || elapsed + lastPass < seconds) {
      val tracing = traced && pass % 2 == 1
      if (tracing) { sc.addSparkListener(tracer); spark.listenerManager.register(tracer) }
      val passStart = System.nanoTime()
      names.foreach { n =>
        execId += 1
        if (tracing) runTraced(n, pass, execId, tracer, spans) else runPlain(n, pass)
      }
      if (tracing) {
        org.apache.spark.perfbench.BusDrain(sc)
        sc.removeSparkListener(tracer); spark.listenerManager.unregister(tracer)
      }
      lastPass = (System.nanoTime() - passStart) / 1e9
      rec.emit("pass", "pass" -> pass, "traced" -> tracing, "ms" -> lastPass * 1000)
      pass += 1
    }
    if (traced) spans.write(new File(outDir, "spans.jsonl"))
    stamp(rec, "after")
  }

  private def runPlain(n: String, pass: Int): Unit = {
    val before = persistentIds
    val t0 = System.nanoTime()
    var t1 = t0
    val err = try {
      val df = graft.SparkEntry.queries(n)(spark, dir)
      t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      ""
    } catch { case e: Throwable => e.getClass.getSimpleName }
    val t2 = System.nanoTime()
    val leaked = releaseCaches(before)
    rec.emit("query", "name" -> n, "pass" -> pass, "traced" -> false,
      "build_ms" -> (t1 - t0) / 1e6, "exec_ms" -> (t2 - t1) / 1e6,
      "leaked_rdds" -> leaked, "error" -> err)
  }

  private def runTraced(n: String, pass: Int, id: Long, tracer: Tracer,
                        spans: SpanLog): Unit = {
    val before = persistentIds
    val buildTag = s"$id/build"
    val execTag = s"$id/exec"
    sc.setLocalProperty(tracer.Tag, buildTag)
    val t0 = System.nanoTime()
    var t1 = t0
    val err = try {
      val df = graft.SparkEntry.queries(n)(spark, dir)
      t1 = System.nanoTime()
      sc.setLocalProperty(tracer.Tag, execTag)
      df.write.format("noop").mode("overwrite").save()
      ""
    } catch { case e: Throwable => e.getClass.getSimpleName }
    val t2 = System.nanoTime()
    if (t1 == t0) t1 = t2
    sc.setLocalProperty(tracer.Tag, null)
    val leaked = releaseCaches(before)
    org.apache.spark.perfbench.BusDrain(sc)
    val b = tracer.take(buildTag)
    val x = tracer.take(execTag)
    val execs = tracer.drainExecutions()
    // the executed write is the last execution; any earlier ones are
    // actions run while the query was constructed
    val writePhases = execs.lastOption.map(_._2).getOrElse(Nil)
    val phases = tracer.phaseTotals(execs.lastOption.toSeq)
    def phaseMs(p: String) = phases.getOrElse(p, 0.0)
    val root = spans.add(id, -1, "query", spans.us(t0), spans.us(t2))
    val build = spans.add(id, root, "build", spans.us(t0), spans.us(t1))
    spans.addJobs(id, build, b)
    val exec = spans.add(id, root, "exec", spans.us(t1), spans.us(t2))
    writePhases.foreach { case (p, s0, s1) => spans.add(id, exec, s"plan:$p", s0 * 1000, s1 * 1000) }
    spans.addJobs(id, exec, x)
    def jobsOf(layer: String) = b.spans.filter(j => Layers.ofSite(j._3) == layer)
    val sim = jobsOf("similarity")
    rec.emit("query", "name" -> n, "pass" -> pass, "traced" -> true,
      "build_ms" -> (t1 - t0) / 1e6, "exec_ms" -> (t2 - t1) / 1e6,
      "leaked_rdds" -> leaked, "error" -> err,
      "build_jobs" -> b.jobs, "tables_read_jobs" -> jobsOf("Tables").size,
      "similarity_build_jobs" -> sim.size,
      "similarity_build_ms" -> sim.map(j => j._2 - j._1).sum,
      "analysis_ms" -> phaseMs("analysis"),
      "optimization_ms" -> phaseMs("optimization"),
      "planning_ms" -> phaseMs("planning"),
      "exec_jobs" -> x.jobs, "exec_stages" -> x.stages, "exec_tasks" -> x.tasks,
      "task_run_ms" -> x.runMs, "task_cpu_ms" -> x.cpuNs / 1e6,
      "shuffle_read_bytes" -> x.shuffleRead, "shuffle_write_bytes" -> x.shuffleWrite,
      "spill_bytes" -> x.spill, "gc_ms" -> x.gcMs)
  }
}
