package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, StreamingQueryProgress}

/** Three ingest flows side by side, each a closed loop with one client:
  * the client publishes the flow's next drop (pre-generated by run.py, moved
  * into the source directory atomically) and waits until the flow has
  * committed it before publishing the next. Each drop is one micro-batch. */
final class StreamRun(spark: SparkSession, dir: String, outDir: String, rec: Records) {
  import Main._

  /** Seal threshold of the rolled sinks, sized so that a run crosses
    * several seal boundaries at the benchmark's drop size. */
  private val RollBytes = 48L * 1024
  private val WarmupDrops = 2

  private final class Flow(val name: String, val sinks: Seq[String],
                           start: DataFrame => DataStreamWriter[Row],
                           read: String => DataFrame) {
    val source = s"$outDir/src/$name"
    var query: StreamingQuery = _
    var published = 0
    def nextDrop: Path = Paths.get(outDir, "staging", name, f"drop-$published%05d.parquet")
    def begin(stream: DataFrame): Unit =
      query = start(stream).option("checkpointLocation", s"$outDir/ckpt/$name").start()
    /** Copies each sink, read back through graft's readers, for the
      * checks; a sink that cannot be read is left out and fails them. */
    def export(): Unit = sinks.foreach { s =>
      try read(s).write.mode("overwrite").parquet(s"$outDir/sinks/${new File(s).getName}")
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  def run(seconds: Double, traced: Boolean): Unit = {
    // the packing sink is checked against the oracle of its batch twin
    rec.emit("oracle", "name" -> "m15_interleaved_packing",
      "sql" -> graft.SparkEntry.oracleSql("m15_interleaved_packing"))
    var cents: DataFrame = null
    var codebook: DataFrame = null
    timed(rec, "stream_models") {
      val emb0 = graft.Tables(spark, dir).embeddings
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
      cents = graft.similarity.IvfPq.seedCentroids(emb0, nCells = 8).cache()
      cents.count()
      codebook = graft.similarity.IvfPq.residualCodebook(emb0, cents,
        dims = 64, m = 8, seedFrom = 8).cache()
      codebook.count()
    }
    val sink = s"$outDir/sink"
    val rolled = (d: String) => graft.streaming.RolledSink.read(spark, d)
    val plain = (d: String) => spark.read.parquet(d)
    val flows = Seq(
      new Flow("dedupImpact", Seq(s"$sink/fp", s"$sink/impact"),
        graft.streaming.DocStreams.dedupImpactStream(_, s"$sink/fp", s"$sink/impact",
          segmentRollBytes = RollBytes),
        d => if (d.endsWith("/fp")) rolled(d) else plain(d)),
      new Flow("packing", Seq(s"$sink/totals", s"$sink/items"),
        graft.streaming.DocStreams.packingStream(_, s"$sink/totals", s"$sink/items",
          segmentRollBytes = RollBytes),
        d => if (d.endsWith("/items")) rolled(d) else plain(d)),
      new Flow("ivfCodes", Seq(s"$sink/codes"),
        graft.streaming.EmbStreams.ivfCodesIngestStream(_, cents, codebook, s"$sink/codes"),
        plain))
    flows.foreach { f =>
      new File(f.source).mkdirs()
      f.begin(
        if (f.name == "ivfCodes") graft.streaming.EmbStreams.readEmbeddingStream(spark, f.source)
        else graft.streaming.DocStreams.readDocumentStream(spark, f.source))
    }

    /** Data files of a sink and their sizes, found by listing; hidden and
      * `_`-prefixed entries under the sink root are not data. */
    def listing(d: String): Map[String, Long] = {
      val root = Paths.get(d)
      if (!Files.exists(root)) Map.empty
      else Files.walk(root).toArray.map(_.asInstanceOf[Path])
        .filter { p =>
          Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet") &&
            !root.relativize(p).toString.split('/').exists(c => c.startsWith("_") || c.startsWith("."))
        }
        .map(p => p.toString -> Files.size(p)).toMap
    }
    def segments(f: Flow): Int = f.sinks.map { d =>
      Option(new File(d).list()).map(_.count(_.startsWith("seg-"))).getOrElse(0)
    }.sum

    val spans = new SpanLog
    val tracer = new Tracer
    val sc = spark.sparkContext

    /** Publish the flow's next drop and wait for its micro-batch; a
      * listed drop also lists the sinks around its batch and records its
      * spans. */
    def step(f: Flow, timedDrop: Boolean, listed: Boolean): Unit = {
      val s0 = System.nanoTime()
      val before = if (listed) f.sinks.flatMap(listing).toMap else Map.empty[String, Long]
      val segsBefore = if (listed) segments(f) else 0
      val k = f.published
      val drop = f.nextDrop
      val bytes = Files.size(drop)
      val t0 = System.nanoTime()
      Files.move(drop, Paths.get(f.source, drop.getFileName.toString),
        StandardCopyOption.ATOMIC_MOVE)
      f.published += 1
      val err = try { f.query.processAllAvailable(); "" }
        catch { case e: Throwable => e.getClass.getSimpleName }
      val t1 = System.nanoTime()
      // a batch's progress is published just after its commit
      var progress = Option.empty[StreamingQueryProgress]
      var tries = 0
      while (progress.isEmpty && tries < 200) {
        progress = f.query.recentProgress.find(p => p.batchId == k && p.numInputRows > 0)
        if (progress.isEmpty) { Thread.sleep(10); tries += 1 }
      }
      val d = progress.map(_.durationMs).getOrElse(new java.util.HashMap[String, java.lang.Long]())
      def ms(key: String): Long = Option(d.get(key)).map(_.longValue).getOrElse(0L)
      var fields = Seq[(String, Any)]("flow" -> f.name, "drop" -> k, "timed" -> timedDrop,
        "traced" -> listed, "rows" -> progress.map(_.numInputRows).getOrElse(0L),
        "input_bytes" -> bytes, "wall_ms" -> (t1 - t0) / 1e6,
        "trigger_ms" -> ms("triggerExecution"), "add_batch_ms" -> ms("addBatch"),
        "query_planning_ms" -> ms("queryPlanning"), "wal_commit_ms" -> ms("walCommit"),
        "latest_offset_ms" -> ms("latestOffset"),
        "error" -> (if (err.isEmpty && progress.isEmpty) "NoProgress" else err))
      if (listed) {
        org.apache.spark.perfbench.BusDrain(sc)
        val x = tracer.take(tracer.streamTag(f.query.id.toString))
        val l0 = System.nanoTime()
        val now = f.sinks.flatMap(listing).toMap
        val fresh = now.keySet -- before.keySet
        fields ++= Seq("files_written" -> fresh.size,
          "bytes_written" -> fresh.toSeq.map(now).sum,
          "sink_files" -> now.size, "sealed" -> (segments(f) > segsBefore),
          "exec_jobs" -> x.jobs, "exec_stages" -> x.stages, "exec_tasks" -> x.tasks,
          "task_run_ms" -> x.runMs, "task_cpu_ms" -> x.cpuNs / 1e6,
          "shuffle_read_bytes" -> x.shuffleRead, "shuffle_write_bytes" -> x.shuffleWrite,
          "spill_bytes" -> x.spill, "gc_ms" -> x.gcMs)
        val l1 = System.nanoTime()
        spans.synchronized {
          val trace = spans.spans.size.toLong
          progress.foreach { p =>
            val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000
            val root = spans.add(trace, -1, s"batch:${f.name}", start,
              start + ms("triggerExecution") * 1000)
            // progress gives phase durations only; the phases run in this
            // order within a micro-batch
            Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
                "commitOffsets").foldLeft(start) { (s, ph) =>
              spans.add(trace, root, s"stream:$ph", s, s + ms(ph) * 1000)
              s + ms(ph) * 1000
            }
          }
          spans.add(trace, -1, "store:list", spans.us(l0), spans.us(l1))
        }
      }
      // the whole step, tracing work included: what tracing adds shows
      // as the difference between listed and unlisted drops
      rec.emit("batch", fields :+ ("step_ms" -> (System.nanoTime() - s0) / 1e6): _*)
    }

    /** Every flow publishes drops on its own thread, at least one, then
      * while `more` holds and pre-generated drops remain. */
    def inParallel(more: Flow => Boolean, timedDrop: Boolean, listed: Boolean): Unit = {
      val threads = flows.map { f =>
        val first = f.published
        val t = new Thread(() =>
          while ((f.published == first || more(f)) && Files.exists(f.nextDrop))
            step(f, timedDrop, listed))
        t.start(); t
      }
      threads.foreach(_.join())
    }

    timed(rec, "warmup")(inParallel(_.published < WarmupDrops, timedDrop = false, listed = false))
    stamp(rec, "before")
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    if (!traced) inParallel(_ => elapsed < seconds, timedDrop = true, listed = false)
    else {
      // untraced, traced and untraced thirds of the window: the untraced
      // drops bracket the traced ones, so warm-up drift cancels when
      // run.py compares them. The listener is registered for the traced
      // third only, and every drop in it is listed.
      for ((on, i) <- Seq(false, true, false).zipWithIndex) {
        if (on) { sc.addSparkListener(tracer); spark.listenerManager.register(tracer) }
        inParallel(_ => elapsed < seconds * (i + 1) / 3, timedDrop = true, listed = on)
        if (on) {
          org.apache.spark.perfbench.BusDrain(sc)
          val plans = tracer.phaseTotals(tracer.drainExecutions())
          rec.emit("plans", "analysis_ms" -> plans.getOrElse("analysis", 0.0),
            "optimization_ms" -> plans.getOrElse("optimization", 0.0),
            "planning_ms" -> plans.getOrElse("planning", 0.0))
          sc.removeSparkListener(tracer); spark.listenerManager.unregister(tracer)
        }
      }
    }
    rec.emit("window", "ms" -> (System.nanoTime() - t0) / 1e6)
    stamp(rec, "after")
    flows.foreach(_.query.stop())
    flows.foreach(_.export())
    spans.write(new File(outDir, "spans.jsonl"))
  }
}
