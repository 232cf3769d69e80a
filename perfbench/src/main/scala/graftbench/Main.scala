package graftbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, timestamp_millis}
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import graft.config.ConnectProps
import graft.runtime.PipelineRunner
import graft.streaming.StreamRunner

/** The benchmark's JVM half. `run.py` generates the inputs and writes a
  * plan file; this program sets up Spark, runs one workload for the planned
  * time, and writes what it measured (`raw.json`) and, when tracing, the
  * spans (`spans.json`). It decides nothing about correctness: `run.py`
  * checks every output afterwards.
  *
  * {{{
  * java <add-opens> -cp <classpath> graftbench.Main <plan.json>
  * }}}
  */
object Main {
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private case class Plan(m: Map[String, Any]) {
    def str(k: String): String = m(k).toString
    def num(k: String): Double = m(k).asInstanceOf[Number].doubleValue
    def int(k: String): Int = num(k).toInt
    def strs(k: String): Seq[String] = m(k).asInstanceOf[Seq[Any]].map(_.toString)
    def props(k: String): Map[String, String] =
      m(k).asInstanceOf[Map[String, Any]].map { case (a, b) => a -> b.toString }
  }

  def main(args: Array[String]): Unit = {
    val mainMs = Clock.nowMs
    val plan = Plan(json.readValue(new File(args(0)), classOf[Map[String, Any]]))
    val work = plan.str("work")
    var spark: SparkSession = null
    val tracer = new Tracer(spark.sparkContext)
    val out = scala.collection.mutable.LinkedHashMap[String, Any](
      "jvm_start_ms" -> (mainMs - plan.num("spawn_ms")))
    def stopSession(): Unit = if (spark != null) {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
    try {
      val sessionMs = (1 to plan.int("setup_rounds")).map { _ =>
        stopSession()
        val t0 = Clock.nowMs
        spark = session(plan.str("master"), plan.int("cores"), work)
        Clock.nowMs - t0
      }
      out("session_ms") = sessionMs
      def workload(name: String): Workload = {
        def section(k: String) = Plan(plan.m(k).asInstanceOf[Map[String, Any]])
        name match {
          case "connect_batch" => new BatchWorkload(spark, tracer, section("batch"))
          case "connect_stream" => new StreamWorkload(spark, tracer, section("stream"))
          case "curation_tail" => new CurationWorkload(spark, tracer, section("curation"))
        }
      }
      val wl = plan.str("workload")
      val t0 = Clock.nowMs
      val w = workload(wl)
      w.warmup()
      out("warmup_ms") = Clock.nowMs - t0
      val seconds = plan.num("seconds")
      val trace = plan.m("trace") == true
      if (!trace) out("plain") = w.measure("plain", seconds, alternate = false)
      else {
        // closed loops alternate traced and untraced units within one
        // phase, so the tracing overhead is not confounded with warm-up;
        // the stream runs an untraced phase and then a traced one
        if (wl == "connect_stream") out("plain") = w.measure("plain", seconds, alternate = false)
        out("traced") = tracer.around(spark, wl == "connect_stream") {
          w.measure("traced", seconds, alternate = wl != "connect_stream")
        }
        out("extra") = tracer.around(spark, traced = true)(w.tracedExtras())
        Files.write(Paths.get(work, "spans.json"), json.writeValueAsBytes(tracer.dump))
      }
      out("peak_rss_kb") = peakRssKb()
      if (trace) {
        // the single-thread baseline runs last: it replaces the session
        out("local1") = w.singleThreadBaseline(() => {
          stopSession()
          spark = session("local[1]", 1, work)
          spark
        })
      }
    } catch {
      case e: Throwable =>
        out("error") = s"${e.getClass.getName}: ${e.getMessage}".take(2000)
        e.printStackTrace()
    } finally {
      Files.write(Paths.get(work, "raw.json"), json.writeValueAsBytes(out))
      if (spark != null) spark.stop()
    }
  }

  private def session(master: String, cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.minBatchesToRetain", "100000")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def peakRssKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

  /** One workload: `measure` runs it for `seconds` and returns its raw
    * samples; `phase` names the output directories of that run.
    */
  trait Workload {
    def warmup(): Unit
    /** With `alternate`, every second unit runs traced (and says so). */
    def measure(phase: String, seconds: Double, alternate: Boolean): Map[String, Any]
    def tracedExtras(): Map[String, Any] = Map.empty
    def singleThreadBaseline(restart: () => SparkSession): Map[String, Any] = Map.empty
  }

  /** connect_batch: a closed loop of chain runs over the generated events,
    * one at a time: read → `ConnectProps` chain → parquet.
    */
  final class BatchWorkload(var spark: SparkSession, tracer: Tracer, p: Plan) extends Workload {
    private val input = p.str("input_dir")
    private val props = p.props("props")
    private val identity = Map("transforms" -> "")
    private var n = 0

    /** One unit; returns its wall time in ms. */
    def rep(variant: String, chain: Map[String, String], format: String, path: String,
            from: String = input): Double = {
      val t0 = Clock.nowMs
      tracer.span(0L, "unit", s"rep:$variant") { u =>
        tracer.span(u, "call", "config.ConnectProps.compile") { _ => ConnectProps.compile(chain) }
        val df = tracer.span(u, "call", "runtime.PipelineRunner.run") { _ =>
          PipelineRunner.run(spark, from, None, chain)
        }
        tracer.span(u, "call", s"sources.write.$format") { _ =>
          df.write.mode("overwrite").format(format).save(path)
        }
      }
      Clock.nowMs - t0
    }

    private def outPath(phase: String): String = {
      n += 1
      s"${p.str("out_dir")}/$phase-$n"
    }

    def warmup(): Unit = (1 to p.int("warmup_reps")).foreach(_ =>
      rep("warmup", props, "parquet", outPath("warmup"), p.str("warmup_input")))

    def measure(phase: String, seconds: Double, alternate: Boolean): Map[String, Any] = {
      val t0 = Clock.nowMs
      val reps = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
      val minReps = if (alternate) 6 else 3
      while (reps.size < minReps || Clock.nowMs - t0 < seconds * 1000) {
        val path = outPath(phase)
        val traced = alternate && reps.size % 2 == 1
        val ms = tracer.around(spark, traced)(rep("chain_parquet", props, "parquet", path))
        reps += Map("wall_ms" -> ms, "out" -> path, "traced" -> traced)
      }
      Map("reps" -> reps.toSeq, "rows" -> p.num("rows"))
    }

    /** The layer split by differencing: identity → noop is the scan, the
      * chain → noop adds the transforms, the chain → parquet adds the write.
      */
    override def tracedExtras(): Map[String, Any] = {
      val variants = Seq(("scan", identity, "noop"), ("chain_noop", props, "noop"),
        ("chain_parquet", props, "parquet"))
      val times = variants.map(_._1 -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap
      (1 to p.int("split_rounds")).foreach { _ =>
        variants.foreach { case (name, chain, fmt) =>
          times(name) += rep(name, chain, fmt, outPath("split"))
        }
      }
      times.map { case (k, v) => k -> v.toSeq }
    }

    override def singleThreadBaseline(restart: () => SparkSession): Map[String, Any] = {
      spark = restart()
      rep("warmup", props, "parquet", outPath("warmup"), p.str("warmup_input"))
      Map("wall_ms" -> rep("local1", props, "parquet", outPath("local1")))
    }
  }

  /** connect_stream: the same chain over a landing zone, then streaming
    * dedup and a parquet file sink on a processing-time trigger. A backlog
    * is landed before the query starts (catch-up); then run.py's generator
    * thread lands a file every `interval_ms` (steady phase) on a schedule
    * fixed at query start, whatever the stream is doing. The generator
    * lives outside this JVM so that garbage-collection pauses here cannot
    * delay the schedule.
    */
  final class StreamWorkload(spark: SparkSession, tracer: Tracer, p: Plan) extends Workload {
    private val props = p.props("props")
    private lazy val schema = spark.read.parquet(p.str("gen_dir")).schema

    private def start(land: String, out: String, ckpt: String, trigger: Trigger, parent: Long) = {
      val src = tracer.span(parent, "call", "streaming.StreamRunner.fileSource") { _ =>
        StreamRunner.fileSource(spark, land, schema, Some(p.int("max_files_per_trigger")))
      }
      val chained = tracer.span(parent, "call", "streaming.StreamRunner.applyChain") { _ =>
        StreamRunner.applyChain(src, props)
      }
      val deduped = tracer.span(parent, "call", "streaming.StreamRunner.streamingDedup") { _ =>
        StreamRunner.streamingDedup(
          chained.withColumn("event_time", timestamp_millis(col("timestamp"))),
          "event_time", Seq("key"), p.str("watermark"))
      }.drop("event_time")
      tracer.span(parent, "call", "streaming.StreamRunner.fileSink") { _ =>
        StreamRunner.fileSink(deduped, out, ckpt, trigger)
      }
    }

    private def copyIn(names: Seq[String], dir: String): Seq[java.nio.file.Path] = {
      Files.createDirectories(Paths.get(dir))
      names.map { f =>
        Files.copy(Paths.get(p.str("gen_dir"), f), Paths.get(dir, f),
          StandardCopyOption.REPLACE_EXISTING)
      }
    }

    /** The landing step: stamp the due time as mtime, then rename atomically,
      * so a listing never sees a partial file or a wrong mtime.
      */
    private def land(staged: java.nio.file.Path, dir: String, dueMs: Double): Double = {
      Files.setLastModifiedTime(staged, FileTime.fromMillis(math.round(dueMs)))
      Files.move(staged, Paths.get(dir, staged.getFileName.toString),
        StandardCopyOption.ATOMIC_MOVE)
      Clock.nowMs
    }

    def warmup(): Unit = {
      val dir = s"${p.str("work_dir")}/warmup"
      val staged = copyIn(p.strs("warmup_files"), s"$dir/stage")
      Files.createDirectories(Paths.get(s"$dir/land"))
      val t = Clock.nowMs
      staged.zipWithIndex.foreach { case (f, i) => land(f, s"$dir/land", t - 60000 + i) }
      start(s"$dir/land", s"$dir/out", s"$dir/ckpt", Trigger.AvailableNow(), -1L)
        .awaitTermination()
    }

    def measure(phase: String, seconds: Double, alternate: Boolean): Map[String, Any] = {
      val dir = s"${p.str("work_dir")}/$phase"
      val backlog = copyIn(p.strs("backlog_files"), s"$dir/stage")
      val landDir = s"$dir/land"
      Files.createDirectories(Paths.get(landDir))
      val progress = new ConcurrentLinkedQueue[Map[String, Any]]()
      val listener = new StreamingQueryListener {
        override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
          progress.add(Map("json" -> e.progress.json))
        override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      }
      spark.streams.addListener(listener)
      val t0 = Clock.nowMs
      val landings = backlog.zipWithIndex.map { case (f, i) =>
        val due = t0 - backlog.size + i
        Map("file" -> f.getFileName.toString, "due_ms" -> due,
          "landed_ms" -> land(f, landDir, due), "phase" -> "backlog")
      }
      val startMs = Clock.nowMs
      val steadyStart = startMs + p.num("steady_offset_ms")
      // hand the fixed steady schedule to the landing generator (run.py),
      // which never waits on the stream
      val go = Paths.get(dir, "go.json")
      Files.write(Paths.get(dir, "go.tmp"), json.writeValueAsBytes(
        Map("steady_start_ms" -> steadyStart, "land_dir" -> landDir)))
      Files.move(Paths.get(dir, "go.tmp"), go, StandardCopyOption.ATOMIC_MOVE)
      val q = tracer.span(0L, "unit", "stream") { u =>
        start(landDir, s"$dir/out", s"$dir/ckpt",
          Trigger.ProcessingTime(p.int("trigger_ms").toLong), u)
      }
      val done = Paths.get(dir, "landed.json")
      val giveUp = steadyStart + p.strs("steady_files").size * p.num("interval_ms") + 60000
      while (!Files.exists(done) && Clock.nowMs < giveUp) Thread.sleep(20)
      q.processAllAvailable()
      val endMs = Clock.nowMs
      q.stop()
      // deliver the last progress events before the listener goes away
      tracer.drain(spark)
      spark.streams.removeListener(listener)
      Map("start_ms" -> startMs, "steady_start_ms" -> steadyStart, "end_ms" -> endMs,
        "landings" -> landings, "progress" -> progress.asScala.toSeq,
        "checkpoint" -> s"$dir/ckpt", "out" -> s"$dir/out")
    }
  }

  /** curation_tail: passes over graft's floor-bound curation queries on a
    * fixed corpus (the seed has no effect here); the cache is cleared
    * before every query, as `graft.Bench` does.
    */
  final class CurationWorkload(spark: SparkSession, tracer: Tracer, p: Plan) extends Workload {
    private val queries = p.strs("queries")
    private val corpus = p.str("corpus_dir")
    private var passes = 0

    private def pass(phase: String, write: Boolean = true): Map[String, Any] = {
      passes += 1
      val outDir = s"${p.str("out_dir")}/$phase-$passes"
      val t0 = Clock.nowMs
      val times = tracer.span(0L, "unit", s"pass:$phase") { u =>
        queries.map { q =>
          spark.catalog.clearCache()
          val q0 = Clock.nowMs
          tracer.span(u, "call", s"operators.$q") { _ =>
            val df = graft.SparkEntry.queries(q)(spark, corpus)
            if (write) df.write.mode("overwrite").parquet(s"$outDir/$q")
            else df.write.mode("overwrite").format("noop").save()
          }
          q -> (Clock.nowMs - q0)
        }.toMap
      }
      Map("wall_ms" -> (Clock.nowMs - t0), "query_ms" -> times, "out" -> outDir)
    }

    def warmup(): Unit = (1 to p.int("warmup_passes")).foreach(_ => pass("warmup", write = false))

    def measure(phase: String, seconds: Double, alternate: Boolean): Map[String, Any] = {
      val t0 = Clock.nowMs
      val done = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
      val minPasses = p.int("min_passes") * (if (alternate) 2 else 1)
      while (done.size < minPasses || Clock.nowMs - t0 < seconds * 1000) {
        val traced = alternate && done.size % 2 == 1
        done += tracer.around(spark, traced)(pass(phase)) + ("traced" -> traced)
      }
      Map("passes" -> done.toSeq,
        "oracle_sql" -> queries.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap)
    }
  }
}
