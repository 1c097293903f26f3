package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.storage.StorageLevel

import graft.Jobs
import graft.contract.Contract
import graft.core.GraftSession
import graft.decode.CanDecode
import graft.pipelines.CanPipelines
import graft.sources.LandingIO
import graft.streaming.MergeSink

/** Benchmark driver: runs one workload against the engine's public calls and
  * writes its measurements as JSON. Every Spark listener, span and replay
  * lives here, registered only when tracing is on; the engine carries none.
  *
  *   PerfDriver <workload> <key=value>...
  *
  * Prints READY once the session exists and the workload's warm-up is done
  * (fleet_ingest: the backlog drain; query_mix: one untimed pass); the caller
  * times set-up from process launch to that line.
  */
object PerfDriver {

  // ------------------------------------------------------------ recording

  final case class Task(launch: Long, finish: Long, cpuNs: Long, shuffleBytes: Long,
                        spillBytes: Long, peakMem: Long)

  /** Task and job events, kept only while tracing. */
  final class Recorder extends SparkListener {
    val tasks = ArrayBuffer.empty[Task]
    val jobStarts = ArrayBuffer.empty[Long]
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null)
        tasks += Task(e.taskInfo.launchTime, e.taskInfo.finishTime, m.executorCpuTime,
          m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
          m.peakExecutionMemory)
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobStarts += e.time }

    /** Counters of the work that started inside [s, e] (epoch ms). */
    def window(s: Long, e: Long): Map[String, Double] = synchronized {
      val ts = tasks.filter(t => t.launch >= s && t.launch <= e)
      // union of task intervals clipped to the window: time some task ran
      val iv = ts.map(t => (math.max(t.launch, s), math.min(t.finish, e))).filter(x => x._2 > x._1).sortBy(_._1)
      var covered, curS, curE = 0L
      var open = false
      iv.foreach { case (a, b) =>
        if (!open) { curS = a; curE = b; open = true }
        else if (a > curE) { covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (open) covered += curE - curS
      Map(
        "spark_jobs" -> jobStarts.count(t => t >= s && t <= e).toDouble,
        "tasks" -> ts.size.toDouble,
        "task_busy_ms" -> ts.map(t => t.finish - t.launch).sum.toDouble,
        "task_cpu_ms" -> ts.map(_.cpuNs).sum / 1e6,
        "driver_only_ms" -> ((e - s) - covered).toDouble,
        "shuffle_bytes" -> ts.map(_.shuffleBytes).sum.toDouble,
        "spill_bytes" -> ts.map(_.spillBytes).sum.toDouble,
        "peak_exec_mem_bytes" -> (if (ts.isEmpty) 0.0 else ts.map(_.peakMem).max.toDouble))
    }
  }

  final class ProgressRecorder extends StreamingQueryListener {
    val progress = ArrayBuffer.empty[StreamingQueryProgress]
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized { progress += e.progress }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def drainAll(): Seq[StreamingQueryProgress] = synchronized {
      val out = progress.toList; progress.clear(); out
    }
  }

  final case class Span(id: Int, name: String, parent: Int, inv: Int, startMs: Long,
                        var endMs: Long, var durMs: Double, counters: collection.mutable.Map[String, Double])

  /** Spans plus the listeners they read; a no-op when tracing is off. */
  final class Tracer(spark: SparkSession, val on: Boolean) {
    val spans = ArrayBuffer.empty[Span]
    private var stack = List.empty[Int]
    val rec = new Recorder
    val prog = new ProgressRecorder
    if (on) {
      spark.sparkContext.addSparkListener(rec)
      spark.streams.addListener(prog)
    }

    def drain(): Unit = if (on) org.apache.spark.PerfBus.drain(spark.sparkContext)

    /** Run `body` inside a span; listener counters of its window are attached. */
    def span[T](name: String, inv: Int)(body: => T): T = {
      if (!on) return body
      val id = spans.size
      val s = Span(id, name, stack.headOption.getOrElse(-1), inv, System.currentTimeMillis(), 0L, 0.0,
        collection.mutable.Map.empty)
      spans += s
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        s.durMs = (System.nanoTime() - t0) / 1e6
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        drain()
        s.counters ++= rec.window(s.startMs, s.endMs)
      }
    }
    def find(name: String, inv: Int): Span = spans.filter(s => s.name == name && s.inv == inv).last
  }

  // ------------------------------------------------------------- helpers

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def elapsedS(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Marks the end of set-up: everything after this line is measured. */
  def ready(): Unit = {
    phase("set-up done")
    println("READY")
    System.out.flush()
  }

  /** Progress line in the JVM log: seconds since JVM start. */
  def phase(name: String): Unit = {
    val s = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    System.err.println(f"[perfdriver] $s%.2f s $name")
  }

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def jvmStats(): Map[String, Double] = {
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum
    val heapAfterGc = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.getCollectionUsage != null)
      .map(_.getCollectionUsage.getUsed).sum
    Map("gc_ms" -> gcMs.toDouble, "heap_after_gc_mb" -> heapAfterGc / 1048576.0, "peak_rss_mb" -> peakRssMb())
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p).iterator().asScala.toList.reverse
    all.foreach(Files.delete)
  }

  def copyTree(src: Path, dst: Path): Unit = if (Files.exists(src)) {
    Files.walk(src).iterator().asScala.foreach { f =>
      val t = dst.resolve(src.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t)
      else Files.copy(f, t, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** path -> (size, identity, content digest) of every visible file. */
  final case class FileState(size: Long, ident: String, digest: String)
  def snapshot(root: Path, digest: Boolean): Map[String, FileState] =
    if (!Files.exists(root)) Map.empty
    else Files.walk(root).iterator().asScala
      .filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith("."))
      .map { f =>
        val attrs = Files.readAttributes(f, classOf[java.nio.file.attribute.BasicFileAttributes])
        val d = if (digest) MessageDigest.getInstance("MD5").digest(Files.readAllBytes(f)).map("%02x".format(_)).mkString else ""
        root.relativize(f).toString -> FileState(attrs.size, s"${attrs.fileKey}:${attrs.lastModifiedTime.toMillis}", d)
      }.toMap

  /** Files (re)written between two snapshots, their bytes, and files whose content changed. */
  final case class Diff(written: Int, writtenBytes: Long, changed: Int)
  def diff(before: Map[String, FileState], after: Map[String, FileState]): Diff = {
    val written = after.filter { case (k, v) => before.get(k).forall(_.ident != v.ident) }
    val changed = after.count { case (k, v) => before.get(k).forall(_.digest != v.digest) }
    Diff(written.size, written.values.map(_.size).sum, changed)
  }

  // ------------------------------------------------------------ json out

  def js(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: collection.Map[_, _] => m.map { case (k, x) => js(k.toString) + ":" + js(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(js).mkString("[", ",", "]")
    case o => js(o.toString)
  }

  def spanJson(s: Span): Map[String, Any] = Map(
    "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "inv" -> s.inv,
    "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_ms" -> s.durMs, "counters" -> s.counters.toMap)

  // ------------------------------------------------------------ workloads

  def parseArgs(args: Array[String]): Map[String, String] =
    args.drop(1).map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap

  def main(args: Array[String]): Unit = {
    val workload = args(0)
    val opt = parseArgs(args)
    phase("main")
    val cores = Runtime.getRuntime.availableProcessors
    // the flow's shipped entry points create their sessions this way:
    // Jobs.main for the pipeline, Verify for the query surface
    val spark =
      if (workload == "query_mix") GraftSession.local(cores.toString, cores)
      else GraftSession.local(cores.toString)
    val tr = new Tracer(spark, opt.getOrElse("trace", "0") == "1")
    phase("session ready")
    val out = if (workload == "query_mix") queryMix(spark, opt, tr) else pipeline(spark, opt, tr)
    Files.writeString(Paths.get(opt("out")), js(out ++ Map("jvm" -> jvmStats())))
    spark.stop()
  }

  def rawBytes(files: Seq[Path]): Long = files.map(Files.size).sum

  /** Move staged objects into the watched raw dir (the arrival event). */
  def admit(stage: Path, raw: Path): Seq[Path] =
    Files.walk(stage).iterator().asScala.filter(Files.isRegularFile(_)).toList.sorted.map { f =>
      val t = raw.resolve(stage.relativize(f).toString)
      Files.createDirectories(t.getParent)
      Files.move(f, t, StandardCopyOption.ATOMIC_MOVE)
      t
    }

  /** fleet_ingest: a backlog drain of the first `history` hours (the
    * warm-up; its own times go to the trace), then one invocation per
    * remaining hour, each admitting one object per device. */
  def pipeline(spark: SparkSession, opt: Map[String, String], tr: Tracer): Map[String, Any] = {
    val stage = Paths.get(opt("stage"))
    val raw = Paths.get(opt("raw"))
    val work = Paths.get(opt("work"))
    val replay = Paths.get(opt("replay"))
    Seq(raw, work, replay).foreach(deleteTree)
    Files.createDirectories(raw)
    val steps = Files.list(stage).iterator().asScala.toList.sorted
    val history = opt("history").toInt
    val drained = steps.take(history).flatMap(admit(_, raw))
    val d0 = System.nanoTime()
    tr.span("jobs.parse", -1) { Jobs.parse(spark, raw.toString, work.toString) }
    val drainParseS = elapsedS(d0)
    val d1 = System.nanoTime()
    tr.span("jobs.infer", -1) { Jobs.infer(spark, work.toString) }
    val drainInferS = elapsedS(d1)
    tr.prog.drainAll()
    val drain = Map("objects" -> drained.size, "raw_bytes" -> rawBytes(drained),
      "parse_s" -> drainParseS, "infer_s" -> drainInferS)
    ready()
    val invocations = ArrayBuffer.empty[Map[String, Any]]
    steps.drop(history).zipWithIndex.foreach { case (step, k) =>
      val before = if (tr.on) Some(captureBefore(work, replay.resolve(s"$k"))) else None
      val tAdmit = System.nanoTime()
      val files = admit(step, raw)
      val t0 = System.nanoTime()
      tr.span("jobs.parse", k) { Jobs.parse(spark, raw.toString, work.toString) }
      val parseS = elapsedS(t0)
      val midSnap = if (tr.on) Some(snapshot(work.resolve("landing_json"), digest = true)) else None
      val t1 = System.nanoTime()
      tr.span("jobs.infer", k) { Jobs.infer(spark, work.toString) }
      val inferS = elapsedS(t1)
      val freshS = elapsedS(tAdmit)
      var inv = Map[String, Any]("k" -> k, "objects" -> files.size, "raw_bytes" -> rawBytes(files),
        "parse_s" -> parseS, "infer_s" -> inferS, "freshness_s" -> freshS)
      if (tr.on) inv ++= traceInvocation(spark, tr, k, files, work, replay.resolve(s"$k"), before.get, midSnap.get)
      invocations += inv
    }
    Map("drain" -> drain, "invocations" -> invocations.toList, "spans" -> tr.spans.map(spanJson).toList)
  }

  final case class Before(landing: Map[String, FileState], landingJson: Map[String, FileState],
                          events: Map[String, FileState])

  /** Directory states before the timed calls, and a copy of the landing
    * table for the merge replay (traced runs only, outside the timed calls). */
  def captureBefore(work: Path, dst: Path): Before = {
    deleteTree(dst)
    copyTree(work.resolve("landing"), dst.resolve("landing"))
    Before(snapshot(work.resolve("landing"), digest = false),
      snapshot(work.resolve("landing_json"), digest = true),
      snapshot(work.resolve("events"), digest = true))
  }

  /** Per-layer counters of one invocation: stream progress and directory
    * diffs of the real calls, then a replay of the same inputs through the
    * layer functions Jobs composes, each forced into noop or a scratch copy. */
  def traceInvocation(spark: SparkSession, tr: Tracer, k: Int, files: Seq[Path], work: Path,
                      dst: Path, before: Before, midJson: Map[String, FileState]): Map[String, Any] = {
    val parseSpan = tr.find("jobs.parse", k)
    val prog = tr.prog.drainAll()
    def dur(p: StreamingQueryProgress, key: String): Double =
      Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)
    val trigger = prog.map(dur(_, "triggerExecution")).sum
    val ops = prog.flatMap(_.stateOperators.headOption)
    val stream = Map(
      "batches" -> prog.size.toDouble,
      "nodata_batch_ms" -> prog.filter(_.numInputRows == 0).map(dur(_, "triggerExecution")).sum,
      "add_batch_ms" -> prog.map(dur(_, "addBatch")).sum,
      "planning_ms" -> prog.map(dur(_, "queryPlanning")).sum,
      "log_commit_ms" -> prog.map(p => dur(p, "walCommit") + dur(p, "commitOffsets")).sum,
      "start_stop_ms" -> (parseSpan.durMs - trigger),
      "state_rows_total" -> (if (ops.isEmpty) 0.0 else ops.map(_.numRowsTotal).max.toDouble),
      "state_rows_removed" -> ops.map(_.numRowsRemoved).sum.toDouble,
      "state_memory_bytes" -> (if (ops.isEmpty) 0.0 else ops.map(_.memoryUsedBytes).max.toDouble),
      "state_commit_ms" -> ops.map(_.commitTimeMs).sum.toDouble)
    val ckpt = work.resolve("ckpt/parse")
    val ckptFiles = snapshot(ckpt, digest = false)
    val offsets = ckpt.resolve("offsets")
    val lastOffset = Files.list(offsets).iterator().asScala.toList
      .filter(_.getFileName.toString.forall(_.isDigit)).maxBy(_.getFileName.toString.toLong)
    val landingDiff = diff(before.landing, snapshot(work.resolve("landing"), digest = false))
    val jsonDiff = diff(before.landingJson, midJson)
    val eventsDiff = diff(before.events, snapshot(work.resolve("events"), digest = true))
    val raw = rawBytes(files)

    // replay: this invocation's objects, through each layer in turn
    val newDir = dst.resolve("raw")
    files.foreach { f =>
      val t = newDir.resolve(f.getParent.getFileName.toString).resolve(f.getFileName.toString)
      Files.createDirectories(t.getParent)
      Files.copy(f, t)
    }
    val cached = ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = { cached += df; df.persist(StorageLevel.MEMORY_AND_DISK) }
    var framesOut, rowsRead = 0L
    tr.span("replay.parse", k) {
      val decoded = tr.span("decode", k) {
        val d = keep(CanDecode.decodeFiles(spark, newDir.toString))
        noop(d); d
      }
      framesOut = decoded.count() // from the cache, outside the decode span
      val piv = tr.span("pivot", k) {
        val p = keep(CanPipelines.pivot(decoded)
          .withColumn("date", to_date(col("ts"))).withColumn("hour", hour(col("ts"))))
        noop(p); p
      }
      tr.span("upsert", k) {
        MergeSink.upsert(spark, piv, dst.resolve("landing").toString,
          keyCols = Seq("device", "epoch_sec"), partitionCols = Seq("date", "hour"))
      }
      val ch = tr.span("channelize", k) {
        val dirty = piv.select("date", "hour").distinct().collect()
          .map(r => col("date") === lit(r.getDate(0)) && col("hour") === lit(r.getInt(1))).reduce(_ || _)
        val c = keep(CanPipelines.channelize(spark.read.parquet(dst.resolve("landing").toString).filter(dirty)))
        noop(c); c
      }
      tr.span("writeLandingDocs", k) { LandingIO.writeLandingDocs(ch, dst.resolve("landing_json").toString) }
    }
    tr.span("replay.infer", k) {
      val land = tr.span("readLanding", k) {
        val l = keep(LandingIO.readLanding(spark, work.resolve("landing_json").toString))
        rowsRead = l.count(); l
      }
      val st = tr.span("stationaryIntervals", k) {
        val s = keep(CanPipelines.stationaryIntervals(CanPipelines.speedSeries(land))); noop(s); s
      }
      val ap = tr.span("autopilot", k) {
        val a = keep(CanPipelines.autopilotDaily(CanPipelines.autopilotTransitions(CanPipelines.apSeries(land))))
        noop(a); a
      }
      tr.span("writeStationaryDocs", k) { LandingIO.writeStationaryDocs(st, dst.resolve("events/Stationary").toString) }
      tr.span("writeAutopilotDocs", k) { LandingIO.writeAutopilotDocs(ap, dst.resolve("events/Autopilot").toString) }
    }
    cached.foreach(_.unpersist(blocking = true))
    deleteTree(dst)
    Map(
      "stream" -> stream,
      "ckpt" -> Map("bytes" -> ckptFiles.values.map(_.size).sum, "files" -> ckptFiles.size,
        "offset_entry_bytes" -> Files.size(lastOffset)),
      "decode" -> Map("bytes_read" -> raw, "frames_out" -> framesOut),
      "merge" -> Map("bytes_rewritten" -> landingDiff.writtenBytes,
        "write_amp" -> landingDiff.writtenBytes.toDouble / raw),
      "landing" -> Map("docs_written" -> jsonDiff.written, "docs_changed" -> jsonDiff.changed,
        "rows_read" -> rowsRead),
      "events" -> Map("rewritten" -> eventsDiff.written, "changed" -> eventsDiff.changed))
  }

  // ------------------------------------------------------------ query mix

  /** query_mix: one untimed pass that writes each result for the oracle
    * gate (the warm-up), then a fixed number of timed passes (run + noop
    * write per query), so every run measures the same work. */
  def queryMix(spark: SparkSession, opt: Map[String, String], tr: Tracer): Map[String, Any] = {
    val data = opt("data")
    val scan = opt("scan").split(",").toSeq
    val loop = opt("loop").split(",").toSeq
    val failed = ArrayBuffer.empty[String]
    def cachedNow(): Int =
      spark.sparkContext.getPersistentRDDs.size + org.apache.spark.sql.PerfCache.entries(spark)
    /** (wall seconds of run + write, cached relations the query left behind) */
    def runOne(name: String, pass: Int, write: DataFrame => Unit): (Double, Int) = {
      val cachedBefore = cachedNow()
      val t0 = System.nanoTime()
      try {
        val df = tr.span(s"construct:$name", pass) { Contract.byName(name).run(spark, data) }
        tr.span(s"exec:$name", pass) { write(df) }
      } catch {
        case e: Exception =>
          System.err.println(s"[perfdriver] $name failed: ${e.getMessage}")
          failed += name
      }
      (elapsedS(t0), cachedNow() - cachedBefore)
    }
    val outDir = opt("results")
    (scan ++ loop).foreach(n => runOne(n, -1, _.write.mode("overwrite").parquet(s"$outDir/$n")))
    val oracle = graft.SparkEntry.oracleSql.filter { case (n, _) => (scan ++ loop).contains(n) }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), js(oracle))
    ready()
    val passes = ArrayBuffer.empty[Map[String, Any]]
    (0 until opt("passes").toInt).foreach { p =>
      val perQuery = (scan ++ loop).map(n => n -> runOne(n, p, noop)).toMap
      passes += Map(
        "pass_s" -> perQuery.values.map(_._1).sum,
        "scan_s" -> scan.map(perQuery(_)._1).sum,
        "loop_s" -> loop.map(perQuery(_)._1).sum,
        "query_s" -> perQuery.map { case (n, v) => n -> v._1 },
        "cached_left" -> perQuery.map { case (n, v) => n -> v._2 })
      phase(s"pass $p")
    }
    Map("passes" -> passes.toList, "failed" -> failed.toList, "spans" -> tr.spans.map(spanJson).toList)
  }
}
