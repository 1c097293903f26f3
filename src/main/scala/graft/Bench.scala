package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Deterministic synthetic CANServer log for the domain-pipeline bench:
  * one hour of 10 Hz frames across all 5 channels (~180k frames, ~1.6 MB)
  * — the parse-class workload BASELINE.md's envelope is defined against.
  */
object BenchLog {
  def write(dir: String): String = {
    val t0  = 1700000000L * 1000000L
    val out = new java.io.ByteArrayOutputStream(2 << 20)
    out.write("CANSERVER_v2_CANSERVER".getBytes("ASCII"))
    def sync(m: Long): Unit = { out.write(0xce); (0 until 8).foreach(i => out.write(((m >>> (8 * i)) & 0xff).toInt)) }
    def frame(off: Int, id: Int, p: Array[Byte]): Unit = {
      out.write(0xcf); out.write(off & 0xff); out.write((off >> 8) & 0xff)
      out.write(id & 0xff); out.write((id >> 8) & 0xff); out.write(p.length); out.write(p)
    }
    var sec = 0
    while (sec < 3600) {
      sync(t0 + sec.toLong * 1000000L) // new sync each second (offset is u16 ms)
      var tick = 0
      while (tick < 10) {
        val off = tick * 100
        val v   = sec % 120 // alternating 60 s stationary / 60 s moving
        val spd = if (v < 60) 0.0 else 50.0
        val u   = math.round((spd + 40.0) / 0.08).toInt
        frame(off, 599, Array[Byte](0, ((u & 0xf) << 4).toByte, (u >> 4).toByte))
        frame(off, 273, Array[Byte]((sec % 251).toByte, 1, (tick * 17).toByte, 2, 3, 4))
        frame(off, 257, Array[Byte](5, 6, (sec % 13).toByte, 7, 8, 9))
        frame(off, 79, Array[Byte](1, 2, 3, 4, 5, 6, 7))
        if (tick == 0) frame(off, 921, Array[Byte](if (v < 60) 2 else 3))
        tick += 1
      }
      sec += 1
    }
    val p = Paths.get(dir, "bench.log")
    Files.write(p, out.toByteArray)
    dir
  }
}

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * emits ONE JSON line with per-query seconds.
  *
  * Round-5 adjudication showed the single-JVM full run LIES: 106 queries x
  * 3 reps in one heap inflated individual timings 2-26x (GC/heap churn), so
  * a trivial string query read as a "26x regression" while its isolated
  * number was flat. The fix is ISOLATION AT THE HARNESS LEVEL: the default
  * run is now a PARENT that splits the query list into chunks and runs each
  * chunk in a FRESH FORKED JVM (same classpath, same JVM flags — including
  * build.sbt's --add-opens and -Xmx), then concatenates the per-chunk
  * results into the same single JSON line. Cross-chunk interference is
  * structurally impossible; each chunk still pays one warmup so JIT/codegen
  * cost is not billed to its first query.
  *
  * Modes (decided from env, so the driver's `runMain graft.Bench` is
  * unchanged):
  *  - default: parent/fork mode as above (chunk size
  *    SPARK_GRAFT_BENCH_CHUNK_SIZE, default 12; pipelines share one chunk
  *    because they share the landing build);
  *  - SPARK_GRAFT_BENCH_ONLY=q32,q45 (prefix match): legacy in-process run
  *    for fast single-query iteration — already isolated by being small;
  *  - SPARK_GRAFT_BENCH_FORK=0: force the legacy whole-run-in-one-JVM path;
  *  - SPARK_GRAFT_BENCH_CHUNK=<exact names>: internal child marker.
  *  If the first fork fails to produce parseable output (some future
  *  environment without a forkable java), the parent falls back to
  *  in-process for everything rather than reporting a dead bench.
  *
  * Within a chunk the per-query protocol is unchanged: each query is forced
  * through the `noop` sink (full execution of every projected expression —
  * `count()` would let Catalyst prune the very projections the query exists
  * to measure), runs SPARK_GRAFT_BENCH_REPS times (default 3) and reports
  * the MEDIAN. Failures are recorded per query (negative time + name in
  * "failed") instead of being swallowed. The JSON line goes to stdout AND
  * to SPARK_GRAFT_BENCH_OUT (if set); child stdout/stderr is redirected to
  * per-chunk log files so the parent's captured tail holds the JSON line,
  * not stack traces from benign cleaner races.
  */
object Bench {

  /** Domain-pipeline entries (not in SparkEntry.queries); they share the
    * synthetic log + cached landing, so the parent keeps them in one chunk.
    */
  private val pipelineNames = Seq(
    "pipeline_parse_1h_log", "pipeline_parse_flatmap",
    "pipeline_stationary", "pipeline_autopilot")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val chunk = sys.env.get("SPARK_GRAFT_BENCH_CHUNK").map(_.split(",").map(_.trim).toSet)
    val only  = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").map(_.trim).toSet)
    val noFork = sys.env.get("SPARK_GRAFT_BENCH_FORK").contains("0")
    if (chunk.isEmpty && only.isEmpty && !noFork) {
      parentMain(sfDir)
    } else {
      // child chunk (exact-name match — prefix matching could smuggle a
      // same-prefix query into two chunks) or legacy in-process run
      val wanted: String => Boolean = chunk match {
        case Some(c) => c.contains(_)
        case None    => name => only.forall(_.exists(name.startsWith))
      }
      val (results, failed, calib) = runQueries(sfDir, wanted)
      emit(results, failed, sfDir, calib.toSeq)
      if (failed.nonEmpty) sys.exit(1)
    }
  }

  // ---------------------------------------------------------------- parent

  private def parentMain(sfDir: String): Unit = {
    val chunkSize = sys.env.getOrElse("SPARK_GRAFT_BENCH_CHUNK_SIZE", "12").toInt.max(1)
    // CALIBRATION GATE (round-10 verdict item 2) + WAIT LOOP (round-13
    // item 1 — the Soak posture ported here): the r10 artifact recorded
    // apparent 2x per-query "regressions" that were really ONE chunk on a
    // ~2x degraded host slice; r13's closing artifact was worse — 8/19
    // chunks over the gate with two immediate retries coming back WORSE
    // than their firsts (an immediate retry re-samples the SAME loaded
    // host). A chunk over the gate now WAITS 60 s before each retry (up
    // to a GLOBAL budget of SPARK_GRAFT_BENCH_CALIB_WAITS, default 8,
    // shared across chunks so a permanently loaded host bounds the run at
    // +8 min instead of hanging), keeps the quietest successful run, and
    // records every (first, retry) calibration pair plus the total
    // calib_waits in the artifact — a closing bench that never settled is
    // self-declaring, not silently noisy.
    val calibGate =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_CALIB_GATE", "0.7").toDouble
    val maxWaits =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_CALIB_WAITS", "8").toInt.max(0)
    val chunks = SparkEntry.queries.keys.toSeq.sorted.grouped(chunkSize).toSeq :+ pipelineNames
    val acc    = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var failed = List.empty[String]
    val calibs = scala.collection.mutable.ListBuffer.empty[Double]
    val recals = scala.collection.mutable.ListBuffer.empty[(Int, Double, Double)]
    var waitsUsed  = 0
    var forkBroken = false
    chunks.zipWithIndex.foreach { case (names, ci) =>
      def runOnce(): (Seq[(String, Double)], List[String], List[Double]) = {
        val forked = if (forkBroken) None else runChunkForked(names, sfDir)
        forked.getOrElse {
          if (!forkBroken)
            System.err.println("[bench] fork produced no parseable output; " +
              "falling back to in-process for the remaining chunks")
          forkBroken = true
          val (r, fl, cl) = runQueries(sfDir, names.toSet)
          (r, fl, cl.toList)
        }
      }
      var best = runOnce()
      while (best._3.headOption.exists(_ > calibGate) && !forkBroken &&
             best._2.isEmpty && waitsUsed < maxWaits) {
        waitsUsed += 1
        System.err.println(f"[bench] chunk $ci calibration ${best._3.head}%.3f s " +
          f"> gate $calibGate%.2f s — waiting 60 s for the host to settle " +
          f"($waitsUsed/$maxWaits global waits) before re-running")
        Thread.sleep(60000L)
        val retry = runOnce()
        recals += ((ci, best._3.headOption.getOrElse(-1.0),
          retry._3.headOption.getOrElse(-1.0)))
        // keep the quieter-host run; a retry with failures never wins
        if (retry._2.isEmpty &&
            retry._3.headOption.exists(c2 => best._3.headOption.forall(c2 < _)))
          best = retry
      }
      val (res, f, c) = best
      acc ++= res
      failed :::= f
      calibs ++= c
    }
    emit(acc.toSeq, failed, sfDir, calibs.toList, recals.toList, waitsUsed)
    if (failed.nonEmpty) sys.exit(1)
  }

  /** Run one chunk in a fresh JVM that mirrors this one (classpath + input
    * args reproduce sbt's forked-run flags: --add-opens, -Xmx). Returns
    * None only if the child produced no parseable result file — individual
    * query failures inside a healthy child come back as -1 entries.
    */
  private def runChunkForked(
      names: Seq[String],
      sfDir: String): Option[(Seq[(String, Double)], List[String], List[Double])] = {
    import scala.jdk.CollectionConverters._
    val out = Files.createTempFile("bench-chunk", ".json")
    val log = Files.createTempFile("bench-chunk", ".log")
    val javaBin = Paths.get(sys.props("java.home"), "bin", "java").toString
    val jvmArgs =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
    val cmd = Seq(javaBin) ++ jvmArgs ++ Seq("-cp", sys.props("java.class.path"), "graft.Bench")
    val pb  = new ProcessBuilder(cmd: _*)
    pb.environment().put("SPARK_GRAFT_BENCH_CHUNK", names.mkString(","))
    pb.environment().put("SPARK_GRAFT_BENCH_OUT", out.toString)
    pb.environment().put("SPARK_GRAFT_SF_DIR", sfDir)
    pb.environment().remove("SPARK_GRAFT_BENCH_ONLY")
    // the chunk's Spark/cleaner chatter goes to its log, not the captured
    // stdout tail; surfaced below only when something actually failed
    pb.redirectOutput(log.toFile)
    pb.redirectError(ProcessBuilder.Redirect.appendTo(log.toFile))
    val parsed =
      try {
        pb.start().waitFor()
        parseChunk(Files.readString(out), names)
      } catch { case _: java.io.IOException => None }
    parsed match {
      case Some((_, f, _)) if f.nonEmpty =>
        val tail = Files.readString(log)
        System.err.println(s"[bench] chunk with failures $f, child log tail:\n" +
          tail.substring(math.max(0, tail.length - 1500)))
      case None =>
        val tail = try Files.readString(log) catch { case _: Exception => "" }
        System.err.println("[bench] unparseable chunk output, child log tail:\n" +
          tail.substring(math.max(0, tail.length - 1500)))
      case _ => ()
    }
    parsed
  }

  /** Parse a child's full-detail JSON line (we wrote the format: a flat
    * "queries" object of name->seconds, a flat "failed" array, and the
    * chunk's pinned-calibration median).
    */
  private def parseChunk(
      raw: String,
      names: Seq[String]): Option[(Seq[(String, Double)], List[String], List[Double])] = {
    val qrx  = """"queries":\{([^}]*)\}""".r
    val pair = """"([^"]+)":(-?\d+(?:\.\d+)?)""".r
    val crx  = """"median":(\d+(?:\.\d+)?)""".r
    qrx.findFirstMatchIn(raw).map { m =>
      val got = pair.findAllMatchIn(m.group(1)).map(p => p.group(1) -> p.group(2).toDouble).toMap
      // keep the parent's canonical order; a name the child never reported
      // (crashed mid-chunk) is a failure, not a silent omission
      val res    = names.map(n => n -> got.getOrElse(n, -1.0))
      val failed = res.collect { case (n, v) if v < 0 => n }.toList
      val calib  = crx.findFirstMatchIn(raw).map(_.group(1).toDouble).toList
      (res, failed, calib)
    }
  }

  // ----------------------------------------------------------- worker body

  /** Run every wanted query + pipeline in THIS JVM; returns (results in
    * canonical order, failed names).
    */
  private def runQueries(
      sfDir: String,
      wanted: String => Boolean): (Seq[(String, Double)], List[String], Option[Double]) = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    // GraftSession.local installs GraftExtensions: the benched plans carry
    // the same optimizer rules + SQL registrations the engine ships with
    // (measured plans == shipped plans; round-7 verdict item 1).
    val spark = graft.core.GraftSession.local(cpus, cpus.toInt)
    quietBenignNoise()

    var failed = List.empty[String]
    // median of `reps` runs; any failing rep marks the query failed (-1)
    def timed(name: String)(body: => Unit): (String, Double) = {
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        try { body; (System.nanoTime() - t0) / 1e9 }
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
            -1.0
        }
      }
      if (times.exists(_ < 0)) { failed ::= name; name -> -1.0 }
      else name -> times.sorted.apply(reps / 2)
    }

    // Between-query hygiene: operators unpersist their own caches, but
    // eager localCheckpoint blocks (q30/q33/q78) and any cached relations
    // live until their RDD is GC'd — left alone they pressure every LATER
    // query in the chunk (measured: q39 at 11 s mid-chunk vs 1.2 s
    // isolated). Clear cached relations, drop surviving persisted RDD
    // blocks, and give the ContextCleaner a GC to collect dead refs.
    def settle(spark: SparkSession): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      System.gc()
    }

    // warm the JVM/codegen/parquet-footer caches so the first timed query
    // isn't charged session startup (~3 s of JIT + executor spin-up)
    SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()

    // CALIBRATION (round-7 verdict item 3): a pinned trivial query at a
    // pinned scale, measured by every chunk's JVM. The r7 artifact recorded
    // q138 at 37.6 s where an idle host gave 2.16 s — driver-host
    // contention, indistinguishable from a plan regression without a
    // re-run. The calibration median makes the record self-normalizing: if
    // a chunk's calibration reads k x its quiet-host value (~1 s), that
    // chunk's query times carry the same contention factor.
    val calib: Option[Double] =
      if (sys.env.get("SPARK_GRAFT_BENCH_CALIB").contains("0")) None
      else try {
        val calibDir = sys.env.getOrElse("SPARK_GRAFT_CALIB_DIR", "/root/testdata/sf0.01")
        val fn = SparkEntry.queries("q02_tpch_q1")
        val ts = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          fn(spark, calibDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        Some(ts.sorted.apply(1))
      } catch { case _: Throwable => None }

    val queryResults = SparkEntry.queries.toSeq.sortBy(_._1).collect {
      case (name, fn) if wanted(name) =>
        val r = timed(name)(fn(spark, sfDir).write.format("noop").mode("overwrite").save())
        settle(spark)
        r
    }

    // The 3 domain pipelines over a synthetic 1-hour 10 Hz log (~180k
    // frames) — the parse-class / inference-class workloads of BASELINE.md.
    // Parse timings run the FULL read+decode each rep (no cache, so the
    // median measures the parse, not a cache readback); the cached landing
    // below is built outside any timer for the downstream pipelines.
    lazy val logDir = BenchLog.write(Files.createTempDirectory("benchlog").toString)
    val pipelineResults = Seq(
      ("pipeline_parse_1h_log", () => timed("pipeline_parse_1h_log") {
        graft.pipelines.CanPipelines
          .parseToLanding(graft.decode.CanDecode.decodeFiles(spark, logDir))
          .write.format("noop").mode("overwrite").save()
      }),
      // legacy binaryFile+flatMap path — measured so the 3x gap that
      // motivated the default switch stays visible
      ("pipeline_parse_flatmap", () => timed("pipeline_parse_flatmap") {
        graft.pipelines.CanPipelines
          .parseToLanding(graft.decode.CanDecode.decodeFilesFlatMap(spark, logDir))
          .write.format("noop").mode("overwrite").save()
      })).collect { case (n, f) if wanted(n) => f() } ++ {
      val downstream = Seq("pipeline_stationary", "pipeline_autopilot").exists(wanted)
      if (!downstream) Seq.empty
      else {
        val landing = graft.pipelines.CanPipelines
          .parseToLanding(graft.decode.CanDecode.decodeFiles(spark, logDir))
          .cache()
        landing.write.format("noop").mode("overwrite").save() // materialize, untimed
        val r = Seq(
          ("pipeline_stationary", () => timed("pipeline_stationary") {
            graft.pipelines.CanPipelines
              .stationaryIntervals(graft.pipelines.CanPipelines.speedSeries(landing))
              .write.format("noop").mode("overwrite").save()
          }),
          ("pipeline_autopilot", () => timed("pipeline_autopilot") {
            graft.pipelines.CanPipelines
              .autopilotDaily(graft.pipelines.CanPipelines
                .autopilotTransitions(graft.pipelines.CanPipelines.apSeries(landing)))
              .write.format("noop").mode("overwrite").save()
          })).collect { case (n, f) if wanted(n) => f() }
        landing.unpersist()
        r
      }
    }
    spark.stop()
    (queryResults ++ pipelineResults, failed, calib)
  }

  /** The eager localCheckpoint loops (star CC, k-means) race the
    * ContextCleaner into benign "attempted to access non-existent
    * accumulator" ERROR traces that bury the bench's one JSON line; those
    * two loggers go to FATAL — real failures still surface through the
    * "failed" list and the [bench] stderr lines.
    */
  private[graft] def quietBenignNoise(): Unit =
    try {
      import org.apache.logging.log4j.Level
      import org.apache.logging.log4j.core.config.Configurator
      Seq(
        "org.apache.spark.scheduler.DAGScheduler",
        "org.apache.spark.scheduler.TaskSchedulerImpl",
        "org.apache.spark.scheduler.TaskSetManager",
        "org.apache.spark.executor.Executor",
        "org.apache.spark.ContextCleaner")
        .foreach(Configurator.setLevel(_, Level.FATAL))
    } catch { case _: Throwable => () } // logging must never kill the bench

  // ----------------------------------------------------------------- emit

  private def emit(
      results: Seq[(String, Double)],
      failed: List[String],
      sfDir: String,
      calibs: Seq[Double],
      recals: List[(Int, Double, Double)] = Nil,
      calibWaits: Int = 0): Unit = {
    val total    = results.map(_._2).filter(_ >= 0).sum
    val failedJs = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    def fmt(v: Double): String = if (v < 0) "-1" else f"$v%.3f"
    // self-normalization fields (round-7 verdict item 3): pinned-query
    // calibration per chunk JVM + a host-load snapshot. README documents
    // the reading rule (quiet-host calibration ~= its BASELINE value; a
    // k x calibration means the chunk ran under k x host contention).
    // "recalibrated" (round-10 item 2) lists every chunk the calibration
    // gate re-ran, with both measured calibrations — the kept run's value
    // is the one folded into median/max.
    val recalJs =
      if (recals.isEmpty) ""
      else recals
        .map { case (ci, a, b) => s"""{"chunk":$ci,"first":${fmt(a)},"retry":${fmt(b)}}""" }
        .mkString(""""recalibrated":[""", ",", "],")
    val calibJs =
      if (calibs.isEmpty) ""
      else {
        val s = calibs.sorted
        s""""calibration":{"pinned":"q02_tpch_q1@sf0.01","median":${fmt(s(s.size / 2))},"max":${fmt(s.last)},"n":${s.size},"calib_waits":$calibWaits},$recalJs"""
      }
    val loadavg =
      try Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+").take(3).mkString("[", ",", "]")
      catch { case _: Exception => "[]" }
    def line(qs: String, extra: String): String =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,$extra$calibJs"loadavg":$loadavg,"sf":"$sfDir","n_queries":${results.size},"failed":$failedJs}"""
    // Full per-query detail -> the OUT file. ALWAYS written (default
    // ./bench.json): round 6 exited 1 on real failures and the driver's
    // 2000-char stdout tail was consumed by stack traces, so the whole
    // round's per-query perf record for the 123 healthy queries was lost
    // (`BENCH_r06.parsed: null`). The file survives any rc.
    val fullQs  = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    // fold the committed >=10x soak record (graft.Soak) into the full
    // artifact so the round's bench JSON carries the sf1 evidence
    val soak =
      try {
        val s = Files.readString(Paths.get("soak_sf1.json")).trim
        if (s.startsWith("{")) s""""sf1_soak":$s,""" else ""
      } catch { case _: Exception => "" }
    // ...and a two-number summary into the BUDGETED stdout line (round-8
    // verdict item 5): the driver artifact is built from the stdout tail,
    // which previously carried no soak evidence at all
    val soakSummary =
      try {
        val s = Files.readString(Paths.get("soak_sf1.json")).trim
        val totalRe = """"total":([0-9.]+)""".r
        val qRe     = """"(q[0-9]+[a-z_0-9]*)":([0-9.]+)""".r
        (for (t <- totalRe.findFirstMatchIn(s)) yield {
          val worst = qRe
            .findAllMatchIn(s)
            .map(m => m.group(1) -> m.group(2).toDouble)
            .maxByOption(_._2)
          val w = worst.map { case (n, v) => s""","sf1_worst":"$n","sf1_worst_sec":${fmt(v)}""" }.getOrElse("")
          s""""sf1_total":${t.group(1)}$w,"""
        }).getOrElse("")
      } catch { case _: Exception => "" }
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench.json")
    try Files.writeString(Paths.get(outPath), line(fullQs, soak) + "\n")
    catch { case e: java.io.IOException =>
      System.err.println(s"[bench] cannot write $outPath: ${e.getMessage}")
    }
    // The harness records only the LAST 2000 chars of stdout, and sbt
    // appends its own "[success] Total time..." line after ours — so the
    // stdout JSON must fit ~1800 chars or its head gets truncated away
    // (round 4 lost its per-query numbers exactly this way). Emit entries
    // slowest-first (failures always included) until the budget is spent;
    // the omitted fast tail is summed into "rest" so value still equals
    // the sum of everything reported.
    val budget  = 1100 // leave tail room for the compact headline LAST line
    val ordered = results.sortBy { case (_, v) => if (v < 0) Double.MinValue else -v }
    val picked  = scala.collection.mutable.ListBuffer.empty[(String, Double)]
    var used    = 0
    ordered.foreach { case (k, v) =>
      val entryLen = k.length + fmt(v).length + 4
      if (used + entryLen <= budget || v < 0) { picked += ((k, v)); used += entryLen }
    }
    val rest = total - picked.map(_._2).filter(_ >= 0).sum
    val restJs =
      if (picked.size == results.size) ""
      else s""""rest":${fmt(rest)},"omitted":${results.size - picked.size},"""
    val qs = picked.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    println(line(qs, restJs + soakSummary))
    // COMPACT HEADLINE, ALWAYS THE LAST LINE (round-13 verdict item 1):
    // the r13 driver capture kept only the stdout tail and the detailed
    // line's HEAD — "metric":"total" and the worst queries — fell off,
    // leaving parsed:null. This line is ~350 chars of complete JSON (the
    // 5 worst queries + the calibration/settledness facts), so a 2000-char
    // tail capture can never truncate the headline again, and it is a
    // fully parseable {"metric":"total",...} record on its own.
    val worst5 = results.filter(_._2 >= 0).sortBy(-_._2).take(5)
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    println(
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$worst5,""" +
        s""""rest":${fmt(total - results.filter(_._2 >= 0).sortBy(-_._2).take(5).map(_._2).sum)},""" +
        calibJs + soakSummary +
        s""""sf":"$sfDir","n_queries":${results.size},"failed":$failedJs}""")
  }
}
