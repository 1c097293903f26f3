package graft.streaming

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.SparkTestSession
import graft.decode.{CanDecode, CanFixture}
import graft.pipelines.CanPipelines

/** Batch ≡ stream equivalence (SURVEY §5.4) + the cross-file state fix:
  * streaming results over split inputs must equal the batch pipeline over
  * the concatenated input, including edges/runs that SPAN file boundaries
  * (which the reference's per-object Lambda model loses, SURVEY §2.7-9),
  * and re-processing must be idempotent (MergeSink).
  */
class CanStreamsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import CanFixture._

  private def speedPayload(v: Double): Array[Byte] = {
    val u = math.round((v + 40.0) / 0.08).toInt
    Array[Byte](0x00, ((u & 0x0f) << 4).toByte, (u >> 4).toByte)
  }

  test("streaming pivot over split files == batch pivot over all; re-run is idempotent") {
    val t0 = 1700000000L * 1000000L
    val fileA = file(
      timesync(t0),
      frame(1000, 273, 0, Array[Byte](1, 0, 2, 0, 3, 0)),
      frame(1000, 599, 0, speedPayload(32.0)),
      frame(2000, 599, 0, speedPayload(0.0)))
    val fileB = file(
      timesync(t0),
      frame(2000, 921, 0, Array[Byte](3)), // merges into fileA's epoch t0+2s
      frame(3000, 599, 0, speedPayload(16.0)))

    val raw  = Files.createTempDirectory("canraw").toString
    val land = Files.createTempDirectory("canland").toString
    val ckpt = Files.createTempDirectory("canckpt").toString

    // invocation 1: only file A has landed
    Files.write(Paths.get(raw, "a.log"), fileA)
    CanStreams.runParse(spark, raw, land, ckpt).awaitTermination()
    // invocation 2: file B lands; checkpoint carries source offsets
    Files.write(Paths.get(raw, "b.log"), fileB)
    CanStreams.runParse(spark, raw, land, ckpt).awaitTermination()

    val sigCols = Seq(
      "epoch_sec", "long_acc", "lat_acc", "vert_acc", "yaw_rate", "pitch_rate",
      "roll_rate", "lat", "long", "speed", "ap_status")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select(sigCols.map(col): _*).orderBy("epoch_sec").collect().toSeq

    val streamed = canon(spark.read.parquet(land))
    val batch    = canon(CanPipelines.pivot(CanDecode.decodeFiles(spark, raw)))
    assert(streamed === batch)
    // the epoch shared across files merged into ONE row with both signals
    val merged = spark.read.parquet(land).filter(col("ap_status").isNotNull).collect()
    assert(merged.length === 1 && merged.head.getAs[Double]("speed") === 0.0)

    // idempotence: fresh checkpoint reprocesses everything; upsert must not dup
    val ckpt2 = Files.createTempDirectory("canckpt2").toString
    CanStreams.runParse(spark, raw, land, ckpt2).awaitTermination()
    assert(canon(spark.read.parquet(land)) === batch)
  }

  test("retry from checkpoint: a replayed batch (crash before commit) does not duplicate") {
    val t0 = 1700000000L * 1000000L
    val fileA = file(
      timesync(t0),
      frame(1000, 599, 0, speedPayload(32.0)),
      frame(2000, 599, 0, speedPayload(0.0)))

    val raw  = Files.createTempDirectory("crashraw").toString
    val land = Files.createTempDirectory("crashland").toString
    val ckpt = Files.createTempDirectory("crashckpt").toString
    Files.write(Paths.get(raw, "a.log"), fileA)
    CanStreams.runParse(spark, raw, land, ckpt).awaitTermination()
    val expect = spark.read.parquet(land).orderBy("epoch_sec").collect().toSeq

    // simulate a crash AFTER the sink wrote but BEFORE the batch committed:
    // delete the latest commit marker, leaving offsets + sink output in
    // place — restart must re-run that batch against the already-written
    // target, and the idempotent merge must absorb the replay
    val commits = Paths.get(ckpt, "commits")
    val latest = Files.list(commits).iterator().asScala.toSeq
      .filter(p => p.getFileName.toString.forall(_.isDigit))
      .maxBy(_.getFileName.toString.toLong)
    Files.delete(latest)
    // drop the manager's checksum sidecar too, or the restarted query sees a
    // checksum for a missing commit and refuses the checkpoint
    Files.list(commits).iterator().asScala.toSeq
      .filter(_.getFileName.toString.contains(latest.getFileName.toString))
      .foreach(Files.delete)
    CanStreams.runParse(spark, raw, land, ckpt).awaitTermination()
    assert(spark.read.parquet(land).orderBy("epoch_sec").collect().toSeq === expect)
  }

  test("maxFilesPerTrigger paces a backlog into multiple committed batches, same result") {
    val t0 = 1700000000L * 1000000L
    val raw  = Files.createTempDirectory("paceraw").toString
    val land = Files.createTempDirectory("paceland").toString
    val ckpt = Files.createTempDirectory("paceckpt").toString
    (0 until 3).foreach { i =>
      Files.write(
        Paths.get(raw, s"f$i.log"),
        file(timesync(t0), frame(1000 * i, 599, 0, speedPayload(8.0 * i))))
    }
    CanStreams
      .runParse(spark, raw, land, ckpt, maxFilesPerTrigger = Some(1))
      .awaitTermination()
    // one committed DATA micro-batch per file, not one unbounded batch.
    // (The v2 source may also commit a trailing NO-DATA batch — same final
    // offset — to advance the watermark and flush stateful operators; count
    // batches by the offset log's admitted-file growth, not raw commits.)
    val offsetDir = Paths.get(ckpt, "offsets")
    val fileCounts = Files.list(offsetDir).iterator().asScala.toSeq
      .filter(p => p.getFileName.toString.forall(_.isDigit))
      .sortBy(_.getFileName.toString.toLong)
      .map { p =>
        val json = Files.readAllLines(p).asScala.last
        ".log".r.findAllIn(json).size // one .log path per admitted file
      }
    val dataBatches = fileCounts.distinct
    assert(dataBatches === Seq(1, 2, 3), s"expected 1 new file per batch, got $fileCounts")
    val nCommits = Files.list(Paths.get(ckpt, "commits")).iterator().asScala
      .count(p => p.getFileName.toString.forall(_.isDigit))
    assert(nCommits >= 3 && nCommits <= fileCounts.size)
    val streamed = spark.read.parquet(land)
      .select("epoch_sec", "speed").orderBy("epoch_sec").collect().toSeq
    val batch = CanPipelines.pivot(CanDecode.decodeFiles(spark, raw))
      .select("epoch_sec", "speed").orderBy("epoch_sec").collect().toSeq
    assert(streamed === batch)
  }

  test("transitionsStream detects edges ACROSS micro-batches (cross-file fix)") {
    import spark.implicits._
    val ms = MemoryStream[(String, Double, Int)](spark)
    val q = CanStreams
      .transitionsStream(ms.toDS())
      .writeStream
      .format("memory")
      .queryName("trans_out")
      .outputMode("append")
      .start()
    try {
      ms.addData(("dev1", 1.0, 2), ("dev1", 2.0, 2)) // file 1 ends idle
      q.processAllAvailable()
      assert(spark.table("trans_out").count() === 0)
      ms.addData(("dev1", 3.0, 3), ("dev1", 4.0, 1)) // file 2 opens ACTIVE
      q.processAllAvailable()
      val got = spark
        .table("trans_out")
        .orderBy("ts_sec")
        .collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getInt(2), r.getString(3)))
      // 2->3 edge spans the batch boundary; reference loses it
      assert(got === Array(
        ("dev1", 3.0, 3, "engagement"),
        ("dev1", 4.0, 1, "disengagement")))
    } finally q.stop()
  }

  test("transitionsStream matches the batch pipeline on a one-batch series") {
    import spark.implicits._
    val series = Seq(
      ("d", 1.0, "AVAILABLE"), ("d", 2.0, "ACTIVE_NOMINAL"), ("d", 3.0, "ACTIVE_RESTRICTED"),
      ("d", 4.0, "ACTIVE_NOMINAL"), ("d", 5.0, "DISABLED"))
    val batch = CanPipelines
      .autopilotTransitions(series.toDF("key", "ts_sec", "state").drop("key"))
      .collect()
      .map(r => (r.getDouble(0), r.getInt(1), r.getString(2)))

    val codes = series.map { case (k, t, s) => (k, t, graft.decode.CanCodec.ApCodes(s)) }
    val ms = MemoryStream[(String, Double, Int)](spark)
    val q = CanStreams
      .transitionsStream(ms.toDS())
      .writeStream.format("memory").queryName("trans_eq").outputMode("append").start()
    try {
      ms.addData(codes: _*)
      q.processAllAvailable()
      val streamed = spark
        .table("trans_eq")
        .orderBy("ts_sec")
        .collect()
        .map(r => (r.getDouble(1), r.getInt(2), r.getString(3)))
      assert(streamed === batch)
    } finally q.stop()
  }

  private def speedAt(offsetMs: Int, v: Double): Array[Byte] = frame(offsetMs, 599, 0, speedPayload(v))
  private def epochOf(t0: Long, offsetMs: Int): Double = (t0 + offsetMs * 1000L).toDouble / 1e6
  private def landingEpochs(land: String): Seq[Double] =
    spark.read.parquet(land).select("epoch_sec").collect().map(_.getDouble(0)).toSeq.sorted
  /** Every landing column, rows in key order. */
  private def landingRows(land: String): Seq[org.apache.spark.sql.Row] = {
    val df = spark.read.parquet(land)
    df.select(df.columns.sorted.map(col): _*).orderBy("device", "epoch_sec").collect().toSeq
  }

  test("pivot watermark: events later than 1.2 s behind the max are dropped (MAX_SR parity)") {
    val t0   = 1700000000L * 1000000L
    val raw  = Files.createTempDirectory("wmraw").toString
    val land = Files.createTempDirectory("wmland").toString
    val ckpt = Files.createTempDirectory("wmckpt").toString
    Files.write(Paths.get(raw, "a.log"), file(timesync(t0), speedAt(0, 10.0), speedAt(10000, 20.0)))
    CanStreams.runParse(spark, raw, land, ckpt).awaitTermination() // watermark -> t0 + 8.8 s
    Files.write(Paths.get(raw, "b.log"), file(timesync(t0), speedAt(5000, 99.0), speedAt(11000, 30.0)))
    CanStreams.runParse(spark, raw, land, ckpt).awaitTermination() // t0 + 5 s is 5 s late
    val epochs = landingEpochs(land)
    // the in-watermark rows all surface; the late t0 + 5 s row never does
    assert(epochs.contains(epochOf(t0, 0)) && epochs.contains(epochOf(t0, 10000)) &&
      epochs.contains(epochOf(t0, 11000)))
    assert(!epochs.contains(epochOf(t0, 5000)), "late event leaked past the 1.2 s watermark")
  }

  test("runParse watermark: a frame exactly ON the watermark is late; a replayed batch drops the same frames") {
    val t0   = 1700000000L * 1000000L
    val raw  = Files.createTempDirectory("wmbraw").toString
    val land = Files.createTempDirectory("wmbland").toString
    val ckpt = Files.createTempDirectory("wmbckpt").toString
    Files.write(Paths.get(raw, "a.log"), file(timesync(t0), speedAt(0, 10.0), speedAt(10000, 20.0)))
    CanStreams.runParse(spark, raw, land, ckpt).awaitTermination()
    // batch 1's watermark is t0 + 10 s - 1.2 s = t0 + 8.8 s (ts <= watermark is late)
    Files.write(Paths.get(raw, "b.log"),
      file(timesync(t0), speedAt(5000, 99.0), speedAt(8800, 98.0), speedAt(8801, 30.0)))
    CanStreams.runParse(spark, raw, land, ckpt).awaitTermination()
    val wm = new org.apache.spark.sql.execution.streaming.checkpointing.OffsetSeqLog(spark, s"$ckpt/offsets")
      .offsetSeqMetadataForBatchId(1).map(_.batchWatermarkMs)
    assert(wm === Some(t0 / 1000 + 8800))
    val expected = Seq(epochOf(t0, 0), epochOf(t0, 8801), epochOf(t0, 10000))
    assert(landingEpochs(land) === expected)
    val before = landingRows(land)

    // replay batch 1: drop its commit marker (and the checksum sidecar) and
    // restart — the batch re-runs from the offset log with the same watermark
    val commits = Paths.get(ckpt, "commits")
    val latest = Files.list(commits).iterator().asScala.toSeq
      .filter(p => p.getFileName.toString.forall(_.isDigit))
      .maxBy(_.getFileName.toString.toLong)
    assert(latest.getFileName.toString === "1")
    Files.delete(latest)
    Files.list(commits).iterator().asScala.toSeq
      .filter(_.getFileName.toString.contains(latest.getFileName.toString))
      .foreach(Files.delete)
    CanStreams.runParse(spark, raw, land, ckpt).awaitTermination()
    assert(Files.exists(latest), "the replayed batch did not commit")
    assert(landingRows(land) === before)
  }

  /** Three invocations over two devices, with same-timestamp frames across
    * files (within and across invocations), an in-time frame whose signal
    * the landing row already holds, late frames and a new hour.
    */
  private def invocations(t0: Long): Seq[Seq[(String, Array[Byte])]] = {
    val t1 = t0 + 3600L * 1000000L
    Seq(
      Seq(
        "dev1/a.log" -> file(timesync(t0), speedAt(0, 10.0), speedAt(1000, 12.0),
          frame(2000, 921, 0, Array[Byte](2))),
        "dev1/b.log" -> file(timesync(t0), frame(1000, 921, 0, Array[Byte](3)),
          frame(3000, 273, 0, Array[Byte](1, 0, 2, 0, 3, 0))),
        "dev2/a.log" -> file(timesync(t0), speedAt(0, 40.0), speedAt(2000, 44.0))),
      // watermark t0 + 1.8 s
      Seq(
        "dev1/c.log" -> file(timesync(t0), frame(3000, 921, 0, Array[Byte](1)), // merges into t0+3 s
          speedAt(3000, 50.0), speedAt(1000, 99.0) /* late */, speedAt(2500, 52.0)),
        "dev2/c.log" -> file(timesync(t0), speedAt(2000, 77.0) /* old value wins */,
          frame(2000, 921, 0, Array[Byte](3)) /* fills a null */)),
      // watermark still t0 + 1.8 s: invocation 2's max is t0 + 3 s as well
      Seq(
        "dev1/d.log" -> file(timesync(t1), speedAt(0, 5.0), speedAt(500, 6.0)),
        "dev2/d.log" -> file(timesync(t0), speedAt(1500, 1.0) /* late */, speedAt(2900, 2.0))))
  }

  private def writeInvocation(raw: String, files: Seq[(String, Array[Byte])]): Unit =
    files.foreach { case (rel, bytes) =>
      val p = Paths.get(raw, rel)
      Files.createDirectories(p.getParent)
      Files.write(p, bytes)
    }

  test("stateless runParse lands exactly what the stateful pivot formulation lands, invocation by invocation") {
    val t0 = 1700000000L * 1000000L
    val (rawS, landS, ckptS) = (Files.createTempDirectory("eqraws").toString,
      Files.createTempDirectory("eqlands").toString, Files.createTempDirectory("eqckpts").toString)
    val (rawR, landR, ckptR) = (Files.createTempDirectory("eqrawr").toString,
      Files.createTempDirectory("eqlandr").toString, Files.createTempDirectory("eqckptr").toString)
    invocations(t0).zipWithIndex.foreach { case (files, i) =>
      writeInvocation(rawS, files)
      writeInvocation(rawR, files)
      CanStreams.runParse(spark, rawS, landS, ckptS).awaitTermination()
      StatefulParse.run(spark, rawR, landR, ckptR).awaitTermination()
      assert(landingRows(landS) === landingRows(landR), s"landing differs after invocation ${i + 1}")
    }
    val rows = spark.read.parquet(landS)
    // the cases the fixture plants actually occurred
    assert(!landingEpochs(landS).contains(epochOf(t0, 1500)))
    assert(rows.filter(col("device") === "dev2" && col("epoch_sec") === epochOf(t0, 2000))
      .select("speed", "ap_status").collect().map(r => (r.getDouble(0), r.getString(1))).toSeq ===
      Seq((44.0, "ACTIVE_NOMINAL")))
    assert(rows.filter(col("device") === "dev1" && col("epoch_sec") === epochOf(t0, 1000))
      .select("speed").collect().map(_.getDouble(0)).toSeq === Seq(12.0))
    assert(Files.notExists(Paths.get(ckptS, "state")))
  }

  test("upgrade: a checkpoint written by the stateful parse resumes; landing equals a fresh run") {
    val t0 = 1700000000L * 1000000L
    val Seq(first, second, _) = invocations(t0)
    val (raw, work) = (Files.createTempDirectory("upraw").toString, Files.createTempDirectory("upwork").toString)
    writeInvocation(raw, first)
    StatefulParse.run(spark, raw, s"$work/landing", s"$work/ckpt/parse").awaitTermination()
    assert(Files.isDirectory(Paths.get(work, "ckpt", "parse", "state")))
    writeInvocation(raw, second)
    graft.Jobs.parse(spark, raw, work)
    assert(Files.notExists(Paths.get(work, "ckpt", "parse", "state")))

    val (raw2, work2) = (Files.createTempDirectory("upraw2").toString, Files.createTempDirectory("upwork2").toString)
    writeInvocation(raw2, first)
    graft.Jobs.parse(spark, raw2, work2)
    writeInvocation(raw2, second)
    graft.Jobs.parse(spark, raw2, work2)
    assert(landingRows(s"$work/landing") === landingRows(s"$work2/landing"))
  }

  test("streamingDedup drops same-key duplicates across micro-batches") {
    import spark.implicits._
    val ms = MemoryStream[(String, Long)](spark)
    val df = ms.toDS().toDF("digest", "sec").withColumn("ts", timestamp_seconds(col("sec")))
    val q = CanStreams
      .streamingDedup(df, Seq("digest"), "10 seconds")
      .writeStream.format("memory").queryName("dedup_out").outputMode("append").start()
    try {
      ms.addData(("a", 100L), ("b", 101L), ("a", 102L)) // in-batch dup
      q.processAllAvailable()
      ms.addData(("a", 103L), ("c", 104L))              // cross-batch dup
      q.processAllAvailable()
      val got = spark.table("dedup_out").select("digest").collect().map(_.getString(0)).sorted
      assert(got.toSeq === Seq("a", "b", "c"))
    } finally q.stop()
  }

  test("stationarySessionStream: session_window form emits gap-closed sessions >= 13 s") {
    import spark.implicits._
    val ms = MemoryStream[(String, Long, Double)](spark)
    val df = ms.toDS().toDF("key", "sec", "speed")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val q = CanStreams
      .stationarySessionStream(df)
      .writeStream.format("memory").queryName("sess_out").outputMode("append").start()
    try {
      // 20 s of zeros, then silence; a far-future event advances the watermark
      ms.addData((100L to 120L).map(t => ("d", t, 0.0)): _*)
      q.processAllAvailable()
      ms.addData(("d", 1000L, 0.0)) // watermark -> 990 s, closes the session
      q.processAllAvailable()
      val got = spark.table("sess_out").collect().map(r => (r.getDouble(1), r.getDouble(2)))
      assert(got === Array((103.0, 117.0)))
    } finally q.stop()
  }

  test("stationaryStream: run split across batches emits once closed; 12 s run never emits") {
    import spark.implicits._
    val ms = MemoryStream[(String, Double, Double)](spark)
    val q = CanStreams
      .stationaryStream(ms.toDS())
      .writeStream.format("memory").queryName("stat_out").outputMode("append").start()
    try {
      // batch 1: zeros t=100..107 (open run, still open at batch end)
      ms.addData((100 to 107).map(t => ("d", t.toDouble, 0.0)): _*)
      q.processAllAvailable()
      assert(spark.table("stat_out").count() === 0) // not closed yet
      // batch 2: zeros t=108..114 then moving -> 14 s run closes
      ms.addData(((108 to 114).map(t => ("d", t.toDouble, 0.0)) :+ ("d", 115.0, 22.0)): _*)
      q.processAllAvailable()
      val got = spark.table("stat_out").collect().map(r => (r.getDouble(1), r.getDouble(2)))
      assert(got === Array((103.0, 111.0)))
      // batch 3: a 12 s run fully inside one batch -> ignored
      ms.addData(((200 to 212).map(t => ("d", t.toDouble, 0.0)) :+ ("d", 213.0, 9.0)): _*)
      q.processAllAvailable()
      assert(spark.table("stat_out").count() === 1)
    } finally q.stop()
  }

  test("stationaryStream: end-of-data run closes on event-time timeout, short run never does") {
    import spark.implicits._
    val ms = MemoryStream[(String, Double, Double)](spark)
    val q = CanStreams
      .stationaryStream(ms.toDS(), closeAfterSec = 30.0)
      .writeStream.format("memory").queryName("stat_eod_out").outputMode("append").start()
    try {
      // device parks: 16 s of zeros (t=300..315), then stops logging forever
      ms.addData((300 to 315).map(t => ("e", t.toDouble, 0.0)): _*)
      q.processAllAvailable()
      assert(spark.table("stat_eod_out").count() === 0) // still open, not timed out
      // a LATER, UNRELATED device advances the watermark past 315+30
      ms.addData(("other", 400.0, 50.0))
      q.processAllAvailable()
      ms.addData(("other", 401.0, 50.0)) // nudge a further batch so the timeout fires
      q.processAllAvailable()
      val got = spark.table("stat_eod_out").collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      assert(got === Array(("e", 303.0, 312.0)))
      // a 12 s end-of-data run: times out but never emits (below threshold)
      ms.addData((500 to 511).map(t => ("f", t.toDouble, 0.0)): _*)
      q.processAllAvailable()
      ms.addData(("other", 600.0, 50.0))
      q.processAllAvailable()
      ms.addData(("other", 601.0, 50.0))
      q.processAllAvailable()
      assert(spark.table("stat_eod_out").count() === 1)
    } finally q.stop()
  }
}
