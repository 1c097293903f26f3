package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}

/** The stateful parse formulation `CanStreams.runParse` replaced, kept as
  * the reference its specs compare against: a watermarked streaming
  * aggregation (Update mode) whose state holds one pivoted row per live
  * epoch — evicted 1.2 s (event time) behind the max, by a no-data batch at
  * the end of each AvailableNow invocation — upserted batch-wins into the
  * landing table. Its checkpoint carries a `state/` subtree.
  */
object StatefulParse {

  def pivotStream(decoded: DataFrame): DataFrame = {
    val signals = Seq(
      "long_acc", "lat_acc", "vert_acc",
      "yaw_rate", "pitch_rate", "roll_rate",
      "lat", "long", "speed", "ap_status")
    decoded
      .withWatermark("ts", "1.2 seconds")
      .groupBy(col("device"), col("ts"), col("epoch_sec"))
      .agg(
        first(col(signals.head), ignoreNulls = true).as(signals.head),
        signals.tail.map(s => first(col(s), ignoreNulls = true).as(s)): _*)
      .withColumn("acc_unit", when(col("long_acc").isNotNull, "m/s^2"))
      .withColumn("gyro_unit", when(col("yaw_rate").isNotNull, "rad/s"))
      .withColumn("speed_unit", when(col("speed").isNotNull, "KPH"))
  }

  def run(spark: SparkSession, rawDir: String, landingDir: String, checkpointDir: String): StreamingQuery =
    pivotStream(CanStreams.decodedStream(spark, rawDir))
      .withColumn("date", to_date(col("ts")))
      .withColumn("hour", hour(col("ts")))
      .writeStream
      .outputMode(OutputMode.Update)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        MergeSink.upsert(
          batch.sparkSession, batch, landingDir,
          keyCols = Seq("device", "epoch_sec"),
          partitionCols = Seq("date", "hour"))
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
}
