package graft.streaming

import graft.TestSpark
import graft.queries.Analytics
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Streaming from the real events parquet: `readStream` over a file source
  * must produce the same tumbling-window aggregates as the batch query —
  * the batch/streaming unification the engine promises.
  */
class ParquetStreamSpec extends AnyFunSuite {

  private val spark = TestSpark.spark
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  test("readStream over events.parquet matches the batch tumbling aggregate") {
    assume(Files.exists(Paths.get(s"$sfDir/events.parquet")))
    // the file stream source requires a directory — stage the (read-only)
    // table file into a temp dir via symlink
    val dir = Files.createTempDirectory("graft-stream")
    Files.createSymbolicLink(dir.resolve("events.parquet"),
      Paths.get(s"$sfDir/events.parquet"))
    // file streaming needs an explicit schema; ts is normalized by the
    // same shared helper the batch reader uses (nanos-long or micros)
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val stream = spark.readStream.schema(schema)
      .parquet(dir.toString)
    val normalized = graft.etl.Readers.normalizeEventTs(stream)

    val q = EventStreams.tumblingCounts(normalized)
      .writeStream.format("memory").queryName("pq_stream_test")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("pq_stream_test")
        .select($"window_start", $"event_type", $"n", $"sum_value")
        .orderBy("window_start", "event_type")
        .collect().map(_.toSeq).toSeq
      val batch = Analytics.tumblingWindow(spark, sfDir)
        .collect().map(_.toSeq).toSeq
      assert(streamed == batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("readStream sliding windows match the batch sliding aggregate") {
    assume(Files.exists(Paths.get(s"$sfDir/events.parquet")))
    val dir = Files.createTempDirectory("graft-stream-sliding")
    Files.createSymbolicLink(dir.resolve("events.parquet"),
      Paths.get(s"$sfDir/events.parquet"))
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val stream = spark.readStream.schema(schema)
      .parquet(dir.toString)
    val normalized = graft.etl.Readers.normalizeEventTs(stream)

    val q = EventStreams.slidingCounts(normalized)
      .writeStream.format("memory").queryName("pq_sliding_test")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("pq_sliding_test")
        .select($"window_start", $"event_type", $"n", $"sum_value")
        .orderBy("window_start", "event_type")
        .collect().map(_.toSeq).toSeq
      val batch = graft.queries.AnalyticsExt.slidingWindow(spark, sfDir)
        .collect().map(_.toSeq).toSeq
      assert(streamed == batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }
}
