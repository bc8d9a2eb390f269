package graft.examples

import graft.streaming.Streams
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Runnable streaming pipeline (ref `examples/kafka-count-stdout`):
  * an unbounded micro-batch source (the DataSource V2 records
  * connector standing in for Kafka) → event-time tumbling counts with
  * watermark → per-trigger console emission, bounded for the demo by
  * consuming the configured record range to completion.
  *
  * Run: sbt "runMain graft.examples.StreamingWindowExample"
  */
object StreamingWindowExample {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.SessionSetup.session(4, "WARN")

    val stream = spark.readStream.format("graft.sources.RecordsDataSource")
      .option("rows", "600").option("rowsperbatch", "200").load()
    val windowed = Streams.tumblingCounts(stream, "ts", "1 minute", "30 seconds")
    val q = windowed.writeStream
      .outputMode(OutputMode.Append())
      .format("console").option("truncate", "false")
      .start()
    // records span 600s of event time; drain the bounded range then stop
    val deadline = System.currentTimeMillis() + 60000
    def drained: Boolean = Option(q.lastProgress).exists(
      _.sources.headOption.exists(s => Option(s.endOffset).contains("600")))
    while (q.isActive && !drained && System.currentTimeMillis() < deadline) {
      Thread.sleep(500)
    }
    q.processAllAvailable()
    q.stop()
    println("streaming-window-example: done")
    spark.stop()
  }
}
