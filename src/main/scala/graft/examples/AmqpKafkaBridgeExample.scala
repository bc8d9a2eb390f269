package graft.examples

import graft.core._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Runnable port of the reference's BROKER-BRIDGE example
  * (`examples/amqp-kafka/main.go:48-74`): AMQP queue → Buffer(100000) →
  * Kafka topic — a pure relay whose only transform is the coder chain
  * the pipeline INJECTS (AMQP delivers raw `BINARY` bodies; the Kafka
  * sink requires the KVMBinary record shape; the reference's
  * `injectCoder` finds bytes→KVBinary→KVMBinary, and so does this
  * registry's iterative-deepening planner — nothing is spelled out at
  * the call site, exactly like the Go pipeline).
  *
  * Zero-egress image: both brokers are their contract doubles
  * ([[AmqpLikeSource]] standing in for `amqp09.Source` with its
  * prefetch≙admission knob, [[KafkaLikeSink]] writing the exact
  * `writeStream.format("kafka")` column contract to parquet), so the
  * example runs bounded to completion in CI; swapping the real
  * connectors changes the two endpoint constructors and nothing else.
  *
  * Run: sbt "runMain graft.examples.AmqpKafkaBridgeExample"
  */
object AmqpKafkaBridgeExample {

  /** Bounded bridge run; returns (relayed count, first few decoded
    * bodies read back from the sink topic) for CI assertion. */
  def run(spark: SparkSession, n: Int = 2000): (Long, Seq[String]) = {
    val topic = java.nio.file.Files.createTempDirectory("graft-bridge").toString
    try {
      val messages = (0 until n).map(i => s"message-$i")
      val result = Pipeline(spark)
        .root(AmqpLikeSource(ListSource(messages)))
        .buffer(100000) // ≙ .Buffer(100000) (admission-control no-op here)
        .to(KafkaLikeSink(s"$topic/out"))
      val relayed = result match {
        case Sink.Done(rows) => rows
        case other => sys.error(s"bounded bridge must complete: $other")
      }
      // read the topic back through the same record contract: the
      // bodies must round-trip byte-identically through the injected
      // bytes→KVBinary→KVMBinary chain
      val back = spark.read.parquet(s"$topic/out")
        .select(decode(col("value"), "UTF-8").as("body"))
        .orderBy("body")
        .limit(5).collect().map(_.getString(0)).toSeq
      (relayed, back)
    } finally
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(topic))
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.core.SessionSetup.session(4, "WARN")
    val (relayed, preview) = run(spark)
    preview.foreach(println)
    println(s"relayed=$relayed")
    spark.stop()
  }
}
