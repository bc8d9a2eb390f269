package graft.examples

import graft.coders.AvroSerde
import graft.core._
import org.apache.spark.sql.functions._

/** Port of the reference's Avro/Schema-Registry pipelines
  * (`examples/list-avro-sr-kafka/main.go` producing Confluent-framed
  * records to Kafka, and `examples/kafka-sr1-avro-sr2-kafka/main.go`
  * copying between registries with a projecting reader schema):
  * bounded root → GenericRecord → confluent-framed bytes (registry 1)
  * → kafka-shaped sink; then read back, decode with a PROJECTING
  * reader schema, re-encode under registry 2.
  *
  * Run: sbt "runMain graft.examples.AvroKafkaExample"
  */
object AvroKafkaExample {
  private val fullSchema =
    """{"type":"record","name":"Example","fields":[
      |{"name":"seqNo","type":"long","default":0},
      |{"name":"timestamp","type":"long","default":-1},
      |{"name":"text","type":"string","default":""}]}""".stripMargin
  private val projectedSchema =
    """{"type":"record","name":"Example","fields":[
      |{"name":"seqNo","type":"long","default":0},
      |{"name":"timestamp","type":"long","default":-1}]}""".stripMargin

  def main(args: Array[String]): Unit = {
    val spark = graft.core.SessionSetup.session(4, "WARN")
    import spark.implicits._

    val sr1 = new AvroSerde.InMemoryRegistry
    val sr2 = new AvroSerde.InMemoryRegistry
    val topic = java.nio.file.Files.createTempDirectory("graft-topic").toString

    // produce: 10k records → confluent frame under sr1 → kafka-shaped sink
    val records = spark.range(10000).select(
      col("id").as("seqNo"),
      (col("id") * 1000).as("timestamp"),
      concat(lit("msg-"), col("id")).as("text"))
    records
      .select(AvroSerde.encodeConfluent(
        struct(col("seqNo"), col("timestamp"), col("text")), sr1, "example-value", fullSchema).as("value"))
      .select(lit(null).cast("binary").as("key"), col("value"))
      .write.mode("overwrite").parquet(topic)

    // consume: decode with the PROJECTING reader schema, re-register under sr2
    val copied = spark.read.parquet(topic)
      .select(AvroSerde.decodeConfluent(col("value"), sr1, projectedSchema).as("v"))
      .select(AvroSerde.encodeConfluent(col("v"), sr2, "copy-value", projectedSchema).as("value"))
    val decodedBack = copied
      .select(AvroSerde.decodeConfluent(col("value"), sr2, projectedSchema).as("v"))
      .select("v.seqNo", "v.timestamp")
    val n = decodedBack.count()
    val sums = decodedBack.agg(sum("seqNo"), sum("timestamp")).as[(Long, Long)].head()
    println(s"copied=$n sumSeq=${sums._1} sumTs=${sums._2} " +
      s"ok=${n == 10000 && sums._1 == 49995000L && sums._2 == 49995000000L}")
    spark.stop()
  }
}
