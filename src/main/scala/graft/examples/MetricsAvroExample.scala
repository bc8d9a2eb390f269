package graft.examples

import graft.coders.{AvroSerde, Coders}
import graft.core._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Runnable port of the reference's CUSTOM-CODER example
  * (`examples/kafka-custom-avro-stdout/main.go:52-90`): Kafka metric
  * records arrive VERSION-framed (byte 0 = format magic `1`, byte 1 =
  * schema version — NOT the Confluent wire format), so a user-written
  * stage must resolve the writer schema itself before the generic Avro
  * decoder can run; magic `0` (registry framing) and `'{'` (JSON) are
  * rejected, exactly the reference's panics
  * (`kafka-custom-avro-stdout/main.go:75-88`).
  *
  * Spark-first shape: the custom stage is a registered [[Coder]]
  * (`metrics.AvroRegistry` — the user-custom-coder surface, ref
  * `coder/registry.go` extension point) whose column expression
  * re-frames the bytes for the standard decode path: validate the
  * version frame, swap it for a Confluent frame bearing the FIXED
  * measurement-v1 schema id (≙ the reference returning
  * `serde.Binary{Schema: MeasurementSchemaV1, Data: value[2:]}`), all
  * codegen'd — no UDF, no per-row JVM dispatch. Downstream is the
  * ordinary `serde.GenericDecoder` twin ([[AvroSerde.decodeConfluent]])
  * and `std.Out` with `TriggerEach(1)`.
  *
  * Run: sbt "runMain graft.examples.MetricsAvroExample"
  */
object MetricsAvroExample {

  /** Measurement schema, the v1 shape the reference's fixed registry
    * serves (`kafka-custom-avro-stdout/io.amient.kafka.metrics`). */
  private val measurementSchemaV1 =
    """{"type":"record","name":"MeasurementV1","fields":[
      |{"name":"timestamp","type":"long","default":0},
      |{"name":"name","type":"string","default":""},
      |{"name":"value","type":"double","default":0.0}]}""".stripMargin

  /** The custom stage: version-framed metric bytes → Confluent-framed
    * bytes under `schemaId` (which [[AvroSerde.decodeConfluent]] then
    * resolves from the in-memory registry). Invalid frames fail the
    * task loudly, like the reference's panic. */
  private def metricsReframe(schemaId: Int): Coder = {
    val confluentHeader: Array[Byte] =
      Array[Byte](0) ++ java.nio.ByteBuffer.allocate(4).putInt(schemaId).array()
    Coder("metrics.AvroRegistry", Coders.kvmBinaryType, BinaryType) { c =>
      val v = c.getField("value")
      when(substring(v, 1, 2) === lit(Array[Byte](1, 1)),
        concat(lit(confluentHeader), substring(v, 3, Int.MaxValue)))
        .otherwise(raise_error(lit("invalid kafka metrics avro format"))
          .cast(BinaryType))
    }
  }

  /** Bounded run on a given session; returns the decoded (name, value)
    * preview rows so CI can assert the chain end-to-end. */
  def run(spark: SparkSession, n: Int = 5000): Seq[(Long, String, Double)] = {
    val registry = new AvroSerde.InMemoryRegistry
    val schemaId = registry.register("metrics-value", measurementSchemaV1)

    // fixture: version-framed records exactly as the broker delivers
    // them — avro body encoded under the v1 writer schema, prefixed
    // with the (magic=1, version=1) metrics frame
    val avroSchema = new org.apache.avro.Schema.Parser().parse(measurementSchemaV1)
    val framed: Seq[Array[Byte]] = (0 until n).map { i =>
      val rec = new org.apache.avro.generic.GenericData.Record(avroSchema)
      rec.put("timestamp", i * 1000L)
      rec.put("name", s"metric-${i % 7}")
      rec.put("value", i / 10.0)
      Array[Byte](1, 1) ++ AvroSerde.encodeBody(rec)
    }

    val sink = new MemorySink
    Pipeline(spark)
      .root(ListSource[Array[Byte]](framed, identity, BinaryType))
      // ≙ kafka1.Source's KVMBinary record shape (the contract
      // KafkaLikeSource pins for string payloads; metric bodies are raw
      // bytes, so the struct is assembled here)
      .mapRaw(v => struct(
        lit(null).cast(BinaryType).as("key"), v.as("value"),
        map().cast(MapType(StringType, BinaryType)).as("headers")))
      .via(metricsReframe(schemaId))          // the custom coder stage
      .mapRaw(AvroSerde.decodeConfluent(_, registry, measurementSchemaV1))
      .to(sink)
    sink.rows.map(r => r.getAs[org.apache.spark.sql.Row]("value"))
      .map(v => (v.getAs[Long]("timestamp"), v.getAs[String]("name"),
        v.getAs[Double]("value")))
      .toSeq
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.core.SessionSetup.session(4, "WARN")
    val out = run(spark)
    out.take(5).foreach(println) // ≙ std.Out TriggerEach(1) preview
    println(s"decoded=${out.size}")
    spark.stop()
  }
}
