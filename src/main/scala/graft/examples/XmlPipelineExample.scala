package graft.examples

import graft.core._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Runnable port of the reference's flagship example
  * (`examples/list-xml-filter-stdout/main.go:42-50`): 500k XML strings →
  * extract name → drop names containing "B" → running fold of
  * sum(length) emitted every 50k → keep emissions > 210000 → console.
  *
  * Run: sbt "runMain graft.examples.XmlPipelineExample"
  */
object XmlPipelineExample {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.SessionSetup.session(4, "WARN")

    val names = Seq("Adam", "Albert", "Alice", "Alex", "Bart", "Bob",
      "Brittney", "Brenda", "Cecilia", "Chad", "Elliot", "Wojtek")
    val t0 = System.nanoTime()
    val result = Pipeline(spark)
      .root(RoundRobinSource(500000, names.map(n => s"<name>$n</name>")))
      .mapRaw(v => from_xml(v, StructType(Seq(StructField("_VALUE", StringType)))).getField("_VALUE"))
      .filter(v => !v.contains("B"))
      .map(LongType)(length(_).cast(LongType))
      .foldTriggered(50000)(sum)
      .filter(_ > 210000)
      .to(ConsoleSink(100))
    println(s"result=$result elapsed=${(System.nanoTime() - t0) / 1e9}s")
    spark.stop()
  }
}
