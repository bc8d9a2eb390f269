package graft.examples

import graft.core._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Bounded-root throughput check at the reference's largest example
  * scale (`examples/list-avro-sr-kafka/main.go:116` uses a 10M-element
  * RoundRobin root): 10M elements → map → filter → global fold.
  *
  * Run: sbt "runMain graft.examples.ThroughputExample"
  */
object ThroughputExample {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.SessionSetup.session(8, "WARN")

    val n = 10000000L
    val sink = new MemorySink
    val t0 = System.nanoTime()
    Pipeline(spark)
      .root(RoundRobinSource(n, Seq("alpha", "beta", "gamma", "delta")))
      .map(IntegerType)(length(_))
      .filter(_ > 4)
      .countAll()
      .to(sink)
    val dt = (System.nanoTime() - t0) / 1e9
    val count = sink.values.head
    // lengths: alpha/gamma/delta = 5 (> 4 kept), beta = 4 (dropped) → 3n/4
    println(f"count=$count expected=${n * 3 / 4} rate=${n / dt / 1e6}%.1f M elem/s elapsed=$dt%.2fs")
    spark.stop()
  }
}
