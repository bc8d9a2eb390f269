package graft.examples

import graft.core._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Runnable port of the reference's NETWORK-TOPOLOGY example
  * (`examples/list-split-scatter-map-gather-stdout/main.go:46-55`):
  * list → split("\t") → Par(4) → NetRoundRobin (scatter across peers) →
  * map(ToUpper) → NetMergeOrdered (gather, restoring global order) →
  * std.Out.
  *
  * Spark-first: the reference runs this over a 3-peer TCP fabric
  * (`network.Runner`, peers flag); here scatter IS
  * RoundRobinPartitioning and the ordered gather IS a range-partitioned
  * global sort on the element stamp — the shuffle service plays the
  * fabric (SURVEY §2.5), so the same five-stage topology scales with
  * executors instead of a hand-wired peer list. The reference's own
  * TODO (`main.go:54`: ".Limit(7) doesn't work on networked pipelines
  * yet") is structurally solved: `.limit` is plan surgery here and
  * works after the gather like anywhere else.
  *
  * Run: sbt "runMain graft.examples.ScatterGatherExample"
  */
object ScatterGatherExample {

  /** The reference fixture, verbatim (`main.go:47`). */
  private val fixture =
    Seq("aaa\tbbb\tccc", "ddd", "eee", "fff", "ggg\thhh")

  /** Bounded run on a given session; returns the gathered elements in
    * their restored global order so CI can assert the topology
    * end-to-end (split fan-out preserved through scatter + gather). */
  def run(spark: SparkSession): Seq[String] = {
    val sink = new MemorySink
    Pipeline(spark)
      .root(ListSource(fixture))
      .split("\t")                    // ≙ str.Split("\t"), order-preserving fan-out
      .par(4)                         // ≙ .Par(4)
      .scatter(4)                     // ≙ network.NetRoundRobin
      .map(StringType)(upper)         // ≙ Map(strings.ToUpper)
      .mergeOrdered()                 // ≙ network.NetMergeOrdered
      .to(sink)
    sink.values.map(_.asInstanceOf[String])
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.core.SessionSetup.session(4, "WARN")
    val out = run(spark)
    out.foreach(println) // ≙ std.Out TriggerEach(1)
    println(s"gathered=${out.size}")
    spark.stop()
  }
}
