package graft.examples

import graft.core.Tables
import graft.operators.Curation

/** Runnable end-to-end training-data curation over the documents table:
  * quality/language/repetition gates → exact dedup → MinHash near-dup
  * removal → PII redaction → token accounting → reproducible split —
  * the composed pipeline a reference user migrates TO (see
  * `operators/Curation.scala` for the scale shape of each stage).
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 \
  *     sbt "runMain graft.examples.CurationPipelineExample"
  */
object CurationPipelineExample {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = graft.core.SessionSetup.session(8, "WARN")

    val docs = Tables(spark, dir).documents
    val f = Curation.funnel(docs)
    println(s"input docs        : ${f.input}")
    println(s"after scalar gates: ${f.afterQuality}")
    println(s"after exact dedup : ${f.afterExact}")
    println(s"after near-dup rm : ${f.afterNearDup}")
    println(s"train / test      : ${f.train} / ${f.test}")
    Curation.curate(docs).show(5, truncate = 60)
    spark.stop()
  }
}
