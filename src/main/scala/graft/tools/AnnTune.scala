package graft.tools
import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.core.Tables

/** Dev harness: sweep IVF×PQ parameters and print measured recall@5 —
  * the tuning loop behind the `s_ann_ivfpq` gate threshold. */
object AnnTune {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = graft.core.SessionSetup.session(8)
    val e = Tables(spark, sfDir).embeddings
    val q = e.filter(col("vec_id") < 10)
    val qq = q.select(col("vec_id").as("query_id"),
      col("embedding").cast("array<double>").as("qv"))
    val cc = e.select(col("vec_id").as("cand_id"),
      col("embedding").cast("array<double>").as("cv"))
    val d = Similarity.dot(col("qv"), col("qv")) -
      Similarity.dot(col("qv"), col("cv")) * 2.0 +
      Similarity.dot(col("cv"), col("cv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("d").asc, col("cand_id"))
    val bf = broadcast(qq).join(cc, col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"), d.as("d"))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 5)
      .select("query_id", "cand_id").cache()
    bf.count()
    def recallOf(ann: org.apache.spark.sql.DataFrame): Double =
      bf.join(ann.select(col("query_id"), col("cand_id"), lit(1).as("hit")),
          Seq("query_id", "cand_id"), "left")
        .agg((sum(coalesce(col("hit"), lit(0))) / count(lit(1))).as("recall"))
        .first().getDouble(0)
    // pure PQ with bounded training (the changed s_ann_pq shape)
    for ((bound, ksub, short, iters) <- Seq((512L, 64, 50, 2))) {
      val cbs = Similarity.pqTrain(e, m = 8, ksub = ksub, iters = iters, trainBound = bound)
      println(f"[anntune] purePQ bound=$bound ksub=$ksub short=$short iters=$iters recall=${recallOf(Similarity.pqTopK(q, e, 5, cbs, short))}%.3f")
    }
    for (args <- Seq(
      (8, 5, 512L, 64, 100))) {
      val (cells, nprobe, bound, ksub, shortlist) = args
      val ann = Similarity.ivfPqTrainedTopK(q, e, k = 5, cells = cells,
        nprobe = nprobe, m = 8, ksub = ksub, shortlist = shortlist, trainBound = bound)
      println(f"[anntune] cells=$cells nprobe=$nprobe bound=$bound ksub=$ksub short=$shortlist recall=${recallOf(ann)}%.3f")
    }
    spark.stop()
  }
}
