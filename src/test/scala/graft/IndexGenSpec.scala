package graft

import graft.examples.DailyCrawlExample
import graft.operators.{AnnIndex, IndexGen}
import org.apache.spark.sql.functions._

/** The generationed index layout: writers publish whole immutable
  * generations behind a manifest two-rename; a reader loaded at
  * generation N returns IDENTICAL results while (and after) a
  * concurrent recompaction publishes N+1 — the r12 verdict's unified
  * vacuum-swap contract for the whole prebuilt-index family.
  */
class IndexGenSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(s"graft-idxgen-$tag").toString

  test("begin/promote/live lifecycle: staging invisible, promote atomic, GC keeps the predecessor") {
    val dir = tmp("life")
    assert(IndexGen.live(spark, s"$dir/idx").isEmpty, "empty dir resolves to nothing")
    val g1 = IndexGen.begin(spark, s"$dir/idx")
    Seq(1).toDF("x").write.parquet(s"$g1/t")
    // unpromoted staging is invisible (no committed generation)
    assert(IndexGen.live(spark, s"$dir/idx").isEmpty)
    IndexGen.promote(spark, s"$dir/idx", g1)
    assert(IndexGen.live(spark, s"$dir/idx").contains(g1))
    val g2 = IndexGen.begin(spark, s"$dir/idx")
    Seq(2).toDF("x").write.parquet(s"$g2/t")
    assert(IndexGen.live(spark, s"$dir/idx").contains(g1), "staging N+1 must not affect readers")
    IndexGen.promote(spark, s"$dir/idx", g2)
    assert(IndexGen.live(spark, s"$dir/idx").contains(g2))
    // predecessor survives one promote (readers mid-load), dies at the next
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(g1)))
    val g3 = IndexGen.begin(spark, s"$dir/idx")
    Seq(3).toDF("x").write.parquet(s"$g3/t")
    IndexGen.promote(spark, s"$dir/idx", g3)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(g1)), "g1 must be GC'd")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(g2)), "predecessor g2 kept")
  }

  test("crash-window fallbacks: missing MANIFEST resolves via .prev, then via newest committed gen") {
    val dir = tmp("crash")
    val idx = s"$dir/idx"
    val g1 = IndexGen.begin(spark, idx); Seq(1).toDF("x").write.parquet(s"$g1/t")
    IndexGen.promote(spark, idx, g1)
    val g2 = IndexGen.begin(spark, idx); Seq(2).toDF("x").write.parquet(s"$g2/t")
    IndexGen.promote(spark, idx, g2)
    // simulate a crash between the two manifest renames
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$idx/MANIFEST"))
    assert(IndexGen.live(spark, idx).contains(g1), "must fall back to MANIFEST.prev")
    // double-crash: no manifest at all — newest COMMITTED generation wins
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$idx/MANIFEST.prev"))
    assert(IndexGen.live(spark, idx).contains(g2), "must fall back to newest committed gen")
  }

  test("promote during a crash window keeps the generation readers actually resolve") {
    val dir = tmp("window")
    val idx = s"$dir/idx"
    val g1 = IndexGen.begin(spark, idx); Seq(1).toDF("x").write.parquet(s"$g1/t")
    IndexGen.promote(spark, idx, g1)
    val g2 = IndexGen.begin(spark, idx); Seq(2).toDF("x").write.parquet(s"$g2/t")
    IndexGen.promote(spark, idx, g2)
    // crash between the two manifest renames: readers resolve g1 via
    // MANIFEST.prev — g1 IS the effective live now, whatever the
    // counters say
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$idx/MANIFEST"))
    assert(IndexGen.live(spark, idx).contains(g1))
    val reader = spark.read.parquet(s"${IndexGen.liveRequired(spark, idx)}/t")
    // the next promote's GC must keep g1 (a keep-set built from the
    // missing MANIFEST alone would reap it out from under the reader)
    val g3 = IndexGen.begin(spark, idx); Seq(3).toDF("x").write.parquet(s"$g3/t")
    IndexGen.promote(spark, idx, g3)
    assert(IndexGen.live(spark, idx).contains(g3))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(g1)),
      "the crash-window live generation must survive as the predecessor")
    assert(reader.as[Int].collect().toSeq == Seq(1),
      "a reader loaded in the crash window must keep answering")
  }

  test("promote after a double-crash repairs the fallback chain around the newest committed gen") {
    val dir = tmp("double")
    val idx = s"$dir/idx"
    val g1 = IndexGen.begin(spark, idx); Seq(1).toDF("x").write.parquet(s"$g1/t")
    IndexGen.promote(spark, idx, g1)
    val g2 = IndexGen.begin(spark, idx); Seq(2).toDF("x").write.parquet(s"$g2/t")
    IndexGen.promote(spark, idx, g2)
    // double-crash: both manifest files gone — readers resolve g2 as
    // the newest committed generation
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$idx/MANIFEST"))
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$idx/MANIFEST.prev"))
    assert(IndexGen.live(spark, idx).contains(g2))
    val g3 = IndexGen.begin(spark, idx); Seq(3).toDF("x").write.parquet(s"$g3/t")
    IndexGen.promote(spark, idx, g3)
    assert(IndexGen.live(spark, idx).contains(g3))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(g2)),
      "the double-crash effective live must survive as the predecessor")
    // and MANIFEST.prev was repaired to name it (the fallback chain is
    // whole again for the NEXT crash window)
    val prev = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$idx/MANIFEST.prev")),
      java.nio.charset.StandardCharsets.UTF_8).trim
    assert(g2.endsWith(prev), s"MANIFEST.prev should name g2, got $prev")
  }

  test("begin claims its staging exclusively; promoting a GC'd staging fails loudly") {
    val dir = tmp("claim")
    val idx = s"$dir/idx"
    val g1 = IndexGen.begin(spark, idx)
    // the claim marker is what a racing writer's exclusive-create
    // collides on — it must exist, and a second exclusive create of it
    // must fail (the rival moves to the next counter)
    val claim = new org.apache.hadoop.fs.Path(s"$g1/_CLAIM")
    val fs = claim.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(claim))
    intercept[java.io.IOException] { fs.create(claim, false).close() }
    // two begins never share a staging dir
    val g1b = IndexGen.begin(spark, idx)
    assert(g1b != g1)
    // a staging reaped by a rival promote's GC must fail its own
    // promote loudly, not publish an empty generation
    fs.delete(new org.apache.hadoop.fs.Path(g1), true)
    val err = intercept[IllegalArgumentException] {
      IndexGen.promote(spark, idx, g1)
    }
    assert(err.getMessage.contains("garbage-collected"))
  }

  test("a flat layout with no committed generation is refused, not read") {
    val dir = tmp("flat")
    Seq((1L, "a")).toDF("id", "t").write.parquet(s"$dir/idx/fp")
    assert(IndexGen.live(spark, s"$dir/idx").isEmpty)
    val e = intercept[IllegalStateException](IndexGen.liveRequired(spark, s"$dir/idx"))
    assert(e.getMessage.contains("rebuild"))
  }

  test("ANN model loaded at gen N answers identically while a concurrent compact publishes N+1") {
    val dir = tmp("ann")
    val idx = s"$dir/idx"
    def vec(id: Long): Seq[Float] =
      (0 until 8).map(d => (((id + 1) * (d + 3)) % 7).toFloat - 3f)
    val c1 = (1L to 20L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    AnnIndex.compact(c1, idx, cells = 2, m = 2, ksub = 4,
      coarseIters = 3, pqIters = 2, trainBound = 0L)
    val model = AnnIndex.load(spark, idx)
    val q = Seq((999L, vec(5L))).toDF("vec_id", "embedding")
    def answers(m: AnnIndex.Model) =
      AnnIndex.queryBatch(q, m, k = 3, nprobe = 2, shortlist = 8)
        .select("rnk", "cand_id").as[(Long, Long)].collect().toSeq.sorted
    val before = answers(model)
    // concurrent recompaction with a DIFFERENT corpus publishes N+1
    val c2 = (100L to 140L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    AnnIndex.compact(c2, idx, cells = 2, m = 2, ksub = 4,
      coarseIters = 3, pqIters = 2, trainBound = 0L)
    assert(answers(model) == before,
      "the gen-N model must keep answering from its own untouched files")
    // a fresh load sees ONLY the new corpus
    val m2 = AnnIndex.load(spark, idx)
    val ids2 = m2.table.select("cand_id").as[Long].collect().toSet
    assert(ids2 == (100L to 140L).toSet, "re-load must see exactly generation N+1")
  }

  test("DailyCrawl compaction publishes through IndexGen: loaded index stable across a recompact") {
    val dir = tmp("crawl")
    val idx = s"$dir/idx"
    def corpus(tag: String) = Seq(
      (1L, s"alpha beta gamma delta $tag", "web"),
      (2L, s"epsilon zeta eta theta $tag", "web"),
      (3L, s"alpha beta gamma delta $tag", "books")
    ).toDF("doc_id", "text", "source")
    DailyCrawlExample.compactCorpus(corpus("one"), idx, pplSamplePct = 100)
    val (fp1, bloom1, _) = DailyCrawlExample.loadIndex(spark, idx)
    val fpBefore = fp1.orderBy("fp").collect().toSeq
    assert(bloom1.isDefined)
    // recompact with different content — the loaded frame is pinned to gen 1
    DailyCrawlExample.compactCorpus(corpus("two"), idx, pplSamplePct = 100)
    assert(fp1.orderBy("fp").collect().toSeq == fpBefore,
      "a loaded artifact must not see the concurrent recompaction")
    // fresh load resolves gen 2 and scores against IT
    val scored = DailyCrawlExample.scoreBatch(
      Seq((9L, "alpha beta gamma delta two", "web")).toDF("doc_id", "text", "source"), idx)
    assert(scored.count() == 1)
    // and the manifest really moved
    val live = IndexGen.liveRequired(spark, idx)
    assert(live.endsWith("gen-00002"), s"live should be gen 2, got $live")
  }
}
