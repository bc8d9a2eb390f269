package graft

import graft.operators.BloomDedup
import org.apache.spark.sql.functions._

/** Incremental (batch-vs-corpus) dedup: exact bloom-prefiltered path
  * and the cross-set LSH near-dup path.
  */
class BloomDedupSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "pack my box with five dozen liquor jugs"),
    (3L, "The  Quick   Brown Fox jumps over the lazy dog"), // dup of 1 after normalize
    (4L, "sphinx of black quartz judge my vow")
  ).toDF("doc_id", "text")

  private val batch = Seq(
    (10L, "the quick brown fox jumps over the lazy dog"), // exact dup of corpus 1 (canonical min id 1)
    (11L, "a completely novel document about spark plans"),
    (12L, "PACK MY BOX WITH FIVE DOZEN LIQUOR JUGS"),      // dup of 2 via normalization
    (13L, "another novel text never seen in the corpus")
  ).toDF("doc_id", "text")

  test("incrementalLineDedup drops corpus-present lines, keep-first within batch, bloom parity") {
    val corpusDocs = Seq((1L, "known one\nknown two")).toDF("doc_id", "text")
    val batchDocs = Seq(
      (10L, "known one\nfresh a\nfresh b"),  // loses the corpus line
      (11L, "fresh a\nfresh c"),             // "fresh a" already first in doc 10
      (12L, "known two")                     // fully dropped → empty text
    ).toDF("doc_id", "text")
    val cl = BloomDedup.corpusLineHashes(corpusDocs)
    val expect = Seq(
      (10L, "fresh a\nfresh b", 2L, 3L),
      (11L, "fresh c", 1L, 2L),
      (12L, "", 0L, 1L))
    val plain = BloomDedup.incrementalLineDedup(batchDocs, cl)
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect().toSeq
    assert(plain == expect)
    // bloom-prefiltered path: identical output (false positives resolve
    // exactly, definite-novels bypass the join)
    val bloomed = BloomDedup.incrementalLineDedup(batchDocs, cl,
        BloomDedup.buildFilter(cl, hashCol = "lh"))
      .orderBy("doc_id").as[(Long, String, Long, Long)].collect().toSeq
    assert(bloomed == expect)
  }

  test("incrementalLineDedup: paragraph breaks survive even when the corpus has blank lines") {
    val corpusDocs = Seq((1L, "known one\n\nknown two")).toDF("doc_id", "text")
    val cl = BloomDedup.corpusLineHashes(corpusDocs)
    // corpus blank line is NOT in the lh table, and batch blanks are
    // never dropped — paragraph structure is preserved
    val out = BloomDedup.incrementalLineDedup(
        Seq((10L, "fresh a\n\nknown two")).toDF("doc_id", "text"), cl)
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(out == Seq((10L, "fresh a\n", 2L, 3L)))
  }

  test("incrementalExact labels dups with canonical corpus id, novels with null") {
    val out = BloomDedup.incrementalExact(batch, corpus)
      .select("id", "dup_of").as[(Long, Option[Long])].collect().toMap
    assert(out == Map(10L -> Some(1L), 11L -> None, 12L -> Some(2L), 13L -> None))
  }

  test("incrementalExact result is identical to the plain (bloom-free) join") {
    val plain = {
      val cfp = corpus.select(md5(lower(trim(regexp_replace(col("text"), "\\s+", " ")))).as("fp"),
          col("doc_id")).groupBy("fp").agg(min("doc_id").as("dup_of"))
      batch.select(col("doc_id").as("id"),
          md5(lower(trim(regexp_replace(col("text"), "\\s+", " ")))).as("fp"))
        .join(cfp, Seq("fp"), "left").select("id", "fp", "dup_of")
    }
    val got = BloomDedup.incrementalExact(batch, corpus)
    assert(got.orderBy("id").collect().toSeq == plain.orderBy("id").collect().toSeq)
  }

  test("empty corpus: every batch row is novel") {
    val out = BloomDedup.incrementalExact(batch, corpus.filter(lit(false)))
    assert(out.count() == 4 && out.filter(col("dup_of").isNotNull).count() == 0)
  }

  test("empty batch: empty result with the full 3-column schema") {
    val out = BloomDedup.incrementalExact(batch.filter(lit(false)), corpus)
    assert(out.columns.toSeq == Seq("id", "fp", "dup_of") && out.count() == 0)
  }

  test("bloom prefilter is in the plan (codegen'd native probe, not a UDF)") {
    // analyzed plan: over LOCAL relations the optimizer constant-folds
    // the probe away (ConvertToLocalRelation); the parquet-scan shape
    // is asserted in PlanSpec on the d_incremental gate
    val plan = BloomDedup.incrementalExact(batch, corpus)
      .queryExecution.analyzed.toString
    assert(plan.toLowerCase.contains("might_contain"),
      s"expected a native might_contain probe in the plan:\n$plan")
    assert(!plan.toLowerCase.contains("udf"), "probe must not be a UDF")
  }

  test("prebuilt filter round-trips through disk and reproduces the direct result") {
    import graft.operators.BloomDedup._
    val fps = corpusFingerprints(corpus)
    val bytes = buildFilter(fps).get
    val path = java.nio.file.Files.createTempFile("graft-bloom", ".bin").toString
    saveFilter(bytes, path)
    val loaded = loadFilter(path)
    assert(java.util.Arrays.equals(bytes, loaded))
    val direct = BloomDedup.incrementalExact(batch, corpus).orderBy("id").collect().toSeq
    val steady = incrementalExactPrebuilt(batch, fps, Some(loaded))
      .orderBy("id").collect().toSeq
    assert(steady == direct)
    // empty fingerprint set builds no filter
    assert(buildFilter(fps.filter(lit(false))).isEmpty)
  }

  test("incrementalLsh finds cross-set near-dups only (never corpus x corpus)") {
    val c = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val b = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"), // near-dup of 1
      (11L, "wholly different words with no overlap at all here now")
    ).toDF("doc_id", "text")
    // bands=8 (2 rows/band): detection prob for j~0.78 is ~0.999 and
    // md5 banding is deterministic — this either always or never finds
    // the pair; verified found
    val out = BloomDedup.incrementalLsh(b, c, threshold = 0.5, perms = 16, bands = 8)
      .select("id", "dup_of").as[(Long, Long)].collect().toSet
    assert(out == Set((10L, 1L)))
  }

  test("prebuilt LSH index round-trips through parquet and reproduces the direct result") {
    import graft.operators.BloomDedup._
    val c = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val b = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota lambda")
    ).toDF("doc_id", "text")
    val direct = BloomDedup.incrementalLsh(b, c, threshold = 0.5, perms = 16, bands = 8)
      .orderBy("id", "dup_of").collect().toSeq
    // persist the corpus index (the compaction step), reload, reuse
    val dir = java.nio.file.Files.createTempDirectory("graft-lshidx").toString
    val built = lshIndex(c, perms = 16, bands = 8)
    built.shingles.write.mode("overwrite").parquet(s"$dir/sh")
    built.bands.write.mode("overwrite").parquet(s"$dir/bands")
    val loaded = LshIndex(spark.read.parquet(s"$dir/sh"), spark.read.parquet(s"$dir/bands"))
    val steady = incrementalLshPrebuilt(lshIndex(b, perms = 16, bands = 8), loaded,
        threshold = 0.5)
      .orderBy("id", "dup_of").collect().toSeq
    assert(steady == direct && direct.nonEmpty)
  }

  test("a pre-r17 string-keyed persisted LSH index is refused, not silently empty") {
    import graft.operators.BloomDedup._
    val b = Seq((10L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    // simulate the old on-disk shape: raw n-gram strings in `sh`
    val oldShingles = Seq((1L, "alpha beta gamma"), (1L, "beta gamma delta"))
      .toDF("id", "sh")
    val oldIdx = LshIndex(oldShingles, lshIndex(b).bands.limit(0))
    val e = intercept[IllegalArgumentException] {
      incrementalLshPrebuilt(lshIndex(b), oldIdx, threshold = 0.5)
    }
    assert(e.getMessage.contains("pre-r17") && e.getMessage.contains("rebuild"))
  }

  test("a pre-r17 md5-string gram table is refused by incrementalSpans, not read as all-novel") {
    val b = Seq((10L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    // the old on-disk shape: full md5 hex strings in `h`
    val oldGrams = Seq("0123456789abcdef0123456789abcdef").toDF("h")
    val e = intercept[IllegalArgumentException] {
      graft.operators.BloomDedup.incrementalSpans(b, oldGrams)
    }
    assert(e.getMessage.contains("pre-r17") && e.getMessage.contains("rebuild"))
  }

  test("bucketed index: same result, corpus band side joins WITHOUT an exchange") {
    import graft.examples.DailyCrawlExample
    import graft.operators.BloomDedup._
    val c = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val b = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota lambda")
    ).toDF("doc_id", "text")
    val direct = BloomDedup.incrementalLsh(b, c, threshold = 0.5,
        perms = 16, bands = 8)
      .orderBy("id", "dup_of").collect().toSeq
    Seq("_fp", "_sh", "_bands", "_sizes").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS bidx$s"))
    val bloomPath = java.nio.file.Files
      .createTempDirectory("graft-bidx").toString + "/bloom.bin"
    DailyCrawlExample.compactCorpusBucketed(c, "bidx", buckets = 4,
      bloomPath = bloomPath, bands = 8)
    val (fp, bloom, idx) = DailyCrawlExample.loadIndexBucketed(spark, "bidx", bloomPath)
    assert(bloom.nonEmpty && fp.count() == 2)
    // equivalence: the bucketed steady-state path reproduces the direct run
    val steady = incrementalLshPrebuilt(lshIndex(b, bands = 8), idx, threshold = 0.5)
      .orderBy("id", "dup_of").collect().toSeq
    assert(steady == direct && direct.nonEmpty)
    // the point of bucketing: the candidate join reads the corpus bands
    // PRE-HASHED on (band, sig) — with broadcast off, the CORPUS-side
    // subtree of the join has NO exchange (the batch side keeps its
    // own internal shuffles; that's fine, it's batch-sized)
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevA = spark.conf.get("spark.sql.adaptive.enabled", "true")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false") // static plan to walk
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      import org.apache.spark.sql.execution.joins.SortMergeJoinExec
      val bband = lshIndex(b, bands = 8).bands
      val joined = bband.as("a").join(idx.bands.as("b"),
        col("a.band") === col("b.band") && col("a.sig") === col("b.sig"))
      val smj = joined.queryExecution.executedPlan
        .collectFirst { case j: SortMergeJoinExec => j }
        .getOrElse(fail("expected a sort-merge join over the bucketed table"))
      def scansTable(p: SparkPlan, t: String) = p.collect {
        case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains(t)) => f
      }.nonEmpty
      val corpusSide = Seq(smj.left, smj.right)
        .find(scansTable(_, "bidx_bands"))
        .getOrElse(fail("bucketed corpus bands table not under the join"))
      val corpusExchanges = corpusSide.collect { case e: ShuffleExchangeExec => e }
      assert(corpusExchanges.isEmpty,
        s"bucketed corpus side must not shuffle:\n$corpusSide")
      // and the sizes table means NO corpus-shingle re-aggregation: the
      // corpus side of the jaccard denominator is a plain table read
      val sizedPlan = incrementalLshPrebuilt(lshIndex(b, bands = 8), idx, threshold = 0.5)
        .queryExecution.optimizedPlan.toString
      assert(sizedPlan.contains("bidx_sizes"),
        "steady-state jaccard must read the persisted sizes table")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.set("spark.sql.adaptive.enabled", prevA)
    }
  }

  test("incrementalSpans equals whole-corpus duplicateSpans restricted to batch docs; bloom parity") {
    import graft.operators.Dedup
    // passage shared corpus↔batch, another shared batch↔batch, and a
    // batch doc with nothing repeated anywhere
    val c = Seq(
      (1L, "c1 c2 c3 s1 s2 s3 s4 s5 s6 c4 c5"),
      (2L, "c6 c7 c8 c9 c10 c11 c12 c13 c14")
    ).toDF("doc_id", "text")
    val b = Seq(
      (10L, "b1 b2 s1 s2 s3 s4 s5 s6 b3"),       // dup vs corpus doc 1
      (11L, "b4 b5 b6 t1 t2 t3 t4 t5 b7"),       // dup vs batch doc 12
      (12L, "b8 t1 t2 t3 t4 t5 b9 b10 b11"),
      (13L, "n1 n2 n3 n4 n5 n6 n7 n8 n9")        // fully novel
    ).toDF("doc_id", "text")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "start_tok", "end_tok", "n_grams")
        .as[(Long, Int, Int, Long)].collect().toSet
    val cg = BloomDedup.corpusGrams(c, k = 3)
    val incr = canon(BloomDedup.incrementalSpans(b, cg, None, k = 3, minRun = 2))
    // the contract: identical to running the whole-corpus operator on
    // corpus ∪ batch and keeping only batch docs
    val whole = canon(Dedup.duplicateSpans(c.unionByName(b), k = 3, minRun = 2)
      .filter(col("doc_id") >= 10L))
    assert(incr == whole && incr.nonEmpty, s"incr=$incr whole=$whole")
    assert(!incr.exists(_._1 == 13L))
    // bloom-prefiltered path is bit-identical (no false drops)
    val bloomed = canon(BloomDedup.incrementalSpans(b, cg,
      BloomDedup.buildFilter(cg, hashCol = "h"), k = 3, minRun = 2))
    assert(bloomed == incr)
    // and the cut composes: corpus-dup + batch-dup spans removed
    val cut = Dedup.cutSpans(b, BloomDedup.incrementalSpans(b, cg, None, k = 3, minRun = 2))
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(cut(10L) == "b1 b2 b3" && cut(13L) == "n1 n2 n3 n4 n5 n6 n7 n8 n9")
  }

  test("incrementalLsh jaccard matches the whole-set operator's pair value") {
    val c = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa")).toDF("doc_id", "text")
    val b = Seq((10L, "alpha beta gamma delta epsilon zeta eta theta iota lambda")).toDF("doc_id", "text")
    val cross = BloomDedup.incrementalLsh(b, c, threshold = 0.1, perms = 16, bands = 8)
      .select("jaccard").as[Double].head()
    val whole = graft.operators.Dedup.minhashLsh(c.union(b.select(col("doc_id"), col("text"))),
        threshold = 0.1, perms = 16, bands = 8, materialize = false)
      .select("jaccard").as[Double].head()
    assert(cross == whole)
  }
}
