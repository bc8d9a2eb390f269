package graft.examples
import org.apache.spark.sql.functions._
/** Throwaway 10x scale soak: duplicate the sf0.1 documents corpus 10x
  * (ids offset per copy) and time the dedup family — checks the join
  * shapes scale ~linearly, not quadratically. */
object ScaleSoak {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.SessionSetup.session(32)
    val base = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
    val n = base.count()
    // 10 copies with distinct ids AND perturbed text (append a copy tag
    // to most docs so it's not 10x pure duplicates)
    val big = spark.range(10).crossJoin(base)
      .select((col("doc_id") + col("id") * 1000000L).as("doc_id"),
        when(col("id") === 0, col("text"))
          .otherwise(concat(col("text"), lit(" copytag"), col("id"))).as("text"),
        col("lang"), col("source"))
    big.write.mode("overwrite").parquet("/tmp/soak/documents.parquet")
    val docs = spark.read.parquet("/tmp/soak/documents.parquet")
    println(s"docs: ${docs.count()} (base $n)")
    def time(tag: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val r = f
      println(f"$tag: ${(System.nanoTime()-t0)/1e9}%.1f s  (result=$r)")
    }
    import graft.operators._
    time("exact")    { Dedup.exact(docs).filter(col("group_size") > 1).count() }
    time("minhash")  { Dedup.minhashLsh(docs, 0.5).count() }
    time("ngram")    { Dedup.ngramJaccard(docs, 0.5, maxDocFreq = Some(1000L)).count() }
    time("simhashP") { Dedup.simhashBandedPairs(Dedup.simhash(docs), 3).count() }
    time("winnow")   { Dedup.winnowPairs(docs, 10, k = 24, window = 8, maxDocFreq = Some(200L)).count() }
    time("curate")   { Curation.curate(docs).count() }
    // line dedup over 3-token pseudo-lines (the gate's construction):
    // ~10M line occurrences through the content agg + unique-key join
    time("lines")    {
      Dedup.dedupLines(graft.queries.LlmOps.pseudoLined(docs), maxFreq = 100)
        .filter(col("n_kept") < col("n_lines")).count()
    }
    // incremental path: copy 9 (50k docs, ~45k of them near-copies of
    // the corpus) arrives as "today's crawl" against the 450k-doc rest
    val batch = docs.filter(col("doc_id") >= 9000000L)
    val corpus = docs.filter(col("doc_id") < 9000000L)
    // ExactSubstr on the adversarial shape: EVERY gram is duplicated
    // (9 copies per doc), so the dup-gram set is the whole token
    // stream — the worst case for the semi-join and the island window
    time("substr")   { Dedup.duplicateSpans(docs, k = 5, minRun = 4).count() }
    time("incrSubstr") { BloomDedup.incrementalSpans(batch,
      BloomDedup.corpusGrams(corpus, k = 5), k = 5, minRun = 4).count() }
    time("incrExact") { BloomDedup.incrementalExact(batch, corpus,
      expectedItems = 500000L).filter(col("dup_of").isNotNull).count() }
    time("decontam")  { Decontaminate.contaminatedPairs(corpus,
      batch.limit(500), n = 8).count() }
    time("passages")  { Dedup.sharedPassages(docs.filter(col("doc_id") % 37 === 0),
      minPrints = 5, k = 24, window = 8, maxDocFreq = Some(200L)).count() }
    // r13's exactly-once PPJoin candidate shape (first-common-prefix-
    // shingle emission, no candidate distinct) on the near-dup-heavy
    // corpus: every base doc forms a 10-clique of high-jaccard copies,
    // the adversarial case for candidate growth
    time("ppjoin")    { Dedup.jaccardJoinPrefix(docs.filter(col("doc_id") % 7 === 0),
      threshold = 0.5, maxDocFreq = Some(1000L)).count() }

    // round-7 operator family at 10x: per-domain caps, stratified
    // sampling, DSIR weights over the 500k docs; semantic dedup over a
    // 10x-duplicated embedding corpus (ids offset per copy; labels kept
    // so the cell blocking stays honest)
    time("capDomain")  { Sampling.capPerKey(docs, "source", maxPerKey = 1000).count() }
    time("stratified") { Sampling.sampleStratified(docs, "source",
      Map("src0" -> 0.5, "src1" -> 0.1), defaultFraction = 0.25).count() }
    time("dsir")       { TextStats.importanceWeights(docs,
      docs.filter(col("source") === "src0")).count() }
    val embBase = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    val bigEmb = spark.range(10).crossJoin(embBase)
      .select((col("vec_id") + col("id") * 1000000L).as("vec_id"),
        col("embedding"), col("label"))
    bigEmb.write.mode("overwrite").parquet("/tmp/soak/embeddings.parquet")
    val embs = spark.read.parquet("/tmp/soak/embeddings.parquet")
    println(s"embeddings: ${embs.count()}")
    time("semdedup")   { Similarity.semanticDedup(embs, threshold = 0.45)
      .filter(!col("keep")).count() }
    time("compStar")   { Dedup.componentsStar(
      Dedup.ngramJaccard(docs.filter(col("doc_id") % 11 === 0), 0.5,
        maxDocFreq = Some(1000L))).count() }

    // round-11 family at 10x: banded-Hamming pairs over 50k signatures
    // (each vector appears 10x under distinct ids — the planted-dup
    // worst case: every original contributes a 10-clique of hamming-0
    // pairs, ~225k guaranteed pairs through the bucket join). At this
    // corpus size 8-bit bands stop discriminating (50k ids over 256
    // values/band ⇒ every bucket is hot); 16-bit bands (4 bands) keep
    // background buckets ~1 — the width-vs-|C| sizing rule the
    // operator doc prescribes. CMS profiling over the 500k-doc source
    // column; entropy over the full doc set (pure two-agg map path).
    time("hammingBand") { Similarity.hammingBandedPairs(embs, dim = 64,
      maxHamming = 15, bands = 4, maxBucket = Some(500L)).count() }
    time("cms")        { Sketches.cmsVerified(docs, "source", topN = 20).count() }
    time("entropy")    { TextStats.entropyScores(docs).count() }

    // round-12 family at 10x. Range joins: 500k points vs 50k
    // intervals INCLUDING one adversarial domain-spanning row — the
    // operator's own cap must route it through the broadcast overflow
    // leg (every point matches it: +500k result rows, but never a
    // 10^13-row bucket explosion); overlap joins two 50k-interval sets
    // whose neighbors overlap by construction.
    val pts = docs.select(col("doc_id").as("p"))
    val ivs = embs.select(col("vec_id").as("iv_id"),
        (col("vec_id") * 19).as("s"), (col("vec_id") * 19 + 40).as("e"))
      .unionAll(spark.range(1).select(lit(-1L).as("iv_id"),
        lit(Long.MinValue / 4).as("s"), lit(Long.MaxValue / 4).as("e")))
    time("rangeJoin")  { graft.operators.RangeJoin.pointInInterval(
      pts, ivs, "p", "s", "e", bucketWidth = 64).count() }
    val ivsB = embs.select(col("vec_id").as("ivb_id"),
      (col("vec_id") * 13 + 7).as("s2"), (col("vec_id") * 13 + 60).as("e2"))
    time("overlapJoin") { graft.operators.RangeJoin.intervalOverlap(
      ivs, ivsB, "s", "e", "s2", "e2", bucketWidth = 64).count() }
    // real image decode at 100x the gate (40k synthesized PNG/GIFs
    // through encode -> decode -> pixel stats; map-only, one codec per
    // task — the shape whose only scale knob is partition count)
    time("mmDecode")   { MultiModal.decodeStats(MultiModal.synthesize(
      docs.select(col("doc_id")).filter(col("doc_id") % 12 === 0))).count() }
    // ANN deletion lifecycle at 10x: compact 500k vectors, tombstone
    // every 7th id (append-only), query against the live remainder —
    // remove cost is O(batch); the query pays one broadcast anti-join
    time("annCompact") { AnnIndex.compact(embs, "/tmp/soak/annidx",
      cells = 16, m = 8, ksub = 64, trainBound = 4096); 0L }
    time("annRemove")  { AnnIndex.remove(embs.filter(col("vec_id") % 7 === 3)
      .select("vec_id"), "/tmp/soak/annidx"); 0L }
    time("annQueryRm") {
      val model = AnnIndex.load(spark, "/tmp/soak/annidx")
      AnnIndex.queryBatch(embs.filter(col("vec_id") < 20), model,
        k = 5, nprobe = 4, shortlist = 100).count() }
    time("annVacuum")  { AnnIndex.vacuum(spark, "/tmp/soak/annidx"); 0L }

    // steady-state daily crawl: compaction persists the corpus index
    // once; the per-batch phase must then run BATCH-ONLY jobs — a
    // QueryExecutionListener proves the corpus parquet is never
    // scanned again (the property that makes this viable at 100 TB)
    corpus.write.mode("overwrite").parquet("/tmp/soak/corpus.parquet")
    batch.write.mode("overwrite").parquet("/tmp/soak/batch.parquet")
    batch.limit(500).write.mode("overwrite").parquet("/tmp/soak/benchmark.parquet")
    val corpusT = spark.read.parquet("/tmp/soak/corpus.parquet")
    time("compact")   { DailyCrawlExample.compactCorpus(corpusT, "/tmp/soak/index",
      expectedItems = 500000L); 0L }
    val scanned = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val ql = new org.apache.spark.sql.util.QueryExecutionListener {
      import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
      private def record(qe: org.apache.spark.sql.execution.QueryExecution): Unit =
        qe.analyzed.foreach {
          case l: LogicalRelation => l.relation match {
            case h: HadoopFsRelation =>
              h.location.rootPaths.foreach(p => scanned.add(p.toString))
            case _ => ()
          }
          case _ => ()
        }
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             d: Long): Unit = record(qe)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = record(qe)
    }
    spark.listenerManager.register(ql)
    time("steadyBatch") { DailyCrawlExample.labelBatch(
      spark.read.parquet("/tmp/soak/batch.parquet"),
      spark.read.parquet("/tmp/soak/benchmark.parquet"),
      "/tmp/soak/index", targets = Map("src0" -> 0.05)).count() }
    // sentinel read flushes the async listener bus (FIFO per listener)
    spark.range(3).write.mode("overwrite").parquet("/tmp/soak/sentinel.parquet")
    spark.read.parquet("/tmp/soak/sentinel.parquet").count()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    import scala.jdk.CollectionConverters._
    while (!scanned.asScala.exists(_.contains("sentinel.parquet")) &&
           System.nanoTime() < deadline) Thread.sleep(20)
    // the zero-scan claim is only evidence if the listener provably
    // delivered: without this, a backlogged bus makes it pass vacuously
    assert(scanned.asScala.exists(_.contains("sentinel.parquet")),
      "listener never delivered the sentinel read — corpus-scan count is not trustworthy")
    val corpusScans = scanned.asScala.count(_.contains("corpus.parquet"))
    println(s"steadyBatch corpus scans: $corpusScans " +
      (if (corpusScans == 0) "(OK — batch-only jobs)" else "(FAIL — corpus rescanned!)"))
    assert(corpusScans == 0, "steady-state batch phase scanned the corpus")
    spark.stop()
  }
}
