package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF×PQ ANN index — the embedding-search member of the
  * prebuilt-index family (exact fp map, Bloom filters, LSH bucket
  * table, line hashes, LM vocab, semantic survivors). The composed
  * [[Similarity.ivfPqTopK]] operator coarse-assigns and PQ-encodes the
  * corpus inside every call; this object splits that into the
  * compact-once / query-many shape the docstring there promises
  * (FAISS's train → add → search lifecycle, Jégou et al., TPAMI 2011):
  *
  *  - [[compact]] scans the float corpus ONCE: trains the coarse
  *    quantizer and the PQ codebooks on a bounded deterministic sample,
  *    then writes a single cell-PARTITIONED table holding, per vector,
  *    the m-byte PQ `code` and the original float embedding, plus the
  *    driver-tiny centroid/codebook artifacts.
  *  - [[queryBatch]] probes each query's `nprobe` nearest cells and
  *    scores candidates by asymmetric distance (ADC) against the
  *    PREBUILT codes — the probed-cell union is a plan-literal
  *    partition filter, so the scan reads nprobe/cells of the table's
  *    partitions and (parquet being columnar) only the 8 B/vector
  *    `code` column of those; the exact refine re-ranks the ADC
  *    shortlist against the `embedding` column of the SAME pruned
  *    partitions. The original corpus parquet is never touched after
  *    compaction (listener-asserted in AnnIndexSpec), and nothing is
  *    ever re-encoded.
  *
  * Storage: the index re-persists the float vectors alongside the
  * codes. That is deliberate — an index must answer refined queries
  * without reaching back to the source table (which may since have
  * been compacted, re-partitioned, or retired), and the cell layout is
  * exactly what refine wants pruned by. Pipelines that cannot afford
  * the copy can pass `refineFrom` to [[queryBatch]] to re-rank against
  * any (id, vector) table at the cost of one scan of it per batch.
  */
object AnnIndex {

  /** The loaded index: driver-tiny trained artifacts + the lazy
    * cell-partitioned table (cand_id, code, embedding; partition column
    * `cell`), plus the tombstone set ([[remove]]d ids awaiting a
    * [[vacuum]] — `None` when the index has no tombstone table). */
  final case class Model(centroids: Seq[Array[Double]],
                         codebooks: Seq[Seq[Array[Double]]],
                         table: DataFrame,
                         tombstones: Option[DataFrame] = None)

  /** One-off corpus compaction under `indexDir`: `centroids/` and
    * `codebooks/` (long-form, driver-tiny), and `corpus/` — one row per
    * vector with its coarse `cell` (the partition column), PQ `code`,
    * and float embedding. One trainer-sample scan pair + ONE full
    * corpus scan (the assign+encode+write pass).
    *
    * The payload lands in a fresh [[IndexGen]] GENERATION and is
    * promoted atomically at the end: a reader that [[load]]ed the
    * previous generation keeps reading its own (untouched) files while
    * this compaction runs and after it publishes — no torn index, the
    * vacuum swap contract generalized to every rebuild.
    *
    * REBUILD CONTRACT vs streams: `corpus` must be the COMPLETE desired
    * index content, including any streamed additions worth keeping —
    * [[load]]'s `Model.table` is exactly that union, so re-compacting
    * from the live index is always safe. The previous generation's
    * folded-epoch high-water marks carry into the new generation,
    * RAISED over every epoch present in its `additions/` (a rebuild
    * subsumes pending additions — they are in `corpus` per the
    * contract), so a Structured Streaming micro-batch REPLAYED after a
    * re-compact (stream restarted from a pre-compact checkpoint) is
    * recognized and skipped instead of double-adding vectors the
    * rebuilt corpus already contains. An epoch IN FLIGHT while compact
    * runs is the one window the marks cannot arbitrate (its rows may or
    * may not be in the caller's corpus snapshot) — serialize compact
    * against active add-streams, as [[add]]'s doc requires for vacuum. */
  def compact(corpus: DataFrame, indexDir: String, cells: Int,
              m: Int, ksub: Int, coarseIters: Int = 3, pqIters: Int = 2,
              trainBound: Long = 1L << 20,
              idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = Similarity.trainKMeans(corpus, cells, coarseIters, idCol, vecCol, trainBound)
    val cbs = Similarity.pqTrain(corpus, m, ksub, pqIters, idCol, vecCol, trainBound)
    val gen = IndexGen.begin(spark, indexDir)
    cents.zipWithIndex.flatMap { case (c, i) =>
      c.zipWithIndex.map { case (v, p) => (i, p, v) }
    }.toDF("cell", "pos", "val")
      .coalesce(1).write.mode("overwrite").parquet(s"$gen/centroids")
    cbs.zipWithIndex.flatMap { case (book, j) =>
      book.zipWithIndex.flatMap { case (c, cw) =>
        c.zipWithIndex.map { case (v, p) => (j, cw, p, v) }
      }
    }.toDF("j", "codeword", "pos", "val")
      .coalesce(1).write.mode("overwrite").parquet(s"$gen/codebooks")
    // the one full pass: coarse cell + m code words + the float vector
    Similarity.pqEncode(
        Similarity.assignCells(
          corpus.select(col(idCol).as("cand_id"), col(vecCol).as("cv")),
          cents, "cv"),
        cbs, "cv")
      .select(col("cand_id"), col("cell"), col("code"),
        col("cv").as("embedding"))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$gen/corpus")
    // carry the previous generation's folded-epoch marks, raised over
    // its pending addition epochs (part of the payload — must land
    // before promote): see the rebuild contract in the doc above. A
    // first build has no previous generation and writes no marks.
    IndexGen.live(spark, indexDir).foreach { prevGen =>
      val fs = new org.apache.hadoop.fs.Path(prevGen)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val pending = listEpochDirs(fs,
          new org.apache.hadoop.fs.Path(s"$prevGen/additions"))
        .flatMap(p => parseEpoch(p.getName.stripPrefix("__epoch=")))
        .groupMapReduce(_._1)(_._2)(math.max)
      // the raise is contract-based (the caller's corpus INCLUDES the
      // pending additions — see the rebuild contract above), invisible
      // when it silently skips a later replay: name the marks, and fail
      // fast on the one violation that is cheap to see — a rebuild
      // source that cannot possibly contain the pending rows it is
      // about to mark folded (an obviously stale snapshot). The count
      // check is necessary-not-sufficient by design: only the SURVIVING
      // additions' volume is asserted — tombstones intersecting the
      // additions are subtracted below, so a legitimately shrunken
      // rebuild (deletions outpacing the base) never trips it.
      if (pending.nonEmpty) {
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"AnnIndex.compact: raising folded-epoch marks over pending " +
            s"additions ${pending.toSeq.sorted.map { case (s, e) => s"$s<=$e" }
              .mkString(", ")} — replays of these epochs will be " +
            s"skipped; the rebuild corpus must already contain their rows")
        val addPath = new org.apache.hadoop.fs.Path(s"$prevGen/additions")
        val adds = spark.read
          .option("basePath", addPath.toString)
          .parquet(listEpochDirs(fs, addPath).map(_.toString): _*)
        val pendingRows = adds.count()
        // NET the pending count of the previous generation's tombstones
        // that hit the additions themselves (ADVICE r15 #1): load().table
        // is base ∪ additions MINUS tombstones, so an index whose
        // streamed additions were mostly tombstoned can legitimately
        // rebuild from fewer rows than the GROSS addition count — only
        // the additions that SURVIVED deletion must be in the corpus.
        // Same footer guard as load(): an empty tombstones dir must not
        // brick the rebuild.
        val tombPath = new org.apache.hadoop.fs.Path(s"$prevGen/tombstones")
        val tombedPending =
          if (fs.exists(tombPath) && fs.listStatus(tombPath)
              .exists(_.getPath.getName.endsWith(".parquet")))
            adds.join(
              spark.read.parquet(tombPath.toString).select("cand_id").distinct(),
              Seq("cand_id"), "left_semi").count()
          else 0L
        val pendingNet = pendingRows - tombedPending
        val corpusRows = corpus.count()
        require(corpusRows >= pendingNet,
          s"AnnIndex.compact: rebuild corpus has $corpusRows rows but the " +
            s"previous generation holds $pendingNet surviving pending " +
            s"addition rows ($pendingRows gross, $tombedPending tombstoned) " +
            s"that are about to be marked folded — the corpus snapshot is " +
            s"stale (rebuild from AnnIndex.load(...).table, which unions " +
            s"pending additions net of tombstones)")
      }
      writeMarks(fs, gen, mergeMarks(foldedMarks(spark, prevGen), pending))
    }
    IndexGen.promote(spark, indexDir, gen)
    // NOTE a rebuild starts from a clean slate BY CONSTRUCTION now:
    // tombstones live INSIDE their generation (a generation + its
    // tombstones are a consistent immutable pair), so stale removes
    // from the previous index can never shadow freshly indexed vectors
    // that reuse the ids — the pre-IndexGen explicit tombstone
    // clearing is structurally unnecessary.
  }

  /** FAISS's `add`: append a batch of NEW vectors to an existing
    * persisted index without retraining and without touching the
    * standing data — cells assigned with the TRAINED centroids, codes
    * from the TRAINED codebooks, rows appended into the cell
    * partitions. Parquet append on a partitioned table writes only
    * new files under the touched `cell=` directories (existing files
    * are never rewritten — AnnIndexSpec pins this), so the cost is one
    * pass over the BATCH, independent of index size: the daily-crawl
    * shape where yesterday's 100 TB index absorbs today's vectors.
    *
    * Re-[[load]] after adding: an already-loaded Model's lazy `table`
    * captured the file listing at read time and will not see the new
    * files. Like FAISS, added vectors use the ORIGINAL training — when
    * the distribution drifts far enough that new cells are needed,
    * re-[[compact]].
    *
    * NOT safe concurrent with [[vacuum]]: a plain corpus append cannot
    * tell whether a racing vacuum's fold snapshot included it (re-apply
    * would double the rows; not re-applying can lose them), so corpus
    * appends and vacuums must be serialized by the caller. Streaming /
    * unattended maintenance should use [[addEpoch]]/[[addStream]],
    * whose epoch-overwrite idempotency makes the same race
    * self-healing. */
  def add(batch: DataFrame, indexDir: String, model: Model,
          idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
    Similarity.pqEncode(
        Similarity.assignCells(
          batch.select(col(idCol).as("cand_id"), col(vecCol).as("cv")),
          model.centroids, "cv"),
        model.codebooks, "cv")
      .select(col("cand_id"), col("cell"), col("code"),
        col("cv").as("embedding"))
      .write.mode("append").partitionBy("cell")
      .parquet(s"${IndexGen.liveRequired(batch.sparkSession, indexDir)}/corpus")

  /** One maintenance micro-batch of [[addStream]], callable directly —
    * the IDEMPOTENT-PER-EPOCH twin of [[add]]: the encoded batch lands
    * in the live generation's `additions/` table under its epoch
    * partition via DYNAMIC partition overwrite, so a micro-batch
    * REPLAYED after a failure (same epochId — the Structured Streaming
    * replay contract) overwrites its own partition instead of
    * appending a duplicate copy. `additions/` is partitioned by
    * (__epoch, cell): cell pruning works exactly as on the main
    * corpus, and [[load]] unions the two tables into one Model.
    * [[vacuum]] folds additions into the next generation's corpus. */
  def addEpoch(batch: DataFrame, indexDir: String, model: Model, epochId: Long,
               idCol: String = "vec_id", vecCol: String = "embedding",
               streamId: String = "default"): Unit = {
    require(streamId.matches("[A-Za-z0-9_]+"),
      s"addEpoch: streamId must be [A-Za-z0-9_]+ (it names partition " +
        s"dirs and mark entries), got '$streamId'")
    require(epochId >= 0,
      s"addEpoch: epochId must be >= 0 (Structured Streaming batch ids " +
        s"are; a negative id would corrupt the last-dash partition " +
        s"encoding), got $epochId")
    val spark = batch.sparkSession
    // the partition value carries the STREAM identity, not just the
    // batch id: batch ids are monotonic per CHECKPOINT, not per index,
    // so (a) the folded high-water mark below is kept per stream — a
    // pipeline redeployed with a fresh checkpoint (new streamId) starts
    // at batch 0 without its genuinely-new epochs being mistaken for
    // replays of the old stream's folded ones, and (b) two streams
    // feeding one index can never clobber each other's same-numbered
    // epoch partitions. (Re-wiping and REUSING a checkpoint path is
    // out of contract, as in vanilla Structured Streaming: every
    // idempotent sink keys on the batch ids that path produced.)
    val encoded = Similarity.pqEncode(
        Similarity.assignCells(
          batch.select(col(idCol).as("cand_id"), col(vecCol).as("cv")),
          model.centroids, "cv"),
        model.codebooks, "cv")
      .select(col("cand_id"), lit(s"$streamId-$epochId").as("__epoch"),
        col("cell"), col("code"), col("cv").as("embedding"))
    // self-healing against a concurrent [[vacuum]] — two races closed:
    //
    // 1. REPLAY ACROSS A FOLD: a vacuum that already folded this epoch
    //    into the new generation's corpus makes a replayed write a
    //    DOUBLE-add (the epoch-partition overwrite only dedups within
    //    one additions table). The vacuum records its folded epoch
    //    high-water mark PER STREAM (sound because batch ids are
    //    monotonic within one checkpoint lineage = one streamId); an
    //    epoch at or below its stream's mark is already in the corpus:
    //    skip.
    // 2. LOST PENDING WRITE: a write that resolved generation N before
    //    a vacuum promoted N+1 can commit AFTER the vacuum's
    //    carry-forward scan of N — stranded, destroyed at the next
    //    promote's GC. Re-resolving AFTER the commit catches this:
    //    either the carry scan ran after our commit (carried), or it
    //    ran before — then the promote preceded it, our re-resolve
    //    sees N+1, and the epoch overwrite re-applies idempotently.
    //    Loop until the resolved generation is stable across the
    //    write; each retry requires a full vacuum to have landed
    //    within one batch-write window, so it terminates in practice.
    var gen = IndexGen.liveRequired(spark, indexDir)
    var done = false
    while (!done) {
      if (epochId <= foldedMarks(spark, gen).getOrElse(streamId, Long.MinValue))
        return
      encoded.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__epoch", "cell")
        .parquet(s"$gen/additions")
      val now = IndexGen.liveRequired(spark, indexDir)
      if (now == gen) done = true else gen = now
    }
  }

  private val FoldedMarks = "_folded_epoch_marks"

  /** Split an `__epoch=` partition value into (streamId, batchId) —
    * the streamId charset has no dash and batch ids are non-negative
    * (enforced at [[addEpoch]]), so the LAST dash is the separator.
    * There is exactly one on-disk format: the stream-scoped one. (An
    * earlier unreleased commit wrote bare-numeric values, but no
    * persisted index ever carried them — every index in this repo is
    * built into scratch dirs rebuilt per run, and the format changed
    * before any release; supporting a format no artifact has would be
    * a false-compat path, worse than none.) */
  private def parseEpoch(v: String): Option[(String, Long)] = {
    val i = v.lastIndexOf('-')
    if (i <= 0) None
    else v.drop(i + 1).toLongOption.filter(_ >= 0).map((v.take(i), _))
  }

  /** All folded-epoch high-water marks of a generation — ONE small
    * file (`_folded_epoch_marks`, `streamId<TAB>batchId` lines), not a
    * file per stream: a long-lived index redeployed under fresh
    * checkpoints gains a stream id per deploy, and per-stream mark
    * FILES would accumulate as unbounded small-file debt. Marks are
    * never retired — a paused stream can still replay its last folded
    * batch arbitrarily late — but at ~30 bytes per deployment the
    * consolidated file stays trivial for any realistic lifetime. */
  private def foldedMarks(spark: SparkSession, gen: String): Map[String, Long] = {
    val p = new org.apache.hadoop.fs.Path(s"$gen/$FoldedMarks")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Map.empty
    else {
      val in = fs.open(p)
      try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
        .linesIterator.filter(_.nonEmpty).map { line =>
          val Array(sid, mark) = line.split('\t')
          sid -> mark.toLong
        }.toMap
      finally in.close()
    }
  }

  /** The `__epoch=` partition dirs of an additions table (empty when
    * the dir is absent or holds only staging residue). */
  private def listEpochDirs(fs: org.apache.hadoop.fs.FileSystem,
                            addPath: org.apache.hadoop.fs.Path)
      : Seq[org.apache.hadoop.fs.Path] =
    if (!fs.exists(addPath)) Seq.empty
    else fs.listStatus(addPath).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("__epoch="))

  /** Per-stream max-merge of two mark maps (marks are monotonic). */
  private def mergeMarks(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    (a.keySet ++ b.keySet).map { sid =>
      sid -> math.max(a.getOrElse(sid, Long.MinValue),
        b.getOrElse(sid, Long.MinValue))
    }.toMap

  /** Write a generation's consolidated marks file (no-op when empty —
    * absent file ⇔ no marks, the [[foldedMarks]] read contract). */
  private def writeMarks(fs: org.apache.hadoop.fs.FileSystem, gen: String,
                         marks: Map[String, Long]): Unit =
    if (marks.nonEmpty) {
      val out = fs.create(
        new org.apache.hadoop.fs.Path(s"$gen/$FoldedMarks"), true)
      try out.write(marks.toSeq.sorted
        .map { case (sid, m) => s"$sid\t$m" }.mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }

  /** STREAMING index maintenance (the [[graft.examples.DailyCrawlExample]]
    * `labelStream` pattern applied to the index lifecycle): each
    * micro-batch of new vectors is encoded with the trained artifacts
    * loaded ONCE per stream and folded in via [[addEpoch]] — replay
    * after a simulated failure neither double-adds (epoch partition
    * overwrite) nor resurrects removed ids (tombstones are consulted
    * at query time regardless of where the row lives). Re-[[load]] to
    * observe new additions, as with [[add]]. */
  def addStream(stream: DataFrame, indexDir: String, checkpoint: String,
                idCol: String = "vec_id", vecCol: String = "embedding")
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val model = load(stream.sparkSession, indexDir)
    stream.writeStream
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        addEpoch(batch, indexDir, model, epochId, idCol, vecCol,
          streamIdFor(checkpoint))
      }
      .option("checkpointLocation", checkpoint)
      .start()
  }

  /** The stream identity [[addStream]] scopes its epochs under — a
    * stream's identity IS its checkpoint lineage (batch ids are only
    * monotonic within one). Hashing the path scopes the epoch
    * partitions and the folded high-water mark to that lineage, so a
    * redeploy under a NEW checkpoint (new batch-id space) is never
    * mistaken for a replay, and concurrent streams never share
    * partitions. Callers mixing [[addStream]] with manual [[addEpoch]]
    * replays use this to target the same epoch space. */
  def streamIdFor(checkpoint: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(checkpoint.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(6).map("%02x".format(_)).mkString

  /** Streaming deletion twin: [[remove]] per micro-batch. Naturally
    * replay-tolerant — a re-appended tombstone batch is duplicate ids
    * in an anti-join set (distinct at load), not corruption. */
  def removeStream(stream: DataFrame, indexDir: String, checkpoint: String,
                   idCol: String = "vec_id")
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        remove(batch, indexDir, idCol)
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** FAISS's `remove_ids` as tombstones: a curation pipeline that
    * drops documents (dedup, decontamination) must evict their vectors
    * WITHOUT rewriting cells — so deletion appends the ids to a
    * `tombstones/` parquet (one pass over the BATCH of ids; standing
    * cell files untouched — AnnIndexSpec pins the file-level
    * contract) and [[queryBatch]] anti-joins them at query time. The
    * tombstone set is broadcast-small relative to the index (it is a
    * deletion batch, not a corpus); when deletions accumulate,
    * [[vacuum]] folds them into the cell files and resets the set.
    * Removing an id not in the index is a no-op; double-removing is
    * idempotent (the anti-join doesn't care). Like FAISS, removed ids
    * can be re-[[add]]ed only after a vacuum — before it, the
    * tombstone would keep shadowing the re-added row. */
  def remove(ids: DataFrame, indexDir: String,
             idCol: String = "vec_id"): Unit = {
    // tombstones live INSIDE the live generation: a generation and its
    // deletions are one consistent immutable-by-rewrite pair (load
    // resolves both from the same gen; a recompact starts clean with
    // no clearing step; removes against a superseded generation are
    // obsolete by definition — the rebuild indexed the current corpus)
    val spark = ids.sparkSession
    val batch = ids.select(col(idCol).cast("long").as("cand_id")).distinct()
    // self-healing against a concurrent [[vacuum]]: a tombstone batch
    // that resolved generation N before the vacuum promoted N+1 can
    // commit AFTER the vacuum's carry-forward scan of N — stranded
    // there, it dies at the next promote's GC and the ids silently
    // RESURFACE. Re-resolve after the commit: either the carry scan
    // ran after our commit (file carried to N+1), or the promote
    // preceded the scan and the re-resolve sees N+1 — re-append there.
    // Worst case the batch lands twice (carried AND re-applied):
    // duplicate ids in an anti-join set, distinct at load, harmless.
    var gen = IndexGen.liveRequired(spark, indexDir)
    var done = false
    while (!done) {
      batch.write.mode("append").parquet(s"$gen/tombstones")
      val now = IndexGen.liveRequired(spark, indexDir)
      if (now == gen) done = true else gen = now
    }
  }

  /** Fold accumulated tombstones AND streamed additions into the
    * standing cell files: rewrite the live generation's corpus, plus
    * [[addEpoch]]'s per-epoch additions, minus the tombstoned ids,
    * into a NEW [[IndexGen]] generation (trained artifacts byte-copied
    * across — vacuum never retrains) and promote it atomically. The
    * ONE full-index pass maintenance ever costs — amortized across all
    * the [[remove]]/[[addEpoch]] calls since the last one. An
    * ADD-ONLY index vacuums too (consolidating the per-epoch small
    * files IS the point at streaming scale); with neither pending set
    * the call short-circuits with no rewrite. A vacuum that tombstones
    * EVERY remaining row writes a schema-bearing empty table (a
    * partitioned overwrite of zero rows would leave a footer-less dir
    * that bricks every subsequent [[load]]).
    *
    * Crash behavior is [[IndexGen]]'s matrix: an unpromoted staging
    * generation is invisible and GC'd later; the manifest swap is the
    * two-rename with a `.prev` fallback. A [[remove]] or [[addEpoch]]
    * landed in the OLD generation while the rewrite ran is carried
    * into the new generation after the promote (file/dir moves — that
    * data was not in the folded snapshot, so it stays pending for the
    * next vacuum); a write that commits AFTER that carry scan is
    * caught by the writer itself (remove/addEpoch re-resolve the live
    * generation post-commit and re-apply idempotently — between the
    * two mechanisms no pending write can strand in a doomed
    * generation). [[add]]'s plain corpus append has no idempotent
    * re-apply: serialize it against vacuums (see its doc).
    *
    * CONCURRENCY: an already-loaded Model keeps answering from its own
    * generation during AND after the vacuum (the old generation
    * survives one promote — IndexGen keeps the predecessor); re-[[load]]
    * to see the folded index. */
  def vacuum(spark: SparkSession, indexDir: String): Unit = {
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(indexDir).getFileSystem(hadoopConf)
    val liveGen = IndexGen.liveRequired(spark, indexDir)
    val tombPath = new org.apache.hadoop.fs.Path(s"$liveGen/tombstones")
    val addPath = new org.apache.hadoop.fs.Path(s"$liveGen/additions")
    // snapshot BOTH pending sets first — tombstone FILES and addition
    // EPOCH partitions: only the snapshot is folded; anything appended
    // while the rewrite runs is carried into the new generation after
    // the promote (below) and stays pending for the next vacuum
    val tombFiles =
      if (fs.exists(tombPath))
        fs.listStatus(tombPath).map(_.getPath)
          .filter(_.getName.endsWith(".parquet"))
      else Array.empty[org.apache.hadoop.fs.Path]
    val addEpochs = listEpochDirs(fs, addPath)
    val tombs =
      if (tombFiles.isEmpty) None
      else Some(spark.read.parquet(tombFiles.map(_.toString): _*)
        .select(col("cand_id")).distinct()).filter(!_.isEmpty)
    if (tombs.isEmpty && addEpochs.isEmpty) {
      // nothing to fold — an ADD-ONLY index still vacuums (the per-epoch
      // additions ARE the small-file debt this pass exists to retire),
      // but with neither pending set there is only residue to clear
      if (tombFiles.nonEmpty) tombFiles.foreach(fs.delete(_, false))
      else if (fs.exists(tombPath)) fs.delete(tombPath, true)
      return
    }
    // the fold consumes the corpus AND the snapshotted streamed
    // additions — the next generation's corpus is the consolidated
    // table (additions are not carried; their rows move into cell
    // files proper). Epoch dirs are read explicitly so a concurrent
    // addEpoch's NEW partition is never half-read. A concurrent
    // REPLAY that overwrites a snapshotted partition mid-fold makes
    // the fold job fail on the deleted files — DELIBERATELY: the
    // vacuum aborts (staging gen invisible, re-run it) rather than
    // silently folding a partition whose rows it half-lost (ignoring
    // missing files would record the epoch as folded while dropping
    // its vectors). Consistency over availability.
    val basePlusAdds = {
      val corpus = spark.read.parquet(s"$liveGen/corpus")
      if (addEpochs.isEmpty) corpus
      else corpus.unionByName(
        // basePath anchors partition discovery at the additions root so
        // the snapshot of epoch dirs parses as one (__epoch, cell)
        // partitioned table; __epoch is replay plumbing, not data
        spark.read.option("basePath", addPath.toString)
          .parquet(addEpochs.map(_.toString): _*)
          .select(corpus.columns.map(col).toSeq: _*))
    }
    val survivors = tombs match {
      case Some(t) => basePlusAdds.join(broadcast(t), Seq("cand_id"), "left_anti")
      case None    => basePlusAdds
    }
    val gen = IndexGen.begin(spark, indexDir)
    survivors.write.mode("overwrite").partitionBy("cell")
      .parquet(s"$gen/corpus")
    // zero survivors ⇒ the partitioned overwrite wrote no parquet
    // footers; re-write the empty table WITH schema (cell becomes a
    // data column of the empty file — nothing to prune anyway)
    val corpusPath = new org.apache.hadoop.fs.Path(s"$gen/corpus")
    if (!fs.listStatus(corpusPath).exists(s =>
        s.isDirectory && s.getPath.getName.startsWith("cell=")))
      survivors.limit(0).coalesce(1)
        .write.mode("overwrite").parquet(corpusPath.toString)
    // trained artifacts carry over byte-identical — vacuum folds
    // deletions, it never retrains
    Seq("centroids", "codebooks").foreach { d =>
      org.apache.hadoop.fs.FileUtil.copy(fs,
        new org.apache.hadoop.fs.Path(s"$liveGen/$d"), fs,
        new org.apache.hadoop.fs.Path(s"$gen/$d"),
        false, hadoopConf)
    }
    // record the folded-epoch high-water marks (part of the payload —
    // must land before promote): a micro-batch REPLAYED after this
    // vacuum must not re-write an epoch whose rows are now corpus rows
    // (the epoch-partition overwrite only dedups within one additions
    // table) — [[addEpoch]] consults its stream's mark and skips.
    // One mark PER STREAM (batch ids are monotonic per checkpoint
    // lineage only), monotonic across vacuums: the predecessor's marks
    // carry forward, maxed with the epochs folded now.
    val foldedNow: Map[String, Long] = addEpochs.toSeq
      .flatMap(p => parseEpoch(p.getName.stripPrefix("__epoch=")))
      .groupMapReduce(_._1)(_._2)(math.max)
    writeMarks(fs, gen, mergeMarks(foldedMarks(spark, liveGen), foldedNow))
    // carry tombstone files / addition epochs that arrived DURING the
    // rewrite (not in the folded snapshot) into the new generation —
    // they stay pending for the next vacuum instead of dying with the
    // old generation.
    //
    // Carry moves must tolerate the writer-side re-apply racing them:
    // FileContext.rename WITHOUT Rename.OVERWRITE is the primitive —
    // it FAILS on an existing destination (the writer beat us there
    // with the same idempotent content: drop the old copy), where
    // FileSystem.rename would nest the source INSIDE an existing dir
    // on HDFS or return false unchecked on the local fs. The carry
    // itself never nests — but a re-apply's dynamic-overwrite COMMIT
    // is delete(dst)+rename(staging,dst), and a carry landing between
    // those two steps would make the COMMITTER's rename nest. So the
    // bulk sweep runs BEFORE the promote: re-applies only begin after
    // a writer re-resolves the NEW generation, i.e. strictly after the
    // promote — pre-promote, carry and re-apply cannot overlap on a
    // partition. The post-promote sweep only catches writes landing in
    // the tiny pre-carry→promote gap; for those the carry/commit
    // interleaving window still exists in principle (lock-free
    // multi-step FS commits cannot be fully serialized from outside)
    // — run vacuum from the same driver as the streams (the
    // DailyCrawlExample shape) to remove even that.
    def carry(p: org.apache.hadoop.fs.Path,
              destDir: org.apache.hadoop.fs.Path): Unit = {
      fs.mkdirs(destDir)
      val dst = new org.apache.hadoop.fs.Path(destDir, p.getName)
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        dst.toUri, hadoopConf)
      try fc.rename(p, dst)
      catch {
        case e: java.io.IOException =>
          if (fs.exists(dst)) fs.delete(p, true) // re-apply won the race
          else throw new java.io.IOException(
            s"vacuum: could not carry pending $p to $dst", e)
      }
    }
    val folded = tombFiles.map(_.getName).toSet
    val foldedEpochs = addEpochs.map(_.getName).toSet
    def carrySweep(): Unit = {
      if (fs.exists(tombPath)) {
        val newTomb = new org.apache.hadoop.fs.Path(s"$gen/tombstones")
        fs.listStatus(tombPath).map(_.getPath)
          .filter(p => p.getName.endsWith(".parquet") && !folded(p.getName))
          .foreach(carry(_, newTomb))
      }
      if (fs.exists(addPath)) {
        val newAdd = new org.apache.hadoop.fs.Path(s"$gen/additions")
        fs.listStatus(addPath).map(_.getPath)
          .filter(p => p.getName.startsWith("__epoch=") && !foldedEpochs(p.getName))
          .foreach(carry(_, newAdd))
      }
    }
    carrySweep() // bulk, into the still-staging gen: race-free by ordering
    IndexGen.promote(spark, indexDir, gen)
    carrySweep() // stragglers from the pre-carry→promote gap
  }

  def load(spark: SparkSession, indexDir: String): Model = {
    // everything — corpus, trained artifacts AND tombstones — resolves
    // from ONE generation: the Model is a consistent snapshot that
    // keeps answering identically while a concurrent compact/vacuum
    // publishes the next generation (IndexGen keeps the predecessor)
    val gen = IndexGen.liveRequired(spark, indexDir)
    val cents = spark.read.parquet(s"$gen/centroids")
      .select("cell", "pos", "val")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
      .groupBy(_._1).toSeq.sortBy(_._1).map { case (_, dims) =>
        val arr = new Array[Double](dims.length)
        dims.foreach { case (_, p, v) => arr(p) = v }
        arr
      }
    val cbRows = spark.read.parquet(s"$gen/codebooks")
      .select("j", "codeword", "pos", "val")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
    val cbs = cbRows.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, byBook) =>
      byBook.groupBy(_._2).toSeq.sortBy(_._1).map { case (_, dims) =>
        val arr = new Array[Double](dims.length)
        dims.foreach { case (_, _, p, v) => arr(p) = v }
        arr
      }
    }
    val tombPath = new org.apache.hadoop.fs.Path(s"$gen/tombstones")
    val fs = tombPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tombs =
      if (fs.exists(tombPath) && fs.listStatus(tombPath)
          .exists(_.getPath.getName.endsWith(".parquet")))
        Some(spark.read.parquet(tombPath.toString).select("cand_id").distinct())
      else None
    // streamed additions (addEpoch's epoch-partitioned table) extend
    // the corpus; the epoch is a replay-idempotency artifact, not data.
    // Same guard as tombstones above: read only when at least one
    // __epoch= partition exists — an EMPTY additions dir (carry whose
    // rename failed after mkdirs, aborted addEpoch leaving staging
    // residue) would otherwise throw 'unable to infer schema' on every
    // load, bricking the index until manual cleanup.
    val addPath = new org.apache.hadoop.fs.Path(s"$gen/additions")
    val corpus = spark.read.parquet(s"$gen/corpus")
    val table =
      if (listEpochDirs(fs, addPath).nonEmpty)
        corpus.unionByName(
          spark.read.parquet(addPath.toString).drop("__epoch")
            .select(corpus.columns.map(col).toSeq: _*))
      else corpus
    Model(cents, cbs, table, tombs)
  }

  /** Top-k per query against the prebuilt index: probe `nprobe` cells,
    * ADC-score their codes, exactly re-rank the `shortlist` best
    * against the float column (or `refineFrom`, a (idCol, vecCol)
    * table, when supplied). Output (query_id, rnk, cand_id, adist) —
    * the [[Similarity.ivfPqTopK]] contract, minus any corpus work.
    *
    * The probed-cell union across the batch (≤ `cells` values, from
    * one driver action over the query side — queries are the small,
    * broadcast side by design) becomes a LITERAL `cell IN (…)`
    * predicate, so partition pruning is static and visible in the scan
    * (PlanSpec-pinned), not dependent on runtime DPP heuristics. Self
    * matches are excluded (query ids drawn from the indexed corpus
    * never return themselves — [[Similarity.ivfPqTopK]] semantics). */
  def queryBatch(queries: DataFrame, model: Model, k: Int, nprobe: Int,
                 shortlist: Int = 0, refineFrom: Option[DataFrame] = None,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = Similarity.assignCellsN(
      queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qv")),
      model.centroids, nprobe, "qv")
    val probed = q.select("cell").distinct().collect().map(_.getInt(0)).toSeq.sorted
    val prunedAll = model.table.filter(col("cell").isin(probed: _*))
    // tombstoned ids are evicted HERE — a broadcast anti-join on the
    // pruned partitions (the tombstone set is a deletion batch, tiny
    // vs the index), so both the ADC scan and the refine read the
    // live rows only and no removed vector can surface in results
    val pruned = model.tombstones match {
      case Some(t) => prunedAll.join(broadcast(t), Seq("cand_id"), "left_anti")
      case None    => prunedAll
    }
    val enc = pruned.select(col("cand_id"), col("cell"), col("code"))
    graft.expressions.GraftFunctions.registerKnownSessions()
    val dist = call_function("graft_pq_adc", col("qv"), col("code"),
      typedlit(model.codebooks.map(_.map(_.toSeq))))
    val wa = Window.partitionBy("query_id").orderBy(col("adist").asc, col("cand_id"))
    val adc = broadcast(q).join(enc,
        q("cell") === enc("cell") && col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"), round(dist, 6).as("adist"))
      .withColumn("rnk", row_number().over(wa).cast("long"))
    if (shortlist <= 0)
      adc.filter(col("rnk") <= k)
        .select(col("query_id"), col("rnk"), col("cand_id"), col("adist"))
    else {
      val short = adc.filter(col("rnk") <= math.max(shortlist, k))
        .select(col("query_id"), col("cand_id"))
      // refine reads the float column of the SAME pruned partitions —
      // every shortlist candidate lives in a probed cell by construction
      val floats = refineFrom
        .map(_.select(col(idCol).as("cand_id"),
          col(vecCol).cast("array<double>").as("cv")))
        .getOrElse(pruned.select(col("cand_id"),
          col("embedding").cast("array<double>").as("cv")))
      val qexact = queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qv"))
      val exact = broadcast(short)
        .join(floats, "cand_id")
        .join(broadcast(qexact), "query_id")
        .select(col("query_id"), col("cand_id"),
          round(Similarity.dot(col("qv"), col("qv")) -
            Similarity.dot(col("qv"), col("cv")) * 2.0 +
            Similarity.dot(col("cv"), col("cv")), 6).as("adist"))
      val we = Window.partitionBy("query_id").orderBy(col("adist").asc, col("cand_id"))
      exact.withColumn("rnk", row_number().over(we).cast("long"))
        .filter(col("rnk") <= k)
        .select(col("query_id"), col("rnk"), col("cand_id"), col("adist"))
    }
  }
}
