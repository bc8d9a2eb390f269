package graft.examples

import graft.core.Tables
import graft.operators.{AudioModal, Curation, MultiModal, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** CROSS-MODALITY curation — the finished north-star pieces composed
  * into ONE run: the text funnel (quality gates → exact dedup →
  * MinHash near-dup → PII redaction → split, [[Curation]]), image
  * near-dup removal (real `javax.imageio` decode → grid-mean features
  * → sign bits → banded Hamming pairs — the `mm_neardup` chain), and
  * audio near-dup removal (WAV decode → windowed energies → the same
  * signature chain), folded into a single survivor corpus. A document
  * survives iff every modality it carries survives its lane; a doc
  * with no media passes those lanes vacuously.
  *
  * Capability lineage: the reference processes text and opaque binary
  * content through one pipeline graph (`io/file/reader.go:30-74`,
  * `examples/` text pipelines); this composes the same idea across
  * typed modalities at training-corpus scale.
  *
  * Scale shape (the 100 TB contract): each media lane is ONE decode
  * pass (`mapPartitions`, no shuffle) into fixed-width feature
  * vectors; pair generation is the banded equi-join (never all-pairs,
  * exactly-once emission by the first-surviving-band rule, no
  * pair-stream distinct); the loser sets are dup-rate-sized and
  * anti-join back against the curated text with the strategy left to
  * statistics/AQE — at a 1% dup rate on a 100 TB corpus the loser set
  * is far too big to force a broadcast hint, and at spec scale AQE
  * broadcasts it anyway. Lanes are independent until the final
  * anti-joins, so no lane re-reads another lane's inputs.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 \
  *     sbt "runMain graft.examples.MultiModalCurationExample"
  */
object MultiModalCurationExample {

  /** The larger id of every surviving near-dup pair is the DROP set;
    * the smaller id is the canonical survivor (the repo-wide
    * min-id-wins convention, cf. [[Curation]]'s exact dedup). */
  private def losers(pairs: DataFrame): DataFrame =
    pairs.select(col("id_b").as("doc_id")).distinct()

  /** Image lane: decode → grid-mean features centered at mid-gray →
    * 3·grid² sign bits → banded Hamming pairs. Defaults are the
    * `mm_neardup` gate's proven setting: 48-bit signatures in 6
    * bands, maxHamming=5 AT the pigeonhole bound (full recall). */
  def imageLosers(media: DataFrame, grid: Int = 4, bands: Int = 6,
                  maxHamming: Int = 5): DataFrame = {
    val centered = MultiModal.decodeFeatures(media, grid)
      .select(col("doc_id"),
        transform(col("features"), f => f - lit(0.5)).as("fv"))
    losers(Similarity.hammingBandedPairs(centered, dim = 3 * grid * grid,
      maxHamming = maxHamming, bands = bands, idCol = "doc_id", vecCol = "fv"))
  }

  /** Audio lane: WAV decode → windowed channel-0 energies centered at
    * the clip's own mean → `windows` sign bits → banded Hamming
    * pairs. maxHamming=0 pairs exact signature twins (re-encoded /
    * re-keyed copies) with full recall at any band count. */
  def audioLosers(clips: DataFrame, windows: Int = 32, bands: Int = 4,
                  maxHamming: Int = 0): DataFrame = {
    val mean = aggregate(col("features"), lit(0d), (a, b) => a + b) /
      lit(windows.toDouble)
    val centered = AudioModal.features(clips, windows)
      .select(col("doc_id"),
        transform(col("features"), x => x - mean).as("fv"))
    losers(Similarity.hammingBandedPairs(centered, dim = windows,
      maxHamming = maxHamming, bands = bands, idCol = "doc_id", vecCol = "fv"))
  }

  /** Compose already-computed lanes: the curated text minus each media
    * lane's losers. Callers computing lane counts too should persist
    * the (dup-rate-sized) loser frames and pass them here, so each
    * decode pass runs ONCE — see [[main]]. */
  def compose(curatedText: DataFrame, imgLosers: DataFrame,
              audLosers: DataFrame): DataFrame =
    curatedText
      .join(imgLosers, Seq("doc_id"), "left_anti")
      .join(audLosers, Seq("doc_id"), "left_anti")

  /** One curated corpus across all three modalities: the text lane's
    * output (doc_id, redacted text, n_tokens, split) minus the image
    * and audio near-dup losers. */
  def curateAll(docs: DataFrame, images: DataFrame, clips: DataFrame,
                cfg: Curation.Config = Curation.Config()): DataFrame =
    compose(Curation.curate(docs, cfg), imageLosers(images), audioLosers(clips))

  /** Demo image fixture (a real corpus reads its own blob columns
    * here): coverage is SPARSE — ~15% of docs carry an image — and
    * near-dup twins are PLANTED so the lane has real work. Bases are
    * the ids the `mm_neardup` gate's fixture rules prove SOUND for
    * sign-bit similarity: id%5!=0 keeps out the solid-gray GIFs (two
    * grays on the same side of mid-gray have IDENTICAL all-zero sign
    * signatures — unrelated docs would pair at hamming 0) and
    * grid-aligned dims (w = 8+id%9, h = 6+id%7 both multiples of
    * grid=4) make the 2× upscale twin feature-EXACT (nested-floor
    * identity, resizeScale's doc) so every planted twin is guaranteed
    * caught at hamming 0. The twin is keyed at base+1, which is NEVER
    * itself eligible ((base+1)%7 ∈ {3,0} ⟹ h ∈ {9,6}, neither a
    * multiple of 4), so no doc carries two images. (Gradient images
    * for EVERY doc would be wrong as a demo: adjacent ids shift all
    * channels by a constant, so the whole corpus reads as one
    * near-dup cluster — dense synthetic similarity, not a lane bug.) */
  def plantedImages(ids: DataFrame): DataFrame = {
    val imgBase = MultiModal.synthesize(ids.filter(
      col("doc_id") % 5 =!= 0 &&
        (lit(8) + col("doc_id") % 9) % 4 === 0 &&
        (lit(6) + col("doc_id") % 7) % 4 === 0))
    val imgTwins = MultiModal.resizeScale(imgBase, 2)
      .select((col("doc_id") + 1L).as("doc_id"), col("content"))
    imgBase.select("doc_id", "content").unionByName(imgTwins)
  }

  /** Demo audio fixture: every doc at id%22==0 carries a
    * pseudo-random PCM clip; the doc at id+11 carries the SAME clip
    * re-keyed (an exact re-encode at signature granularity). */
  def plantedClips(ids: DataFrame): DataFrame = {
    val audBase = AudioModal.synthesizeNoiseWav(
      ids.filter(col("doc_id") % 22 === 0))
    val audTwins = audBase.select((col("doc_id") + 11L).as("doc_id"),
      col("content"))
    audBase.unionByName(audTwins)
  }

  /** The ORACLE-DERIVABLE audio fixture behind the `mm_curation`
    * gate: same planting as [[plantedClips]] (bases at id%22==0,
    * twins = the same blob re-keyed at +11) but over
    * [[AudioModal.hashWavOne]]'s md5-noise clips, whose samples a
    * DuckDB oracle re-derives. ONE synthesis pass: each base id emits
    * both its own row and the twin's from the same bytes (a lazy
    * base-plus-shifted union would synthesize every clip twice). */
  def plantedHashClips(ids: DataFrame): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    ids.filter(col("doc_id").isNotNull && col("doc_id") % 22 === 0)
      .select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.flatMap { id =>
        val bytes = AudioModal.hashWavOne(id)
        Seq((id, bytes), (id + 11L, bytes))
      })
      .toDF("doc_id", "content")
  }

  /** Per-epoch slice of [[plantedImages]] — the image blobs arriving
    * WITH a micro-batch of doc ids: an id's own base image when the id
    * is eligible, or its twin blob (derived deterministically from
    * id−1's base, the same decode→2×-upscale→re-encode) when id−1 is.
    * Base and twin ids always differ, so under any epoch split by id
    * the pair usually straddles epochs — the streaming lane's
    * cross-epoch banded join does real work. Union over all epochs ==
    * [[plantedImages]] of the union id set, PROVIDED twin ids (base+1)
    * are themselves in the id universe — true for the `mm_curation`
    * fixture (the largest eligible base's twin stays under the id cap). */
  def epochImages(ids: DataFrame): DataFrame = {
    def eligible(c: org.apache.spark.sql.Column) =
      c % 5 =!= 0 && (lit(8) + c % 9) % 4 === 0 && (lit(6) + c % 7) % 4 === 0
    val bases = MultiModal.synthesize(ids.filter(eligible(col("doc_id"))))
    val twins = MultiModal.resizeScale(
        MultiModal.synthesize(ids.filter(eligible(col("doc_id") - 1))
          .select((col("doc_id") - 1).as("doc_id"))), 2)
      .select((col("doc_id") + 1).as("doc_id"), col("content"))
    bases.select("doc_id", "content").unionByName(twins)
  }

  /** Per-epoch slice of [[plantedHashClips]]: an id carries its own
    * md5-noise clip at id%22==0, or the re-keyed twin of id−11's clip
    * at id%22==11 (same PCM bytes, derived from the twin's own id).
    * Same union-equality contract as [[epochImages]]. */
  def epochHashClips(ids: DataFrame): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    ids.filter(col("doc_id").isNotNull &&
        (col("doc_id") % 22 === 0 || col("doc_id") % 22 === 11))
      .select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.map { id =>
        (id, AudioModal.hashWavOne(if (id % 22 == 11) id - 11 else id))
      })
      .toDF("doc_id", "content")
  }

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = graft.core.SessionSetup.session(8, "WARN")

    val docs = Tables(spark, dir).documents
    val ids = docs.select("doc_id")
    val images = plantedImages(ids)
    val clips = plantedClips(ids)
    // each lane runs ONCE: the loser sets are dup-rate-sized, so they
    // persist cheaply and feed both the printed counts and the final
    // composition — without this, counting and composing would re-run
    // every decode pass and the full text funnel a second time
    val text = Curation.curate(docs).persist()
    val imgLosers0 = imageLosers(images).persist()
    val audLosers0 = audioLosers(clips).persist()
    val out = compose(text, imgLosers0, audLosers0)
    println(s"text lane survivors : ${text.count()}")
    println(s"image near-dups     : ${imgLosers0.count()}")
    println(s"audio near-dups     : ${audLosers0.count()}")
    println(s"cross-modal corpus  : ${out.count()} docs")
    out.show(5, truncate = 60)
    spark.stop()
  }
}
