package graft

import graft.operators.{AnnIndex, IndexGen}
import org.apache.spark.sql.functions._

/** Randomized CRASH-SCHEDULE fuzzing for the index-generation
  * machinery (r13 verdict #3): the hand-enumerated crash matrix in
  * [[IndexGen]]'s doc covers the windows its authors thought of; these
  * tiers drive randomized schedules with a crash injected at a random
  * IO boundary of a random operation ([[FaultyFileSystem]]'s mutation
  * budget), asserting the protocol invariants after every step:
  *
  *  - a resolvable index NEVER resolves to a torn generation — the
  *    payload read back is complete and internally consistent;
  *  - once any promote completes, the index never stops resolving, and
  *    never regresses below the last completed publication;
  *  - crashed maintenance re-runs to success from whatever prefix
  *    state the crash left (every state is re-runnable);
  *  - across the composite AnnIndex ops (compact / addEpoch / replay /
  *    remove / vacuum): no vector lost, no tombstone resurrected, no
  *    duplicate visible row — the exactly-once model holds under
  *    crashes anywhere in the schedule.
  *
  * Tier split: the PROTOCOL tier drives IndexGen directly with
  * kill-mode injection (an Error no catch block intercepts — true
  * process-kill semantics, including inside promote's rename windows)
  * at N ≥ 1500 schedules; the MAINTENANCE tier drives the real
  * Spark-parquet AnnIndex ops with abort-mode injection (Spark task
  * runners escalate Errors) at a smaller N — wider state space per
  * schedule, weaker (abort, not kill) semantics inside Spark's own
  * commit protocol, which has its own exactly-once contract. Schedules
  * are sequential (the concurrency races have dedicated deterministic
  * specs in AnnIndexSpec/IndexGenSpec); seeds are fixed, so any found
  * bug replays deterministically from the printed schedule seed.
  * Scale N via SPARK_GRAFT_FUZZ_N / SPARK_GRAFT_FUZZ_MAINT_N.
  */
class IndexGenFuzzSpec extends SparkSpec {
  import spark.implicits._

  private lazy val conf = {
    val c = spark.sparkContext.hadoopConfiguration
    c.set("fs.faulty.impl", classOf[FaultyFileSystem].getName)
    c
  }

  private def counterOf(gen: String): Long =
    gen.split('/').last.stripPrefix("gen-").toLong

  private def writeFile(path: String, content: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val out = fs.create(p, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  private def readFile(path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    val in = fs.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  test("protocol tier: begin/promote/live survive kills at every IO boundary (N randomized schedules)") {
    conf // force fs registration
    val n = sys.env.get("SPARK_GRAFT_FUZZ_N").flatMap(_.toIntOption).getOrElse(1500)
    val rnd = new scala.util.Random(421404L)
    var schedules = 0
    var injected = 0
    while (schedules < n) {
      val seed = rnd.nextLong()
      val r = new scala.util.Random(seed)
      val tmp = java.nio.file.Files.createTempDirectory("graft-fuzz-proto")
      val root = s"faulty://$tmp/index"
      // per-schedule model state
      var payloadComplete = Map.empty[String, Long] // tag -> counter (payload fully written)
      var lastCompleted = Option.empty[(String, Long)] // last crash-free promote
      var tagSeq = 0

      def writerOp(crashAt: Option[Int]): Unit = {
        val tag = s"s$schedules-t$tagSeq"; tagSeq += 1
        crashAt.foreach { at => FaultInjector.arm(at, kill = true); injected += 1 }
        try {
          val gen = IndexGen.begin(spark, root)
          writeFile(s"$gen/corpus/part-0", tag)
          writeFile(s"$gen/meta", tag)
          payloadComplete += tag -> counterOf(gen)
          IndexGen.promote(spark, root, gen)
          lastCompleted = Some((tag, counterOf(gen)))
        } catch {
          case _: FaultInjector.InjectedKill => () // crashed mid-op: state is the prefix
        } finally FaultInjector.disarm()
      }

      def readerOp(): Unit = IndexGen.live(spark, root) match {
        case None =>
          assert(lastCompleted.isEmpty,
            s"seed=$seed: index stopped resolving after a completed promote")
        case Some(gen) =>
          assert(gen != root, s"seed=$seed: resolved the index root instead of a generation")
          val (a, b) = (readFile(s"$gen/corpus/part-0"), readFile(s"$gen/meta"))
          assert(a == b, s"seed=$seed: TORN generation published: corpus=$a meta=$b")
          assert(payloadComplete.contains(a),
            s"seed=$seed: resolved payload '$a' was never fully written")
          assert(payloadComplete(a) == counterOf(gen),
            s"seed=$seed: payload '$a' resolved from the wrong generation $gen")
          lastCompleted.foreach { case (_, c) =>
            assert(counterOf(gen) >= c,
              s"seed=$seed: resolution regressed below the last completed promote ($gen < gen-$c)")
          }
      }

      val ops = 2 + r.nextInt(5)
      (0 until ops).foreach { _ =>
        if (r.nextDouble() < 0.7)
          writerOp(if (r.nextDouble() < 0.6) Some(r.nextInt(24)) else None)
        else readerOp()
        readerOp() // invariants re-checked after EVERY op
      }
      // recovery: one clean compaction must always succeed and win
      writerOp(None)
      readerOp()
      val live = IndexGen.liveRequired(spark, root)
      assert(readFile(s"$live/meta") == lastCompleted.get._1,
        s"seed=$seed: clean recovery compaction did not become live")
      // GC bound: live + predecessor only (stale stagings reaped)
      val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
      val gens = fs.listStatus(new org.apache.hadoop.fs.Path(root))
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("gen-"))
      assert(gens.length <= 2,
        s"seed=$seed: GC left ${gens.length} generations: ${gens.map(_.getPath.getName).toSeq}")
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
      schedules += 1
    }
    info(s"$schedules schedules, $injected injected kills — all invariants held")
    assert(injected > n / 3, "fuzz degenerated: too few injected kills")
  }

  // ---- maintenance tier ----

  private def vec(id: Long): Seq[Float] = {
    // 4 well-separated direction clusters in 8-dim space (the
    // AnnIndexSpec fixture shape: m=2 subspaces of 4 dims)
    val base = Array.fill(8)(0f)
    base((id % 4).toInt) = 1f
    base(4 + (id % 4).toInt) = 1f
    base.map(x => x * (1f + (id % 7) * 0.01f)).toSeq
  }

  test("maintenance tier: AnnIndex ops under injected aborts keep the exactly-once model (N randomized schedules)") {
    conf
    val n = sys.env.get("SPARK_GRAFT_FUZZ_MAINT_N").flatMap(_.toIntOption).getOrElse(8)
    val rnd = new scala.util.Random(1404L)
    (0 until n).foreach { s =>
      val seed = rnd.nextLong()
      val r = new scala.util.Random(seed)
      val tmp = java.nio.file.Files.createTempDirectory("graft-fuzz-maint")
      val root = s"faulty://$tmp/index"
      val corpus0 = (0L until 12L).toSet
      // model: epochs ever written (replay uses the same content),
      // removals ever issued — visible must ALWAYS be
      // corpus0 ∪ all-epoch-ids − removedEver, crashes or not
      var epochs = Map.empty[Long, Set[Long]]
      var removedEver = Set.empty[Long]
      var nextEpoch = 0L
      var nextId = 1000L

      def expected: Set[Long] = corpus0 ++ epochs.values.flatten -- removedEver

      def withCrashRetry(crashAt: Option[Int])(op: () => Unit): Unit = {
        crashAt.foreach(at => FaultInjector.arm(at, kill = false))
        try op()
        catch {
          case t: Throwable if FaultInjector.isInjected(t) =>
            FaultInjector.disarm()
            op() // documented recovery: re-run the crashed maintenance
        } finally FaultInjector.disarm()
      }

      def visible(): Seq[Long] = {
        val m = AnnIndex.load(spark, root)
        val ids = m.table.select("cand_id").as[Long].collect().toSeq
        val tomb = m.tombstones
          .map(_.select("cand_id").as[Long].collect().toSet)
          .getOrElse(Set.empty)
        ids.filterNot(tomb)
      }

      def check(stage: String): Unit = {
        val vis = visible()
        assert(vis.size == vis.toSet.size,
          s"seed=$seed $stage: duplicate visible ids ${vis.groupBy(identity).filter(_._2.size > 1).keys}")
        assert(vis.toSet == expected,
          s"seed=$seed $stage: visible ${vis.toSet.toSeq.sorted} != expected ${expected.toSeq.sorted}")
      }

      def compactVisible(crashAt: Option[Int]): Unit = withCrashRetry(crashAt) { () =>
        val m = AnnIndex.load(spark, root)
        val src = m.tombstones.fold(m.table)(t =>
          m.table.join(broadcast(t), Seq("cand_id"), "left_anti"))
          .select(col("cand_id").as("vec_id"), col("embedding"))
        AnnIndex.compact(src, root, cells = 4, m = 2, ksub = 4,
          coarseIters = 2, pqIters = 1, trainBound = 0L)
      }

      // initial build (clean — the schedule fuzzes maintenance)
      AnnIndex.compact(corpus0.toSeq.sorted.map(i => (i, vec(i))).toDF("vec_id", "embedding"),
        root, cells = 4, m = 2, ksub = 4, coarseIters = 2, pqIters = 1, trainBound = 0L)
      check("after initial compact")

      val ops = 5 + r.nextInt(4)
      (0 until ops).foreach { k =>
        val crashAt = if (r.nextDouble() < 0.5) Some(r.nextInt(200)) else None
        r.nextInt(5) match {
          case 0 => // add a fresh epoch
            val ids = (0 until 1 + r.nextInt(3)).map(_ => { nextId += 1; nextId }).toSet
            val e = { nextEpoch += 1; nextEpoch }
            withCrashRetry(crashAt) { () =>
              AnnIndex.addEpoch(ids.toSeq.sorted.map(i => (i, vec(i))).toDF("vec_id", "embedding"),
                root, AnnIndex.load(spark, root), e)
            }
            epochs += e -> ids
            check(s"op$k addEpoch($e)")
          case 1 if epochs.nonEmpty => // replay a past epoch verbatim
            val (e, ids) = epochs.toSeq(r.nextInt(epochs.size))
            withCrashRetry(crashAt) { () =>
              AnnIndex.addEpoch(ids.toSeq.sorted.map(i => (i, vec(i))).toDF("vec_id", "embedding"),
                root, AnnIndex.load(spark, root), e)
            }
            check(s"op$k replay($e)")
          case 2 => // remove 1-2 currently visible ids
            val pool = expected.toSeq.sorted
            val picks = r.shuffle(pool).take(1 + r.nextInt(2)).toSet
            withCrashRetry(crashAt) { () =>
              AnnIndex.remove(picks.toSeq.toDF("vec_id"), root)
            }
            removedEver ++= picks
            check(s"op$k remove($picks)")
          case 3 =>
            withCrashRetry(crashAt)(() => AnnIndex.vacuum(spark, root))
            check(s"op$k vacuum")
          case _ =>
            compactVisible(crashAt)
            check(s"op$k recompact")
        }
      }
      // final consolidation: vacuum then recompact, both clean
      AnnIndex.vacuum(spark, root)
      check("final vacuum")
      compactVisible(None)
      check("final recompact")
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
  }
}
