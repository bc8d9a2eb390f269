package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** Runs one workload's op list in closed-loop passes against the seeded
  * input directory and writes every raw measurement to one JSON file.
  * Metrics are derived from that file by the Python runner.
  *
  * Args: --input DIR --out DIR --result FILE --ops a,b,c --seed N
  *       --warmups W --passes P --trace 0|1 --cores N --setups K
  *
  * Sequence: K session set-ups (timed; the last session is kept), one
  * cold pass, W unmeasured warm-up passes, then P measured warm passes.
  * The cold pass is the run a daily batch job makes. Every measured
  * pass forces each result with a noop write, as `graft.Bench` does;
  * the first warm-up pass writes each op's output as parquet under
  * `out`, which the correctness check reads. With --trace 1 the
  * measured passes go untraced, traced, traced, untraced, so the
  * tracing overhead is measured on the same run. */
object Main {
  final case class OpRun(op: String, pass: Int, start: Double, buildEnd: Double,
                         end: Double, error: Option[String])
  final case class Pass(index: Int, kind: String, traced: Boolean,
                        start: Double, end: Double, cpuS: Double)

  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  /** Epoch milliseconds with sub-millisecond resolution. */
  private def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
  private def processCpuS: Double = osBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  private def peakRssMb: Double =
    try {
      val lines = Files.readAllLines(Paths.get("/proc/self/status"))
      val hwm = lines.toArray(Array.empty[String]).find(_.startsWith("VmHWM:"))
      hwm.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    } catch { case _: Exception => 0.0 }

  /** The session `graft.Bench` builds, at the given core count. */
  def session(cores: Int): SparkSession = {
    val master = s"local[$cores]"
    val spark = graft.core.SessionSetup(
      SparkSession.builder()
        .master(master)
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.maxResultSize", "4g"),
      master).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.core.LogHygiene.install()
    spark
  }

  def parseArgs(args: Array[String]): Map[String, String] = {
    require(args.length % 2 == 0, "arguments come in --key value pairs")
    args.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"expected --key, got $k")
      k.drop(2) -> v
    }.toMap
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val ops = a("ops").split(',').toSeq.filter(_.nonEmpty)
    val unknown = ops.filterNot(graft.SparkEntry.queries.contains)
    if (ops.isEmpty || unknown.nonEmpty) {
      System.err.println(s"unknown op(s): ${unknown.mkString(", ")}")
      sys.exit(2)
    }
    val input = a("input")
    val out = a("out")
    val seed = a("seed").toLong
    val warmups = a("warmups").toInt
    val measured = a("passes").toInt
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val setups = a("setups").toInt

    val setupS = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (_ <- 1 to setups) {
      if (spark != null) spark.stop()
      val t0 = nowMs
      spark = session(cores)
      setupS += (nowMs - t0) / 1e3
    }

    val epochs = new EpochListener
    spark.streams.addListener(epochs)
    val tracer = new TraceListener
    val passes = ArrayBuffer.empty[Pass]
    val runs = ArrayBuffer.empty[OpRun]

    def force(op: String)(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
    def save(op: String)(df: DataFrame): Unit = df.write.mode("overwrite").parquet(s"$out/$op")

    def runPass(kind: String, traced: Boolean, sink: String => DataFrame => Unit): Pass = {
      val index = passes.length
      val order = new scala.util.Random(seed * 1000003L + index).shuffle(ops)
      if (traced) tracer.attach(spark)
      val c0 = processCpuS
      val t0 = nowMs
      for (op <- order) {
        val s = nowMs
        var mid = s
        val err = try {
          val df = graft.SparkEntry.queries(op)(spark, input)
          mid = nowMs
          sink(op)(df)
          None
        } catch { case e: Throwable =>
          Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
        }
        val e = nowMs
        runs += OpRun(op, index, s, if (err.isEmpty) mid else e, e, err)
        graft.core.SessionHygiene.flush(spark)
      }
      val p = Pass(index, kind, traced, t0, nowMs, processCpuS - c0)
      ListenerBus.drain(spark.sparkContext)
      if (traced) tracer.detach(spark)
      passes += p
      p
    }

    runPass("cold", traced = false, force)
    // the JIT keeps compiling for a few passes after the cold one:
    // unmeasured passes bring the measured ones close to the plateau
    for (w <- 0 until warmups) runPass("warmup", traced = false, if (w == 0) save else force)
    // traced runs go untraced, traced, traced, untraced, ... so warm-up
    // drift falls on both sides of the overhead ratio
    for (warm <- 0 until measured)
      runPass("warm", traced = trace && (warm % 4 == 1 || warm % 4 == 2), force)

    val json = Map(
      "seed" -> seed,
      "cores" -> cores,
      "ops" -> ops,
      "oracle_sql" -> ops.flatMap(op => graft.SparkEntry.oracleSql.get(op).map(op -> _)).toMap,
      "setup_session_s" -> setupS.toSeq,
      "passes" -> passes.toSeq.map(p => Map(
        "index" -> p.index, "kind" -> p.kind, "traced" -> p.traced,
        "start" -> p.start, "end" -> p.end, "cpu_s" -> p.cpuS)),
      "op_runs" -> runs.toSeq.map(r => Map(
        "op" -> r.op, "pass" -> r.pass, "start" -> r.start,
        "build_end" -> r.buildEnd, "end" -> r.end, "error" -> r.error.orNull)),
      "jobs" -> tracer.jobs.toSeq.map(j => Map(
        "id" -> j.id, "start" -> j.start, "end" -> j.end, "group" -> j.group,
        "stage_ids" -> j.stageIds)),
      "stages" -> tracer.stageRecs.map(s => Map(
        "id" -> s.id, "attempt" -> s.attempt, "submit" -> s.submit,
        "complete" -> s.complete, "tasks" -> s.tasks, "failed_tasks" -> s.failedTasks,
        "run_ms" -> s.runMs, "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs,
        "shuffle_write_b" -> s.shuffleWrite, "shuffle_read_b" -> s.shuffleRead,
        "fetch_wait_ms" -> s.fetchWaitMs, "spill_b" -> s.spill,
        "input_b" -> s.input, "output_b" -> s.output)),
      "phases" -> tracer.phases.toSeq.map(p => Map(
        "execution" -> p.execution, "phase" -> p.phase,
        "start" -> p.start, "end" -> p.end)),
      "queries_started" -> epochs.started.toSeq.map { case (r, t) =>
        Map("run_id" -> r, "time" -> t) },
      "epochs" -> epochs.epochs.toSeq.map(e => Map(
        "run_id" -> e.runId, "batch_id" -> e.batchId, "start" -> e.start,
        "duration_ms" -> e.durations, "rows" -> e.rows,
        "state_rows" -> e.stateRows, "state_bytes" -> e.stateBytes,
        "state_commit_ms" -> e.stateCommitMs)),
      "peak_rss_mb" -> peakRssMb,
      "log_errors" -> graft.core.LogHygiene.errorCount)
    Files.write(Paths.get(a("result")),
      Serialization.write(json)(DefaultFormats).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
