package pipebench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Graft
import graft.ops.Active911

/** The Active911 → GeoJSON pipeline benchmark.
  *
  * {{{
  * Main --workload fleet|busy|redelivery --seed N --seconds S --trace 0|1 --work DIR
  * }}}
  *
  * Set-up (session start, workload start, one untimed warm-up op) runs
  * [[Main.SetupRepeats]] times, then untimed ops run for
  * [[Main.BurnInSeconds]]; then ops run back to back, one client, for `S`
  * seconds, each checked against the generator's expectations.
  * `--trace 0` prints the end-to-end metrics. `--trace 1` instead runs
  * traced ops (layer prefixes, spans, Spark listener) interleaved with
  * untraced ones for `S/2` seconds, a fault probe, and a `local[1]` run,
  * and prints the per-layer metrics; it also writes spans and the layer
  * table under DIR.
  * The last stdout line is the result as one JSON object.
  */
object Main {
  val SetupRepeats = 3
  /** Untimed ops after set-up. Op times keep falling for tens of seconds
    * while the JIT compiles the planner and expression paths; this takes
    * off the steepest part.
    */
  val BurnInSeconds = 8.0
  val MinOps = 3
  val FaultProbeOps = 10

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, work: Path)

  final case class Sample(op: Op, ran: Ran, verdict: Verdict) {
    def failed: Boolean = !verdict.ok
  }

  /** Decoded-side counts of one op's envelopes. */
  final case class Counts(records: Long, logLines: Long, features: Long, links: Long,
                          apiErrors: Long, partitions: Int)

  /** One traced iteration: the op, the cumulative time marks of its
    * layers (prefix wall times, then the op's own marks), its counts, and
    * the untraced op run next to it.
    */
  final case class Traced(sample: Sample, marks: Seq[(String, Double)], counts: Counts,
                          gcSeconds: Double, untraced: Sample)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(m.getOrElse("work", "work")).toAbsolutePath)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    Files.createDirectories(args.work)
    val cores = Runtime.getRuntime.availableProcessors
    val wl = Workload(args.workload, args.seed, cores, args.work)
    val bench = new Bench(wl, cores)
    try {
      bench.setUp()
      bench.measure(BurnInSeconds) // JIT warm-up; these ops are checked, not timed
      val result =
        if (!args.trace) endToEnd(bench, bench.measure(args.seconds))
        else traced(bench, args)
      emit(result)
    } finally bench.tearDown()
  }

  /** Session and op bookkeeping shared by every phase. */
  final class Bench(val wl: Workload, val cores: Int) {
    var spark: SparkSession = _
    val setups = mutable.ArrayBuffer.empty[(Double, Double)] // (session_s, setup_s)
    val all = mutable.ArrayBuffer.empty[Sample]

    def runOp(index: Long, spans: Spans = Spans.Off, fault: Option[Fault] = None): Sample = {
      val op = wl.prepare(index, fault)
      val ran = wl.run(spark, op, spans)
      val s = Sample(op, ran, Check(op.expected, ran.delivered))
      if (fault.isEmpty) all += s
      log(s)
      s
    }

    /** Session start, workload start and the warm-up op, timed together. */
    def start(master: Option[String]): (Double, Double) = {
      if (spark != null) stop()
      val (sessionS, s) = Workload.timed(master.fold(Graft.session())(Graft.session(_)))
      spark = s
      val (startS, _) = Workload.timed(wl.start(spark))
      val warm = runOp(0)
      (sessionS, sessionS + startS + warm.ran.seconds)
    }

    def setUp(): Unit = (1 to SetupRepeats).foreach(_ => setups += start(None))

    private var next = 1L

    def measure(seconds: Double): Seq[Sample] = {
      val end = System.nanoTime() + (seconds * 1e9).toLong
      val out = mutable.ArrayBuffer.empty[Sample]
      while (System.nanoTime() < end || out.size < MinOps) {
        out += runOp(next)
        next += 1
        Jvm.sampleLiveHeap()
      }
      out.toSeq
    }

    def nextIndex(): Long = { next += 1; next - 1 }

    def restart(master: String): Unit = { start(Some(master)); next = 1 }

    def stop(): Unit = {
      wl.stop()
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      spark = null
    }

    def tearDown(): Unit = if (spark != null) stop()
  }

  /** One stderr line per op, with the check's findings when it failed. */
  def log(s: Sample): Unit = System.err.println(
    f"[pipebench] op ${s.op.index} ${s.ran.seconds}%.4f s " + (
      if (s.failed) s"FAILED lost=${s.verdict.lost} ${s.verdict.problems.take(5).mkString("; ")}"
      else "ok"))

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest percentile with at least ten samples above it, and its
    * rank. Below 40 samples that percentile would sit under p75, so the
    * tail is p75 instead: the maximum of a dozen ops is too unsteady to
    * bound.
    */
  def tail(xs: Seq[Double]): (Double, Int) =
    if (xs.size < 40) (quantile(xs, 0.75), 75)
    else { val i = xs.size - 11; (xs.sorted.apply(i), (100 * (i + 1)) / xs.size) }

  final case class Result(correct: Boolean, attempted: Int, failed: Int,
                          metrics: Seq[(String, Double, String)], notes: Seq[String])

  private def endToEnd(bench: Bench, samples: Seq[Sample]): Result = {
    val secs = samples.map(_.ran.seconds)
    val (tailS, pct) = tail(secs)
    val failed = bench.all.count(_.failed)
    Result(failed == 0, bench.all.size, failed, Seq(
      ("setup_s", median(bench.setups.map(_._2).toSeq), "s"),
      ("run_s_p50", median(secs), "s"),
      ("run_s_tail", tailS, "s"),
      ("alerts_per_s", samples.map(_.op.alerts).sum / secs.sum, "1/s"),
      ("heap_live_peak_mb", Jvm.liveHeapPeakMb, "MB")),
      Seq(s"run_s_tail is p$pct of ${secs.size} ops",
        s"setup_s runs: ${bench.setups.map(_._2).mkString(", ")}"))
  }

  private def tagged[T](spark: SparkSession, tag: String)(body: => T): T = {
    spark.sparkContext.setLocalProperty(JobStats.Tag, tag)
    try body finally spark.sparkContext.setLocalProperty(JobStats.Tag, null)
  }

  private def counts(spark: SparkSession, wl: Workload, op: Op): Counts = {
    val env = wl.envelopes(spark, op)
    val alerts = Active911.alertsFromEnvelopes(env)
    val logLine = filter(split(coalesce(col("responses"), lit("")), "\n"),
      l => l.startsWith(Gen.ResponsePrefix))
    val a = alerts.agg(count(lit(1)), coalesce(sum(size(logLine)), lit(0L))).head()
    val f = Active911.pipeline(env)
      .agg(count(lit(1)), coalesce(sum(size(col("properties.links"))), lit(0L))).head()
    Counts(a.getLong(0), a.getLong(1), f.getLong(0), f.getLong(1),
      Active911.envelopeErrors(env).count(), env.rdd.getNumPartitions)
  }

  private def traced(bench: Bench, args: Args): Result = {
    val wl = bench.wl
    val spark = bench.spark
    val stats = new JobStats
    spark.sparkContext.addSparkListener(stats)
    val rec = new SpanRecorder
    val iters = mutable.ArrayBuffer.empty[Traced]
    val end = System.nanoTime() + (args.seconds / 2 * 1e9).toLong
    while (System.nanoTime() < end || iters.size < MinOps) {
      val index = bench.nextIndex()
      rec.op = index
      val (sample, marks, c, gc) = rec("iteration") {
        val op = wl.prepare(index)
        val prefixes = wl.layers(spark, op).map { case (name, f) =>
          name -> tagged(spark, "prefix")(rec("layer." + name)(Workload.timed(f())._1))
        }
        CloudTak.drain()
        val c = tagged(spark, "counts")(rec("counts")(counts(spark, wl, op)))
        val gc0 = Jvm.gcSeconds
        val ran = tagged(spark, s"op:$index")(rec("op")(wl.run(spark, op, rec)))
        val gc = Jvm.gcSeconds - gc0
        val sample = Sample(op, ran, Check(op.expected, ran.delivered))
        bench.all += sample
        log(sample)
        (sample, prefixes ++ wl.marks(ran), c, gc)
      }
      Jvm.sampleLiveHeap()
      // an untraced op between traced ones: the base of the tracing overhead
      val plain = bench.runOp(bench.nextIndex())
      Jvm.sampleLiveHeap()
      iters += Traced(sample, marks, c, gc, plain)
    }
    stats.flush(() => tagged(spark, JobStats.Flush)(spark.range(1).count()))
    spark.sparkContext.removeSparkListener(stats)

    val probe = (0 until FaultProbeOps).map { i =>
      val fault = if (i % 5 == 0) Some(GatewayHtml) else if (i % 10 == 9) Some(TruncatedBase64) else None
      bench.runOp(bench.nextIndex(), fault = fault)
    }

    bench.restart("local[1]")
    val oneCore = bench.measure(args.seconds / 2)
    val p50OneCore = median(oneCore.map(_.ran.seconds))

    val n = iters.size.toDouble
    def mean(f: Traced => Double): Double = iters.map(f).sum / n
    // self time of a layer: the median mark where it ends minus the median
    // mark where the previous one ends, so the layers add up to the median op
    val layerNames = iters.head.marks.map(_._1)
    val ends = layerNames.indices.map(i => median(iters.map(_.marks(i)._2).toSeq))
    val self = layerNames.zip(ends.zip(0.0 +: ends).map { case (e, b) => e - b }).toMap
    val opWall = ends.last

    val progress = iters.flatMap(_.sample.ran.progress)
    val state = progress.flatMap(_.stateOperators.headOption)
    def stateMean(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
      if (state.isEmpty) 0.0 else state.map(f).sum / state.size
    val kept = state.map(_.numRowsUpdated).sum.toDouble
    val seen = kept + state.map(s => s.numRowsDroppedByWatermark +
      Option(s.customMetrics.get("numDroppedDuplicateRows")).map(_.longValue).getOrElse(0L)).sum

    val opTags = iters.map(t => t.sample.ran.progress.fold(s"op:${t.sample.op.index}")(
      p => s"batch:${p.batchId}")).toSeq
    val tallies = opTags.flatMap(stats.get)
    val taskSeconds = tallies.map(_.taskMs).sum / 1e3
    val maxTask = opTags.flatMap(stats.get).map(_.maxTaskMs / 1e3)

    val c = iters.map(_.counts)
    // interleaved untraced ops: as warm as the traced ones and the local[1] run
    val p50 = median(iters.map(_.untraced.ran.seconds).toSeq)
    val overhead = opWall / p50 - 1
    val faultsFailed = probe.count(s => s.ran.delivered.thrown.nonEmpty || s.verdict.problems.nonEmpty)
    val normal = bench.all.toSeq
    val failed = normal.count(_.failed)
    val metrics = Seq(
      ("source.scan_s", self("source"), "s"),
      ("source.partitions", c.map(_.partitions).sum / n, "count"),
      ("source.fetch_errors", mean(_.sample.ran.delivered.fetchErrors), "count"),
      ("decode.split_s", self("split"), "s"),
      ("decode.parse_s", self("parse"), "s"),
      ("decode.records", c.map(_.records).sum / n, "count"),
      ("decode.api_errors", c.map(_.apiErrors).sum / n, "count"),
      ("fix.s", self("fix"), "s"),
      ("fix.kept_frac", c.map(_.features).sum.toDouble / c.map(_.records).sum, "ratio"),
      ("features.s", self("features"), "s"),
      ("features.log_lines", c.map(_.logLines).sum / n, "count"),
      ("features.links", c.map(_.links).sum / n, "count"),
      ("features.links_per_line", c.map(_.links).sum.toDouble / c.map(_.logLines).sum, "ratio"),
      ("sink.s", self.getOrElse("sink", 0.0), "s"),
      ("sink.posts", mean(_.sample.ran.delivered.posts), "count"),
      ("sink.bytes", mean(_.sample.ran.delivered.bytes.toDouble), "bytes"),
      ("errors.s", self.getOrElse("errors", 0.0), "s"),
      ("stream.s", self.getOrElse("stream", 0.0), "s"),
      ("dedup.state_rows", stateMean(_.numRowsTotal.toDouble), "count"),
      ("dedup.state_bytes", stateMean(_.memoryUsedBytes.toDouble), "bytes"),
      ("dedup.commit_ms", stateMean(_.commitTimeMs.toDouble), "ms"),
      ("dedup.kept_frac", if (seen > 0) kept / seen else 0.0, "ratio"),
      ("spark.jobs", tallies.map(_.jobs).sum / n, "count"),
      ("spark.tasks", tallies.map(_.tasks).sum / n, "count"),
      ("spark.task_s", taskSeconds / n, "s"),
      ("spark.busy_frac", taskSeconds / (bench.cores * mean(_.sample.ran.seconds) * n), "ratio"),
      ("spark.max_task_s", if (maxTask.isEmpty) 0.0 else median(maxTask), "s"),
      ("spark.shuffle_bytes", tallies.map(_.shuffleBytes).sum / n, "bytes"),
      ("spark.gc_s", mean(_.gcSeconds), "s"),
      ("session_s", median(bench.setups.map(_._1).toSeq), "s"),
      ("speedup_vs_1core", p50OneCore / p50, "ratio"),
      ("trace.op_s", opWall, "s"),
      ("trace.overhead_frac", overhead, "ratio"),
      ("ops_failed_frac", failed.toDouble / normal.size, "ratio"),
      ("envelopes_lost", normal.map(_.verdict.lost).sum.toDouble, "count"),
      ("faults.envelopes_lost", probe.map(_.verdict.lost).sum.toDouble, "count"),
      ("faults.ops_failed_frac", faultsFailed.toDouble / probe.size, "ratio"))

    val out = args.work.resolve("trace").resolve(s"${wl.name}-seed${args.seed}")
    Files.createDirectories(out)
    Files.write(out.resolve("spans.jsonl"), rec.jsonLines.mkString("", "\n", "\n").getBytes(UTF_8))
    val table = layerTable(wl.name, layerNames, self, opWall, p50, overhead, p50OneCore,
      iters.size, probe)
    Files.write(out.resolve("layers.md"), table.getBytes(UTF_8))
    Result(failed == 0, normal.size, failed, metrics,
      table.linesIterator.toSeq :+ s"spans and layer table written to $out")
  }

  private def layerTable(name: String, layers: Seq[String], self: Map[String, Double],
                         opWall: Double, p50: Double, overhead: Double, p50OneCore: Double,
                         tracedOps: Int, probe: Seq[Sample]): String = {
    val rows = layers.map(l => f"| $l | ${self(l)}%.4f | ${100 * self(l) / opWall}%.1f%% |")
    (Seq(s"### $name: per-layer self time over $tracedOps traced ops", "",
      "| layer | self s | share of op |", "|---|---|---|") ++ rows ++ Seq(
      f"| **sum** | ${layers.map(self).sum}%.4f | ${100 * layers.map(self).sum / opWall}%.1f%% |",
      f"| traced op wall (median) | $opWall%.4f | 100.0%% |", "",
      f"untraced op p50 $p50%.4f s over $tracedOps ops interleaved with the traced ones; " +
        f"tracing overhead ${100 * overhead}%.1f%% (traced / untraced - 1); " +
        f"local[1] op p50 $p50OneCore%.4f s (speedup ${p50OneCore / p50}%.2fx)",
      s"fault probe: ${probe.size} ops, envelopes lost " +
        s"${probe.map(_.verdict.lost).sum}, ops failed " +
        s"${probe.count(s => s.ran.delivered.thrown.nonEmpty || s.verdict.problems.nonEmpty)}"))
      .mkString("", "\n", "\n")
  }

  private def emit(r: Result): Unit = {
    r.notes.foreach(n => println(s"# $n"))
    r.metrics.foreach { case (k, v, u) => println(s"$k = $v $u") }
    val json = new ObjectMapper()
    val root = json.createObjectNode()
    root.put("correct", r.correct).put("attempted", r.attempted).put("failed", r.failed)
    val m = root.putObject("metrics")
    r.metrics.foreach { case (k, v, u) => m.putObject(k).put("value", v).put("unit", u) }
    println(json.writeValueAsString(root))
  }
}
