package pipebench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

import graft.ops.Active911
import graft.sinks.CloudTakSink
import graft.sources.{Active911Config, Active911Connector, Active911DataSource}
import graft.streaming.Lookback

/** One prepared op: its replies are served and its outcome is known.
  * `expected` differs from `envelopes` only where an alert was already
  * delivered by an earlier op (redelivery).
  */
final case class Op(index: Long, toMs: Long, envelopes: Seq[Gen.Envelope],
                    expected: Seq[Gen.Envelope]) {
  def alerts: Int = envelopes.map(_.alerts).sum
}

/** The timed part of an op: its wall time and what it delivered. */
final case class Ran(seconds: Double, delivered: Delivered,
                     progress: Option[StreamingQueryProgress] = None)

/** A fault the fault probe puts into one envelope of an op. */
sealed trait Fault
case object GatewayHtml extends Fault
case object TruncatedBase64 extends Fault

/** One way of driving the pipeline. An op is one scheduled run (or one
  * micro-batch for redelivery); `layers` are the op's pipeline prefixes,
  * each run to the noop sink, in order, so consecutive differences are the
  * layers' self times. What the last prefix leaves of the op's wall time
  * is split by `marks`.
  */
trait Workload {
  def name: String
  def start(spark: SparkSession): Unit = ()
  def stop(): Unit = ()
  def prepare(index: Long, fault: Option[Fault] = None): Op
  def run(spark: SparkSession, op: Op, spans: Spans): Ran
  /** The op's envelopes as a batch DataFrame of `(agency_id, raw)`. */
  def envelopes(spark: SparkSession, op: Op): DataFrame
  def layers(spark: SparkSession, op: Op): Seq[(String, () => Unit)]
  /** The layers after the last prefix, each with the time into the op at
    * which it ends; the last ends with the op.
    */
  def marks(ran: Ran): Seq[(String, Double)] = Seq("errors" -> ran.seconds)

  /** The decode prefixes every workload shares. */
  protected def decodeLayers(env: () => DataFrame): Seq[(String, () => Unit)] = Seq(
    "source" -> (() => Workload.noop(env())),
    // keeps only the pass-through column: the CSV field parse is pruned,
    // the record split is not
    "split" -> (() => Workload.noop(Active911.alertsFromEnvelopes(env()).select("agency_id"))),
    "parse" -> (() => Workload.noop(Active911.alertsFromEnvelopes(env()))),
    "fix" -> (() => Workload.noop(Active911.fixCoordinates(Active911.alertsFromEnvelopes(env())))),
    "features" -> (() => Workload.noop(Active911.pipeline(env()))))

  protected def withFault(envs: Seq[Gen.Envelope], index: Long,
                          fault: Option[Fault], seed: Long): Seq[Gen.Envelope] =
    fault.fold(envs) { f =>
      val victims = envs.filter(e => e.error.isEmpty && e.features.nonEmpty)
      val victim = victims(new scala.util.Random(Gen.mix(seed, index, -11))
        .nextInt(victims.size)).agency
      envs.map {
        case e @ Gen.Envelope(`victim`, Gen.Body(raw), _, _, _, _) =>
          val body = f match {
            case GatewayHtml => Gen.GatewayHtml
            case TruncatedBase64 => Gen.truncatedBase64(raw)
          }
          e.copy(reply = Gen.Body(body), features = Map.empty, error = Some(""))
        case e => e
      }
    }
}

object Workload {
  def apply(name: String, seed: Long, cores: Int, work: Path): Workload = name match {
    case "fleet" => new Fleet(seed)
    case "busy" => new Busy(seed, cores)
    case "redelivery" => new Redelivery(seed, work)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** `n` alert rates spread evenly over ±25% of `mean`, dealt to agencies
    * 1..n in an order fixed by the seed: the total is the same for every
    * seed, only which agency is busiest changes.
    */
  def ladder(seed: Long, n: Int, mean: Int): Int => Int = {
    val rates = (0 until n).map(i =>
      math.round(mean * (0.75 + 0.5 * (if (n == 1) 0.5 else i.toDouble / (n - 1)))).toInt)
    val dealt = new scala.util.Random(Gen.mix(seed, n, -3)).shuffle(rates).toVector
    agency => dealt(agency - 1)
  }

  def timed[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val out = body
    ((System.nanoTime() - t0) / 1e9, out)
  }

  /** The message of a failed op, for the check. */
  def describe(t: Throwable): String =
    s"${t.getClass.getSimpleName}: ${Option(t.getMessage).getOrElse("").take(300)}"
}

/** Many small agencies: DSv2 source (one partition per agency, fetched on
  * executors) → `pipeline` → `CloudTakDataSource` (posts from executors),
  * then the error channel (fetch errors + API-error envelopes) collected
  * on the driver.
  */
final class Fleet(seed: Long) extends Workload {
  val name = "fleet"
  val shape: Gen.Shape = Gen.Shape(
    agencies = Fleet.Agencies, alertsPerWindow = Workload.ladder(seed, Fleet.Agencies, Fleet.Alerts),
    logLines = (8, 16), callsigns = 6, apiErrors = 1, throws = 1)

  Active911DataSource.transport = new ApiTransport
  graft.sinks.CloudTakDataSource.post = CloudTak.post

  def prepare(index: Long, fault: Option[Fault]): Op = {
    val toMs = Gen.T0 + (index % 400 + 1) * Gen.WindowMs
    val envs = withFault(Gen.fetch(seed, index, toMs, shape), index, fault, seed)
    Api.serve(envs, toMs)
    Op(index, toMs, envs, envs)
  }

  private def scan(spark: SparkSession, op: Op): DataFrame =
    spark.read.format("graft.sources.Active911DataSource")
      .option("username", "bench").option("password", "bench")
      .option("nowMs", op.toMs.toString).load()

  def envelopes(spark: SparkSession, op: Op): DataFrame =
    scan(spark, op).filter(col("fetch_error").isNull).drop("fetch_error")

  private def post(features: DataFrame): Unit =
    features.select(to_json(struct(features.columns.map(col).toSeq: _*)).as("feature"))
      .write.format("graft.sinks.CloudTakDataSource").mode("append").save()

  private def errors(spark: SparkSession, op: Op): Array[(Int, String, Boolean)] = {
    val s = scan(spark, op)
    s.filter(col("fetch_error").isNotNull)
      .select(col("agency_id"), col("fetch_error").as("error"), lit(true).as("fetch"))
      .unionByName(Active911.envelopeErrors(s.drop("fetch_error"))
        .select(col("agency_id"), col("error"), lit(false).as("fetch")))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getBoolean(2)))
  }

  def run(spark: SparkSession, op: Op, spans: Spans): Ran = {
    val t0 = System.nanoTime()
    val (errs, thrown) =
      try {
        spans("sink.write")(post(Active911.pipeline(envelopes(spark, op))))
        (spans("errors.collect")(errors(spark, op)).toSeq, None)
      } catch { case e: Exception => (Nil, Some(Workload.describe(e))) }
    val seconds = (System.nanoTime() - t0) / 1e9
    Ran(seconds, Delivered.fromPosts(CloudTak.drain(),
      errs.map(e => Some(e._1) -> e._2), errs.count(_._3), thrown))
  }

  def layers(spark: SparkSession, op: Op): Seq[(String, () => Unit)] =
    decodeLayers(() => envelopes(spark, op)) :+
      ("sink" -> (() => post(Active911.pipeline(envelopes(spark, op)))))
}

object Fleet {
  val Agencies = 32
  val Alerts = 4
}

/** One large window per core on the reference-shaped driver path:
  * `Active911Connector.read` (driver-side fetch) → `pipeline` +
  * `envelopeErrors` → `CloudTakSink.submit` (`toLocalIterator`).
  */
final class Busy(seed: Long, cores: Int) extends Workload {
  val name = "busy"
  val shape: Gen.Shape = Gen.Shape(
    agencies = cores, alertsPerWindow = Workload.ladder(seed, cores, Busy.Alerts),
    logLines = (0, 2), callsigns = 4, apiErrors = 0, throws = 0)

  private val connector = new Active911Connector(new ApiTransport)
  private val config = Active911Config("bench", "bench")

  def prepare(index: Long, fault: Option[Fault]): Op = {
    val toMs = Gen.T0 + (index % 400 + 1) * Gen.WindowMs
    val envs = withFault(Gen.fetch(seed, index, toMs, shape), index, fault, seed)
    Api.serve(envs, toMs)
    Op(index, toMs, envs, envs)
  }

  def envelopes(spark: SparkSession, op: Op): DataFrame = connector.read(spark, config, op.toMs)._1

  def run(spark: SparkSession, op: Op, spans: Spans): Ran = {
    val t0 = System.nanoTime()
    val sink = new CloudTakSink(CloudTak.post)
    var errs: Seq[(Option[Int], String)] = Nil
    var fetchErrors = 0
    val thrown =
      try {
        val (env, fetchErrs) = spans("source.read")(connector.read(spark, config, op.toMs))
        val apiErrs = spans("errors.collect")(Active911.envelopeErrors(env).collect())
          .map(r => Some(r.getAs[Int]("agency_id")) -> r.getAs[String]("error"))
        errs = fetchErrs.map(None -> _) ++ apiErrs
        fetchErrors = fetchErrs.size
        try { spans("sink.submit")(sink.submit(Active911.pipeline(env), errs.map(_._2))); None }
        catch {
          // submit-then-fail: with errors accumulated, the sink throws by design
          case _: RuntimeException if errs.nonEmpty => None
        }
      } catch { case e: Exception => Some(Workload.describe(e)) }
    val seconds = (System.nanoTime() - t0) / 1e9
    Ran(seconds, Delivered.fromPosts(CloudTak.drain(), errs, fetchErrors, thrown))
  }

  def layers(spark: SparkSession, op: Op): Seq[(String, () => Unit)] =
    decodeLayers(() => envelopes(spark, op)) :+ ("sink" -> (() =>
      new CloudTakSink(CloudTak.post).submit(Active911.pipeline(envelopes(spark, op)), Nil)))
}

object Busy {
  /** Mean alerts per agency window; see NOTES.md for the crash ceiling it
    * stays under.
    */
  val Alerts = 300
}

/** Structured Streaming over a file source (`maxFilesPerTrigger=1`):
  * every 10 simulated minutes a full 6-hour window of all agencies lands as
  * one file, and `pipeline` → `Lookback.dedupById` →
  * `CloudTakSink.foreachBatchSink` must post only the alerts not posted
  * before. Closed loop: the next fetch lands after the previous batch's
  * progress event. One op is one fetch, from landing to progress event.
  */
final class Redelivery(seed: Long, work: Path) extends Workload {
  val name = "redelivery"
  val shape: Gen.Shape = Gen.Shape(
    agencies = Redelivery.Agencies,
    alertsPerWindow = Workload.ladder(seed, Redelivery.Agencies, Redelivery.Alerts),
    logLines = (2, 6), callsigns = 6, apiErrors = 0, throws = 0)

  private val schema = StructType(Seq(
    StructField("agency_id", IntegerType), StructField("raw", StringType)))
  private val json = new ObjectMapper()
  private val progress = new LinkedBlockingQueue[(Long, StreamingQueryProgress)]
  private val listener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.put(System.nanoTime() -> e.progress)
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
  private var dir: Path = _
  private var spark: SparkSession = _
  private var query: StreamingQuery = _
  private var delivered = Set.empty[String]

  private def staged(op: Op): Path = dir.resolve("stage").resolve(f"fetch-${op.index}%06d.json")

  override def start(session: SparkSession): Unit = {
    spark = session
    dir = Files.createTempDirectory(work, "redelivery-")
    Files.createDirectories(dir.resolve("in"))
    Files.createDirectories(dir.resolve("stage"))
    delivered = Set.empty
    progress.clear()
    spark.streams.addListener(listener)
    val features = Active911.pipeline(spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).json(dir.resolve("in").toString))
    val deduped = Lookback.dedupById(
      features.withColumn("ts", to_timestamp(col("properties.start"))), "id", "ts")
    val post = new CloudTakSink(CloudTak.post).foreachBatchSink
    val sink: (DataFrame, Long) => Unit = (df, id) => post(df.drop("ts"), id)
    query = deduped.writeStream.queryName("redelivery")
      .option("checkpointLocation", dir.resolve("checkpoint").toString)
      .foreachBatch(sink).start()
  }

  override def stop(): Unit = {
    if (query != null) query.stop()
    if (spark != null) spark.streams.removeListener(listener)
    query = null
    if (dir != null) Redelivery.deleteTree(dir)
  }

  def prepare(index: Long, fault: Option[Fault]): Op = {
    val toMs = Gen.T0 + Gen.WindowMs + index * Redelivery.StepMs
    val envs = withFault(Gen.fetch(seed, index, toMs, shape), index, fault, seed)
    val expected = envs.map(e => e.copy(features = e.features -- delivered))
    delivered ++= expected.flatMap(_.features.keys)
    val lines = envs.map { e =>
      val raw = e.reply match {
        case Gen.Body(r) => r
        case Gen.Fail(m) => throw new IllegalStateException(m)
      }
      val node = json.createObjectNode().put("agency_id", e.agency).put("raw", raw)
      json.writeValueAsString(node)
    }
    val op = Op(index, toMs, envs, expected)
    Files.write(staged(op), lines.mkString("", "\n", "\n").getBytes(UTF_8))
    op
  }

  def envelopes(spark: SparkSession, op: Op): DataFrame =
    spark.read.schema(schema).json(staged(op).toString)

  def run(spark: SparkSession, op: Op, spans: Spans): Ran = {
    val t0 = System.nanoTime()
    val landed = dir.resolve("in").resolve(staged(op).getFileName)
    spans("land")(Files.move(staged(op), landed, StandardCopyOption.ATOMIC_MOVE))
    val (t1, p, thrown) = spans("await.progress") {
      try { val (t, p) = awaitBatch(); (t, Some(p), None) }
      catch { case e: Exception => (System.nanoTime(), None, Some(Workload.describe(e))) }
    }
    Ran((t1 - t0) / 1e9, Delivered.fromPosts(CloudTak.drain(), Nil, 0, thrown), p)
  }

  /** The next progress event of a batch that read input; no-data batches
    * (state eviction after the watermark moves) are skipped.
    */
  private def awaitBatch(): (Long, StreamingQueryProgress) = {
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(120)
    while (System.nanoTime() < deadline) {
      val e = progress.poll(50, TimeUnit.MILLISECONDS)
      if (e != null && e._2.numInputRows > 0) return e
      if (e == null && !query.isActive)
        throw query.exception.getOrElse(new IllegalStateException("stream stopped"))
    }
    throw new IllegalStateException("no progress event within 120 s")
  }

  def layers(spark: SparkSession, op: Op): Seq[(String, () => Unit)] =
    decodeLayers(() => envelopes(spark, op))

  /** `sink`: the batch's execution beyond the decode layers (dedup against
    * the state store and the foreachBatch post); `stream`: the trigger
    * wait, offset log, state commit and progress report around it.
    */
  override def marks(ran: Ran): Seq[(String, Double)] = {
    val addBatch = ran.progress.flatMap(p => Option(p.durationMs.get("addBatch")))
      .map(_.longValue / 1e3).getOrElse(0.0)
    Seq("sink" -> addBatch, "stream" -> ran.seconds)
  }
}

object Redelivery {
  val Agencies = 16
  val Alerts = 40
  val StepMs: Long = 10L * 60 * 1000

  def deleteTree(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.forEach(deleteTree) finally s.close()
    }
    Files.deleteIfExists(p)
  }
}
