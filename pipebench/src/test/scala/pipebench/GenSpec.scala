package pipebench

import java.util.Base64

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.Graft
import graft.ops.Active911

/** Pins the envelope generator and the output check the benchmark relies
  * on: same seed, same bytes; every branch of the pipeline is covered; and
  * the stated outcome is what the pipeline produces.
  */
class GenSpec extends AnyFunSuite {

  private val shape = Gen.Shape(agencies = 6, alertsPerWindow = Workload.ladder(7, 6, 40),
    logLines = (0, 12), callsigns = 4, apiErrors = 1, throws = 1)
  private val toMs = Gen.T0 + 3 * Gen.WindowMs

  private def csvOf(e: Gen.Envelope): String = e.reply match {
    case Gen.Body(raw) =>
      val b64 = raw.substring(raw.indexOf("\"message\":\"") + 11, raw.lastIndexOf("\"})"))
      new String(Base64.getDecoder.decode(b64), "UTF-8")
    case Gen.Fail(m) => fail(m)
  }

  test("the same seed yields the same envelopes; another seed does not") {
    assert(Gen.fetch(7, 3, toMs, shape) == Gen.fetch(7, 3, toMs, shape))
    assert(Gen.fetch(7, 3, toMs, shape).map(_.reply) != Gen.fetch(8, 3, toMs, shape).map(_.reply))
  }

  test("the export header is the pipeline's alert schema") {
    assert(Gen.Columns == Active911.AlertColumns)
  }

  test("faults: one API error and one transport throw, each with its message") {
    val envs = Gen.fetch(7, 3, toMs, shape)
    val api = envs.filter(_.reply match {
      case Gen.Body(raw) => raw.contains("\"result\":\"error\"")
      case _ => false
    })
    val thrown = envs.filter(_.reply.isInstanceOf[Gen.Fail])
    assert(api.size == 1 && api.head.error.contains(s"Agency ${api.head.agency} not available"))
    assert(thrown.size == 1 && thrown.head.error.contains(s"http 503 for agency ${thrown.head.agency}"))
    assert((api ++ thrown).forall(_.features.isEmpty))
  }

  test("alerts cover the tz matrix, coordinate fallbacks and responder-log cases") {
    val csv = Gen.fetch(7, 3, toMs, shape).filter(_.error.isEmpty).map(csvOf).mkString("\n")
    Gen.MappedZones.map(_._1).take(6).foreach(a => assert(csv.contains(s" $a"), a))
    Gen.UnmappedAbbrevs.foreach(a => assert(csv.contains(s" $a"), a))
    assert(csv.contains(",CO,0,0,") && csv.contains(",CO,0,-"), "zero coordinates")
    assert(csv.contains(",CO,,,,"), "empty coordinates")
    assert(csv.contains("gibberish that will not match"), "unmatched responder line")
    assert(csv.contains("Paged: E4 L2"), "non-response log line")
    val envs = Gen.fetch(7, 3, toMs, shape)
    assert(envs.map(_.alerts).sum > envs.map(_.features.size).sum, "some alerts are dropped")
    assert(envs.flatMap(_.features.values).sum < envs.map(_.logLines).sum,
      "repeated callsigns collapse into one link")
  }

  test("an alert keeps its id and content in every window that holds it") {
    val a = Gen.agencyEnvelope(7, 2, toMs, shape)
    val b = Gen.agencyEnvelope(7, 2, toMs + 10 * 60 * 1000, shape)
    val shared = a.features.keySet.intersect(b.features.keySet)
    assert(shared.size > a.features.size / 2)
    shared.foreach(id => assert(a.features(id) == b.features(id)))
  }

  test("every seed carries the same total alert rate") {
    val totals = (1 to 5).map(s => (1 to 16).map(Workload.ladder(s, 16, 100)).sum)
    assert(totals.distinct.size == 1)
  }

  test("a truncated payload ends in a single-character base64 unit") {
    val e = Gen.agencyEnvelope(7, 1, toMs, shape)
    val raw = Gen.truncatedBase64(e.reply.asInstanceOf[Gen.Body].raw)
    val b64 = raw.substring(raw.indexOf("\"message\":\"") + 11, raw.lastIndexOf("\"})"))
    assert(b64.length % 4 == 1 && !b64.endsWith("="))
  }

  test("the check names missing, miscounted, lost and unexpected outputs") {
    val e1 = Gen.Envelope(1, Gen.Body(""), 2, 0, Map("active911-100000001" -> 2,
      "active911-100000002" -> 0), None)
    val e2 = Gen.Envelope(2, Gen.Fail("down"), 0, 0, Map.empty, Some("down"))
    val ok = Delivered(Seq("active911-100000001" -> 2, "active911-100000002" -> 0),
      Seq(Some(2) -> "down"), 1, 1, 10, None)
    assert(Check(Seq(e1, e2), ok).ok)
    val v = Check(Seq(e1, e2), ok.copy(features = Seq("active911-100000001" -> 1,
      "active911-900000001" -> 0), errors = Nil))
    assert(v.lost == 1)
    assert(v.problems.exists(_.contains("missing active911-100000002")))
    assert(v.problems.exists(_.contains("1 links, expected 2")))
    assert(v.problems.exists(_.contains("unexpected feature active911-900000001")))
    assert(Check(Seq(e1), ok).problems.exists(_.contains("unexpected error")))
  }

  test("the pipeline produces exactly the stated features, links and errors") {
    val spark = Graft.session("local[2]")
    try {
      import spark.implicits._
      val envs = Gen.fetch(7, 3, toMs, shape)
      val df = envs.collect { case Gen.Envelope(a, Gen.Body(raw), _, _, _, _) => (a, raw) }
        .toDF("agency_id", "raw")
      val features = Active911.pipeline(df)
        .select(col("id"), org.apache.spark.sql.functions.size(col("properties.links")))
        .collect().map(r => r.getString(0) -> r.getInt(1)).toSeq
      val errors = Active911.envelopeErrors(df).collect()
        .map(r => Some(r.getAs[Int]("agency_id")) -> r.getAs[String]("error")).toSeq
      val fetchErrors = envs.collect { case Gen.Envelope(a, Gen.Fail(m), _, _, _, _) => Some(a) -> m }
      val verdict = Check(envs, Delivered(features, errors ++ fetchErrors, fetchErrors.size,
        1, 0, None))
      assert(verdict.ok, verdict)
      assert(features.size == envs.map(_.features.size).sum)
    } finally spark.stop()
  }
}
