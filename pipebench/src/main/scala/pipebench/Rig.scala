package pipebench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.sources.Active911Transport

/** The Active911 API the pipeline talks to: it serves the generated
  * replies of the op in flight. Executors run in the benchmark's JVM (local
  * mode), so they reach these replies through this object, and the
  * transport itself carries no state.
  */
object Api {
  @volatile private var replies: Map[Int, Gen.Reply] = Map.empty
  @volatile private var loginBody: String = Gen.loginBody(Nil)
  @volatile private var windowEnd: Long = 0L

  def serve(envelopes: Seq[Gen.Envelope], toMs: Long): Unit = {
    replies = envelopes.map(e => e.agency -> e.reply).toMap
    loginBody = Gen.loginBody(envelopes.map(_.agency))
    windowEnd = toMs
  }

  def login(): String = loginBody

  def fetch(token: String, agency: Int, fromMs: Long, toMs: Long): String = {
    require(token == "bench-token" && toMs == windowEnd &&
      toMs - fromMs == Gen.WindowMs, s"unexpected fetch $token $fromMs..$toMs")
    replies(agency) match {
      case Gen.Body(raw) => raw
      case Gen.Fail(message) => throw new RuntimeException(message)
    }
  }
}

class ApiTransport extends Active911Transport {
  def login(username: String, password: String): String = Api.login()
  def fetchAlerts(token: String, agencyId: Int, fromMs: Long, toMs: Long): String =
    Api.fetch(token, agencyId, fromMs, toMs)
}

/** The CloudTAK endpoint: keeps every posted body until the op is checked. */
object CloudTak {
  private val bodies = new ConcurrentLinkedQueue[String]

  val post: String => Unit = body => bodies.add(body)

  def drain(): Vector[String] = {
    val out = Vector.newBuilder[String]
    var b = bodies.poll()
    while (b != null) { out += b; b = bodies.poll() }
    out.result()
  }
}

/** What one op delivered: posted features (id → link count, in posting
  * order), error-channel rows (agency when known, message), how many of
  * those rows are transport failures, and whether the op threw.
  */
final case class Delivered(
    features: Seq[(String, Int)],
    errors: Seq[(Option[Int], String)],
    fetchErrors: Int,
    posts: Int,
    bytes: Long,
    thrown: Option[String])

object Delivered {
  private val json = new ObjectMapper()

  def fromPosts(bodies: Seq[String], errors: Seq[(Option[Int], String)],
                fetchErrors: Int, thrown: Option[String]): Delivered = {
    val features = bodies.flatMap { body =>
      json.readTree(body).get("features").elements().asScala.map { f =>
        val links = f.path("properties").path("links")
        f.get("id").asText() -> (if (links.isArray) links.size else 0)
      }
    }
    Delivered(features, errors, fetchErrors, bodies.size,
      bodies.map(_.length.toLong).sum, thrown)
  }
}

/** The output check of one op against the generator's expectations.
  *
  * @param lost     envelopes that produced neither a feature nor an error
  * @param problems every other mismatch, one line each
  */
final case class Verdict(lost: Int, problems: Seq[String]) {
  def ok: Boolean = lost == 0 && problems.isEmpty
}

object Check {
  def apply(expected: Seq[Gen.Envelope], got: Delivered): Verdict = {
    val byId = got.features.groupBy(_._1)
    val problems = Seq.newBuilder[String]
    got.thrown.foreach(t => problems += s"op threw: $t")
    byId.collect { case (id, xs) if xs.size > 1 => problems += s"$id posted ${xs.size} times" }
    val expectedIds = expected.flatMap(_.features.keys).toSet
    got.features.map(_._1).filterNot(expectedIds).distinct
      .foreach(id => problems += s"unexpected feature $id")
    def errorsOf(e: Gen.Envelope) = got.errors.filter {
      case (agency, message) => agency.contains(e.agency) ||
        e.error.exists(m => m.nonEmpty && m == message)
    }
    val explained = expected.filter(_.error.isDefined).flatMap(errorsOf).toSet
    got.errors.filterNot(explained)
      .foreach(err => problems += s"unexpected error $err")

    var lost = 0
    expected.foreach { e =>
      val posted = e.features.keys.filter(byId.contains)
      val errs = errorsOf(e)
      if ((e.features.nonEmpty || e.error.isDefined) && posted.isEmpty && errs.isEmpty)
        lost += 1
      else {
        e.features.foreach { case (id, links) =>
          byId.get(id) match {
            case None => problems += s"agency ${e.agency}: missing $id"
            case Some(xs) if xs.head._2 != links =>
              problems += s"$id: ${xs.head._2} links, expected $links"
            case _ =>
          }
        }
        e.error.foreach { m =>
          if (!errs.exists(x => m.isEmpty || x._2 == m))
            problems += s"agency ${e.agency}: missing error '$m'"
        }
      }
    }
    Verdict(lost, problems.result())
  }
}
