package pipebench

import java.time.{Instant, ZoneId}
import java.time.format.DateTimeFormatter
import java.util.Base64

/** Deterministic, seeded Active911 export generator.
  *
  * It writes what the Active911 API would return for one agency and one
  * 6-hour window: a 24-column alert CSV, base64-encoded inside a JSONP
  * envelope (the `Fixtures.row`/`csv`/`envelope` conventions), or an API
  * error body, or a transport failure. Beside every envelope it states the
  * outcome the pipeline must produce: the feature ids it keeps, the
  * distinct-callsign link count of each, and the error it reports.
  *
  * Alerts sit on a per-agency timeline, so an alert keeps its id and content
  * in every window that contains it; that is what makes redelivery real.
  * The same `(seed, agency, alert index)` always yields the same alert.
  */
object Gen {

  /** The export's columns, in header order. */
  val Columns: Seq[String] = Seq(
    "id", "received", "sent", "priority", "description", "details",
    "external_data", "place", "address", "unit", "cross_street", "city",
    "state", "lat", "lon", "coordinate_source", "source", "units",
    "cad_code", "map_code", "map_id", "alert_key", "messages", "responses")

  val ResponsePrefix = "Got a response of "

  val WindowMs: Long = 6L * 3600 * 1000

  /** 2025-06-02T00:00Z: every timeline a workload walks stays clear of DST
    * changes, so a wall clock written in a mapped zone reads back to the
    * same instant.
    */
  val T0: Long = 1748822400000L

  /** tz abbreviations the pipeline maps to a zone; the wall clock is
    * written in that zone.
    */
  val MappedZones: Seq[(String, String)] = Seq(
    "EDT" -> "America/New_York", "EST" -> "America/New_York",
    "CDT" -> "America/Chicago", "CST" -> "America/Chicago",
    "MDT" -> "America/Denver", "MST" -> "America/Denver",
    "PDT" -> "America/Los_Angeles", "PST" -> "America/Los_Angeles",
    "AKDT" -> "America/Anchorage", "AKST" -> "America/Anchorage",
    "HDT" -> "Pacific/Honolulu", "HST" -> "Pacific/Honolulu",
    "ADT" -> "America/Halifax", "AST" -> "America/Halifax",
    "NDT" -> "America/St_Johns", "NST" -> "America/St_Johns",
    "UTC" -> "UTC", "GMT" -> "Etc/GMT")

  /** Abbreviations the pipeline does not map: it reads the wall clock as
    * UTC, so these are written as the UTC wall clock.
    */
  val UnmappedAbbrevs: Seq[String] = Seq("CEST", "BST", "IST", "AEST")

  private val Wall = DateTimeFormatter.ofPattern("MM/dd/yyyy HH:mm:ss")

  private val Descriptions = Seq("Structure Fire", "MVA", "Medical",
    "Fire, Brush", "Alarm \"zone 3\"", "Gas Leak", "Lift Assist", "Water Rescue")
  private val Details = Seq("Two story residential", "Highway 36 at exit 12",
    "Caller reports smoke, no flames", "Panel says \"trouble\"",
    "Second caller:\nsame location", "Patient conscious, breathing")
  private val Places = Seq("Station 4", "Corner of 5th and Main",
    "Mile marker 12, eastbound", "")
  private val Names = Seq("Nick Ingalls", "Jane Roe", "Kai Mahoe", "Ana Diaz",
    "Sam Okafor", "Lee Chen", "Maria Rossi", "Tom Berg", "Ivy Park",
    "Omar Haddad", "Ruth Klein", "Dev Patel")
  private val Replies = Seq("Respond", "Unavailable", "On Scene", "Cancel")

  /** How one workload's envelopes are shaped. `alertsPerWindow` is each
    * agency's alert rate per 6 hours; workloads deal a fixed ladder of
    * rates to agencies in a seeded order, so every seed carries the same
    * total volume.
    */
  final case class Shape(
      agencies: Int,
      alertsPerWindow: Int => Int,
      logLines: (Int, Int),
      callsigns: Int,
      apiErrors: Int,
      throws: Int)

  sealed trait Reply
  final case class Body(raw: String) extends Reply
  final case class Fail(message: String) extends Reply

  /** One agency's fetch and what the pipeline must make of it.
    *
    * @param features kept feature id → distinct-callsign link count
    * @param error    the error-channel message; `Some("")` means any
    *                 message for this agency will do
    */
  final case class Envelope(
      agency: Int,
      reply: Reply,
      alerts: Int,
      logLines: Int,
      features: Map[String, Int],
      error: Option[String])

  def loginBody(agencies: Seq[Int]): String =
    agencies.map(a => s"""{"id":$a}""").mkString(
      """({"result":"success","message":{"jwt":"bench-token","agencies":[""",
      ",", "]}})")

  def featureId(alertId: Long): String = s"active911-$alertId"

  /** The agency an alert id (and so a feature id) belongs to. */
  def agencyOf(featureId: String): Int =
    (featureId.stripPrefix("active911-").toLong / AlertIdsPerAgency).toInt

  private val AlertIdsPerAgency = 100000000L

  /** splitmix64 finaliser over the mixed inputs: a stable, well-spread
    * seed for one `(seed, a, b)` triple.
    */
  def mix(seed: Long, a: Long, b: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + a * 0xBF58476D1CE4E5B9L + b * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def cell(s: String): String =
    if (s.contains(",") || s.contains("\"") || s.contains("\n"))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s

  def row(vals: Map[String, String]): String =
    Columns.map(c => cell(vals.getOrElse(c, ""))).mkString(",")

  def csv(rows: Seq[String]): String = (Columns.mkString(",") +: rows).mkString("\n")

  def envelope(csvText: String, callback: String): String = {
    val b64 = Base64.getEncoder.encodeToString(csvText.getBytes("UTF-8"))
    s"""$callback({"result":"success","message":"$b64"})"""
  }

  def apiError(agency: Int): String =
    s"""jQuery1736200000000({"result":"error","message":"Agency $agency not available"})"""

  /** A proxy's error page where the JSONP body should be. */
  val GatewayHtml: String =
    "<html><head><title>502 Bad Gateway</title></head><body>502 Bad Gateway</body></html>"

  /** A success envelope whose base64 payload was cut short, leaving a
    * last unit of a single character that no decoder can complete.
    */
  def truncatedBase64(raw: String): String = {
    val at = raw.lastIndexOf("\"})")
    val start = raw.lastIndexOf('"', at - 1) + 1
    val b64 = raw.substring(start, at).stripSuffix("=").stripSuffix("=")
    raw.substring(0, start) + b64.substring(0, b64.length - (b64.length - 1) % 4) +
      raw.substring(at)
  }

  private def wallClock(tMs: Long, zone: String): String =
    Wall.format(Instant.ofEpochMilli(tMs).atZone(ZoneId.of(zone)))

  /** One generated alert: its CSV row and the outcome it must produce. */
  final case class Alert(id: Long, row: String, kept: Boolean, links: Int, logLines: Int)

  def alert(seed: Long, agency: Int, index: Long, tMs: Long, shape: Shape): Alert = {
    val rng = new scala.util.Random(mix(seed, agency, index))
    def pick[T](xs: Seq[T]): T = xs(rng.nextInt(xs.size))
    val id = agency * AlertIdsPerAgency + index

    val abbrevs = MappedZones.size + UnmappedAbbrevs.size
    val z = rng.nextInt(abbrevs)
    def stamp(t: Long): String =
      if (z < MappedZones.size) {
        val (abbr, zone) = MappedZones(z)
        wallClock(t, zone) + " " + abbr
      } else wallClock(t, "UTC") + " " + UnmappedAbbrevs(z - MappedZones.size)

    def coord(lo: Double, hi: Double) =
      "%.4f".formatLocal(java.util.Locale.ROOT, lo + rng.nextDouble() * (hi - lo))
    val lat = coord(25.0, 48.9)
    val lon = coord(-124.0, -67.0)
    val c = rng.nextInt(100)
    val (latCell, lonCell, place, kept) =
      if (c < 80) (lat, lon, pick(Places), true)
      else if (c < 87) ("0", if (c % 2 == 0) "0" else lon, s"$lat,$lon", true)
      else if (c < 92) ("", "", s"$lat, $lon, ${pick(Places)}", true)
      else if (c < 97) ("0", if (c % 2 == 0) "0" else lon, pick(Places.init), false)
      else ("", "", "", false)

    val pool = Names.take(shape.callsigns)
    val (lo, hi) = shape.logLines
    val nLines = lo + rng.nextInt(hi - lo + 1)
    val lines = Seq.fill(nLines) {
      val r = rng.nextInt(10)
      if (r < 8) {
        val name = pick(pool)
        val at = tMs + (1 + rng.nextInt(600)) * 1000L
        val who = s"$name(${100000 + pool.indexOf(name)})"
        (Some(name), s"$ResponsePrefix${pick(Replies)} to $who at ${stamp(at)}.")
      } else if (r < 9) (Some("Unknown"), ResponsePrefix + "gibberish that will not match")
      else (None, "Paged: E4 L2")
    }
    val prefixed = lines.count(_._1.isDefined)

    val row = Gen.row(Map(
      "id" -> id.toString,
      "received" -> stamp(tMs - 1000L * rng.nextInt(60)),
      "sent" -> stamp(tMs),
      "priority" -> rng.nextInt(5).toString,
      "description" -> pick(Descriptions),
      "details" -> pick(Details),
      "place" -> place,
      "address" -> s"${100 + rng.nextInt(9800)} Main St",
      "city" -> "Boulder", "state" -> "CO",
      "lat" -> latCell, "lon" -> lonCell,
      "source" -> pick(Seq("CAD", "Dispatch", "Panel")),
      "units" -> pick(Seq("E4 L2", "M1", "A7", "B2 E9")),
      "alert_key" -> s"k$id",
      "responses" -> lines.map(_._2).mkString("\n")))
    Alert(id, row, kept, lines.flatMap(_._1).distinct.size, prefixed)
  }

  /** Alert indices and times of one agency inside `(fromMs, toMs]`, at
    * `perWindow` alerts per 6 hours, each jittered inside its slot and
    * truncated to the second.
    */
  def timeline(seed: Long, agency: Int, perWindow: Int, fromMs: Long,
               toMs: Long): Seq[(Long, Long)] = {
    if (perWindow <= 0) return Nil
    val gap = WindowMs / perWindow
    val first = math.max(0L, (fromMs - T0) / gap - 1)
    val last = (toMs - T0) / gap + 1
    (first to last).map { j =>
      val u = java.lang.Long.remainderUnsigned(mix(seed, agency, -1 - j), gap)
      j -> (T0 + j * gap + u) / 1000 * 1000
    }.filter { case (_, t) => t > fromMs && t <= toMs }
  }

  /** The fetch of every agency for the window ending at `toMs`. Faults
    * (API errors, transport throws) fall on `shape.apiErrors` and
    * `shape.throws` agencies chosen by `(seed, op)`.
    */
  def fetch(seed: Long, op: Long, toMs: Long, shape: Shape): Seq[Envelope] = {
    val rng = new scala.util.Random(mix(seed, op, -7))
    val agencies = 1 to shape.agencies
    val order = rng.shuffle(agencies.toVector)
    val apiErr = order.take(shape.apiErrors).toSet
    val thrown = order.slice(shape.apiErrors, shape.apiErrors + shape.throws).toSet
    agencies.map { a =>
      if (apiErr(a)) Envelope(a, Body(apiError(a)), 0, 0, Map.empty,
        Some(s"Agency $a not available"))
      else if (thrown(a)) Envelope(a, Fail(s"http 503 for agency $a"), 0, 0,
        Map.empty, Some(s"http 503 for agency $a"))
      else agencyEnvelope(seed, a, toMs, shape)
    }
  }

  /** One agency's success envelope for the window ending at `toMs`. */
  def agencyEnvelope(seed: Long, agency: Int, toMs: Long, shape: Shape): Envelope = {
    val alerts = timeline(seed, agency, shape.alertsPerWindow(agency),
      toMs - WindowMs, toMs).map { case (j, t) => alert(seed, agency, j, t, shape) }
    val raw = envelope(csv(alerts.map(_.row)), s"jQuery17362${agency}0000")
    Envelope(agency, Body(raw), alerts.size, alerts.map(_.logLines).sum,
      alerts.filter(_.kept).map(x => featureId(x.id) -> x.links).toMap, None)
  }
}
