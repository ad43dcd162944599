package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference dataflow (dfpc-coe/etl-active911 `task.ts:98-243`)
  * re-expressed as composable, shuffle-free DataFrame transforms.
  *
  * Wire envelope (JSONP → JSON → base64 CSV) → per-row validate/clean →
  * responder-log explode/extract/dedup → GeoJSON Point Feature.
  *
  * Design notes (Spark-first, 100 TB stance):
  *  - Every step here is a narrow transformation over built-in
  *    expressions — the whole pipeline runs with ZERO shuffles; one input
  *    split (an agency's envelope batch) never leaves its executor.
  *  - The scalar expressions are codegen'd with subexpression
  *    elimination; the array higher-order functions (`transform`,
  *    `filter`, `aggregate`) are NOT: they evaluate their lambdas through
  *    the interpreter, and every reference to a subexpression inside a
  *    lambda is evaluated again. Work inside a lambda is bound once by
  *    routing it through a lambda variable (see [[responseLinks]]).
  *  - The responder dedup (reference `task.ts:187-209`, a JS `Map` with
  *    last-writer-wins values but first-insertion iteration order) is done
  *    with array higher-order functions *inside the row*, not a
  *    groupBy+window — the 1:N explode/re-group never needs an exchange
  *    because the N side is embedded in the row to begin with.
  *  - A window/groupBy formulation of the same dedup is exercised
  *    separately by the relational query suite (SURVEY.md §2.6 A1).
  */
object Active911 {

  /** The 24 CSV columns of the alert export, in schema order — all strings
    * on ingest (reference `task.ts:18-43`, TypeBox `OutputSchema`).
    */
  val AlertColumns: Seq[String] = Seq(
    "id", "received", "sent", "priority", "description", "details",
    "external_data", "place", "address", "unit", "cross_street", "city",
    "state", "lat", "lon", "coordinate_source", "source", "units",
    "cad_code", "map_code", "map_id", "alert_key", "messages", "responses")

  val alertSchema: StructType =
    StructType(AlertColumns.map(StructField(_, StringType, nullable = true)))

  /** JSONP envelope body: `{"result": "...", "message": "<base64 csv>"}`
    * (reference `task.ts:155-167`).
    */
  val envelopeSchema: StructType = StructType(Seq(
    StructField("result", StringType), StructField("message", StringType)))

  /** Abbrev → IANA zone lookup, verbatim from reference `task.ts:45-64`
    * including the deliberate quirks: DST pairs collapsed to one zone and
    * HDT → Pacific/Honolulu (Honolulu observes no DST) — replicated, not
    * fixed, to match reference output.
    */
  val TimezoneMappings: Map[String, String] = Map(
    "EDT" -> "America/New_York", "EST" -> "America/New_York",
    "CDT" -> "America/Chicago", "CST" -> "America/Chicago",
    "MDT" -> "America/Denver", "MST" -> "America/Denver",
    "PDT" -> "America/Los_Angeles", "PST" -> "America/Los_Angeles",
    "AKDT" -> "America/Anchorage", "AKST" -> "America/Anchorage",
    "HDT" -> "Pacific/Honolulu", "HST" -> "Pacific/Honolulu",
    "ADT" -> "America/Halifax", "AST" -> "America/Halifax",
    "NDT" -> "America/St_Johns", "NST" -> "America/St_Johns",
    "UTC" -> "UTC", "GMT" -> "Etc/GMT")

  /** Responder-log line pattern, 4 capture groups (response, name, id,
    * time) — reference `task.ts:121`.
    */
  val ResponseRegex = "Got a response of (.+?) to (.+?)\\((\\d+)\\) at (.+?)\\."

  private val NumberRegex = "^[+-]?(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?$"

  /** JS `Number(x)` semantics on a string column (reference `task.ts:172,
    * 176, 229`): whitespace-trimmed; empty → 0 (the JS `Number('') === 0`
    * quirk, SURVEY.md §7.5#4); `±Infinity` (exact case, sign allowed) →
    * ±∞; unsigned `0x`/`0b`/`0o` radix literals → their value (signs make
    * them NaN in JS, and do here); non-numeric → NaN (never null).
    * ANSI-safe: every cast runs behind a shape guard. Radix values are
    * exact to 2⁶³ (`conv`'s unsigned-long window) — beyond JS's own 2⁵³
    * double-exact range, so any divergence needs a >19-digit hex literal
    * in a coordinate field.
    */
  def jsNumber(c: Column): Column = {
    val t = trim(coalesce(c, lit("")))
    def radix(prefix: String, digits: String, base: Int) =
      t.rlike(s"^0[$prefix][$digits]+$$") ->
        conv(substring(t, 3, 1000000), base, 10).cast(DoubleType)
    val (isHex, hexVal) = radix("xX", "0-9a-fA-F", 16)
    val (isBin, binVal) = radix("bB", "01", 2)
    val (isOct, octVal) = radix("oO", "0-7", 8)
    when(t === "", lit(0.0))
      .when(t.rlike("^[+-]?Infinity$"),
        when(t.startsWith("-"), Double.NegativeInfinity)
          .otherwise(Double.PositiveInfinity))
      .when(isHex, hexVal).when(isBin, binVal).when(isOct, octVal)
      .when(t.rlike(NumberRegex), t.cast(DoubleType))
      .otherwise(lit(Double.NaN))
  }

  /** Strip a JSONP wrapper: drop everything up to the first '(' and a
    * trailing ')' (reference `task.ts:156-160`).
    */
  def unwrapJsonp(c: Column): Column =
    regexp_replace(regexp_replace(trim(c), "^.*?\\(", ""), "\\)$", "")

  /** `parseTime` (reference `task.ts:66-76`): split off the trailing
    * token; if it is a mapped tz abbreviation, parse the rest as
    * `MM/DD/YYYY HH:mm:ss` wall time in that zone; otherwise parse the
    * leading date portion as UTC (moment's non-strict parse ignores the
    * unknown trailing abbreviation). Unparseable → null (moment's
    * `Invalid date → toISOString() = null`). Returns TimestampType (UTC
    * instant); serialize with [[isoUtc]].
    *
    * DELIBERATE DIVERGENCE (pinned in PropertySpec): the reference's
    * fallback is moment NON-STRICT against 'MM/DD/YYYY HH:mm:ss z'
    * (task.ts:75), whose fuzzy matcher coerces inputs that merely
    * contain digit runs — an ISO string like `2024-03-01T12:00:00`
    * yields a garbage-but-valid instant (digits bind positionally to
    * MM, DD, YYYY…, overflow wraps). Replicating the fuzz would mean
    * re-implementing moment's token scanner to reproduce garbage; this
    * engine instead requires the `M/d/yyyy H:mm:ss` shape and returns
    * null for anything else. Identical on every shape the Active911
    * export emits; divergent only where the reference's answer is
    * wrong anyway.
    */
  def parseTime(c: Column): Column = {
    val t = trim(coalesce(c, lit("")))
    val parts = split(t, " ")
    val abbr = element_at(parts, -1)
    val zone = element_at(typedlit(TimezoneMappings), abbr)
    val datePart = array_join(slice(parts, lit(1), size(parts) - 1), " ")
    val mapped = to_utc_timestamp(
      try_to_timestamp(datePart, lit("M/d/yyyy H:mm:ss")), zone)
    val fallbackDate =
      regexp_extract(t, "^(\\d{1,2}/\\d{1,2}/\\d{4} \\d{1,2}:\\d{2}:\\d{2})", 1)
    val fallback = try_to_timestamp(fallbackDate, lit("M/d/yyyy H:mm:ss"))
    when(zone.isNotNull, mapped).otherwise(fallback)
  }

  /** ISO-8601 with milliseconds, as moment's `toISOString()` emits
    * (reference `task.ts:72,75`). Requires UTC session timezone.
    */
  def isoUtc(ts: Column): Column =
    date_format(ts, "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")

  /** Split one CSV text blob into records on newlines that are OUTSIDE
    * quoted fields (the `responses` column embeds newlines — reference
    * `task.ts:195-196`; SURVEY.md §7.5#3). Even-quote lookahead handles
    * standard `""` escaping. Scales: the blob is parsed where it lives;
    * for file-based ingest use `spark.read.option("multiLine",true).csv`.
    */
  def csvRecords(text: Column): Column =
    split(regexp_replace(text, "\r\n", "\n"),
      "\n(?=(?:[^\"]*\"[^\"]*\")*[^\"]*$)")

  /** Base64-decode an envelope's `message`; null when it is null or not
    * valid base64 (never throws, so one bad payload cannot fail the task).
    */
  private def payload(message: Column): Column = try_to_binary(message, lit("base64"))

  /** Decode wire envelopes into alert rows (reference `task.ts:155-170`):
    * JSONP unwrap → JSON parse → base64 decode → CSV parse against
    * [[alertSchema]] (header row dropped; header order is the export's
    * schema order). Rows with `result = 'error'` are excluded — route
    * them through [[envelopeErrors]] (the reference's error side channel,
    * `task.ts:162-165`), as are envelopes that are not JSON or whose
    * payload is not base64. Pass-through columns of `envelopes` (e.g.
    * `agency_id`) are preserved.
    */
  def alertsFromEnvelopes(envelopes: DataFrame, rawCol: String = "raw"): DataFrame = {
    val passThrough = envelopes.columns.filterNot(_ == rawCol).map(col).toSeq
    val env = envelopes
      .withColumn("_env", from_json(unwrapJsonp(col(rawCol)), envelopeSchema))
      .filter(coalesce(col("_env.result"), lit("")) =!= "error")
    val recs = env
      .select((passThrough :+
        posexplode(csvRecords(decode(payload(col("_env.message")), "UTF-8")))): _*)
      .filter(col("pos") >= 1 && trim(col("col")) =!= "") // drop header + trailing blank
      .withColumn("_alert", from_csv(col("col"), alertSchema,
        Map("quote" -> "\"", "escape" -> "\"")))
    recs.select((passThrough :+ col("_alert.*")): _*)
  }

  /** The error branch of the envelope decode (reference `task.ts:162-165`):
    * one row per failed agency envelope with its API error message, and
    * one per envelope that [[alertsFromEnvelopes]] cannot decode —
    * `malformed_json` when the body has no `message` (e.g. a gateway's
    * HTML page), `bad_payload` when the message is not base64. A null
    * body is no envelope (the DSv2 source's transport-failure rows carry
    * their error in `fetch_error`) and yields no row.
    */
  def envelopeErrors(envelopes: DataFrame, rawCol: String = "raw"): DataFrame = {
    val passThrough = envelopes.columns.filterNot(_ == rawCol).map(col).toSeq
    val message = col("_env.message")
    val apiError = coalesce(col("_env.result") === "error", lit(false))
    val undecodable = when(message.isNull, "malformed_json")
      .when(payload(message).isNull, "bad_payload")
    envelopes
      .withColumn("_env", from_json(unwrapJsonp(col(rawCol)), envelopeSchema))
      .filter(apiError || (col(rawCol).isNotNull && undecodable.isNotNull))
      .select((passThrough :+ when(apiError, message).otherwise(undecodable).as("error")): _*)
  }

  /** Coordinate fix/filter (reference `task.ts:172-185`): if either
    * coordinate is JS-zero (including the empty-string→0 quirk), fall
    * back to parsing `place` as "lat,lon[,...]" (note lat-first; slice to
    * 2); if that fails, DROP the row silently (`continue`, `task.ts:183` —
    * the silent counterpart of the loud error channel, SURVEY.md §2.12 E2).
    * Adds `f_lon`/`f_lat` double columns for the geometry.
    */
  def fixCoordinates(alerts: DataFrame): DataFrame = {
    val lonN = jsNumber(col("lon"))
    val latN = jsNumber(col("lat"))
    val needFix = lonN === 0.0 || latN === 0.0
    val placeNums = transform(
      split(trim(coalesce(col("place"), lit(""))), ","), p => jsNumber(p))
    val coords = slice(placeNums, 1, 2)
    val placeValid = size(coords) === 2 &&
      !isnan(element_at(coords, 1)) && !isnan(element_at(coords, 2))
    alerts
      .withColumn("f_lon", when(needFix, element_at(coords, 2)).otherwise(lonN))
      .withColumn("f_lat", when(needFix, element_at(coords, 1)).otherwise(latN))
      .filter(!needFix || placeValid)
  }

  /** Responder links from the embedded free-text log (reference
    * `task.ts:187-209`): split on newlines, keep `"Got a response of "`
    * lines, regex-extract (unmatched → 'Unknown'), then dedup per
    * callsign with JS-Map semantics — LAST occurrence wins the value,
    * FIRST occurrence fixes the output position. All in-row (no shuffle).
    */
  def responseLinks(responses: Column): Column = {
    // Lambdas run interpreted, without subexpression elimination, so each
    // line is built once — regex groups first, then the link from the
    // bound groups — and the dedup is one fold over the links. Reading
    // the links inside a per-callsign lambda would rebuild them per callsign.
    val lines = filter(split(coalesce(responses, lit("")), "\n"),
      l => l.startsWith("Got a response of "))
    val groups = transform(lines, l => struct(
      regexp_extract(l, ResponseRegex, 1).as("response"),
      regexp_extract(l, ResponseRegex, 2).as("name"),
      regexp_extract(l, ResponseRegex, 4).as("time")))
    val links = transform(groups, g => {
      // group 2 is `.+?`: non-empty exactly when the line matched
      val matched = g("name") =!= ""
      struct(
        lit("t-s").as("relation"),
        when(matched, trim(g("name"))).otherwise("Unknown").as("callsign"),
        when(matched, trim(g("response"))).otherwise("Unknown").as("remarks"),
        when(matched, isoUtc(parseTime(trim(g("time"))))).as("production_time"))
    })
    val none = array().cast(LinksType)
    aggregate(links, none, (acc, link) => {
      val key = link("callsign")
      when(exists(acc, a => a("callsign") === key),
        transform(acc, a => when(a("callsign") === key, link).otherwise(a)))
        .otherwise(concat(acc, array(link)))
    }, acc => coalesce(acc, none)) // the accumulator is typed nullable; the links are not
  }

  /** Type of [[responseLinks]]; the fields stay nullable, as
    * [[Schemas.FeatureSchema]] publishes them.
    */
  private val LinksType = ArrayType(StructType(
    Seq("relation", "callsign", "remarks", "production_time")
      .map(StructField(_, StringType))), containsNull = false)

  private val Ind32 = " " * 32
  private val Ind28 = " " * 28

  /** GeoJSON Point Feature assembly (reference `task.ts:214-231`), with
    * the remarks template's exact newlines/indentation (`task.ts:221-225`)
    * byte-preserved for golden-file parity.
    * Expects [[fixCoordinates]] to have run (consumes `f_lon`/`f_lat`).
    */
  def features(fixed: DataFrame): DataFrame =
    fixed.select(
      concat(lit("active911-"), coalesce(col("id"), lit(""))).as("id"),
      lit("Feature").as("type"),
      struct(
        coalesce(col("description"), lit("")).as("callsign"),
        isoUtc(parseTime(col("sent"))).as("start"),
        responseLinks(col("responses")).as("links"),
        concat(
          lit("\n" + Ind32 + "Groups: "), coalesce(col("units"), lit("")),
          lit("\n" + Ind32 + "Author: "), coalesce(col("source"), lit("")),
          lit("\n" + Ind32), coalesce(col("details"), lit("")),
          lit("\n" + Ind28)).as("remarks")).as("properties"),
      struct(
        lit("Point").as("type"),
        array(col("f_lon"), col("f_lat")).as("coordinates")).as("geometry"))

  /** Full reference dataflow: wire envelopes → Features (SURVEY.md §7.2
    * minimum slice: S3,S5,S6,P1,P2,P3,F6,G1,F4,A1,A2,R1,U1 in one
    * shuffle-free lineage). Union across agencies is structural: one
    * input row per agency envelope (SURVEY.md §2.8 U1, bag semantics).
    */
  def pipeline(envelopes: DataFrame, rawCol: String = "raw"): DataFrame =
    features(fixCoordinates(alertsFromEnvelopes(envelopes, rawCol)))
}
