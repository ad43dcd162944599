package graft

import java.time.{LocalDateTime, ZoneId}
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.ops.Active911

/** Property-based pinning of the reference semantics (SURVEY.md §5.4):
  * random inputs, engine output compared against a driver-side Scala
  * model of the JS behavior. Deterministic: fixed ScalaCheck seed, all
  * cases batched into one DataFrame per property (one Spark job, not one
  * per case).
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def sample[A](g: Gen[A], n: Int, seed: Long): List[A] =
    Gen.listOfN(n, g).apply(Gen.Parameters.default, Seed(seed)).get

  // --- S6: CSV record split with quoted cells (embedded newlines/quotes) --

  test("csvRecords: quoted newlines, quotes and commas never break record framing") {
    val cell = Gen.listOfN(6, Gen.frequency(
      6 -> Gen.alphaNumChar, 1 -> Gen.const(','), 1 -> Gen.const('"'),
      1 -> Gen.const('\n'), 1 -> Gen.oneOf('é', 'ñ', '中'))).map(_.mkString)
    val row = Gen.listOfN(3, cell)
    val blobGen = Gen.choose(1, 5).flatMap(n => Gen.listOfN(n, row))
    val cases = sample(blobGen, 60, seed = 7L).zipWithIndex
    def quote(c: String) = "\"" + c.replace("\"", "\"\"") + "\""
    val df = cases.map { case (rows, i) =>
      (i.toLong, rows.map(_.map(quote).mkString(",")).mkString("\n"), rows.length.toLong,
        rows.head.head, rows.head(1), rows.head(2))
    }.toDF("case_id", "blob", "expect_n", "c0", "c1", "c2")
    val schema = "a string, b string, c string"
    val got = df.select(col("case_id"), col("expect_n"), col("c0"), col("c1"), col("c2"),
        size(Active911.csvRecords(col("blob"))).cast("long").as("got_n"),
        from_csv(element_at(Active911.csvRecords(col("blob")), 1),
          org.apache.spark.sql.types.StructType.fromDDL(schema),
          Map("quote" -> "\"", "escape" -> "\"")).as("r1"))
      .collect()
    got.foreach { r =>
      assert(r.getAs[Long]("got_n") == r.getAs[Long]("expect_n"),
        s"case ${r.getAs[Long]("case_id")}: record count")
      val rec = r.getAs[org.apache.spark.sql.Row]("r1")
      assert(rec.getString(0) == r.getAs[String]("c0")
        && rec.getString(1) == r.getAs[String]("c1")
        && rec.getString(2) == r.getAs[String]("c2"),
        s"case ${r.getAs[Long]("case_id")}: first-record cells")
    }
  }

  // --- F6: parseTime is total and matches a java.time model -------------

  test("parseTime: total on garbage, exact instant for every tz abbreviation") {
    val validGen = for {
      mo <- Gen.choose(1, 12); da <- Gen.choose(1, 28)
      yr <- Gen.choose(1995, 2030)
      // hours >= 6 keep clear of 2-3am DST transitions, whose gap
      // resolution is implementation-defined
      h <- Gen.choose(6, 23); mi <- Gen.choose(0, 59); se <- Gen.choose(0, 59)
      abbr <- Gen.oneOf(Active911.TimezoneMappings.keys.toSeq ++ Seq("XST", ""))
    } yield (f"$mo/$da/$yr $h:$mi%02d:$se%02d" + (if (abbr.isEmpty) "" else s" $abbr"), abbr)
    val garbageGen = Gen.listOfN(12,
      Gen.frequency(4 -> Gen.alphaNumChar, 1 -> Gen.oneOf('/', ':', ' ', '.')))
      .map(l => (l.mkString, "#garbage#"))
    val cases = (sample(validGen, 150, 11L) ++ sample(garbageGen, 50, 12L)).zipWithIndex
    val df = cases.map { case ((s, abbr), i) => (i.toLong, s, abbr) }
      .toDF("case_id", "raw", "abbr")
    val got = df.select(col("case_id"),
        unix_micros(Active911.parseTime(col("raw"))).as("us")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    val fmt = DateTimeFormatter.ofPattern("M/d/yyyy H:mm:ss")
    cases.foreach { case ((s, abbr), i) =>
      val expect: Option[Long] = Active911.TimezoneMappings.get(abbr) match {
        case Some(zone) =>
          val local = LocalDateTime.parse(s.stripSuffix(s" $abbr"), fmt)
          Some(local.atZone(ZoneId.of(zone)).toInstant.toEpochMilli * 1000L)
        case None =>
          val m = "^(\\d{1,2}/\\d{1,2}/\\d{4} \\d{1,2}:\\d{2}:\\d{2})".r
            .findFirstIn(s)
          m.map(d => LocalDateTime.parse(d, fmt)
            .atZone(ZoneId.of("UTC")).toInstant.toEpochMilli * 1000L)
      }
      assert(got(i.toLong) == expect, s"case $i: '$s'")
    }
  }

  // --- F6: ISO-ish fallback inputs — the documented divergence ----------

  test("parseTime: ISO-shaped input → null (deliberate divergence from moment fuzz)") {
    // The reference's non-strict moment fallback (task.ts:75) binds digit
    // runs positionally to MM/DD/YYYY…, turning ISO strings into
    // garbage-but-valid instants. This engine pins them to null — see
    // Active911.parseTime scaladoc. Any change to that decision must
    // consciously edit this test.
    val isoGen = for {
      yr <- Gen.choose(1995, 2030); mo <- Gen.choose(1, 12)
      da <- Gen.choose(1, 28); h <- Gen.choose(0, 23)
      mi <- Gen.choose(0, 59); se <- Gen.choose(0, 59)
      suffix <- Gen.oneOf("", "Z", ".000Z", "+02:00")
    } yield f"$yr-$mo%02d-$da%02dT$h%02d:$mi%02d:$se%02d$suffix"
    val cases = sample(isoGen, 60, seed = 31L).zipWithIndex
    val nulls = cases.map { case (s, i) => (i.toLong, s) }.toDF("case_id", "raw")
      .select(Active911.parseTime(col("raw")).as("ts"))
      .filter(col("ts").isNotNull).count()
    assert(nulls == 0, s"$nulls ISO-shaped inputs parsed non-null")
  }

  // --- A1: last-wins dedup, first-occurrence key order ------------------

  test("responseLinks: last-wins per callsign, keys in first-appearance order") {
    // padded names trim onto the same callsign as their bare form
    val names = Seq("Alice", " Alice", "Bob Smith", "Carol", "Dave ", "Erin",
      "  Frank  ", "Frank")
    val resps = Seq("Responding", "Unavailable", "On Scene", " Cancelled ")
    val lineGen = Gen.frequency(
      6 -> (for {
        n <- Gen.oneOf(names); r <- Gen.oneOf(resps)
        id <- Gen.choose(100, 999); mi <- Gen.choose(0, 59)
      } yield f"Got a response of $r to $n($id) at 12/8/2025 10:$mi%02d:00 EST."),
      1 -> Gen.const("Got a response of malformed line without the shape"),
      1 -> Gen.const("Got a response of Responding to Alice at 12/8/2025 10:00:00 EST."),
      1 -> Gen.const("random chatter that is filtered out"))
    val logGen = Gen.choose(0, 30).flatMap(n => Gen.listOfN(n, lineGen))
    val cases = sample(logGen, 80, 21L).zipWithIndex
    val df = cases.map { case (ls, i) => (i.toLong, ls.mkString("\n")) }
      .toDF("case_id", "responses")
    val got = df.select(col("case_id"),
        to_json(Active911.responseLinks(col("responses"))).as("links"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

    val rx = Active911.ResponseRegex.r
    val estFmt = DateTimeFormatter.ofPattern("M/d/yyyy H:mm:ss")
    cases.foreach { case (ls, i) =>
      // driver-side model of the reference's Map.set loop (task.ts:187-209)
      val entries = ls.filter(_.startsWith("Got a response of ")).map { l =>
        rx.findFirstMatchIn(l) match {
          case Some(m) =>
            val t = LocalDateTime.parse(m.group(4).trim.stripSuffix(" EST"), estFmt)
              .atZone(ZoneId.of("America/New_York")).toInstant
            val iso = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
              .withZone(ZoneId.of("UTC")).format(t)
            (m.group(2).trim, m.group(1).trim, Some(iso))
          case None => ("Unknown", "Unknown", None)
        }
      }
      val keyOrder = entries.map(_._1).distinct
      val lastByKey = entries.groupBy(_._1).map { case (k, es) => k -> es.last }
      val expected = keyOrder.map { k =>
        val (_, remarks, time) = lastByKey(k)
        Seq(Some("t-s"), Some(k), Some(remarks), time)
      }
      val expJson = expected.map(f =>
        Seq("relation", "callsign", "remarks", "production_time").zip(f)
          .collect { case (n, Some(v)) => s""""$n":"$v"""" }
          .mkString("{", ",", "}")).mkString("[", ",", "]")
      assert(got(i.toLong) == expJson, s"case $i:\n${ls.mkString("\n")}")
    }
  }

  // --- EXT: int8 quantization invariants over random float vectors ------

  test("quantizeInt8: codes bounded by ±127, reconstruction within scale/2, round-trip stable") {
    val vecGen = Gen.choose(1, 16).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-1e3f, 1e3f).suchThat(f => !f.isNaN)))
      .suchThat(_.exists(_ != 0f))
    val cases = sample(vecGen, 80, seed = 21L).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }
    val df = cases.toDF("id", "vec")
      .select(col("id"), graft.ext.Similarity.quantizeInt8(col("vec")).as("qz"),
        col("vec"))
    val rows = df.select(col("id"), col("qz.scale"), col("qz.q"),
        graft.ext.Similarity.dequantError(col("vec"), col("qz.q"), col("qz.scale"))
          .as("err"))
      .collect()
    rows.foreach { r =>
      val scale = r.getDouble(1)
      val q = r.getSeq[Long](2)
      val err = r.getSeq[Double](3)
      assert(q.forall(x => x >= -127L && x <= 127L),
        s"case ${r.getLong(0)}: code out of int8 range: $q")
      assert(err.forall(_ <= scale / 2 + 1e-9),
        s"case ${r.getLong(0)}: reconstruction error ${err.max} > scale/2 $scale")
    }
    // determinism: quantizing twice yields identical codes
    val again = cases.toDF("id", "vec")
      .select(col("id"), graft.ext.Similarity.quantizeInt8(col("vec")).getField("q").as("q"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    rows.foreach(r => assert(again(r.getLong(0)) == r.getSeq[Long](2)))
  }

  // --- EXT: span detection vs a driver-side model (q160/q163 family) ---

  test("duplicateSpans + repeatedSpans: exact match with a Scala model on random word soup") {
    val k = 3
    // a 10-word vocabulary over 50 short docs forces both cross-doc
    // shared k-grams and within-doc recurrences
    val vocab = Vector("ox", "ash", "elm", "fir", "oak", "yew", "ivy",
      "fern", "moss", "reed")
    val docGen = Gen.choose(5, 16)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab)))
    val cases = sample(docGen, 50, seed = 41L).zipWithIndex
      .map { case (toks, i) => (i.toLong, toks.toVector) }
    val df = cases.map { case (id, toks) => (id, toks.mkString(" ")) }
      .toDF("doc_id", "text")

    def kgrams(toks: Vector[String]) =
      if (toks.length < k) Vector.empty[String]
      else toks.sliding(k).map(_.mkString(" ")).toVector
    def islands(ps: Seq[Int]): Set[(Long, Long, Long, Long)] = {
      val sorted = ps.sorted
      if (sorted.isEmpty) Set.empty
      else sorted.tail.foldLeft(List((sorted.head, sorted.head))) {
        case ((s, e) :: rest, p) =>
          if (p == e + 1) (s, p) :: rest else (p, p) :: (s, e) :: rest
        case (Nil, p) => List((p, p))
      }.map { case (s, e) =>
        (s.toLong, (e + k - 1).toLong, (e + k - 1 - s + 1).toLong,
          (e - s + 1).toLong)
      }.toSet
    }
    val grams = cases.map { case (id, toks) => id -> kgrams(toks) }.toMap

    // cross-doc model: positions whose gram occurs in >= 2 distinct docs
    val docsPerGram = grams.toSeq
      .flatMap { case (id, gs) => gs.distinct.map(_ -> id) }
      .groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2).distinct.size }
    val wantDup = grams.flatMap { case (id, gs) =>
      val ps = gs.zipWithIndex.collect {
        case (g, p) if docsPerGram(g) >= 2 => p }
      islands(ps).map { case (s, e, t, n) => (id, s, e, t, n) }
    }.toSet
    val gotDup = graft.ext.NearDup.duplicateSpans(df, "doc_id", "text", k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(gotDup == wantDup)

    // within-doc model: positions whose gram occurred earlier in the doc
    val wantRep = grams.flatMap { case (id, gs) =>
      val seen = scala.collection.mutable.Set[String]()
      val ps = gs.zipWithIndex.collect {
        case (g, p) if { val r = seen(g); seen += g; r } => p }
      islands(ps).map { case (s, e, t, n) => (id, s, e, t, n) }
    }.toSet
    val gotRep = graft.ext.NearDup.repeatedSpans(df, "doc_id", "text", k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(gotRep == wantRep)
  }

  // --- BPE: model-based check of learn + encode on random word soup ---

  test("bpeLearn/bpeEncode: roundtrip, vocab closure, and a Scala merge model on random vocab") {
    // small alphabet forces heavy pair collisions (the interesting case)
    val word = Gen.choose(1, 8)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf("a", "b", "c")).map(_.mkString))
    val vocabList = sample(Gen.zip(word, Gen.choose(1L, 9L)), 40, seed = 7L)
      .groupBy(_._1).map { case (w, ws) => (w, ws.map(_._2).sum) }.toList
    val vocab = vocabList.toDF("w", "wc")
    val merges = graft.ext.Corpus.bpeLearn(vocab, "w", "wc", k = 5)
    // Scala model: same left-to-right non-overlapping merge pass
    def applyM(toks: List[String], a: String, b: String): List[String] =
      toks.foldLeft(List.empty[String]) { (acc, x) =>
        if (acc.nonEmpty && acc.last == a && x == b)
          acc.init :+ (a + b)
        else acc :+ x
      }
    def encode(w: String): List[String] =
      merges.foldLeft(w.split("").toList) { case (t, (a, b)) => applyM(t, a, b) }
    val prods = merges.map { case (a, b) => a + b }.toSet
    val got = vocab
      .select(col("w"), graft.ext.Corpus.bpeEncode(col("w"), merges).as("t"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    vocabList.foreach { case (w, _) =>
      val toks = got(w)
      assert(toks.mkString("") == w, s"roundtrip broke for $w")
      assert(toks.forall(t => t.length == 1 || prods(t)),
        s"non-vocab token in $w: $toks")
      assert(toks == encode(w), s"engine disagrees with model for $w")
    }
  }

  test("triangles: degree-oriented == id-ordered == Scala model on random graphs") {
    // the equivalence claim behind q179's production path, pinned on
    // adversarial shapes the fixture graph can't produce: random dense
    // and sparse multigraph-ish edge lists with self-loops and both
    // orientations of the same pair (canonicalization must absorb them)
    val edgeGen = for {
      n <- Gen.choose(3, 10)
      m <- Gen.choose(1, 25)
      es <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n.toLong - 1)
        b <- Gen.choose(0L, n.toLong - 1)
      } yield (a, b))
    } yield es
    val cases = sample(edgeGen, 25, seed = 41L)
    cases.zipWithIndex.foreach { case (es, i) =>
      val df = es.toDF("a", "b")
      // driver-side model: canonical undirected simple graph, count
      // triangles per node by brute force
      val adj = es.collect { case (a, b) if a != b =>
        (math.min(a, b), math.max(a, b)) }.toSet
      val nodes = adj.flatMap(e => Set(e._1, e._2)).toList.sorted
      def conn(x: Long, y: Long) = adj((math.min(x, y), math.max(x, y)))
      val model = (for {
        Seq(x, y, z) <- nodes.combinations(3)
        if conn(x, y) && conn(y, z) && conn(x, z)
        v <- Seq(x, y, z)
      } yield v).toList.groupBy(identity)
        .map { case (k, v) => k -> v.size.toLong }
      def got(df2: org.apache.spark.sql.DataFrame) =
        df2.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val idOrdered = got(graft.ext.Graph.triangleCounts(df, "a", "b"))
      val degOriented = got(
        graft.ext.Graph.triangleCountsDegreeOriented(df, "a", "b"))
      assert(idOrdered == model, s"case $i: id-ordered vs model")
      assert(degOriented == model, s"case $i: degree-oriented vs model")
    }
  }

  test("BMP codec: decode(encode) recovers exact stats on random images") {
    val imgGen = for {
      w <- Gen.choose(1, 9)   // small widths hit every padding residue
      h <- Gen.choose(1, 5)
      px <- Gen.listOfN(w * h * 3, Gen.choose(0, 255))
    } yield (w, h, px.toVector)
    val cases = sample(imgGen, 40, seed = 97L)
    val media = cases.zipWithIndex.map { case ((w, h, px), i) =>
      def at(x: Int, y: Int) =
        (px((y * w + x) * 3), px((y * w + x) * 3 + 1), px((y * w + x) * 3 + 2))
      graft.ext.Multimodal.MediaIn(i.toLong,
        graft.ext.Multimodal.encodeBmp(w, h, at))
    }
    val out = graft.ext.Multimodal.decodeBmpBatched(
        spark.createDataset(media), batchSize = 7)
      .collect().map(o => o.media_id -> o).toMap
    cases.zipWithIndex.foreach { case ((w, h, px), i) =>
      val o = out(i.toLong)
      assert((o.width, o.height) == ((w, h)), s"case $i dims")
      val n = w * h
      def chan(c: Int) = (0 until n).map(p => px(p * 3 + c))
      assert(math.abs(o.mean_r - chan(0).sum.toDouble / n) < 1e-12, s"case $i r")
      assert(math.abs(o.mean_g - chan(1).sum.toDouble / n) < 1e-12, s"case $i g")
      assert(math.abs(o.mean_b - chan(2).sum.toDouble / n) < 1e-12, s"case $i b")
      assert((o.tl_r, o.tl_g, o.tl_b) == ((px(0), px(1), px(2))), s"case $i tl")
    }
  }
}
