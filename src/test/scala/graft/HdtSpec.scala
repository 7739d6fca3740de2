package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{HdtIO, RdfIO}

/** HDT binary format: write→read round-trips over adversarial term sets,
  * the Four-Section id algebra, CRC tamper detection, and the auto-probe
  * routing. Byte-level interop with third-party HDT files cannot run in
  * this sandbox (no HDT library, no sample file) — documented in HdtIO.
  */
class HdtSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(name: String): String =
    tmpDir("hdt")
      .resolve(name).toString

  private def roundTrip(triples: Seq[(String, String, String)]): Set[(String, String, String)] = {
    val path = tmp("t.hdt")
    HdtIO.writeHdt(triples.toDF("subj", "pred", "obj"), path)
    HdtIO.readHdt(spark, path)
      .select("subj", "pred", "obj")
      .as[(String, String, String)].collect().toSet
  }

  test("round-trip: IRIs, literals (lang/datatype/escapes/unicode), bnodes") {
    val t = Seq(
      ("<http://ex.org/a>", "<http://ex.org/p>", "<http://ex.org/b>"),
      ("<http://ex.org/a>", "<http://ex.org/p>", "\"plain\""),
      ("<http://ex.org/a>", "<http://ex.org/q>", "\"hallo\"@de"),
      ("<http://ex.org/b>", "<http://ex.org/p>",
        "\"42\"^^<http://www.w3.org/2001/XMLSchema#integer>"),
      ("<http://ex.org/b>", "<http://ex.org/q>", "\"tab\\there \\\"q\\\"\""),
      ("_:b1", "<http://ex.org/p>", "\"üñíçødé é中文\""),
      ("<http://ex.org/c>", "<http://ex.org/r>", "_:b1")
    )
    assert(roundTrip(t) === t.toSet)
  }

  test("round-trip survives duplicate input rows (HDT is a triple set)") {
    val t = Seq(
      ("<urn:s>", "<urn:p>", "\"v\""),
      ("<urn:s>", "<urn:p>", "\"v\""))
    assert(roundTrip(t) === t.toSet)
  }

  test("round-trip across PFC block boundaries (hundreds of terms per section)") {
    // 300 subjects × sharing some objects → all four sections multi-block
    val t = (0 until 300).flatMap { i =>
      Seq(
        (s"<urn:s$i>", "<urn:p1>", s"<urn:o$i>"),
        (s"<urn:s$i>", s"<urn:p${i % 20}>", "\"lit" + i + "\""),
        // make half the subjects also appear as objects (shared section)
        (s"<urn:x$i>", "<urn:ref>", s"<urn:s${i / 2}>"))
    }
    assert(roundTrip(t) === t.toSet)
  }

  test("shared subject-object terms take one id space; sections stay sorted") {
    val path = tmp("shared.hdt")
    val t = Seq(
      ("<urn:both>", "<urn:p>", "<urn:objOnly>"),
      ("<urn:subOnly>", "<urn:p>", "<urn:both>"))
    HdtIO.writeHdt(t.toDF("subj", "pred", "obj"), path)
    val d = HdtIO.load(path)
    assert(d.shared.n === 1)
    assert(d.subjects.n === 1)
    assert(d.objects.n === 1)
    assert(d.predicates.n === 1)
    assert(d.subjectTerm(1) === "<urn:both>")   // shared id 1, both roles
    assert(d.objectTerm(1) === "<urn:both>")
    assert(d.subjectTerm(2) === "<urn:subOnly>")
    assert(d.objectTerm(2) === "<urn:objOnly>")
    assert(d.predicateTerm(1) === "<urn:p>")
    assert(d.numSubjects === 2)
  }

  test("a flipped byte fails loudly on a CRC check") {
    val path = tmp("crc.hdt")
    val t = (0 until 50).map(i => (s"<urn:s$i>", "<urn:p>", s"\"v$i\""))
    HdtIO.writeHdt(t.toDF("subj", "pred", "obj"), path)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0x40).toByte
    java.nio.file.Files.write(java.nio.file.Paths.get(path), bytes)
    val e = intercept[Exception] { HdtIO.load(path) }
    assert(e.getMessage.toLowerCase.contains("crc") ||
      e.getMessage.toLowerCase.contains("hdt"), e.getMessage)
  }

  test("readRdfAuto routes .hdt (extension AND $HDT magic with a neutral name)") {
    val t = Seq(("<urn:s>", "<urn:p>", "\"v\""))
    val p1 = tmp("auto.hdt")
    HdtIO.writeHdt(t.toDF("subj", "pred", "obj"), p1)
    val viaExt = RdfIO.readRdfAuto(spark, p1)
    assert(viaExt.columns.toSeq === Seq("graph", "subj", "pred", "obj"))
    assert(viaExt.select("subj", "pred", "obj")
      .as[(String, String, String)].collect().toSet === t.toSet)
    assert(viaExt.select("graph").distinct().as[String].collect().toSeq ===
      Seq("<urn:x-arq:DefaultGraph>"))
    val p2 = tmp("nameless.bin")
    java.nio.file.Files.copy(java.nio.file.Paths.get(p1),
      java.nio.file.Paths.get(p2))
    assert(RdfIO.readRdfAuto(spark, p2).count() === 1)
  }

  test("non-HDT input fails loudly in the HDT reader") {
    val p = tmp("not.hdt")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
      "<urn:s> <urn:p> \"v\" .\n")
    val e = intercept[Exception] { HdtIO.readHdt(spark, p) }
    assert(e.getMessage.contains("cookie"), e.getMessage)
  }

  test("round-trip property: random term sets (unicode, escapes, shared " +
      "roles, supplementary code points) -> hdt -> read == identity") {
    import org.scalacheck.Gen
    val alnum = Gen.alphaNumStr.map(_.take(8)).suchThat(_.nonEmpty)
    val iri = alnum.map(s => s"<urn:x:$s>")
    val bnode = alnum.map(s => s"_:b$s")
    // include a supplementary code point (U+10000) and a BMP char above
    // U+E000 — the pair whose relative order differs between UTF-16
    // code-unit sort and the UTF-8 byte sort the dictionary requires
    val rawText = Gen.listOf(Gen.oneOf(
      Gen.alphaNumChar.map(_.toString),
      Gen.oneOf("\"", "\\", "\n", "\t", " ", "ü", "中",
        "", "𐀀")))
      .map { parts =>
        val s = parts.mkString.take(24)
        // char-truncation must not strand half a surrogate pair (an
        // unpaired surrogate is not UTF-8-representable)
        if (s.nonEmpty && Character.isHighSurrogate(s.last)) s.dropRight(1)
        else s
      }
    val literal = for {
      body <- rawText
      suffix <- Gen.oneOf("", "@en", "^^<urn:dt>")
    } yield "\"" + graft.sources.TrigParser.ntEscape(body) + "\"" + suffix
    val triple = for {
      s <- Gen.oneOf(iri, bnode)
      p <- iri
      o <- Gen.oneOf(iri, bnode, literal)
    } yield (s, p, o)
    val tripleSets = Gen.listOfN(60, triple)
    (1 to 15).foreach { seedI =>
      val ts = tripleSets(Gen.Parameters.default,
        org.scalacheck.rng.Seed(seedI.toLong)).get.distinct
      assert(roundTrip(ts) === ts.toSet, s"seed=$seedI")
    }
  }

  test("big round-trip equals the TriG parse of the same corpus") {
    // the transcript triple rules at sf0.001 — thousands of triples with
    // shared terms, datatyped literals and IRIs; HDT must reproduce the
    // exact distinct triple set
    val src = graft.rules.TranscriptRules.triples(
      graft.sources.Transcripts(spark, "/root/testdata/sf0.001"))
      .select("subj", "pred", "obj")
    val path = tmp("big.hdt")
    HdtIO.writeHdt(src, path)
    val back = HdtIO.readHdt(spark, path).select("subj", "pred", "obj")
    assert(back.count() === src.distinct().count())
    assert(back.exceptAll(src.distinct()).isEmpty)
    assert(src.distinct().exceptAll(back).isEmpty)
  }
}
