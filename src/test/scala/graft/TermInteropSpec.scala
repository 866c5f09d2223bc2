package graft

import graft.core.{Term, TripleDb}
import graft.core.Term._
import graft.dsl._
import graft.engine.Projections
import org.apache.spark.sql.functions.col

/** Grafter record interop (alpha_test.clj:234-249), long precision, set
  * semantics of indexing/merge (T:211-231), values validation
  * (T:401-448), and term-encoding canonical forms.
  */
class TermInteropSpec extends GraftSpec {

  test("LangString round-trips and unifies (T:237-238, issue-5)") {
    val ls = TLangString("foo", "en")
    val d = db((k("a"), k("b"), ls))
    val r = Projections.construct1(d, ?("o2"), Seq(pat(?("s2"), ?("p2"), ?("o2"))))
    assert(r.contains(ls))
  }

  test("RDFLiteral round-trips (T:240-241)") {
    val rl = TTyped("foo", "http://some/datatype")
    val d = db((k("a"), k("b"), rl))
    val r = Projections.construct1(d, ?("o2"), Seq(pat(?("s2"), ?("p2"), ?("o2"))))
    assert(r.contains(rl))
  }

  test("OffsetDate-like date terms round-trip (T:247-248)") {
    val od = TDate("2024-03-01T00:00:00")
    val d = db((k("s"), k("p"), od))
    val r = Projections.construct1(d, ?("o2"), Seq(pat(?("s2"), ?("p2"), ?("o2"))))
    assert(r.contains(od))
  }

  test("LangStrings with different language tags do not unify") {
    val d = db(
      (k("a"), k("b"), TLangString("foo", "en")),
      (k("c"), k("b"), TLangString("foo", "fr")))
    val r = resultSet(d, Seq(?("s2")),
      Seq(pat(?("s2"), T(k("b")), T(TLangString("foo", "en")))))
    assert(r == Set(Seq(k("a"))))
  }

  test("long terms are exact past 2^53") {
    val big = 9007199254740993L // 2^53 + 1
    val d = db(
      (k("x"), k("v"), TLong(big)),
      (k("y"), k("v"), TLong(big - 1)))
    val r = resultSet(d, Seq(?("s2")), Seq(pat(?("s2"), T(k("v")), T(TLong(big)))))
    assert(r == Set(Seq(k("x"))))
    val round = Projections.select(d, Seq(pat(T(k("x")), T(k("v")), ?("o2"))), Seq(?("o2")))
    assert(round == Seq(Seq(TLong(big))))
  }

  test("doubles, booleans round-trip") {
    val d = db(
      (k("d"), k("v"), TDouble(1.25)),
      (k("t"), k("v"), TBool(true)),
      (k("f"), k("v"), TBool(false)))
    assert(Projections.select(d, Seq(pat(T(k("d")), T(k("v")), ?("o2"))), Seq(?("o2")))
      == Seq(Seq(TDouble(1.25))))
    assert(Projections.select(d, Seq(pat(T(k("t")), T(k("v")), ?("o2"))), Seq(?("o2")))
      == Seq(Seq(TBool(true))))
    assert(Projections.select(d, Seq(pat(T(k("f")), T(k("v")), ?("o2"))), Seq(?("o2")))
      == Seq(Seq(TBool(false))))
  }

  test("index-triples dedups: duplicate facts are idempotent (T:211-231)") {
    val d = TripleDb.fromTerms(spark, Seq(
      (k("s"), k("p"), k("o")),
      (k("s"), k("p"), k("o")))).index()
    assert(d.df.count() == 1)
    d.unpersist()
  }

  test("merge-dbs equals indexing the union (T:211-231)") {
    val a = db((l(1), l(2), l(3)))
    val b = db((l(4), l(5), l(6)))
    val merged = TripleDb.merge(a, b, a)
    assert(merged.df.count() == 2)
    val self = TripleDb.merge(friends, friends)
    assert(self.df.count() == 7)
  }

  test("values with null collection throws InvalidValues (T:430-448)") {
    intercept[InvalidValues] { Values(?("x"), null) }
  }

  test("values with empty collection yields no solutions") {
    val r = resultSet(friends, Seq(?("name")), Seq(
      pat(?("p2"), T(label), ?("name")),
      Values(?("p2"), Seq.empty)))
    assert(r.isEmpty)
  }

  test("values intersection: two clauses on one generated var (ADVICE)") {
    val r = resultSet(friends, Seq(?("x")), Seq(
      Values(?("x"), Seq(rick, katie)),
      Values(?("x"), Seq(katie, julie))))
    assert(r == Set(Seq(katie)))
  }

  test("values with a large collection takes the broadcast semi-join branch") {
    val d = TripleDb.fromTerms(spark,
      (0 until 50).map(i => (k(s"s$i"), k("p"), TLong(i.toLong))))
    // 100 distinct elements (> the 64-element OR-chain cutoff), half matching
    val coll = (0 until 100).map(i => TLong((i * 2).toLong))
    val r = resultSet(d, Seq(?("s2")), Seq(
      pat(?("s2"), T(k("p")), ?("v")),
      Values(?("v"), coll)))
    assert(r == (0 until 50 by 2).map(i => Seq(k(s"s$i"): Term)).toSet)
  }

  test("NULL wide-table cells become matchable nil terms") {
    import spark.implicits._
    val wide = Seq((1L, Some("x")), (2L, None), (3L, None))
      .toDF("id", "val")
    val d = TripleDb.fromWideTable(wide, "t", "id")
    // nil is a VALUE: patterns match it like any term (T:133-138)
    val nils = resultSet(d, Seq(?("s2")),
      Seq(pat(?("s2"), T(k("val")), T(TNil))))
    assert(nils == Set(Seq(TUri("t/2"): Term), Seq(TUri("t/3"): Term)))
    val bound = resultSet(d, Seq(?("s2"), ?("o2")),
      Seq(pat(?("s2"), T(k("val")), ?("o2"))))
    assert(bound == Set(
      Seq(TUri("t/1"), TString("x")),
      Seq(TUri("t/2"), TNil), Seq(TUri("t/3"), TNil)))
  }

  test("values syntax over friends (T:401-428)") {
    val r1 = resultSet(friends, Seq(?("name")), Seq(
      pat(?("person"), T(knows), ?("o2")),
      pat(?("o2"), T(label), ?("name")),
      Values(?("person"), Seq(rick))))
    assert(r1 == Set(Seq(s("Martin")), Seq(s("Katie"))))
    val r2 = resultSet(friends, Seq(?("name")), Seq(
      pat(?("person"), T(knows), ?("o2")),
      pat(?("o2"), T(label), ?("name")),
      Values(?("person"), Seq(rick, katie))))
    assert(r2 == Set(Seq(s("Martin")), Seq(s("Katie")), Seq(s("Julie"))))
    val r3 = resultSet(friends, Seq(?("name")), Seq(
      pat(?("person"), T(knows), ?("o2")),
      Values(?("person"), Seq(rick, katie)),
      pat(?("o2"), T(label), ?("name")),
      Values(?("name"), Seq(s("Julie")))))
    assert(r3 == Set(Seq(s("Julie"))))
  }

  test("encode produces canonical strings per kind") {
    val terms: Seq[(Term, String)] = Seq(
      TNil -> "n|",
      TKeyword("foo/bar") -> "k|foo/bar",
      TUri("http://x/y") -> "u|http://x/y",
      TString("hi") -> "s|hi",
      TLong(-42L) -> "l|-42",
      TLong(9007199254740993L) -> "l|9007199254740993",
      TDouble(1.5) -> "d|1.50",
      TBool(true) -> "b|1",
      TLangString("foo", "en") -> "ls|foo@en",
      TTyped("v", "http://dt") -> "lit|v^^http://dt",
      TDate("2024-01-01T00:00:00") -> "t|2024-01-01T00:00:00")
    val d = TripleDb.fromTerms(spark, terms.map(t => (t._1, k("p"), k("o"))))
    val got = d.df.select(Term.encode(col("s")).as("e"))
      .collect().map(_.getString(0)).toSet
    assert(got == terms.map(_._2).toSet)
  }

  test("TripleDb.triples collects the db back as term triples") {
    val facts = Seq[(Term, Term, Term)](
      (k("a"), k("p"), s("x")),
      (TNil, k("p"), TLangString("hi", "en")),
      (k("b"), k("q"), Term.opaque("t", Array[Byte](7))))
    assert(db(facts: _*).triples.toSet == facts.toSet)
  }

  test("opaque host values round-trip and unify by byte equality") {
    val p1 = Term.opaque("pt", Array[Byte](1, 2, 3))
    val p2 = Term.opaque("pt", Array[Byte](1, 2, 3))
    val p3 = Term.opaque("pt", Array[Byte](9))
    assert(p1 == p2 && p1 != p3)
    val d = db((k("x"), k("loc"), p1), (k("y"), k("loc"), p2), (k("z"), k("loc"), p3))
    // unification: ground opaque term matches both byte-equal facts
    assert(resultSet(d, Seq(?("s2")), Seq(pat(?("s2"), T(k("loc")), T(p1)))) ==
      Set(Seq(k("x")), Seq(k("y"))))
    // round-trip through construct
    val r = Projections.construct1(d,
      ?("o2"), Seq(pat(T(k("z")), T(k("loc")), ?("o2"))))
    assert(r.contains(p3))
  }

  test("opaque terms of different tags do not unify; serializable helper") {
    val a = Term.opaqueOf("tuple", (1, 2))
    val b = Term.opaqueOf("tuple", (1, 2))
    val c = Term.opaqueOf("other", (1, 2))
    assert(a == b)         // same value, same tag → same term
    assert(a != c)         // tag participates in identity
    val d = db((k("x"), k("at"), a), (k("y"), k("at"), c))
    assert(resultSet(d, Seq(?("s2")), Seq(pat(?("s2"), T(k("at")), T(b)))) ==
      Set(Seq(k("x"))))
    // encode is stable and carries the tag
    val enc = d.df.select(Term.encode(col("o")).as("e"))
      .collect().map(_.getString(0)).toSet
    assert(enc.forall(s => s.startsWith("o|tuple|") || s.startsWith("o|other|")))
  }

  test("JSONL sink/source round-trips every term kind, hostile lexicals included") {
    // tabs, newlines, quotes, pipes, unicode — content an ad-hoc
    // delimited text format would mangle; JSON escaping must not
    val exotic = db(
      (k("a"), k("p"), s("tab\there\nand \"quotes\" | pipes")),
      (TNil, k("p"), s("nil subject")),
      (k("b"), k("p"), l(9007199254740993L)),          // exact past 2^53
      (k("c"), k("p"), TDouble(-0.0)),
      (k("d"), k("p"), TLangString("héllo wörld", "de")),
      (k("e"), k("p"), TTyped("42", "http://www.w3.org/2001/XMLSchema#int")),
      (k("f"), k("p"), TDate("2024-02-29T00:00:00")),
      (k("g"), k("p"), Term.opaque("pt", Array[Byte](0, 127, -128))),
      (k("h"), k("p"), TBool(true)))
    val tmp = java.nio.file.Files.createTempDirectory("graft_jsonl").toString
    TripleDb.saveJsonl(exotic, tmp)
    val loaded = TripleDb.loadJsonl(spark, tmp)
    assert(loaded.triples.toSet == exotic.triples.toSet)
    // the reloaded store answers BGPs (long precision survives the text hop)
    assert(resultSet(loaded, Seq(?("s2")),
      Seq(pat(?("s2"), T(k("p")), T(l(9007199254740993L))))) == Set(Seq(k("b"))))
  }

  test("N-Triples sink/source round-trips every term kind; grammar-legal lines") {
    import graft.sources.NTriples
    val exotic = db(
      (k("a"), k("p"), s("tab\there\nand \"quotes\" \\ backslash %pct")),
      (TNil, k("p"), s("nil subject")),
      (k("b"), k("p"), l(9007199254740993L)),          // exact past 2^53
      (k("c"), k("p"), TDouble(-0.125)),
      (k("d"), k("p"), TLangString("héllo wörld", "de")),
      (k("e"), k("p"), TTyped("foo>bar", "http://some/data type")),
      (k("f"), k("p"), TDate("2024-02-29T00:00:00")),
      (k("g"), k("p"), Term.opaque("pt", Array[Byte](0, 127, -128))),
      (k("h"), k("p"), TBool(true)),
      (TUri("http://absolute/iri?x=1"), k("p"), TUri("relative/row 7")),
      (k("weird kw"), k("p"), s("")))
    val tmp = java.nio.file.Files.createTempDirectory("graft_nt").toString
    NTriples.save(exotic, tmp)
    val loaded = NTriples.load(spark, tmp)
    assert(loaded.triples.toSet == exotic.triples.toSet)
    // every emitted line is a legal N-Triples 1.1 triple production:
    // IRIREF subject/predicate, IRIREF-or-literal object, final dot —
    // raw newlines/quotes inside lexicals would break this line regex
    val ib = "(?:[^<>\"{}|^`\\\\\\x00-\\x20]|\\\\u[0-9A-Fa-f]{4}|\\\\U[0-9A-Fa-f]{8})*"
    val lineOk = (s"^<$ib> <$ib> " +
      s"(<$ib>|\"(?:[^\"\\\\\\n\\r]|\\\\.)*\"" +
      s"(@[A-Za-z][A-Za-z0-9-]*|\\^\\^<$ib>)?) \\.$$").r
    val raw = spark.read.text(tmp).collect().map(_.getString(0))
    assert(raw.length == exotic.triples.size)
    raw.foreach(ln => assert(lineOk.findFirstIn(ln).isDefined, s"illegal line: $ln"))
    // xsd-typed literals normalize to the native kind (documented)
    val norm = db((k("x"), k("p"),
      TTyped("42", "http://www.w3.org/2001/XMLSchema#long")))
    val tmp2 = java.nio.file.Files.createTempDirectory("graft_nt2").toString
    NTriples.save(norm, tmp2)
    assert(NTriples.load(spark, tmp2).triples.toSet ==
      Set((k("x"), k("p"), l(42L))))
    // comments and blank lines skip; blank nodes fail loudly
    val tmp3 = java.nio.file.Files.createTempDirectory("graft_nt3")
    java.nio.file.Files.write(tmp3.resolve("a.nt"), java.util.Arrays.asList(
      "# a comment", "", "<urn:graft:kw/a> <urn:graft:kw/p> \"v\" ."))
    assert(NTriples.load(spark, tmp3.toString).triples.toSet ==
      Set((k("a"), k("p"), s("v"))))
    java.nio.file.Files.write(tmp3.resolve("b.nt"), java.util.Arrays.asList(
      "_:b0 <urn:p> _:b1 ."))
    val ex = intercept[Exception] {
      NTriples.load(spark, tmp3.toString).triples
    }
    assert(ex.getMessage.contains("malformed N-Triples line"))
  }

  test("gzipped N-Triples dumps load transparently (.nt.gz — how public " +
      "RDF dumps actually ship)") {
    import graft.sources.NTriples
    val dir = java.nio.file.Files.createTempDirectory("graft_ntgz")
    val gz = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(dir.resolve("dump.nt.gz")))
    gz.write(("<urn:graft:kw/a> <urn:graft:kw/p> \"v1\" .\n" +
      "<urn:graft:kw/b> <urn:graft:kw/p> \"42\"^^<http://www.w3.org/2001/XMLSchema#long> .\n")
      .getBytes("UTF-8"))
    gz.close()
    assert(NTriples.load(spark, dir.toString).triples.toSet == Set(
      (k("a"), k("p"), s("v1")), (k("b"), k("p"), l(42L))))
  }

  test("foreign IRIs keep RFC 3987 identity: percent sequences verbatim " +
      "both ways; UCHARs decode; other backslash fails loudly") {
    import graft.sources.NTriples
    val dir = java.nio.file.Files.createTempDirectory("graft_ntiri")
    java.nio.file.Files.write(dir.resolve("a.nt"), java.util.Arrays.asList(
      "<http://ex/a%2Fb> <http://ex/p> <http://ex/caf%C3%A9> .",
      "<http://ex/sp%20ace> <http://ex/p> <http://ex/u\\u00E9> .",
      "<http://ex/pct%25raw> <http://ex/p> <http://ex/bad%zz> ."))
    val loaded = NTriples.load(spark, dir.toString)
    val got = loaded.triples.toSet
    // %2F, %20, %25, %C3%A9, even non-hex %zz: ALL part of the IRI's
    // identity (RFC 3987) — never decoded into a different IRI
    assert(got.contains((TUri("http://ex/a%2Fb"), TUri("http://ex/p"),
      TUri("http://ex/caf%C3%A9"))))
    // é arrives as an IRIREF UCHAR → decodes to the raw char
    assert(got.contains((TUri("http://ex/sp%20ace"), TUri("http://ex/p"),
      TUri("http://ex/ué"))))
    assert(got.contains((TUri("http://ex/pct%25raw"), TUri("http://ex/p"),
      TUri("http://ex/bad%zz"))))
    // re-export: every percent sequence emerges byte-identical
    val tmp2 = java.nio.file.Files.createTempDirectory("graft_ntiri2").toString
    NTriples.save(loaded, tmp2)
    val raw = spark.read.text(tmp2).collect().map(_.getString(0)).toSet
    assert(raw.contains("<http://ex/a%2Fb> <http://ex/p> <http://ex/caf%C3%A9> ."))
    assert(raw.contains("<http://ex/sp%20ace> <http://ex/p> <http://ex/ué> ."))
    assert(raw.contains("<http://ex/pct%25raw> <http://ex/p> <http://ex/bad%zz> ."))
    // non-UCHAR backslash in an IRI is a loud error, not a silent
    // backslash-u-text term
    java.nio.file.Files.write(dir.resolve("b.nt"), java.util.Arrays.asList(
      "<http://ex/a\\qbad> <http://ex/p> <http://ex/o> ."))
    val ex = intercept[Exception] {
      NTriples.load(spark, dir.toString).triples
    }
    assert(ex.getMessage.contains("bad escape") ||
      Option(ex.getCause).exists(_.getMessage.contains("bad escape")))
  }

  test("term pack/unpack (round 16): lossless injective round-trip over " +
      "every kind incl. hostile lexicals; narrow-key dedup ≡ struct " +
      "dedup; null structs keep their own equivalence class") {
    import graft.functions.TermPackExpressions._
    import org.apache.spark.sql.functions
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.BinaryType
    val exotic = db(
      (k("a"), k("p"), s("tab\there\nand \"quotes\" \\ backslash %pct")),
      (TNil, k("p"), s("")),
      (k("b"), k("p"), l(9007199254740993L)),          // exact past 2^53
      (k("c"), k("p"), TDouble(-0.0)),
      (k("z"), k("p"), TDouble(0.0)),                  // ≡ -0.0 as a struct key
      (k("z"), k("p"), TDouble(-0.0)),
      (k("c2"), k("p"), TDouble(1.0 / 3.0)),           // full mantissa
      (k("d"), k("p"), TLangString("héllo 😀 astral", "de")),
      (k("e"), k("p"), TTyped("foo>bar", "http://some/data type")),
      (k("f"), k("p"), TDate("2024-02-29T00:00:00")),
      (k("g"), k("p"), Term.opaque("pt", Array[Byte](0, 127, -128))),
      (k("h"), k("p"), TBool(true)),
      (TUri("http://absolute/iri?x=1"), k("p"), TUri("relative/row 7")))
    val rt = TripleDb(exotic.df.select(
      unpackTermAt(packTerms(col("s"), col("o")), 0).as("s"),
      col("p"),
      unpackTermAt(packTerms(col("s"), col("o")), 1).as("o")))
    assert(rt.triples.toSet == exotic.triples.toSet)
    // dedup on (p, packed(s,o)) ≡ dedup on the three structs — the
    // injectivity that licenses the narrow entailment exchange key
    val dup = exotic.df.unionByName(exotic.df)
    assert(dup.select(col("p"), packTerms(col("s"), col("o")).as("k"))
      .distinct().count() ==
      dup.dropDuplicates("s", "p", "o").count())
    // null struct packs to its own marker and unpacks to null
    val nr = exotic.df.limit(1).select(
      unpackTermAt(packTerms(
        functions.lit(null).cast(Term.schema), col("o")), 0).as("n"),
      unpackTermAt(packTerms(
        functions.lit(null).cast(Term.schema), col("o")), 1).as("o2"),
      col("o")).head()
    assert(nr.isNullAt(0))
    assert(nr.getStruct(1) == nr.getStruct(2))
    // an index past the packed terms is a clear out-of-range error
    val one = TermsPack(Seq(Literal.create(null, Term.schema))).eval()
    val oob = intercept[IllegalArgumentException](
      TermUnpackAt(Literal(one, BinaryType), 1).eval())
    assert(oob.getMessage == "index 1 out of range for packed terms (1 present)")
  }
}
