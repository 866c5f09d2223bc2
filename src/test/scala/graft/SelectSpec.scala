package graft

import graft.api.Matcha
import graft.core.TripleDb
import graft.core.Term._
import graft.dsl._
import graft.engine.Projections

/** Ports of the reference's select tests (alpha_test.clj:47-113,
  * 211-231, 253-264, 362-398) as multiset comparisons.
  */
class SelectSpec extends GraftSpec {

  test("select arity-1 projects all vars; 1-var unwraps to scalar (T:54-57)") {
    val r = Matcha.select(Seq(pat(T(rick), T(label), ?("name"))), friends)
    assert(r == Seq(s("Rick")))
  }

  test("select 2-pattern join: rick knows (T:58-65)") {
    val r = Matcha.select(Seq(?("name")), Seq(
      pat(T(rick), T(knows), ?("p2")),
      pat(?("p2"), T(label), ?("name"))), friends)
    assert(r.toSet == Set(s("Martin"), s("Katie")))
  }

  test("select 2-var: katie knows (T:66-72)") {
    val r = resultSet(friends, Seq(?("p2"), ?("name")), Seq(
      pat(T(katie), T(knows), ?("p2")),
      pat(?("p2"), T(label), ?("name"))))
    assert(r == Set(Seq(julie, s("Julie"))))
  }

  test("friend of friend is a 2-hop self-join (T:74-81)") {
    val r = resultSet(friends, Seq(?("p1"), ?("p2"), ?("p3")), Seq(
      pat(?("p1"), T(knows), ?("p2")),
      pat(?("p2"), T(knows), ?("p3"))))
    assert(r == Set(Seq(rick, katie, julie)))
  }

  test("select-1 returns one solution from the solution set (T:83-113)") {
    val r = Projections.select1(friends, Seq(
      pat(T(rick), T(knows), ?("p2")),
      pat(?("p2"), T(label), ?("name"))), Seq(?("name")))
    assert(r.isDefined && Set(Seq(s("Martin")), Seq(s("Katie"))).contains(r.get))
  }

  test("select-1 on an empty match returns None") {
    val r = Projections.select1(friends, Seq(
      pat(T(julie), T(knows), ?("p2"))), Seq(?("p2")))
    assert(r.isEmpty)
  }

  test("bag semantics: duplicate solutions are not deduped (SURVEY §2.2)") {
    val d = db(
      (k("a"), k("cat"), s("x")),
      (k("b"), k("cat"), s("x")))
    val r = bag(d, Seq(?("v")), Seq(pat(?("o"), T(k("cat")), ?("v"))))
    assert(r == Map(Seq(s("x")) -> 2))
  }

  test("repeated var within a pattern is an intra-row equality filter") {
    val d = db(
      (k("a"), k("likes"), k("a")),
      (k("a"), k("likes"), k("b")))
    val r = resultSet(d, Seq(?("x")), Seq(pat(?("x"), k("likes"), ?("x"))))
    assert(r == Set(Seq(k("a"))))
  }

  test("fully-ground pattern acts as an existence gate") {
    val d = db((k("a"), k("b"), k("c")), (k("x"), k("y"), k("z")))
    val hit = resultSet(d, Seq(?("s")), Seq(
      pat(?("s"), k("y"), k("z")),
      pat(k("a"), k("b"), k("c"))))
    assert(hit == Set(Seq(k("x"))))
    val miss = resultSet(d, Seq(?("s")), Seq(
      pat(?("s"), k("y"), k("z")),
      pat(k("a"), k("b"), k("nope"))))
    assert(miss.isEmpty)
  }

  test("projecting a var bound by no pattern yields unbound (null) — T:792") {
    val r = Projections.select(friends, Seq(pat(T(rick), T(label), ?("name"))),
      Seq(?("name"), ?("nope")))
    assert(r == Seq(Seq(s("Rick"), null)))
  }

  test("empty BGP throws InvalidBgp") {
    intercept[InvalidBgp] { Projections.select(friends, Seq.empty) }
  }

  test("prepared-fn arity ≡ immediate arity for every query type (T:362-398)") {
    val bgp = Seq(pat(T(rick), T(knows), ?("p")), pat(?("p"), T(label), ?("name")))
    assert(Matcha.select(Seq(?("name")), bgp)(friends).toSet ==
      Matcha.select(Seq(?("name")), bgp, friends).toSet)
    assert(Matcha.ask(bgp)(friends) == Matcha.ask(bgp, friends))
    assert(Matcha.construct(Map(k("knows") -> ?("name")), bgp)(friends).toSet ==
      Matcha.construct(Map(k("knows") -> ?("name")), bgp, friends).toSet)
    assert(Matcha.build(?("s2"), Map(k("n") -> ?("name")),
        Seq(pat(?("s2"), T(label), ?("name"))))(friends).toSet ==
      Matcha.build(?("s2"), Map(k("n") -> ?("name")),
        Seq(pat(?("s2"), T(label), ?("name"))), friends).toSet)
  }

  test("ask true/false (T:339-360) with no-qvar ground ask") {
    assert(Matcha.ask(Seq(pat(T(rick), T(knows), ?("p"))), friends))
    assert(!Matcha.ask(Seq(pat(T(julie), T(knows), ?("p"))), friends))
    assert(Matcha.ask(Seq(pat(T(rick), T(knows), T(martin))), friends))
  }

  test("negation: NOT EXISTS filters by correlation, MINUS removes " +
      "join-compatible solutions, no-shared-var divergence (SPARQL §8)") {
    // labeled people who know NOBODY: martin and julie
    assert(resultSet(friends, Seq(?("p")), Seq(
      pat(?("p"), T(label), ?("n")),
      NotExists(Seq(pat(?("p"), T(knows), ?("x")))))) ==
      Set(Seq(martin), Seq(julie)))
    // MINUS with shared var: identical removal here
    assert(resultSet(friends, Seq(?("p")), Seq(
      pat(?("p"), T(label), ?("n")),
      Minus(Seq(pat(?("p"), T(knows), ?("x")))))) ==
      Set(Seq(martin), Seq(julie)))
    // the §8.3 divergence: NO shared variables — NOT EXISTS empties
    // (the inner group matches SOMETHING), MINUS removes nothing
    assert(resultSet(friends, Seq(?("p")), Seq(
      pat(?("p"), T(label), ?("n")),
      NotExists(Seq(pat(?("z"), T(knows), ?("w")))))) ==
      Set.empty[Seq[graft.core.Term]])
    assert(resultSet(friends, Seq(?("p")), Seq(
      pat(?("p"), T(label), ?("n")),
      Minus(Seq(pat(?("z"), T(knows), ?("w")))))).size == 4)
    // inner group that matches nothing: both keep everything
    assert(resultSet(friends, Seq(?("p")), Seq(
      pat(?("p"), T(label), ?("n")),
      NotExists(Seq(pat(?("p"), T(k("hates")), ?("x")))))).size == 4)
    // negation composes with paths: reachable-from-rick people who
    // know nobody = martin and julie (katie knows julie)
    assert(resultSet(friends, Seq(?("p")), Seq(
      PathPattern(T(rick), PathPlus(knows), ?("p")),
      NotExists(Seq(pat(?("p"), T(knows), ?("x")))))) ==
      Set(Seq(martin), Seq(julie)))
    // negation-only queries refuse loudly
    intercept[InvalidBgp] {
      Projections.selectDf(friends,
        Seq(NotExists(Seq(pat(?("a"), T(knows), ?("b"))))), Nil)
    }
    // negation INSIDE an optional group: the group's own required
    // rows anchor it — "optionally, a friend who knows nobody":
    // rick keeps martin (not katie — she knows julie), katie keeps
    // julie; the friendless get NULL
    assert(resultSet(friends, Seq(?("p"), ?("f")), Seq(
      pat(?("p"), T(label), ?("n")),
      Optional(Seq(
        pat(?("p"), T(knows), ?("f")),
        NotExists(Seq(pat(?("f"), T(knows), ?("x")))))))) ==
      Set(Seq(rick, martin), Seq(katie, julie),
        Seq(martin, null), Seq(julie, null)))
    // dict store runs the same anti-join fold
    val dd = friends.dictEncode()
    try {
      val got = Projections.selectDf(dd, Seq(
        pat(?("p"), T(label), ?("n")),
        NotExists(Seq(pat(?("p"), T(knows), ?("x"))))), Seq(?("p")))
        .collect().toSeq.map(r => fromRow(r.getStruct(0))).toSet
      assert(got == Set(martin, julie))
    } finally dd.unpersist()
  }

  test("FILTER comparisons: numeric promotion, EXACT int64 past 2^53, " +
      "strings, dates, incomparable-kind removal; dict dict-side filter") {
    val price = k("price"); val when_ = k("when")
    val big = 9007199254740993L // 2^53 + 1: double-indistinguishable
    val d = db(
      (k("a"), price, TLong(5)),
      (k("b"), price, TDouble(2.5)),
      (k("c"), price, TLong(big)),
      (k("d"), price, s("not-a-number")),
      (k("a"), when_, TDate("2020-01-05")),
      (k("b"), when_, TDate("2021-06-01")))
    def q(rows: PatternRow*): Set[Seq[graft.core.Term]] =
      resultSet(d, Seq(?("s")), rows)
    // numeric family: the string row is incomparable and drops
    assert(q(pat(?("s"), T(price), ?("p")),
      FilterCmp(?("p"), Gt, TLong(3))) == Set(Seq(k("a")), Seq(k("c"))))
    // EXACT int64: 2^53+1 > 2^53 is true on longs, false on doubles
    assert(q(pat(?("s"), T(price), ?("p")),
      FilterCmp(?("p"), Gt, TLong(big - 1))) == Set(Seq(k("c"))))
    // double constant compares the numeric family
    assert(q(pat(?("s"), T(price), ?("p")),
      FilterCmp(?("p"), Lt, TDouble(3.0))) == Set(Seq(k("b"))))
    // Neq within the comparable family only
    assert(q(pat(?("s"), T(price), ?("p")),
      FilterCmp(?("p"), Neq, TLong(5))) == Set(Seq(k("b")), Seq(k("c"))))
    // strings by binary order
    assert(q(pat(?("s"), T(price), ?("p")),
      FilterCmp(?("p"), Lt, s("zzz"))) == Set(Seq(k("d"))))
    // dates by canonical ISO order
    assert(q(pat(?("s"), T(when_), ?("t")),
      FilterCmp(?("t"), Lt, TDate("2021-01-01"))) == Set(Seq(k("a"))))
    // unbound-var filter = SPARQL error: everything removed
    assert(q(pat(?("s"), T(price), ?("p")),
      FilterCmp(?("nope"), Gt, TLong(0))) == Set.empty[Seq[graft.core.Term]])
    // filter-only queries refuse loudly
    intercept[InvalidBgp] {
      Projections.selectDf(d, Seq(FilterCmp(?("p"), Gt, TLong(0))), Nil)
    }
    // dict store: the predicate runs over the DICT and semi-joins ids
    val dd = d.dictEncode()
    try {
      val got = Projections.selectDf(dd, Seq(
        pat(?("s"), T(price), ?("p")),
        FilterCmp(?("p"), Gt, TLong(big - 1))), Seq(?("s")))
        .collect().toSeq.map(r => fromRow(r.getStruct(0))).toSet
      assert(got == Set(k("c")))
    } finally dd.unpersist()
  }

  test("FILTER var-var comparisons: per-row family, exact int64 pairs, " +
      "cross-family removal, dict double-rehydration") {
    val price = k("price")
    val big = 9007199254740993L
    val d = db(
      (k("a"), price, TLong(5)),
      (k("b"), price, TDouble(2.5)),
      (k("c"), price, TLong(big)),
      (k("e"), price, TLong(big - 1)),
      (k("d"), price, s("not-a-number")))
    val got = resultSet(d, Seq(?("x"), ?("y")), Seq(
      pat(?("x"), T(price), ?("p1")),
      pat(?("y"), T(price), ?("p2")),
      FilterVarCmp(?("p1"), Lt, ?("p2"))))
    // numeric pairs ordered; (e, c) holds ONLY under exact int64
    // (their doubles are equal); string rows drop from every pair
    assert(got == Set(
      Seq(k("b"), k("a")), Seq(k("b"), k("c")), Seq(k("b"), k("e")),
      Seq(k("a"), k("c")), Seq(k("a"), k("e")), Seq(k("e"), k("c"))))
    // dict store: both sides rehydrate from the dict, same pairs
    val dd = d.dictEncode()
    try {
      val dictGot = Projections.selectDf(dd, Seq(
        pat(?("x"), T(price), ?("p1")),
        pat(?("y"), T(price), ?("p2")),
        FilterVarCmp(?("p1"), Lt, ?("p2"))), Seq(?("x"), ?("y")))
        .collect().toSeq
        .map(r => (fromRow(r.getStruct(0)), fromRow(r.getStruct(1)))).toSet
      assert(dictGot == Set(
        (k("b"), k("a")), (k("b"), k("c")), (k("b"), k("e")),
        (k("a"), k("c")), (k("a"), k("e")), (k("e"), k("c"))))
    } finally dd.unpersist()
  }

  test("dict FILTER over values-GENERATED terms: the dictionary never " +
      "issued their ids, so the filter dict is dict ∪ values terms " +
      "(fuzzer counterexample, round 10)") {
    // db contains "y" but NOT 2.5 — both come from the generators
    val d = db(
      (k("c"), k("q"), k("a")),
      (k("a"), k("q"), s("y")))
    val query = Seq(
      Values(?("v1"), Seq(TLong(1), s("y"), TDouble(2.5))),
      Values(?("v2"), Seq(s("y"), TDouble(2.5),
        graft.core.Term.opaque("blob", Array[Byte](1, 2)))),
      FilterVarCmp(?("v1"), Ge, ?("v2")))
    val expected = Set(
      (s("y"), s("y")), (TDouble(2.5), TDouble(2.5)))
    // struct path
    val structGot = resultSet(d, Seq(?("v1"), ?("v2")), query)
      .map(r => (r.head, r(1)))
    assert(structGot == expected)
    // dict path: 2.5's id exists only through the generator
    val dd = d.dictEncode()
    try {
      val got = Projections.selectDf(dd, query, Seq(?("v1"), ?("v2")))
        .collect().toSeq
        .map(r => (fromRow(r.getStruct(0)), fromRow(r.getStruct(1)))).toSet
      assert(got == expected)
      // constant form too: > 2.0 keeps the generated 2.5
      val got2 = Projections.selectDf(dd, Seq(
        Values(?("v1"), Seq(TLong(1), TDouble(2.5))),
        FilterCmp(?("v1"), Gt, TDouble(2.0))), Seq(?("v1")))
        .collect().toSeq.map(r => fromRow(r.getStruct(0))).toSet
      assert(got2 == Set[graft.core.Term](TDouble(2.5)))
    } finally dd.unpersist()
  }

  test("FILTER scoping (SPARQL §18.5): inside an optional it restricts " +
      "which rows EXTEND; outside it removes extended solutions per row") {
    val price = k("price"); val has = k("has")
    val d = db(
      (k("a"), label, s("A")), (k("b"), label, s("B")),
      (k("c"), label, s("C")),
      (k("a"), has, k("i1")), (k("i1"), price, TLong(10)),
      (k("b"), has, k("i2")), (k("i2"), price, TLong(1)))
    // inside: a keeps its match, b's item fails the filter so b stays
    // with NULLs, c never matched — stays with NULLs
    val inside = resultSet(d, Seq(?("s"), ?("p")), Seq(
      pat(?("s"), T(label), ?("n")),
      Optional(Seq(
        pat(?("s"), T(has), ?("i")),
        pat(?("i"), T(price), ?("p")),
        FilterCmp(?("p"), Gt, TLong(5))))))
    assert(inside == Set(
      Seq(k("a"), TLong(10)), Seq(k("b"), null), Seq(k("c"), null)))
    // outside: evaluated AFTER the optional fold per row — b's bound 1
    // fails, c's UNBOUND p is a type error; both rows removed
    val outside = resultSet(d, Seq(?("s"), ?("p")), Seq(
      pat(?("s"), T(label), ?("n")),
      Optional(Seq(
        pat(?("s"), T(has), ?("i")),
        pat(?("i"), T(price), ?("p")))),
      FilterCmp(?("p"), Gt, TLong(5))))
    assert(outside == Set(Seq(k("a"), TLong(10))))
    // dict store: identical scoping through the same compiler
    val dd = d.dictEncode()
    try {
      def run(rows: Seq[PatternRow]) =
        Projections.selectDf(dd, rows, Seq(?("s"), ?("p"))).collect().toSeq
          .map(r => (fromRow(r.getStruct(0)),
            if (r.isNullAt(1)) null else fromRow(r.getStruct(1)))).toSet
      assert(run(Seq(
        pat(?("s"), T(label), ?("n")),
        Optional(Seq(
          pat(?("s"), T(has), ?("i")),
          pat(?("i"), T(price), ?("p")),
          FilterCmp(?("p"), Gt, TLong(5)))))) == Set(
        (k("a"), TLong(10)), (k("b"), null), (k("c"), null)))
      assert(run(Seq(
        pat(?("s"), T(label), ?("n")),
        Optional(Seq(
          pat(?("s"), T(has), ?("i")),
          pat(?("i"), T(price), ?("p")))),
        FilterCmp(?("p"), Gt, TLong(5)))) == Set(
        (k("a"), TLong(10))))
    } finally dd.unpersist()
  }

  test("BOUND / boolean composition: !BOUND negation-as-failure, " +
      "!BOUND||cmp default-value idiom, OR rescues a type error, " +
      "NOT propagates it") {
    val price = k("price"); val has = k("has")
    val d = db(
      (k("a"), label, s("A")), (k("b"), label, s("B")),
      (k("c"), label, s("C")), (k("e"), label, s("E")),
      (k("a"), has, k("i1")), (k("i1"), price, TLong(10)),
      (k("b"), has, k("i2")), (k("i2"), price, TLong(1)),
      (k("e"), has, k("i3")), (k("i3"), price, s("NaN")))
    val base: Seq[PatternRow] = Seq(
      pat(?("s"), T(label), ?("n")),
      Optional(Seq(
        pat(?("s"), T(has), ?("i")),
        pat(?("i"), T(price), ?("p")))))
    def q(extra: PatternRow*) =
      resultSet(d, Seq(?("s")), base ++ extra)
    // negation-as-failure: only the subject with NO price row
    assert(q(FilterNot(FilterBound(?("p")))) == Set(Seq(k("c"))))
    // default-value idiom: unmatched OR clears threshold; e's string
    // price is an error on the cmp side but BOUND(p)=true, so
    // !BOUND=false OR error = error → removed (correct §17.2 table)
    assert(q(FilterOr(Seq(
      FilterNot(FilterBound(?("p"))),
      FilterCmp(?("p"), Gt, TLong(5))))) == Set(Seq(k("c")), Seq(k("a"))))
    // NOT of a cross-family comparison stays an error: e removed, not
    // rescued (NOT error = error)
    assert(q(FilterNot(FilterCmp(?("p"), Gt, TLong(5)))) == Set(Seq(k("b"))))
    // AND: false AND error = false — but false still removes; only a
    // true AND true survives
    assert(q(FilterAnd(Seq(
      FilterBound(?("p")),
      FilterCmp(?("p"), Gt, TLong(5))))) == Set(Seq(k("a"))))
    // dict store mirrors all four
    val dd = d.dictEncode()
    try {
      def qd(extra: PatternRow*) =
        Projections.selectDf(dd, base ++ extra, Seq(?("s"))).collect()
          .toSeq.map(r => fromRow(r.getStruct(0))).toSet
      assert(qd(FilterNot(FilterBound(?("p")))) == Set(k("c")))
      assert(qd(FilterOr(Seq(
        FilterNot(FilterBound(?("p"))),
        FilterCmp(?("p"), Gt, TLong(5))))) == Set(k("c"), k("a")))
      assert(qd(FilterNot(FilterCmp(?("p"), Gt, TLong(5)))) == Set(k("b")))
      assert(qd(FilterAnd(Seq(
        FilterBound(?("p")),
        FilterCmp(?("p"), Gt, TLong(5))))) == Set(k("a")))
    } finally dd.unpersist()
  }

  test("FILTER regex: unanchored Java find over string terms; " +
      "non-string kinds are type errors; dict dictionary-side eval") {
    val d = db(
      (k("a"), label, s("Rick Sanchez")),
      (k("b"), label, s("Morty")),
      (k("c"), label, TLong(42)))
    def q(p: String) = resultSet(d, Seq(?("s")), Seq(
      pat(?("s"), T(label), ?("n")),
      FilterRegex(?("n"), p)))
    assert(q("^Rick") == Set(Seq(k("a"))))
    assert(q("o") == Set(Seq(k("b"))))     // unanchored find
    assert(q("[0-9]") == Set.empty[Seq[graft.core.Term]]) // 42 is KLong: error
    val dd = d.dictEncode()
    try {
      val got = Projections.selectDf(dd, Seq(
        pat(?("s"), T(label), ?("n")),
        FilterRegex(?("n"), "t")), Seq(?("s")))
        .collect().toSeq.map(r => fromRow(r.getStruct(0))).toSet
      assert(got == Set(k("b"))) // "Morty"; "Rick Sanchez" has no t? — has none
    } finally dd.unpersist()
  }

  test("solution modifiers: canonical total order (kind-grouped, " +
      "numeric by value, unbound first), desc, LIMIT/OFFSET, DISTINCT; " +
      "dict store composes") {
    val price = k("price")
    val d = db(
      (k("a"), price, TLong(5)),
      (k("b"), price, TDouble(2.5)),
      (k("c"), price, TLong(30)),
      (k("d"), price, s("zz")),
      (k("e"), price, s("aa")))
    def ordered(asc: Boolean, limit: Int = -1, offset: Int = 0) =
      Projections.modified(
        Projections.selectDf(d, Seq(pat(?("x"), T(price), ?("p"))),
          Seq(?("p"))),
        Seq(OrderKey(?("p"), asc)), limit = limit, offset = offset)
        .collect().toSeq.map(r => fromRow(r.getStruct(0)))
    // kinds group (KLong=4 < KString=... per kind ids); numerics by
    // VALUE across long/double (same kind? no — KLong vs KDouble
    // differ, so kind groups first: all longs, then doubles, then
    // strings — deterministic, documented kind-grouped order)
    val asc = ordered(asc = true)
    assert(asc.indexOf(TLong(5)) < asc.indexOf(TLong(30)), "long order")
    assert(asc.indexOf(s("aa")) < asc.indexOf(s("zz")), "string order")
    assert(ordered(asc = false) == asc.reverse, "desc inverts totally")
    assert(ordered(asc = true, limit = 2) == asc.take(2))
    assert(ordered(asc = true, limit = 2, offset = 1) == asc.slice(1, 3))
    // unbound (NULL term) sorts FIRST ascending (SPARQL §15.1)
    val dOpt = db(
      (k("a"), k("lab"), s("A")), (k("b"), k("lab"), s("B")),
      (k("a"), price, TLong(9)))
    val withNull = Projections.modified(
      Projections.selectDf(dOpt, Seq(
        pat(?("x"), T(k("lab")), ?("n")),
        Optional(Seq(pat(?("x"), T(price), ?("p"))))), Seq(?("p"))),
      Seq(OrderKey(?("p"))))
      .collect().toSeq.map(r => if (r.isNullAt(0)) null else fromRow(r.getStruct(0)))
    assert(withNull == Seq(null, TLong(9)))
    // DISTINCT dedupes solutions (bag default keeps both)
    val dupDb = db(
      (k("a"), k("cat"), s("x")), (k("b"), k("cat"), s("x")))
    val sols = Projections.selectDf(dupDb,
      Seq(pat(?("o"), T(k("cat")), ?("v"))), Seq(?("v")))
    assert(sols.count() == 2)
    assert(Projections.modified(sols, distinct = true).count() == 1)
    // unprojected order var refuses loudly
    intercept[InvalidBgp] {
      Projections.modified(sols, Seq(OrderKey(?("nope"))))
    }
    // |v| > 2^53: the double num collides, and the raw lexical
    // tie-break mis-ordered same-sign values (round-12 advice) — the
    // int64 tie field restores exact numeric order
    val big = db(
      (k("h1"), price, TLong(-9007199254740995L)),
      (k("h2"), price, TLong(-9007199254740993L)),
      (k("h3"), price, TLong(9007199254740993L)),
      (k("h4"), price, TLong(9007199254740995L)))
    val bigAsc = Projections.modified(
      Projections.selectDf(big, Seq(pat(?("x"), T(price), ?("p"))),
        Seq(?("p"))),
      Seq(OrderKey(?("p"))))
      .collect().toSeq.map(r => fromRow(r.getStruct(0)))
    assert(bigAsc == Seq(TLong(-9007199254740995L), TLong(-9007199254740993L),
      TLong(9007199254740993L), TLong(9007199254740995L)))
    // dict store: modifiers act on the DECODED frame — same answer
    val dd = d.dictEncode()
    try {
      val got = Projections.modified(
        Projections.selectDf(dd, Seq(pat(?("x"), T(price), ?("p"))),
          Seq(?("p"))),
        Seq(OrderKey(?("p"))), limit = 2)
        .collect().toSeq.map(r => fromRow(r.getStruct(0)))
      assert(got == asc.take(2))
    } finally dd.unpersist()
  }

  test("dict var-var filter pairs plan ≡ struct TripleDb result on the same data") {
    val price = k("price")
    val d = db(
      (k("a"), price, TLong(5)), (k("b"), price, TDouble(2.5)),
      (k("c"), price, TLong(9)), (k("d"), price, s("x")))
    val q = Seq(
      pat(?("x"), T(price), ?("p1")),
      pat(?("y"), T(price), ?("p2")),
      FilterVarCmp(?("p1"), Lt, ?("p2")))
    def bagOf(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq
      .map(r => (fromRow(r.getStruct(0)), fromRow(r.getStruct(1))))
      .groupBy(identity).map { case (t, n) => t -> n.size }
    val vars = Seq(?("x"), ?("y"))
    val dd = d.dictEncode()
    try {
      val pairsPlan = bagOf(Projections.selectDf(dd, q, vars))
      assert(pairsPlan == bagOf(Projections.selectDf(d, q, vars)) &&
        pairsPlan.nonEmpty)
    } finally dd.unpersist()
  }

  test("multi-var VALUES (SPARQL §10.2): inline multiset, UNDEF " +
      "compatibility, bag duplicates, UNDEF × single-var Values " +
      "join (fuzzer counterexample), dict leg") {
    val price = k("price")
    val d = db(
      (k("a"), price, TLong(5)),
      (k("b"), price, TLong(7)),
      (k("c"), price, TLong(9)))
    // table constrains a pattern: (a,5) matches row1; UNDEF price
    // row matches c with ANY price; b matches nothing
    val got = resultSet(d, Seq(?("x"), ?("p")), Seq(
      pat(?("x"), T(price), ?("p")),
      ValuesTable(Seq(?("x"), ?("p")), Seq(
        Seq(Some(k("a")), Some(TLong(5))),
        Seq(Some(k("c")), None)))))
    assert(got == Set(Seq(k("a"), TLong(5)), Seq(k("c"), TLong(9))))
    // table-only query IS the inline multiset; UNDEF stays unbound;
    // duplicate rows keep bag multiplicity
    val bagGot = bag(d, Seq(?("u"), ?("w")), Seq(
      ValuesTable(Seq(?("u"), ?("w")), Seq(
        Seq(Some(s("m")), None),
        Seq(Some(s("m")), None),
        Seq(Some(s("n")), Some(TLong(1)))))))
    assert(bagGot == Map(
      Seq(s("m"), null) -> 2, Seq(s("n"), TLong(1)) -> 1))
    // the round-11 fuzzer catch: an UNDEF cell leaves the column NULL
    // per row, and a single-var Values on that var must
    // compatibility-JOIN (null row binds each element), never filter
    // the null away
    val undefJoin = bag(d, Seq(?("u"), ?("w")), Seq(
      ValuesTable(Seq(?("u"), ?("w")), Seq(
        Seq(Some(s("m")), None),
        Seq(Some(s("n")), Some(TLong(1))))),
      Values(?("w"), Seq(TLong(1), TLong(2), TLong(1)))))
    assert(undefJoin == Map(
      Seq(s("m"), TLong(1)) -> 2, // null row × each coll copy
      Seq(s("m"), TLong(2)) -> 1,
      Seq(s("n"), TLong(1)) -> 2)) // bound row × two equal copies
    // dict store: cells encode as ids, decode rehydrates (extraTerms)
    val dd = d.dictEncode()
    try {
      val dictGot = Projections.selectDf(dd, Seq(
        pat(?("x"), T(price), ?("p")),
        ValuesTable(Seq(?("x"), ?("p")), Seq(
          Seq(Some(k("a")), Some(TLong(5))),
          Seq(Some(k("c")), None)))), Seq(?("x"), ?("p")))
        .collect().toSeq
        .map(r => (fromRow(r.getStruct(0)), fromRow(r.getStruct(1)))).toSet
      assert(dictGot == Set((k("a"), TLong(5)), (k("c"), TLong(9))))
    } finally dd.unpersist()
    // arity/distinct validation is loud
    intercept[InvalidValues] {
      ValuesTable(Seq(?("x"), ?("x")), Seq(Seq(Some(TLong(1)), None)))
    }
    intercept[InvalidValues] {
      ValuesTable(Seq(?("x")), Seq(Seq(Some(TLong(1)), Some(TLong(2)))))
    }
  }

  test("§17.4 function library: STR/LANG/DATATYPE dispatch + domain " +
      "errors, SUBSTR/UCASE preserve lang tags, CONCAT strings-only, " +
      "IF error-condition, COALESCE default idiom, IN sugar") {
    val lab = k("label"); val amt = k("amt")
    val d = db(
      (k("a"), lab, TLangString("Hallo", "de")),
      (k("b"), lab, s("plain")),
      (k("c"), lab, TTyped("42", "http://www.w3.org/2001/XMLSchema#byte")),
      (k("d"), lab, TDouble(1.5)), // STR/strfns error on doubles (no lex)
      (k("a"), amt, TLong(5)))
    def one(e: TermExpr): Map[Seq[graft.core.Term], Int] =
      bag(d, Seq(?("x"), ?("r")), Seq(
        pat(?("x"), T(lab), ?("l")),
        Bind(e, ?("r"))))
    // STR: lexical form; doubles have no canonical lexical → unbound
    assert(one(TStr(TVar(?("l")))) == Map(
      Seq(k("a"), s("Hallo")) -> 1, Seq(k("b"), s("plain")) -> 1,
      Seq(k("c"), s("42")) -> 1, Seq(k("d"), null) -> 1))
    // LANG: tag, "" for plain/typed literals and value kinds
    assert(one(TLang(TVar(?("l")))) == Map(
      Seq(k("a"), s("de")) -> 1, Seq(k("b"), s("")) -> 1,
      Seq(k("c"), s("")) -> 1, Seq(k("d"), s("")) -> 1))
    // DATATYPE as URI terms
    val xsd = "http://www.w3.org/2001/XMLSchema#"
    assert(one(TDatatype(TVar(?("l")))) == Map(
      Seq(k("a"), TUri("http://www.w3.org/1999/02/22-rdf-syntax-ns#langString")) -> 1,
      Seq(k("b"), TUri(xsd + "string")) -> 1,
      Seq(k("c"), TUri(xsd + "byte")) -> 1,
      Seq(k("d"), TUri(xsd + "double")) -> 1))
    // SUBSTR keeps the language tag; STRLEN counts characters; UCASE
    assert(one(TSubstr(TVar(?("l")), 1, Some(2))) == Map(
      Seq(k("a"), TLangString("Ha", "de")) -> 1,
      Seq(k("b"), s("pl")) -> 1,
      Seq(k("c"), null) -> 1, Seq(k("d"), null) -> 1))
    assert(one(TStrlen(TVar(?("l")))) == Map(
      Seq(k("a"), TLong(5)) -> 1, Seq(k("b"), TLong(5)) -> 1,
      Seq(k("c"), null) -> 1, Seq(k("d"), null) -> 1))
    assert(one(TUcase(TVar(?("l")))) == Map(
      Seq(k("a"), TLangString("HALLO", "de")) -> 1,
      Seq(k("b"), s("PLAIN")) -> 1,
      Seq(k("c"), null) -> 1, Seq(k("d"), null) -> 1))
    // CONCAT: all-plain-string domain (lang-string participant = error)
    assert(one(TConcat(Seq(TConst(s("v=")), TStr(TVar(?("l")))))) == Map(
      Seq(k("a"), s("v=Hallo")) -> 1, Seq(k("b"), s("v=plain")) -> 1,
      Seq(k("c"), s("v=42")) -> 1, Seq(k("d"), null) -> 1))
    assert(one(TConcat(Seq(TConst(s("v=")), TVar(?("l"))))) == Map(
      Seq(k("a"), null) -> 1, Seq(k("b"), s("v=plain")) -> 1,
      Seq(k("c"), null) -> 1, Seq(k("d"), null) -> 1))
    // IF: three-valued condition — an ERROR condition is an error
    // (?m is bound only for a, so the comparison errors elsewhere)
    val ifE = bag(d, Seq(?("x"), ?("r")), Seq(
      pat(?("x"), T(lab), ?("l")),
      Optional(Seq(pat(?("x"), T(amt), ?("m")))),
      Bind(TIf(FilterCmp(?("m"), Gt, TLong(3)),
        TConst(s("big")), TConst(s("small"))), ?("r"))))
    assert(ifE == Map(
      Seq(k("a"), s("big")) -> 1,
      Seq(k("b"), null) -> 1, Seq(k("c"), null) -> 1,
      Seq(k("d"), null) -> 1))
    // COALESCE rescues the error/unbound to the default
    val coal = bag(d, Seq(?("x"), ?("r")), Seq(
      pat(?("x"), T(lab), ?("l")),
      Optional(Seq(pat(?("x"), T(amt), ?("m")))),
      Bind(TCoalesce(Seq(NVar(?("m")), NConst(TLong(0)))), ?("r"))))
    assert(coal == Map(
      Seq(k("a"), TLong(5)) -> 1,
      Seq(k("b"), TLong(0)) -> 1, Seq(k("c"), TLong(0)) -> 1,
      Seq(k("d"), TLong(0)) -> 1))
    // STRBEFORE/STRAFTER: the tag rides a MATCH, a MISS is the PLAIN
    // empty string (the spec's asymmetry); empty needle matches at 0;
    // REPLACE preserves the tag, literal replacement only
    assert(one(TStrBefore(TVar(?("l")), TConst(s("l")))) == Map(
      Seq(k("a"), TLangString("Ha", "de")) -> 1, // match keeps @de
      Seq(k("b"), s("p")) -> 1,
      Seq(k("c"), null) -> 1, Seq(k("d"), null) -> 1))
    assert(one(TStrAfter(TVar(?("l")), TConst(s("zzz")))) == Map(
      Seq(k("a"), s("")) -> 1, // miss: PLAIN "" even for "Hallo"@de
      Seq(k("b"), s("")) -> 1,
      Seq(k("c"), null) -> 1, Seq(k("d"), null) -> 1))
    assert(one(TStrAfter(TVar(?("l")), TConst(s("")))) == Map(
      Seq(k("a"), TLangString("Hallo", "de")) -> 1, // empty needle: whole
      Seq(k("b"), s("plain")) -> 1,
      Seq(k("c"), null) -> 1, Seq(k("d"), null) -> 1))
    assert(one(TReplace(TVar(?("l")), "[al]", "_")) == Map(
      Seq(k("a"), TLangString("H___o", "de")) -> 1,
      Seq(k("b"), s("p__in")) -> 1,
      Seq(k("c"), null) -> 1, Seq(k("d"), null) -> 1))
    intercept[IllegalArgumentException](TReplace(TVar(?("l")), "x", "$1"))
    // STRSTARTS/CONTAINS domains; IN = Eq OR-chain
    val sw = bag(d, Seq(?("x")), Seq(
      pat(?("x"), T(lab), ?("l")),
      FilterStrStarts(TVar(?("l")), TConst(s("Ha")))))
    assert(sw == Map(Seq(k("a")) -> 1)) // lang-string arg1 is legal
    val inQ = bag(d, Seq(?("x")), Seq(
      pat(?("x"), T(lab), ?("l")),
      FilterIn(?("l"), Seq(s("plain"), s("nope")))))
    assert(inQ == Map(Seq(k("b")) -> 1))
    // dict leg: UCASE equality runs the dictionary fast path; a
    // COALESCE filter must NOT take it (it can be true on unbound)
    val dd = db(
      (k("a"), lab, s("hey")), (k("b"), lab, s("HEY")),
      (k("a"), amt, TLong(1))).dictEncode()
    try {
      def dsel(rows: Seq[PatternRow]): Set[graft.core.Term] =
        Projections.selectDf(dd, rows, Seq(?("x")))
          .collect().toSeq.map(r => fromRow(r.getStruct(0))).toSet
      assert(dsel(Seq(
        pat(?("x"), T(lab), ?("l")),
        FilterArith(TUcase(TVar(?("l"))), Eq, TConst(s("HEY"))))) ==
        Set(k("a"), k("b")))
      assert(dsel(Seq(
        pat(?("x"), T(lab), ?("l")),
        Optional(Seq(pat(?("x"), T(amt), ?("m")))),
        FilterArith(TCoalesce(Seq(NVar(?("m")), NConst(TLong(9)))),
          Gt, NConst(TLong(5))))) ==
        Set(k("b"))) // b's ?m unbound → COALESCE 9 > 5 keeps it; a's 1 drops
    } finally dd.unpersist()
  }

  test("§17.4.5 date accessors + TZ kind table, LANGMATCHES ranges, " +
      "IRI/ENCODE_FOR_URI/BNODE/MD5/SHA256 constructors + domains") {
    val at = k("at"); val lab = k("label")
    val d = db(
      (k("a"), at, TDate("2024-03-07T15:30:45")),
      (k("b"), at, TDate("1995-06-17")),           // date-only: no time part
      (k("c"), at, TDate("2024-03-07T15:30:45+05:30")),
      (k("d"), at, TDate("2024-12-31T23:59:59Z")),
      (k("e"), at, s("2024-03-07")),               // non-date kind: error
      (k("f"), at, TLong(2024)))
    def one(e: TermExpr): Map[Seq[graft.core.Term], Int] =
      bag(d, Seq(?("x"), ?("r")), Seq(
        pat(?("x"), T(at), ?("v")), Bind(e, ?("r"))))
    // YEAR/MONTH/DAY over any canonical date lexical; non-dates error
    assert(one(TDatePart(TVar(?("v")), DfYear)) == Map(
      Seq(k("a"), TLong(2024)) -> 1, Seq(k("b"), TLong(1995)) -> 1,
      Seq(k("c"), TLong(2024)) -> 1, Seq(k("d"), TLong(2024)) -> 1,
      Seq(k("e"), null) -> 1, Seq(k("f"), null) -> 1))
    assert(one(TDatePart(TVar(?("v")), DfMonth)) == Map(
      Seq(k("a"), TLong(3)) -> 1, Seq(k("b"), TLong(6)) -> 1,
      Seq(k("c"), TLong(3)) -> 1, Seq(k("d"), TLong(12)) -> 1,
      Seq(k("e"), null) -> 1, Seq(k("f"), null) -> 1))
    assert(one(TDatePart(TVar(?("v")), DfDay)) == Map(
      Seq(k("a"), TLong(7)) -> 1, Seq(k("b"), TLong(17)) -> 1,
      Seq(k("c"), TLong(7)) -> 1, Seq(k("d"), TLong(31)) -> 1,
      Seq(k("e"), null) -> 1, Seq(k("f"), null) -> 1))
    // HOURS/MINUTES/SECONDS need the time part: date-only is an ERROR
    assert(one(TDatePart(TVar(?("v")), DfHours)) == Map(
      Seq(k("a"), TLong(15)) -> 1, Seq(k("b"), null) -> 1,
      Seq(k("c"), TLong(15)) -> 1, Seq(k("d"), TLong(23)) -> 1,
      Seq(k("e"), null) -> 1, Seq(k("f"), null) -> 1))
    assert(one(TDatePart(TVar(?("v")), DfMinutes)) == Map(
      Seq(k("a"), TLong(30)) -> 1, Seq(k("b"), null) -> 1,
      Seq(k("c"), TLong(30)) -> 1, Seq(k("d"), TLong(59)) -> 1,
      Seq(k("e"), null) -> 1, Seq(k("f"), null) -> 1))
    assert(one(TDatePart(TVar(?("v")), DfSeconds)) == Map(
      Seq(k("a"), TLong(45)) -> 1, Seq(k("b"), null) -> 1,
      Seq(k("c"), TLong(45)) -> 1, Seq(k("d"), TLong(59)) -> 1,
      Seq(k("e"), null) -> 1, Seq(k("f"), null) -> 1))
    // TZ: "" when unzoned, the designator otherwise; non-dates error
    assert(one(TTz(TVar(?("v")))) == Map(
      Seq(k("a"), s("")) -> 1, Seq(k("b"), s("")) -> 1,
      Seq(k("c"), s("+05:30")) -> 1, Seq(k("d"), s("Z")) -> 1,
      Seq(k("e"), null) -> 1, Seq(k("f"), null) -> 1))
    // TIMEZONE (§17.4.5.7): canonical xsd:dayTimeDuration; a MISSING
    // designator is an ERROR (the spec's divergence from TZ)
    val dtd = "http://www.w3.org/2001/XMLSchema#dayTimeDuration"
    assert(one(TTimezone(TVar(?("v")))) == Map(
      Seq(k("a"), null) -> 1, Seq(k("b"), null) -> 1,
      Seq(k("c"), TTyped("PT5H30M", dtd)) -> 1,
      Seq(k("d"), TTyped("PT0S", dtd)) -> 1,
      Seq(k("e"), null) -> 1, Seq(k("f"), null) -> 1))
    // negative offset, minutes-only offset, and ±00:00 → PT0S
    val tzd = db(
      (k("g"), at, TDate("2024-01-01T00:00:00-08:00")),
      (k("h"), at, TDate("2024-01-01T00:00:00-00:30")),
      (k("i"), at, TDate("2024-01-01T00:00:00+00:00")))
    assert(bag(tzd, Seq(?("x"), ?("r")), Seq(
      pat(?("x"), T(at), ?("v")),
      Bind(TTimezone(TVar(?("v"))), ?("r")))) == Map(
      Seq(k("g"), TTyped("-PT8H", dtd)) -> 1,
      Seq(k("h"), TTyped("-PT30M", dtd)) -> 1,
      Seq(k("i"), TTyped("PT0S", dtd)) -> 1))
    // date components compose with the numeric/filter machinery:
    // FILTER(YEAR(?v) = 2024) keeps a, c, d
    assert(bag(d, Seq(?("x")), Seq(
      pat(?("x"), T(at), ?("v")),
      FilterArith(TDatePart(TVar(?("v")), DfYear), Eq,
        NConst(TLong(2024))))) ==
      Map(Seq(k("a")) -> 1, Seq(k("c")) -> 1, Seq(k("d")) -> 1))

    // LANGMATCHES: exact, subtag-prefix, case-insensitive, "*"
    val ld = db(
      (k("x1"), lab, TLangString("colour", "en")),
      (k("x2"), lab, TLangString("color", "en-US")),
      (k("x3"), lab, TLangString("Farbe", "DE")),
      (k("x4"), lab, s("plain")),
      (k("x5"), lab, TLong(7)))
    def lm(range: String): Map[Seq[graft.core.Term], Int] =
      bag(ld, Seq(?("x")), Seq(
        pat(?("x"), T(lab), ?("l")),
        FilterLangMatches(TLang(TVar(?("l"))), range)))
    assert(lm("en") == Map(Seq(k("x1")) -> 1, Seq(k("x2")) -> 1))
    assert(lm("en-us") == Map(Seq(k("x2")) -> 1)) // case-insensitive
    assert(lm("de") == Map(Seq(k("x3")) -> 1))
    // "*": any non-empty tag — plain literal's LANG "" does NOT match;
    // the long's LANG is "" too (not an error) — also out
    assert(lm("*") == Map(Seq(k("x1")) -> 1, Seq(k("x2")) -> 1,
      Seq(k("x3")) -> 1))
    // over a raw var (not LANG): strings only — the lang-string itself
    // is a domain ERROR, not a tag
    assert(bag(ld, Seq(?("x")), Seq(
      pat(?("x"), T(lab), ?("l")),
      FilterLangMatches(TVar(?("l")), "*"))) ==
      Map(Seq(k("x4")) -> 1)) // "plain" is a non-empty plain string
    intercept[IllegalArgumentException](FilterLangMatches(TVar(?("l")), ""))

    // constructors: IRI passthrough/mint, ENCODE_FOR_URI multibyte,
    // BNODE skolem scheme, MD5/SHA256 lowercase hex
    val cd = db(
      (k("y1"), lab, s("ab c/é€")),
      (k("y2"), lab, TUri("urn:x")),
      (k("y3"), lab, TLong(5)))
    def onec(e: TermExpr): Map[Seq[graft.core.Term], Int] =
      bag(cd, Seq(?("x"), ?("r")), Seq(
        pat(?("x"), T(lab), ?("v")), Bind(e, ?("r"))))
    assert(onec(TIri(TVar(?("v")))) == Map(
      Seq(k("y1"), TUri("ab c/é€")) -> 1, // verbatim mint (absolute-IRI contract)
      Seq(k("y2"), TUri("urn:x")) -> 1,   // URI passes through
      Seq(k("y3"), null) -> 1))
    assert(onec(TEncodeForUri(TVar(?("v")))) == Map(
      Seq(k("y1"), s("ab%20c%2F%C3%A9%E2%82%AC")) -> 1, // UTF-8 %XX, uppercase
      Seq(k("y2"), null) -> 1, Seq(k("y3"), null) -> 1))
    assert(onec(TBNode(TVar(?("v")))) == Map(
      Seq(k("y1"), TUri("urn:graft:bnode/query/ab c/é€")) -> 1,
      Seq(k("y2"), null) -> 1, Seq(k("y3"), null) -> 1))
    assert(onec(THash(TVar(?("v")), "md5")) == Map(
      Seq(k("y1"), s("4b3861cdf19ab0dc5bc605551b814b48")) -> 1,
      Seq(k("y2"), null) -> 1, Seq(k("y3"), null) -> 1))
    assert(onec(THash(TVar(?("v")), "sha256")) == Map(
      Seq(k("y1"),
        s("95759038c8d033bb5851c8f30b5f74af265b24dc447462f03215c3fb066b00ad")) -> 1,
      Seq(k("y2"), null) -> 1, Seq(k("y3"), null) -> 1))
    // SHA1/384/512 have no oracle twin: loud refusal at construction
    intercept[IllegalArgumentException](THash(TVar(?("v")), "sha1"))
    // ENCODE_FOR_URI of the empty string is the empty string
    assert(bag(db((k("z"), lab, s(""))), Seq(?("r")), Seq(
      pat(?("x"), T(lab), ?("v")),
      Bind(TEncodeForUri(TVar(?("v"))), ?("r")))) == Map(Seq(s("")) -> 1))
  }

  test("DESCRIBE (§16.4): bnode-free CBD = subject-position facts of " +
      "matched resources; alsoObjects widens symmetrically; unbound " +
      "matches drop; quads keep the asserting graph") {
    val cat = k("cat"); val size = k("size"); val link = k("link")
    val d = db(
      (k("a"), cat, s("x")), (k("a"), size, TLong(1)),
      (k("b"), cat, s("y")), (k("b"), size, TLong(2)),
      (k("c"), link, k("a")))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSeq.map(r => (fromRow(r.getStruct(0)),
        fromRow(r.getStruct(1)), fromRow(r.getStruct(2)))).toSet
    // subject-position description of the cat=x match: a's two facts,
    // NOT c's inbound link
    assert(rows(Projections.describeDf(d, ?("r"),
      Seq(pat(?("r"), T(cat), T(s("x")))))) == Set(
      (k("a"), cat, s("x")), (k("a"), size, TLong(1))))
    // alsoObjects widens to the inbound link (symmetric CBD)
    assert(rows(Projections.describeDf(d, ?("r"),
      Seq(pat(?("r"), T(cat), T(s("x")))), alsoObjects = true)) == Set(
      (k("a"), cat, s("x")), (k("a"), size, TLong(1)),
      (k("c"), link, k("a"))))
    // an optional-only-bound describe var: unbound matches contribute
    // nothing (never a null-key semi explosion)
    assert(rows(Projections.describeDf(d, ?("m"), Seq(
      pat(?("r"), T(cat), ?("v")),
      Optional(Seq(pat(?("r"), T(link), ?("m"))))))).isEmpty)
    // duplicates in the match set do not multiply the description
    assert(rows(Projections.describeDf(d, ?("r"),
      Seq(pat(?("r"), T(size), ?("n"))))).size == 4)
    // quad store: the description keeps each fact's graph
    val qd = graft.core.QuadDb.fromQuads(spark, Seq(
      (k("a"), cat, s("x"), TUri("g/1")),
      (k("a"), size, TLong(1), TUri("g/2")),
      (k("b"), cat, s("x"), TUri("g/1"))))
    val qgot = Projections.describeDf(qd, ?("r"),
        Seq(QuadPattern(?("r"), T(cat), T(s("x")), T(TUri("g/1")))),
        alsoObjects = false)
      .collect().toSeq.map(r => (fromRow(r.getStruct(0)),
        fromRow(r.getStruct(1)), fromRow(r.getStruct(2)),
        fromRow(r.getStruct(3)))).toSet
    assert(qgot == Set(
      (k("a"), cat, s("x"), TUri("g/1")),
      (k("a"), size, TLong(1), TUri("g/2")), // cross-graph facts ride
      (k("b"), cat, s("x"), TUri("g/1"))))
  }

  test("UNION (SPARQL §7): multiset-additive branches, branch-partial " +
      "vars unbound, §10.2 joins downstream, values-on-union-var " +
      "membero semantics, dict leg, nesting, validation") {
    val cat = k("cat"); val kind = k("kind"); val size = k("size")
    val d = db(
      (k("a"), cat, s("x")), (k("a"), size, TLong(1)),
      (k("b"), cat, s("y")),
      (k("c"), kind, s("x")), (k("c"), size, TLong(2)),
      (k("d"), cat, s("z")), (k("d"), kind, s("z")))
    def uni = Union(Seq(
      Seq(pat(?("x"), T(cat), ?("v"))),
      Seq(pat(?("x"), T(kind), ?("v")))))
    // (1) additive bag: d matches BOTH branches → two copies
    assert(bag(d, Seq(?("x"), ?("v")), Seq(uni)) == Map(
      Seq(k("a"), s("x")) -> 1, Seq(k("b"), s("y")) -> 1,
      Seq(k("c"), s("x")) -> 1, Seq(k("d"), s("z")) -> 2))
    // (2) a var bound by only ONE branch is unbound in the other's rows
    val partial = Union(Seq(
      Seq(pat(?("x"), T(cat), ?("v"))),
      Seq(pat(?("x"), T(kind), ?("v")), pat(?("x"), T(size), ?("e")))))
    assert(bag(d, Seq(?("x"), ?("e")), Seq(partial)) == Map(
      Seq(k("a"), null) -> 1, Seq(k("b"), null) -> 1,
      Seq(k("d"), null) -> 1, // kind branch needs size too: d drops there
      Seq(k("c"), TLong(2)) -> 1))
    // !BOUND / BOUND dissect the branches
    assert(bag(d, Seq(?("x")), Seq(partial, FilterBound(?("e")))) ==
      Map(Seq(k("c")) -> 1))
    // (3) joined with an outer pattern on an always-bound shared var:
    // the equality fast path — and the join restricts both branches
    assert(bag(d, Seq(?("x"), ?("sz"), ?("v")), Seq(
      pat(?("x"), T(size), ?("sz")), uni)) == Map(
      Seq(k("a"), TLong(1), s("x")) -> 1,
      Seq(k("c"), TLong(2), s("x")) -> 1))
    // (4) Values on a var only ONE branch binds: membero — bound rows
    // FILTER, unbound rows GENERATE one row per element
    val genOn = Union(Seq(
      Seq(pat(?("x"), T(cat), ?("v"))),
      Seq(pat(?("x"), T(kind), ?("v")), pat(?("x"), T(size), ?("e")))))
    assert(bag(d, Seq(?("x"), ?("e")), Seq(genOn,
      Values(?("e"), Seq(TLong(2), TLong(7))))) == Map(
      Seq(k("a"), TLong(2)) -> 1, Seq(k("a"), TLong(7)) -> 1,
      Seq(k("b"), TLong(2)) -> 1, Seq(k("b"), TLong(7)) -> 1,
      Seq(k("d"), TLong(2)) -> 1, Seq(k("d"), TLong(7)) -> 1,
      Seq(k("c"), TLong(2)) -> 1)) // bound: filtered to the match
    // (5) optional keyed on a union-nullable var takes the compat path
    // (null key extends with every clause row? no — null constrains
    // nothing, merged value coalesces in)
    val optOn = bag(d, Seq(?("x"), ?("e"), ?("o")), Seq(
      partial,
      Optional(Seq(pat(?("y"), T(size), ?("e")),
        pat(?("y"), T(cat), ?("o"))))))
    // branch-1 rows (e unbound): compatible with BOTH clause rows
    // (y=a: e=1,o=x; y=c has no cat → clause row only from y=a) —
    // merged e rides in; c's e=2 finds no clause row (y=a has e=1) →
    // o stays unbound
    assert(optOn == Map(
      Seq(k("a"), TLong(1), s("x")) -> 1,
      Seq(k("b"), TLong(1), s("x")) -> 1,
      Seq(k("d"), TLong(1), s("x")) -> 1,
      Seq(k("c"), TLong(2), null) -> 1))
    // (6) nested unions flatten semantically
    val nested = Union(Seq(
      Seq(Union(Seq(
        Seq(pat(?("x"), T(cat), T(s("x")))),
        Seq(pat(?("x"), T(cat), T(s("y"))))))),
      Seq(pat(?("x"), T(kind), T(s("x"))))))
    assert(bag(d, Seq(?("x")), Seq(nested)) == Map(
      Seq(k("a")) -> 1, Seq(k("b")) -> 1, Seq(k("c")) -> 1))
    // (7) dict leg: identical multiset through the long-keyed fold,
    // incl. a branch VALUES generator binding out-of-dict terms
    val dd = d.dictEncode()
    try {
      val got = Projections.selectDf(dd, Seq(Union(Seq(
        Seq(pat(?("x"), T(cat), ?("v"))),
        Seq(pat(?("x"), T(kind), ?("v")),
          Values(?("w"), Seq(s("not-in-dict"))))))),
        Seq(?("x"), ?("v"), ?("w")))
        .collect().toSeq.map(r => Seq(
          if (r.isNullAt(0)) null else fromRow(r.getStruct(0)),
          if (r.isNullAt(1)) null else fromRow(r.getStruct(1)),
          if (r.isNullAt(2)) null else fromRow(r.getStruct(2))))
        .groupBy(identity).view.mapValues(_.size).toMap
      assert(got == Map(
        Seq(k("a"), s("x"), null) -> 1, Seq(k("b"), s("y"), null) -> 1,
        Seq(k("d"), s("z"), null) -> 1,
        Seq(k("c"), s("x"), s("not-in-dict")) -> 1,
        Seq(k("d"), s("z"), s("not-in-dict")) -> 1))
    } finally dd.unpersist()
    // (8) validation is loud
    intercept[InvalidBgp](Union(Seq(Seq(pat(?("x"), T(cat), ?("v"))))))
    intercept[InvalidBgp](Union(Seq(Seq(pat(?("x"), T(cat), ?("v"))),
      Seq.empty)))
  }

  test("ORDER BY / GROUP BY expression sugar ≡ explicit pre-Bind; " +
      "HAVING EXISTS: group-key correlation, uncorrelated gate, loud " +
      "refusal on consumed solution vars") {
    val amt = k("amt"); val tag = k("tag"); val boosted = k("boosted")
    val d = db(
      (k("a"), amt, TLong(3)), (k("a"), tag, s("xx")),
      (k("b"), amt, TLong(1)), (k("b"), tag, s("y")),
      (k("c"), amt, TLong(2)), (k("c"), tag, s("zzz")),
      (k("d"), amt, s("NaN")), (k("d"), tag, s("w")),
      (k("b"), boosted, TBool(true)))
    val sol = Projections.selectDf(d, Seq(
      pat(?("x"), T(amt), ?("v")), pat(?("x"), T(tag), ?("t"))),
      Seq(?("x"), ?("v"), ?("t")))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[graft.core.Term]] =
      df.collect().toSeq.map(r => r.toSeq.indices.map(i =>
        if (r.isNullAt(i)) null else fromRow(r.getStruct(i))))
    // (1) a TVar key degenerates to the plain OrderKey — results equal
    assert(rows(Projections.modifiedExpr(sol, Seq((TVar(?("v")), true))))
      == rows(Projections.modified(sol, Seq(OrderKey(?("v"))))))
    // (2) expression key ≡ manual extend + order + drop; the error row
    // (NaN string × 2) sorts FIRST (unbound-first), fresh cols gone
    val byExpr = Projections.modifiedExpr(sol,
      Seq((NMul(NVar(?("v")), NConst(TLong(-1))), true)))
    assert(byExpr.columns.toSeq == Seq("x", "v", "t"))
    assert(rows(byExpr).map(_.head) ==
      Seq(k("d"), k("a"), k("c"), k("b"))) // -3 < -2 < -1; error first
    val manual = Projections.modified(
      Projections.extend(sol, Seq(Bind(
        NMul(NVar(?("v")), NConst(TLong(-1))), ?("mk")))),
      Seq(OrderKey(?("mk")))).drop("mk")
    assert(rows(byExpr) == rows(manual))
    // (3) ORDER BY STRLEN(?t) DESC + limit — TakeOrdered keeps working
    assert(rows(Projections.modifiedExpr(sol,
      Seq((TStrlen(TVar(?("t"))), false)), limit = 2)).map(_.head) ==
      Seq(k("c"), k("a"))) // zzz(3), xx(2)
    // (4) GROUP BY (expr AS ?v) ≡ extend + aggregated; errors group
    // under the UNBOUND key
    val parity = Projections.aggregatedExpr(sol,
      Seq((TIf(FilterCmp(?("v"), Gt, TLong(1)),
        TConst(s("hi")), TConst(s("lo"))), ?("band"))),
      Seq(Agg(AggCount, None, ?("n"))))
    assert(rows(parity.orderBy("band")).toSet == Set(
      Seq(null, TLong(1)),      // the NaN row: condition errors → unbound key
      Seq(s("hi"), TLong(2)), Seq(s("lo"), TLong(1))))
    val manualAgg = Projections.aggregated(
      Projections.extend(sol, Seq(Bind(
        TIf(FilterCmp(?("v"), Gt, TLong(1)),
          TConst(s("hi")), TConst(s("lo"))), ?("band")))),
      Seq(?("band")), Seq(Agg(AggCount, None, ?("n"))))
    assert(rows(parity).toSet == rows(manualAgg).toSet)
    // a plain (TVar(v), v) key binds nothing — same frame as aggregated
    assert(rows(Projections.aggregatedExpr(sol, Seq((TVar(?("x")), ?("x"))),
      Seq(Agg(AggCount, None, ?("n"))))).toSet ==
      rows(Projections.aggregated(sol, Seq(?("x")),
        Seq(Agg(AggCount, None, ?("n"))))).toSet)
    // (5) HAVING EXISTS correlated on the group key: subjects with
    // >= 1 solution that ALSO carry a `boosted` fact — only b
    val agg = Projections.aggregated(sol, Seq(?("x")),
      Seq(Agg(AggCount, None, ?("n"))))
    assert(rows(Projections.having(d, agg,
      FilterExists(Seq(pat(?("x"), T(boosted), T(TBool(true))))),
      preAggVars = Seq(?("x"), ?("v"), ?("t")))).map(_.head).toSet ==
      Set(k("b")))
    // EXISTS composes with value atoms under AND; NOT EXISTS inverts
    assert(rows(Projections.having(d, agg, FilterAnd(Seq(
      FilterCmp(?("n"), Ge, TLong(1)),
      FilterNot(FilterExists(Seq(pat(?("x"), T(boosted), T(TBool(true)))))))),
      preAggVars = Seq(?("x"), ?("v"), ?("t")))).map(_.head).toSet ==
      Set(k("a"), k("c"), k("d")))
    // (6) uncorrelated EXISTS gates the whole frame (any match keeps all)
    assert(rows(Projections.having(d, agg,
      FilterExists(Seq(pat(?("q"), T(boosted), ?("w")))),
      preAggVars = Seq(?("x"), ?("v"), ?("t")))).size == 4)
    assert(rows(Projections.having(d, agg,
      FilterExists(Seq(pat(?("q"), T(k("nope")), ?("w")))),
      preAggVars = Seq(?("x"), ?("v"), ?("t")))).isEmpty)
    // (7) correlation on a CONSUMED solution var refuses loudly
    val ex = intercept[InvalidBgp](Projections.having(d, agg,
      FilterExists(Seq(pat(?("x"), T(amt), ?("v")))),
      preAggVars = Seq(?("x"), ?("v"), ?("t"))))
    assert(ex.getMessage.contains("?v"))
  }

  test("§10.2 compatibility on UNDEF-nullable vars (round-12 advice): " +
      "second VALUES table merges, optional keys extend, NOT EXISTS " +
      "removes, MINUS keeps dom-disjoint rows") {
    val price = k("price")
    val d = db(
      (k("a"), price, TLong(5)),
      (k("b"), price, TLong(7)))
    // (1) a var introduced UNDEF-nullable by one table and constrained
    // by a SECOND table: the null side constrains nothing and the
    // merged solution takes the defined cell (the equality-form join
    // silently dropped these and never merged)
    val twoTables = bag(d, Seq(?("u"), ?("w"), ?("z")), Seq(
      ValuesTable(Seq(?("u"), ?("w")), Seq(
        Seq(Some(s("m")), None),
        Seq(Some(s("n")), Some(TLong(1))))),
      ValuesTable(Seq(?("w"), ?("z")), Seq(
        Seq(Some(TLong(1)), Some(TLong(10))),
        Seq(Some(TLong(2)), Some(TLong(20)))))))
    assert(twoTables == Map(
      Seq(s("m"), TLong(1), TLong(10)) -> 1,
      Seq(s("m"), TLong(2), TLong(20)) -> 1,
      Seq(s("n"), TLong(1), TLong(10)) -> 1))
    // (2) an UNDEF-nullable REQUIRED var as an optional join key: a
    // null-keyed row is compatible with EVERY clause row and the
    // merged solution takes the clause value (the name-equality left
    // join never extended it)
    val optKey = bag(d, Seq(?("x"), ?("p")), Seq(
      ValuesTable(Seq(?("x")), Seq(Seq(Some(k("a"))), Seq(None))),
      Optional(Seq(pat(?("x"), T(price), ?("p"))))))
    assert(optKey == Map(
      Seq(k("a"), TLong(5)) -> 2, // bound row + null row both match a
      Seq(k("b"), TLong(7)) -> 1)) // null row extends to b as well
    // (3) NOT EXISTS with a nullable shared var: a null side
    // constrains nothing, so the inner match removes BOTH rows;
    // MINUS keeps the null row (per-ROW dom-disjoint rule, §8.2)
    val notEx = bag(d, Seq(?("x")), Seq(
      ValuesTable(Seq(?("x")), Seq(Seq(Some(k("a"))), Seq(None))),
      NotExists(Seq(pat(?("x"), T(price), ?("p"))))))
    assert(notEx.isEmpty)
    val minusQ = bag(d, Seq(?("x")), Seq(
      ValuesTable(Seq(?("x")), Seq(Seq(Some(k("a"))), Seq(None))),
      Minus(Seq(pat(?("x"), T(price), ?("p"))))))
    assert(minusQ == Map(Seq(null) -> 1))
    // dict leg of (1): ids carry the same compatibility semantics
    val dd = d.dictEncode()
    try {
      val dictGot = Projections.selectDf(dd, Seq(
        ValuesTable(Seq(?("u"), ?("w")), Seq(
          Seq(Some(s("m")), None),
          Seq(Some(s("n")), Some(TLong(1))))),
        ValuesTable(Seq(?("w"), ?("z")), Seq(
          Seq(Some(TLong(1)), Some(TLong(10))),
          Seq(Some(TLong(2)), Some(TLong(20)))))), Seq(?("u"), ?("w"), ?("z")))
        .collect().toSeq.map(r => (0 to 2).map(i =>
          if (r.isNullAt(i)) null else fromRow(r.getStruct(i)))).toSet
      assert(dictGot == Set(
        Seq(s("m"), TLong(1), TLong(10)),
        Seq(s("m"), TLong(2), TLong(20)),
        Seq(s("n"), TLong(1), TLong(10))))
    } finally dd.unpersist()
  }

  test("FILTER inside OPTIONAL referencing outer vars is the LeftJoin " +
      "condition (§18.2.2.2): per-row conditional extension, never an " +
      "emptied clause; dict leg rehydrates") {
    val amt = k("amt"); val lim = k("lim")
    val d = db(
      (k("a"), amt, TLong(5)),
      (k("b"), amt, TLong(7)),
      (k("a"), lim, TLong(6)),
      (k("b"), lim, TLong(6)))
    val rows = Seq(
      pat(?("x"), T(amt), ?("v")),
      Optional(Seq(
        pat(?("x"), T(lim), ?("l")),
        FilterVarCmp(?("l"), Gt, ?("v")))))
    // a: lim 6 > amt 5 → extends; b: 6 > 7 false → kept BARE (the old
    // standalone compile errored every clause row, so NOTHING extended)
    val got = bag(d, Seq(?("x"), ?("v"), ?("l")), rows)
    assert(got == Map(
      Seq(k("a"), TLong(5), TLong(6)) -> 1,
      Seq(k("b"), TLong(7), null) -> 1))
    // unbound-anywhere ref inside the condition: errors → no extension
    val gotErr = bag(d, Seq(?("x"), ?("v"), ?("l")), Seq(
      pat(?("x"), T(amt), ?("v")),
      Optional(Seq(
        pat(?("x"), T(lim), ?("l")),
        FilterVarCmp(?("l"), Gt, ?("nowhere"))))))
    assert(gotErr == Map(
      Seq(k("a"), TLong(5), null) -> 1,
      Seq(k("b"), TLong(7), null) -> 1))
    // BOUND(outer) composes: extension gated on the merged row
    val gotBound = bag(d, Seq(?("x"), ?("v"), ?("l")), Seq(
      pat(?("x"), T(amt), ?("v")),
      Optional(Seq(
        pat(?("x"), T(lim), ?("l")),
        FilterAnd(Seq(FilterBound(?("v")),
          FilterCmp(?("v"), Lt, TLong(6))))))))
    assert(gotBound == Map(
      Seq(k("a"), TLong(5), TLong(6)) -> 1,
      Seq(k("b"), TLong(7), null) -> 1))
    // dict leg: the condition's vars rehydrate as term sidecars
    val dd = d.dictEncode()
    try {
      val dictGot = Projections.selectDf(dd, rows,
        Seq(?("x"), ?("v"), ?("l")))
        .collect().toSeq.map(r => (0 to 2).map(i =>
          if (r.isNullAt(i)) null else fromRow(r.getStruct(i)))).toSet
      assert(dictGot == Set(
        Seq(k("a"), TLong(5), TLong(6)),
        Seq(k("b"), TLong(7), null)))
    } finally dd.unpersist()
  }

  test("§17.4.4 numeric fns + §17.4.2 term tests: fn:round ties " +
      "toward +inf (both signs), kind preserved, exact int64 ABS, " +
      "sameTerm is identity (no promotion) where Eq promotes") {
    val amt = k("amt")
    val d = db(
      (k("a"), amt, TDouble(2.5)), (k("b"), amt, TDouble(-2.5)),
      (k("c"), amt, TDouble(-0.3)), (k("e"), amt, TLong(-7)),
      (k("f"), amt, TLong(9007199254740993L)), // 2^53 + 1
      (k("g"), amt, s("NaN")))
    def one(e: TermExpr) = bag(d, Seq(?("x"), ?("r")), Seq(
      pat(?("x"), T(amt), ?("v")), Bind(e, ?("r"))))
    // fn:round: 2.5 → 3, −2.5 → −2 (ties toward +inf — library
    // round() would give −3); longs pass through; non-numerics error
    assert(one(TRound(TVar(?("v")))) == Map(
      Seq(k("a"), TDouble(3.0)) -> 1, Seq(k("b"), TDouble(-2.0)) -> 1,
      Seq(k("c"), TDouble(0.0)) -> 1, Seq(k("e"), TLong(-7)) -> 1,
      Seq(k("f"), TLong(9007199254740993L)) -> 1, Seq(k("g"), null) -> 1))
    assert(one(TCeil(TVar(?("v")))) == Map(
      Seq(k("a"), TDouble(3.0)) -> 1, Seq(k("b"), TDouble(-2.0)) -> 1,
      Seq(k("c"), TDouble(-0.0)) -> 1, Seq(k("e"), TLong(-7)) -> 1,
      Seq(k("f"), TLong(9007199254740993L)) -> 1, Seq(k("g"), null) -> 1))
    assert(one(TFloor(TVar(?("v")))) == Map(
      Seq(k("a"), TDouble(2.0)) -> 1, Seq(k("b"), TDouble(-3.0)) -> 1,
      Seq(k("c"), TDouble(-1.0)) -> 1, Seq(k("e"), TLong(-7)) -> 1,
      Seq(k("f"), TLong(9007199254740993L)) -> 1, Seq(k("g"), null) -> 1))
    // ABS: exact int64 past 2^53 (the num double would collapse it)
    assert(one(TAbs(TVar(?("v")))) == Map(
      Seq(k("a"), TDouble(2.5)) -> 1, Seq(k("b"), TDouble(2.5)) -> 1,
      Seq(k("c"), TDouble(0.3)) -> 1, Seq(k("e"), TLong(7)) -> 1,
      Seq(k("f"), TLong(9007199254740993L)) -> 1, Seq(k("g"), null) -> 1))
    // sameTerm(5, 5.0) false (identity) where Eq(5, 5.0) true
    val idQ = bag(d, Seq(?("x")), Seq(
      pat(?("x"), T(amt), ?("v")),
      FilterSameTerm(TVar(?("v")), TConst(TDouble(2.5)))))
    assert(idQ == Map(Seq(k("a")) -> 1)) // NOT the long kinds
    val eqQ = bag(d, Seq(?("x")), Seq(
      pat(?("x"), T(amt), ?("v")),
      FilterArith(TVar(?("v")), Eq, TConst(TDouble(-7.0)))))
    assert(eqQ == Map(Seq(k("e")) -> 1)) // promotion: long −7 = −7.0
    // is* dispatch incl. the keyword-as-IRI rule; unbound = error
    val isQ = bag(d, Seq(?("x")), Seq(
      pat(?("x"), T(amt), ?("v")),
      FilterIsNumeric(TVar(?("v")))))
    assert(isQ.keySet == Set(Seq(k("a")), Seq(k("b")), Seq(k("c")),
      Seq(k("e")), Seq(k("f"))))
    val iriQ = bag(d, Seq(?("x")), Seq(
      pat(?("x"), T(amt), ?("v")),
      FilterIsIri(TConst(k("someKeyword")))))
    assert(iriQ.values.sum == 6) // keywords count as IRIs (documented)
    val unboundIs = bag(d, Seq(?("x")), Seq(
      pat(?("x"), T(amt), ?("v")),
      FilterIsLiteral(TVar(?("nowhere")))))
    assert(unboundIs.isEmpty) // type error removes every row
  }

  test("subqueries (SPARQL §12): aggregate+modifier composition, " +
      "at-the-max join, error-group compatibility, dict leg with " +
      "value-preserving aggregates, loud refusals") {
    val nat = k("nat"); val bal = k("bal"); val lab = k("label")
    val d = db(
      (k("s1"), nat, k("n1")), (k("s1"), bal, TLong(10)),
      (k("s2"), nat, k("n1")), (k("s2"), bal, TLong(30)),
      (k("s3"), nat, k("n2")), (k("s3"), bal, TLong(20)),
      (k("s4"), nat, k("n2")), (k("s4"), bal, TLong(20)),
      (k("s5"), nat, k("n3")), (k("s5"), bal, s("oops"))) // error group
    val maxSub = SubSelect(Seq(?("n"), ?("mx")), Seq(
      pat(?("s2"), T(nat), ?("n")),
      pat(?("s2"), T(bal), ?("b2"))),
      groupBy = Seq(?("n")),
      aggs = Seq(Agg(AggMax, Some(?("b2")), ?("mx"))))
    // each nation's at-the-max suppliers (both s3 and s4 tie in n2)
    val atMax = bag(d, Seq(?("s"), ?("n"), ?("b")), Seq(
      pat(?("s"), T(nat), ?("n")),
      pat(?("s"), T(bal), ?("b")),
      maxSub,
      FilterVarCmp(?("b"), Eq, ?("mx"))))
    assert(atMax == Map(
      Seq(k("s2"), k("n1"), TLong(30)) -> 1,
      Seq(k("s3"), k("n2"), TLong(20)) -> 1,
      Seq(k("s4"), k("n2"), TLong(20)) -> 1,
      Seq(k("s5"), k("n3"), s("oops")) -> 1)) // MAX of one string IS it
    // a genuinely unbound aggregate (SUM over a non-numeric group)
    // joins by compatibility: the n3 row survives with ?t unbound
    val sumSub = SubSelect(Seq(?("n"), ?("t")), Seq(
      pat(?("s2"), T(nat), ?("n")),
      pat(?("s2"), T(bal), ?("b2"))),
      groupBy = Seq(?("n")),
      aggs = Seq(Agg(AggSum, Some(?("b2")), ?("t"))))
    val sums = bag(d, Seq(?("n"), ?("t")), Seq(
      pat(?("s"), T(nat), ?("n")), sumSub))
    assert(sums == Map(
      Seq(k("n1"), TLong(40)) -> 2, // two outer suppliers in n1
      Seq(k("n2"), TLong(40)) -> 2,
      Seq(k("n3"), null) -> 1))
    // modifiers inside the subquery: top-2 balances globally,
    // DISTINCT, then joined back to their holders
    val top2 = SubSelect(Seq(?("b")), Seq(
      pat(?("s2"), T(bal), ?("b"))),
      orderBy = Seq(OrderKey(?("b"), asc = false)),
      limit = 2, distinct = true)
    val holders = bag(d, Seq(?("s"), ?("b")), Seq(
      pat(?("s"), T(bal), ?("b")), top2))
    // desc canonical order: kind-grouped with KString(3) < KLong(4),
    // so longs lead descending — top-2 distinct = {30, 20}; the tied
    // 20 joins BOTH holders
    assert(holders == Map(
      Seq(k("s2"), TLong(30)) -> 1,
      Seq(k("s3"), TLong(20)) -> 1, Seq(k("s4"), TLong(20)) -> 1))
    // HAVING inside the subquery
    val bigN = SubSelect(Seq(?("n")), Seq(
      pat(?("s2"), T(nat), ?("n")),
      pat(?("s2"), T(bal), ?("b2"))),
      groupBy = Seq(?("n")),
      aggs = Seq(Agg(AggCount, None, ?("ct"))),
      having = Some(FilterCmp(?("ct"), Gt, TLong(1))))
    val bigNGot = bag(d, Seq(?("n")), Seq(
      pat(?("s"), T(nat), ?("n")), bigN))
    assert(bigNGot == Map(Seq(k("n1")) -> 2, Seq(k("n2")) -> 2))
    // dict leg: MAX is value-preserving — ids round-trip; SUM refuses
    val dd = d.dictEncode()
    try {
      val got = Projections.selectDf(dd, Seq(
        pat(?("s"), T(nat), ?("n")),
        pat(?("s"), T(bal), ?("b")),
        maxSub,
        FilterVarCmp(?("b"), Eq, ?("mx"))), Seq(?("s"), ?("b")))
        .collect().toSeq
        .map(r => (fromRow(r.getStruct(0)), fromRow(r.getStruct(1)))).toSet
      assert(got == Set((k("s2"), TLong(30)), (k("s3"), TLong(20)),
        (k("s4"), TLong(20)), (k("s5"), s("oops"))))
      intercept[InvalidBgp] {
        Projections.selectDf(dd, Seq(
          pat(?("s"), T(nat), ?("n")), sumSub), Seq(?("n"))).collect()
      }
    } finally dd.unpersist()
    // validation is loud: projecting a non-grouped var; empty group
    intercept[InvalidBgp] {
      SubSelect(Seq(?("n"), ?("b2")), Seq(pat(?("s2"), T(bal), ?("b2"))),
        groupBy = Seq(?("n")), aggs = Seq(Agg(AggMax, Some(?("b2")), ?("m"))))
    }
    intercept[InvalidBgp] { SubSelect(Seq(?("n")), Nil) }
  }

  test("EXISTS as a FILTER leaf (§17.4.1.4): composes under OR/NOT/AND, " +
      "!EXISTS ≡ NotExists row, uncorrelated gate, nullable-shared " +
      "compat, bag preserved, dict leg, loud refusals") {
    val knows = k("knows"); val lab = k("label"); val amt = k("amt")
    val d = db(
      (k("a"), lab, s("A")), (k("b"), lab, s("B")), (k("c"), lab, s("C")),
      (k("a"), knows, k("b")), (k("b"), knows, k("c")),
      (k("a"), amt, TLong(5)), (k("c"), amt, TLong(9)))
    // plain correlated EXISTS ≡ a semi join on the shared var
    val ex = bag(d, Seq(?("x")), Seq(
      pat(?("x"), T(lab), ?("n")),
      FilterExists(Seq(pat(?("x"), T(knows), ?("y"))))))
    assert(ex == Map(Seq(k("a")) -> 1, Seq(k("b")) -> 1))
    // !EXISTS as the whole filter ≡ the NotExists row
    val notEx = bag(d, Seq(?("x")), Seq(
      pat(?("x"), T(lab), ?("n")),
      FilterNot(FilterExists(Seq(pat(?("x"), T(knows), ?("y")))))))
    val notExRow = bag(d, Seq(?("x")), Seq(
      pat(?("x"), T(lab), ?("n")),
      NotExists(Seq(pat(?("x"), T(knows), ?("y"))))))
    assert(notEx == Map(Seq(k("c")) -> 1) && notEx == notExRow)
    // composition the row form cannot express: keep if it has an amt
    // OR knows nobody
    val orEx = bag(d, Seq(?("x")), Seq(
      pat(?("x"), T(lab), ?("n")),
      FilterOr(Seq(
        FilterExists(Seq(pat(?("x"), T(amt), ?("m")))),
        FilterNot(FilterExists(Seq(pat(?("x"), T(knows), ?("y")))))))))
    assert(orEx == Map(Seq(k("a")) -> 1, Seq(k("c")) -> 1))
    // uncorrelated EXISTS = a group-wide gate; bag multiplicity rides
    val gate = bag(d, Seq(?("x")), Seq(
      pat(?("x"), T(lab), ?("n")),
      FilterExists(Seq(pat(?("z"), T(amt), T(TLong(9)))))))
    assert(gate.values.sum == 3)
    val gateOff = bag(d, Seq(?("x")), Seq(
      pat(?("x"), T(lab), ?("n")),
      FilterExists(Seq(pat(?("z"), T(amt), T(TLong(99)))))))
    assert(gateOff.isEmpty)
    // a nullable shared var (optional-bound) takes the compat split:
    // unbound ?m is compatible with ANY inner amt row → exists
    val compat = bag(d, Seq(?("x"), ?("m")), Seq(
      pat(?("x"), T(lab), ?("n")),
      Optional(Seq(pat(?("x"), T(amt), ?("m")))),
      FilterExists(Seq(pat(?("z"), T(amt), ?("m"))))))
    assert(compat == Map(
      Seq(k("a"), TLong(5)) -> 1,  // amt 5 exists
      Seq(k("b"), null) -> 1,      // unbound compatible with any amt
      Seq(k("c"), TLong(9)) -> 1))
    // dict leg: marker columns never touch the dictionary
    val dd = d.dictEncode()
    try {
      val got = Projections.selectDf(dd, Seq(
        pat(?("x"), T(lab), ?("n")),
        FilterOr(Seq(
          FilterExists(Seq(pat(?("x"), T(amt), ?("m")))),
          FilterNot(FilterExists(Seq(pat(?("x"), T(knows), ?("y")))))))),
        Seq(?("x"))).collect().toSeq.map(r => fromRow(r.getStruct(0))).toSet
      assert(got == Set(k("a"), k("c")))
    } finally dd.unpersist()
    // loud refusals: EXISTS in HAVING and in BIND expressions
    intercept[InvalidBgp] {
      Projections.having(
        Projections.aggregated(
          Projections.selectDf(d, Seq(pat(?("x"), T(lab), ?("n"))), Seq(?("n"))),
          Seq(?("n")), Seq(Agg(AggCount, None, ?("ct")))),
        FilterExists(Seq(pat(?("z"), T(amt), ?("m"))))).collect()
    }
    intercept[InvalidBgp] {
      bag(d, Seq(?("x"), ?("r")), Seq(
        pat(?("x"), T(lab), ?("n")),
        Bind(TIf(FilterExists(Seq(pat(?("x"), T(knows), ?("y")))),
          TConst(s("yes")), TConst(s("no"))), ?("r"))))
    }
    intercept[InvalidBgp] {
      bag(d, Seq(?("x")), Seq(
        pat(?("x"), T(lab), ?("n")),
        Optional(Seq(
          pat(?("x"), T(knows), ?("y")),
          FilterOr(Seq(FilterBound(?("n")),
            FilterExists(Seq(pat(?("q"), T(amt), ?("w"))))))))))
    }
  }

  test("BIND + arithmetic: exact int64 ops past 2^53, promotion, " +
      "error leaves the bind var unbound (row kept) but drops the " +
      "filter row, div-by-zero, chained binds, loud refusals") {
    val amt = k("amt")
    val big = 9007199254740993L // 2^53 + 1
    val d = db(
      (k("a"), amt, TLong(big)),
      (k("b"), amt, TDouble(2.5)),
      (k("c"), amt, s("NaN")),
      (k("e"), amt, TLong(0)))
    def q(rows: PatternRow*): Set[(graft.core.Term, graft.core.Term)] =
      Projections.selectDf(d, pat(?("x"), T(amt), ?("v")) +: rows,
        Seq(?("x"), ?("r"))).collect().toSeq
        .map(r => (fromRow(r.getStruct(0)),
          if (r.isNullAt(1)) null else fromRow(r.getStruct(1)))).toSet
    // exact int64: big - 1 stays exact (doubles can't tell big from
    // big-1); string value = error → ?r unbound, row KEPT
    assert(q(Bind(NSub(NVar(?("v")), NConst(TLong(1))), ?("r"))) == Set(
      (k("a"), TLong(big - 1)),
      (k("b"), TDouble(1.5)),
      (k("c"), null),
      (k("e"), TLong(-1))))
    // mixed promotion + division is always double; ÷0 = error
    assert(q(Bind(NDiv(NConst(TLong(5)), NVar(?("v"))), ?("r"))) == Set(
      (k("a"), TDouble(5.0 / big.toDouble)),
      (k("b"), TDouble(2.0)),
      (k("c"), null),
      (k("e"), null))) // ÷0
    // chained binds: second reads the first
    assert(q(
      Bind(NMul(NVar(?("v")), NConst(TLong(2))), ?("t")),
      Bind(NAdd(NVar(?("t")), NConst(TLong(1))), ?("r"))).collect {
        case (s0, r0) if s0 == k("b") => r0 }.head == TDouble(6.0))
    // FilterArith: error DROPS the row (unlike bind); exact compare
    val fa = Projections.selectDf(d, Seq(
      pat(?("x"), T(amt), ?("v")),
      FilterArith(NMul(NVar(?("v")), NConst(TLong(1))), Ge,
        NConst(TLong(big)))), Seq(?("x"))).collect().toSeq
      .map(r => fromRow(r.getStruct(0))).toSet
    assert(fa == Set(k("a")))
    // rebinding refuses; dict stores refuse in-group BIND but extend
    // works on the decoded frame
    intercept[InvalidBgp] {
      Projections.selectDf(d, Seq(pat(?("x"), T(amt), ?("v")),
        Bind(NConst(TLong(1)), ?("v"))), Nil)
    }
    val dd = d.dictEncode()
    try {
      // round-12: selectDf ROUTES top-level binds through
      // decode-then-extend — the four layouts are uniform for BIND
      // the way they already were for filters; only the id-frame API
      // (compileDict) stays loud, because an id frame genuinely
      // cannot carry a computed term
      val routed = Projections.selectDf(dd, Seq(
        pat(?("x"), T(amt), ?("v")),
        Bind(NSub(NVar(?("v")), NConst(TLong(1))), ?("r"))),
        Seq(?("x"), ?("r")))
        .collect().toSeq.map(r => (fromRow(r.getStruct(0)),
          if (r.isNullAt(1)) null else fromRow(r.getStruct(1)))).toSet
      assert(routed == Set(
        (k("a"), TLong(big - 1)), (k("b"), TDouble(1.5)),
        (k("c"), null), (k("e"), TLong(-1))))
      // q165's shape on the dict leg: a FILTER reading the bind
      // target runs post-extend (the §18.5 order), everything else
      // stays in the id fold
      val filtered = Projections.selectDf(dd, Seq(
        pat(?("x"), T(amt), ?("v")),
        Bind(NMul(NVar(?("v")), NConst(TLong(2))), ?("v2")),
        FilterArith(NVar(?("v2")), Gt, NConst(TLong(3)))),
        Seq(?("x"), ?("v2")))
        .collect().toSeq.map(r => (fromRow(r.getStruct(0)),
          fromRow(r.getStruct(1)))).toSet
      assert(filtered == Set((k("a"), TLong(2 * big)), (k("b"), TDouble(5.0))))
      intercept[InvalidBgp] {
        graft.engine.BgpCompiler.compileDict(dd, Seq(
          pat(?("x"), T(amt), ?("v")),
          Bind(NConst(TLong(1)), ?("r"))))
      }
      val ext = Projections.extend(
        Projections.selectDf(dd, Seq(pat(?("x"), T(amt), ?("v"))),
          Seq(?("x"), ?("v"))),
        Seq(Bind(NSub(NVar(?("v")), NConst(TLong(1))), ?("r"))))
        .collect().toSeq.map(r => (fromRow(r.getStruct(0)),
          if (r.isNullAt(2)) null else fromRow(r.getStruct(2)))).toSet
      assert(ext == Set(
        (k("a"), TLong(big - 1)), (k("b"), TDouble(1.5)),
        (k("c"), null), (k("e"), TLong(-1))))
    } finally dd.unpersist()
  }

  test("aggregates (SPARQL §11): COUNT(*)/COUNT(?v)/DISTINCT, exact " +
      "int64 SUM/AVG, error-to-unbound, MIN/MAX canonical order, " +
      "sorted GROUP_CONCAT, empty/global groups, loud refusals") {
    val cat = k("cat"); val amt = k("amt"); val tag = k("tag")
    val big = 9007199254740993L // 2^53 + 1
    val d = db(
      (k("a"), cat, s("g1")), (k("a"), amt, TLong(big)),
      (k("a"), amt, TLong(1)), (k("a"), tag, s("zz")),
      (k("b"), cat, s("g1")), (k("b"), amt, TLong(2)),
      (k("b"), tag, s("aa")),
      (k("c"), cat, s("g2")), (k("c"), amt, TDouble(0.5)),
      (k("c"), amt, TLong(2)),
      (k("d"), cat, s("g3")), (k("d"), amt, s("NaN")),
      (k("e"), cat, s("g4")))
    // per-entity frame: ?x cat ?g, optional amt/tag
    val sol = Projections.selectDf(d, Seq(
      pat(?("x"), T(cat), ?("g")),
      Optional(Seq(pat(?("x"), T(amt), ?("v")))),
      Optional(Seq(pat(?("x"), T(tag), ?("t"))))), Seq(?("g"), ?("v"), ?("t")))
    def terms(df: org.apache.spark.sql.DataFrame): Map[graft.core.Term, Seq[graft.core.Term]] =
      df.collect().toSeq.map(r => fromRow(r.getStruct(0)) ->
        (1 until r.size).map(i =>
          if (r.isNullAt(i)) null else fromRow(r.getStruct(i)))).toMap
    val got = terms(Projections.aggregated(sol, Seq(?("g")), Seq(
      Agg(AggCount, None, ?("n")),             // solutions per group
      Agg(AggCount, Some(?("v")), ?("nv")),    // bound amts only
      Agg(AggSum, Some(?("v")), ?("sum")),
      Agg(AggAvg, Some(?("v")), ?("avg")),
      Agg(AggMin, Some(?("v")), ?("min")),
      Agg(AggMax, Some(?("v")), ?("max")),
      Agg(AggGroupConcat("|"), Some(?("t")), ?("cc")))))
    // g1: a has 2 amts × 1 tag = 2 solutions for a, b 1 → 3 solutions
    assert(got(s("g1")) == Seq(TLong(3), TLong(3),
      // EXACT int64: big + 1 + 2 survives past 2^53
      TLong(big + 3),
      TDouble((big + 3).toDouble / 3),
      TLong(1), TLong(big),
      s("aa|zz|zz"))) // sorted lexicals, a's tag twice (bag semantics)
    // g2: mixed long/double → double sum; no tags → empty concat.
    // MIN/MAX group by KIND first (KLong=4 < KDouble=5 — the
    // documented canonical order), so the long is min, double max
    assert(got(s("g2")) == Seq(TLong(2), TLong(2), TDouble(2.5),
      TDouble(1.25), TLong(2), TDouble(0.5), s("")))
    // g3: a bound NON-numeric amt = error → SUM/AVG unbound; MIN/MAX
    // still defined under the canonical total order
    assert(got(s("g3")) == Seq(TLong(1), TLong(1), null, null,
      s("NaN"), s("NaN"), s("")))
    // g4: no amt at all → SUM 0, AVG 0 (§11.4), MIN/MAX unbound
    assert(got(s("g4")) == Seq(TLong(1), TLong(0), TLong(0), TLong(0),
      null, null, s("")))
    // COUNT DISTINCT vs plain over a duplicated value
    val dup = Projections.selectDf(d, Seq(
      pat(?("x"), T(cat), T(s("g1")))), Seq(?("x")))
    val cd = Projections.aggregated(
      Projections.selectDf(d, Seq(pat(?("x"), T(cat), ?("g"))), Seq(?("g"))),
      Nil, Seq(
        Agg(AggCount, Some(?("g")), ?("n")),
        Agg(AggCount, Some(?("g")), ?("nd"), distinct = true),
        Agg(AggSample, Some(?("g")), ?("any"))))
      .collect()(0)
    assert(fromRow(cd.getStruct(0)) == TLong(5))
    assert(fromRow(cd.getStruct(1)) == TLong(4)) // g1 ×2
    assert(Set[graft.core.Term](s("g1"), s("g2"), s("g3"), s("g4"))
      .contains(fromRow(cd.getStruct(2))))
    assert(dup.count() == 2)
    // refusals: unprojected var, duplicate result names, DISTINCT SUM
    intercept[InvalidBgp] {
      Projections.aggregated(sol, Seq(?("g")),
        Seq(Agg(AggCount, Some(?("nope")), ?("n"))))
    }
    intercept[InvalidBgp] {
      Projections.aggregated(sol, Seq(?("g")),
        Seq(Agg(AggCount, None, ?("g"))))
    }
    intercept[IllegalArgumentException] {
      Agg(AggSum, Some(?("v")), ?("s"), distinct = true)
    }
    // GLOBAL aggregate over ZERO solutions: still one row (§11.1),
    // SUM/COUNT 0, MIN unbound — not malformed terms
    val emptySol = Projections.selectDf(d, Seq(
      pat(?("x"), T(k("nope")), ?("v"))), Seq(?("v")))
    val emptyAgg = Projections.aggregated(emptySol, Nil, Seq(
      Agg(AggCount, None, ?("n")),
      Agg(AggSum, Some(?("v")), ?("su")),
      Agg(AggMin, Some(?("v")), ?("mn")))).collect()
    assert(emptyAgg.length == 1)
    assert(fromRow(emptyAgg(0).getStruct(0)) == TLong(0))
    assert(fromRow(emptyAgg(0).getStruct(1)) == TLong(0))
    assert(emptyAgg(0).isNullAt(2))

    // HAVING: reads aggregate values; an ERROR group (unbound sum,
    // g3) errors out of a comparison but is selectable via !BOUND
    val aggSum = Projections.aggregated(sol, Seq(?("g")),
      Seq(Agg(AggSum, Some(?("v")), ?("sum"))))
    def gset(df: org.apache.spark.sql.DataFrame) =
      df.select("g").collect().toSeq.map(r => fromRow(r.getStruct(0))).toSet
    assert(gset(Projections.having(aggSum,
      FilterCmp(?("sum"), Gt, TLong(1)))) == Set(s("g1"), s("g2")))
    assert(gset(Projections.having(aggSum,
      FilterNot(FilterBound(?("sum"))))) == Set(s("g3")))
    // dict store: aggregates act on the decoded frame — same numbers
    val dd = d.dictEncode()
    try {
      val gotD = terms(Projections.aggregated(
        Projections.selectDf(dd, Seq(
          pat(?("x"), T(cat), ?("g")),
          Optional(Seq(pat(?("x"), T(amt), ?("v"))))), Seq(?("g"), ?("v"))),
        Seq(?("g")), Seq(Agg(AggSum, Some(?("v")), ?("sum")))))
      assert(gotD(s("g1")) == Seq(TLong(big + 3)))
      assert(gotD(s("g3")) == Seq(null))
    } finally dd.unpersist()
  }

  test("100k-triple scale smoke: 2-pattern select (T:253-264)") {
    val big = (0 until 100000).map(i => (u((i - 1).toString), knows, u(i.toString)))
    val d = TripleDb.fromTerms(spark, friends_++(big)).index()
    val r = Matcha.select(Seq(?("name")), Seq(
      pat(T(rick), T(knows), ?("p2")),
      pat(?("p2"), T(label), ?("name"))), d)
    assert(r.toSet == Set(s("Martin"), s("Katie")))
    d.unpersist()
  }

  private def friends_++(extra: Seq[(graft.core.Term, graft.core.Term, graft.core.Term)]) =
    Seq(
      (rick, label, s("Rick")), (martin, label, s("Martin")),
      (katie, label, s("Katie")), (julie, label, s("Julie")),
      (rick, knows, martin), (rick, knows, katie), (katie, knows, julie)
    ) ++ extra
}
