package graft

import graft.core.{QuadDb, Term, TripleDb}
import graft.core.Term._
import graft.dsl._
import graft.engine.Projections

/** Named-graph (quad) semantics and property-path BGP rows — the two
  * query-surface extensions beyond the reference (which destructures
  * Quads but DROPS the graph, alpha.clj:54-58, and descopes property
  * paths, README:41-45).
  */
class QuadPathSpec extends GraftSpec {

  def qpat(a: TermOrVar, b: TermOrVar, c: TermOrVar, g: TermOrVar): QuadPattern =
    QuadPattern(a, b, c, g)

  def qset(d: QuadDb, vars: Seq[V], rows: Seq[PatternRow]): Set[Seq[Term]] =
    Projections.selectDf(d, rows, vars).collect().toSeq
      .map(r => r.toSeq.indices.map(i =>
        if (r.isNullAt(i)) null else Term.fromRow(r.getStruct(i)))).toSet

  val g1: Term = u("graph1")
  val g2: Term = u("graph2")

  /** friends facts split across two named graphs + one default-graph
    * fact; (katie knows julie) asserted in BOTH named graphs. */
  def quadFriends: QuadDb = QuadDb.fromQuads(spark, Seq(
    (rick, knows, martin, g1),
    (rick, knows, katie, g1),
    (katie, knows, julie, g2),
    (katie, knows, julie, g1),
    (rick, label, s("Rick"), QuadDb.DefaultGraph)))

  test("quad patterns: ground graph scopes, var graph binds, triple " +
      "patterns match the union of graphs") {
    val d = quadFriends
    // ground graph: only g1's facts
    assert(qset(d, Seq(?("o")), Seq(qpat(T(rick), T(knows), ?("o"), T(g1)))) ==
      Set(Seq(martin), Seq(katie)))
    // var graph binds per containing graph — the twin assertion of
    // (katie knows julie) yields one solution per graph
    assert(qset(d, Seq(?("g")), Seq(qpat(T(katie), T(knows), T(julie), ?("g")))) ==
      Set(Seq(g1), Seq(g2)))
    // plain TriplePattern = union of all graphs (one solution per
    // DISTINCT quad; the twin assertion is two facts, bag keeps both)
    val sol = Projections.selectDf(d, Seq(pat(?("s"), T(knows), ?("o"))),
      Seq(?("s"), ?("o"))).collect()
    assert(sol.length == 4) // 4 distinct quads with p=knows
    // a fully ground triple pattern too: the twin assertion gates the
    // label pattern twice, once per containing graph
    assert(Projections.selectDf(d, Seq(pat(T(katie), T(knows), T(julie)),
      pat(T(rick), T(label), ?("l"))), Seq(?("l"))).collect().length == 2)
    // default-graph facts are in the nil graph
    assert(qset(d, Seq(?("x")),
      Seq(qpat(T(rick), T(label), ?("x"), T(QuadDb.DefaultGraph)))) ==
      Set(Seq(s("Rick"))))
    // shared graph var joins patterns within the same graph: julie is
    // known in the graph where rick knows katie (g1) — not g2
    assert(qset(d, Seq(?("g")), Seq(
      qpat(T(rick), T(knows), T(katie), ?("g")),
      qpat(T(katie), T(knows), T(julie), ?("g")))) == Set(Seq(g1)))
  }

  test("quad patterns compose with optional/values; against a triple " +
      "store they fail loudly") {
    val d = quadFriends
    // optional quad clause: label lives only in the default graph, so
    // scoping the optional to g1 leaves it unbound
    val got = qset(d, Seq(?("o"), ?("l")), Seq(
      qpat(T(rick), T(knows), ?("o"), T(g1)),
      Optional(Seq(qpat(?("o"), T(label), ?("l"), T(g1))))))
    assert(got == Set(Seq(martin, null), Seq(katie, null)))
    // values on the graph var
    assert(qset(d, Seq(?("s"), ?("o")), Seq(
      qpat(?("s"), T(knows), ?("o"), ?("g")),
      Values(?("g"), Seq(g2)))) == Set(Seq(katie, julie)))
    val ex = intercept[InvalidBgp] {
      Projections.selectDf(friends, Seq(
        qpat(?("s"), T(knows), ?("o"), ?("g"))), Nil)
    }
    assert(ex.getMessage.contains("no graph position"))
  }

  test("QuadDb: merge is per-quad set semantics; graph() and toTriples " +
      "views collapse correctly; index idempotent") {
    val d = quadFriends
    val merged = QuadDb.merge(d, d)
    assert(merged.quads.toSet == d.quads.toSet)
    assert(merged.df.count() == 5)
    // one named graph as a TripleDb
    assert(d.graph(g2).triples.toSet == Set((katie, knows, julie)))
    // union view collapses the twin assertion to one fact after index
    assert(d.toTriples.index().triples.toSet == Set(
      (rick, knows, martin), (rick, knows, katie),
      (katie, knows, julie), (rick, label, s("Rick"))))
    assert(d.index().df.count() == 5)
  }

  test("N-Quads round-trip: graph labels for named graphs, plain " +
      "N-Triples lines for the default graph; .nt loads as all-default") {
    import graft.sources.NTriples
    val d = quadFriends
    val tmp = java.nio.file.Files.createTempDirectory("graft_nq").toString
    NTriples.saveQuads(d, tmp)
    val loaded = NTriples.loadQuads(spark, tmp)
    assert(loaded.quads.toSet == d.quads.toSet)
    // default-graph quads serialized with NO graph label (spec form)
    val raw = spark.read.text(tmp).collect().map(_.getString(0))
    val labelLine = raw.filter(_.contains("rdfs/label"))
    assert(labelLine.length == 1 &&
      labelLine.head.split(" ").length == 4) // s p o . — no graph token
    // an N-Triples file parses as a quad store in the default graph
    val tmp2 = java.nio.file.Files.createTempDirectory("graft_nq2").toString
    NTriples.save(friends, tmp2)
    val asQuads = NTriples.loadQuads(spark, tmp2)
    assert(asQuads.quads.forall(_._4 == QuadDb.DefaultGraph))
    assert(asQuads.quads.map(q => (q._1, q._2, q._3)).toSet ==
      friends.triples.toSet)
    // malformed quad line fails loudly
    val tmp3 = java.nio.file.Files.createTempDirectory("graft_nq3")
    java.nio.file.Files.write(tmp3.resolve("bad.nq"), java.util.Arrays.asList(
      "<urn:graft:kw/a> <urn:graft:kw/p> \"v\" _:g ."))
    val ex = intercept[Exception] {
      NTriples.loadQuads(spark, tmp3.toString).quads
    }
    assert(ex.getMessage.contains("malformed N-Quads line"))
  }

  test("dict-encoded quad store: same solutions as the struct path " +
      "through the long-keyed fold (graph var, ground graph, paths)") {
    val d = quadFriends
    val dd = d.dictEncode()
    try {
      def dset(rows: Seq[PatternRow], vars: V*): Set[Seq[Term]] =
        Projections.selectDf(dd, rows, vars).collect().toSeq
          .map(r => r.toSeq.indices.map(i =>
            if (r.isNullAt(i)) null else Term.fromRow(r.getStruct(i)))).toSet
      // graph var binds per containing graph
      assert(dset(Seq(qpat(T(katie), T(knows), T(julie), ?("g"))), ?("g")) ==
        Set(Seq(g1), Seq(g2)))
      // ground-graph scope
      assert(dset(Seq(qpat(T(rick), T(knows), ?("o"), T(g1))), ?("o")) ==
        Set(Seq(martin), Seq(katie)))
      // optional + values compose like the struct path
      assert(dset(Seq(
        qpat(T(rick), T(knows), ?("o"), ?("g")),
        Values(?("g"), Seq(g1)),
        Optional(Seq(qpat(?("o"), T(knows), ?("x"), ?("g2v"))))),
        ?("o"), ?("x")) ==
        Set(Seq(martin, null), Seq(katie, julie)))
      // a path over the dict-quad store (union-of-graphs edges)
      assert(dset(Seq(PathPattern(T(rick), PathPlus(knows), ?("o"))), ?("o")) ==
        Set(Seq(martin), Seq(katie), Seq(julie)))
      // ask on the dict-quad store: graph-scoped existence, no decode
      assert(graft.engine.Projections.ask(dd,
        Seq(qpat(T(katie), T(knows), T(julie), T(g2)))))
      assert(!graft.engine.Projections.ask(dd,
        Seq(qpat(T(rick), T(knows), T(julie), T(g1)))))
    } finally dd.unpersist()
  }

  test("CONSTRUCT into named graphs: quad templates materialize a " +
      "QuadDb, graph-scoped reads ≡ source filters, unbound template " +
      "positions emit nothing, quad-source overload") {
    val region = k("region"); val lab = k("lab"); val in_r = k("in_r")
    val d = TripleDb.fromTerms(spark, Seq(
      (k("a"), region, u("r1")), (k("a"), lab, s("A")),
      (k("b"), region, u("r2")), (k("b"), lab, s("B")),
      (k("c"), region, u("r1")), // no label → optional leaves ?l unbound
      (k("d"), lab, s("D")))) // no region → graph position unbound
    // one template per entity: (?x in_r ?l) INTO its region's graph
    val built = Projections.constructQuads(d, Seq(
      (V("x"), T(in_r), V("l"), V("g"))), Seq(
      pat(?("x"), T(region), ?("g")),
      Optional(Seq(pat(?("x"), T(lab), ?("l"))))))
    // c (unbound ?l) and d (unbound ?g) emit NOTHING (§16.2)
    assert(built.quads.toSet == Set(
      (k("a"), in_r, s("A"), u("r1")),
      (k("b"), in_r, s("B"), u("r2"))))
    // graph-scoped read over the CONSTRUCTED store ≡ source filter
    assert(qset(built, Seq(?("x"), ?("l")),
      Seq(qpat(?("x"), T(in_r), ?("l"), T(u("r1"))))) ==
      Set(Seq(k("a"), s("A"))))
    // ground-graph template + multi-template union + set dedup
    val two = Projections.constructQuads(d, Seq(
      (V("x"), T(k("seen")), T(TBool(true)), T(u("audit"))),
      (V("x"), T(k("seen")), T(TBool(true)), T(u("audit")))), Seq(
      pat(?("x"), T(region), ?("g"))))
    assert(two.quads.toSet == Set(
      (k("a"), k("seen"), TBool(true), u("audit")),
      (k("b"), k("seen"), TBool(true), u("audit")),
      (k("c"), k("seen"), TBool(true), u("audit"))))
    // quad-source overload: re-group one store's facts by NEW graphs
    val regrouped = Projections.constructQuads(built, Seq(
      (V("g"), T(k("holds")), V("x"), V("g"))), Seq(
      qpat(?("x"), T(in_r), ?("l"), ?("g"))))
    assert(regrouped.quads.toSet == Set(
      (u("r1"), k("holds"), k("a"), u("r1")),
      (u("r2"), k("holds"), k("b"), u("r2"))))
    // the result composes with the rest of the lifecycle: per-graph
    // VoID over the constructed store
    val stats = QuadDb.voidStats(built).collect()
    assert(stats.length == 2)
  }

  test("quad-store GDPR: subject delete masks across graphs, graph " +
      "delete takes down one named graph, compacted ≡ masked") {
    val d = quadFriends
    val tmp = java.nio.file.Files.createTempDirectory("graft_qdel").toString
    QuadDb.save(d, tmp)

    def facts(): Set[Seq[Term]] = {
      val ld = QuadDb.load(spark, tmp)
      qset(ld, Seq(?("s"), ?("p"), ?("o"), ?("g")),
        Seq(qpat(?("s"), ?("p"), ?("o"), ?("g"))))
    }
    val before = facts()
    assert(before.size == 5)

    // graph takedown: g2's single fact goes; the SAME triple stays
    // live in g1 (keys are the full quad)
    QuadDb.deleteGraph(spark, tmp, g2)
    val afterGraph = facts()
    assert(afterGraph == before.filterNot(_.last == g2))
    assert(afterGraph.exists(q => q.head == katie && q.last == g1))

    // subject takedown masks across every remaining graph incl. default
    QuadDb.deleteSubjects(spark, tmp,
      db((rick, knows, rick)).df.select("s"))
    val afterSubj = facts()
    assert(afterSubj == afterGraph.filterNot(_.head == rick))
    assert(afterSubj == Set(Seq(katie, knows, julie, g1)))

    QuadDb.compact(spark, tmp)
    assert(facts() == afterSubj, "compacted ≡ tombstone-masked")
    assert(!graft.core.Tombstones.exist(spark, tmp))
  }

  test("dict-quad durable store: save/load round-trip, encoded-key " +
      "delete + compact, merge with cross-store terms") {
    import graft.core.DictDb
    val d = quadFriends
    val built = d.index().dictEncode()
    val tmp = java.nio.file.Files.createTempDirectory("graft_dqdel").toString
    val tbl = s"quadspec_del_${math.abs(tmp.hashCode)}"
    DictDb.saveQuads(built, tmp, tbl, buckets = 4)
    built.unpersist()

    def known(): Set[Seq[Term]] = {
      val ld = DictDb.loadQuads(spark, tmp, tbl)
      Projections.selectDf(ld, Seq(qpat(?("s"), T(knows), ?("o"), ?("g"))),
        Seq(?("s"), ?("o"), ?("g"))).collect().toSeq
        .map(r => r.toSeq.indices.map(i => Term.fromRow(r.getStruct(i)))).toSet
    }
    val before = known()
    assert(before.size == 4)

    // delete (katie knows julie) ONLY in g1 by encoded ids — the g2
    // assertion of the same triple must stay live
    import spark.implicits._
    val doomed = Seq((DictDb.termId(katie), DictDb.termId(knows),
      DictDb.termId(julie), DictDb.termId(g1))).toDF("s", "p", "o", "g")
    DictDb.deleteQuadRows(doomed, tmp)
    val masked = known()
    assert(masked == before.filterNot(q => q == Seq(katie, julie, g1)))
    assert(masked.contains(Seq(katie, julie, g2)))

    DictDb.compactQuads(spark, tmp)
    assert(known() == masked, "compacted ≡ tombstone-masked")
    assert(!graft.core.Tombstones.exist(spark, s"$tmp/quads"))

    // merge: cross-store union on the four ids, decode intact
    val otherQuads = QuadDb.fromQuads(spark, Seq(
      (julie, knows, rick, g2),
      (katie, knows, julie, g2))) // overlap collapses
    val merged = DictDb.mergeQuads(
      DictDb.loadQuads(spark, tmp, tbl), otherQuads.dictEncode())
    val got = Projections.selectDf(merged,
      Seq(qpat(?("s"), T(knows), ?("o"), T(g2))), Seq(?("s"), ?("o")))
      .collect().toSeq
      .map(r => (Term.fromRow(r.getStruct(0)), Term.fromRow(r.getStruct(1))))
      .toSet
    assert(got == Set((katie, julie), (julie, rick)))
    merged.unpersist()
  }

  test("path+: transitive closure as a BGP row — var/var, ground " +
      "source (BFS), ground sink, ground/ground gate, cycles") {
    // chain a→b→c→d plus a side edge x→c
    val a = u("a"); val b = u("b"); val c = u("c"); val dd = u("d"); val x = u("x")
    val g = db((a, knows, b), (b, knows, c), (c, knows, dd), (x, knows, c))
    // var/var: all reachable pairs
    assert(resultSet(g, Seq(?("s"), ?("o")),
      Seq(PathPattern(?("s"), PathPlus(knows), ?("o")))) == Set(
      Seq(a, b), Seq(a, c), Seq(a, dd),
      Seq(b, c), Seq(b, dd), Seq(c, dd), Seq(x, c), Seq(x, dd)))
    // ground source: reachable FROM a
    assert(resultSet(g, Seq(?("o")),
      Seq(PathPattern(T(a), PathPlus(knows), ?("o")))) ==
      Set(Seq(b), Seq(c), Seq(dd)))
    // ground sink: everything that reaches d
    assert(resultSet(g, Seq(?("s")),
      Seq(PathPattern(?("s"), PathPlus(knows), T(dd)))) ==
      Set(Seq(a), Seq(b), Seq(c), Seq(x)))
    // ground/ground: an existence gate over another pattern's solutions
    assert(resultSet(g, Seq(?("n")), Seq(
      pat(T(a), T(knows), ?("n")),
      PathPattern(T(a), PathPlus(knows), T(dd)))) == Set(Seq(b)))
    assert(resultSet(g, Seq(?("n")), Seq(
      pat(T(a), T(knows), ?("n")),
      PathPattern(T(dd), PathPlus(knows), T(a)))) == Set.empty[Seq[Term]])
    // cycle: repeated var keeps only nodes on a cycle
    val cyc = db((a, knows, b), (b, knows, a), (c, knows, dd))
    assert(resultSet(cyc, Seq(?("n")),
      Seq(PathPattern(?("n"), PathPlus(knows), ?("n")))) ==
      Set(Seq(a), Seq(b)))
  }

  test("graph-scoped paths: ground graph scopes every hop, var graph " +
      "binds per containing graph, walks cannot cross graphs") {
    // g1 holds the chain rick→martin→katie; g2 holds rick→julie and
    // martin→julie. A scoped walk must NOT chain rick→martin (g1)
    // with martin→julie (g2).
    val qdb = QuadDb.fromQuads(spark, Seq(
      (rick, knows, martin, g1),
      (martin, knows, katie, g1),
      (rick, knows, julie, g2),
      (martin, knows, julie, g2)))
    def q(rows: Seq[PatternRow], vars: V*): Set[Seq[Term]] =
      qset(qdb, vars, rows)
    // ground graph + ground source: transitive within g1 / g2 only
    assert(q(Seq(QuadPathPattern(T(rick), PathPlus(knows), ?("o"), T(g1))),
      ?("o")) == Set(Seq(martin), Seq(katie)))
    assert(q(Seq(QuadPathPattern(T(rick), PathPlus(knows), ?("o"), T(g2))),
      ?("o")) == Set(Seq(julie)))
    // var graph: pairs bound per containing graph
    assert(q(Seq(QuadPathPattern(T(rick), PathPlus(knows), ?("o"), ?("g"))),
      ?("o"), ?("g")) ==
      Set(Seq(martin, g1), Seq(katie, g1), Seq(julie, g2)))
    // the union-graph plain PathPattern DOES cross graphs
    assert(q(Seq(PathPattern(T(rick), PathPlus(knows), ?("o"))), ?("o")) ==
      Set(Seq(martin), Seq(katie), Seq(julie)))
    // a 2-hop sequence exists only inside g1
    assert(q(Seq(QuadPathPattern(T(rick),
      PathSeq(Seq(PathPred(knows), PathPred(knows))), ?("o"), ?("g"))),
      ?("o"), ?("g")) == Set(Seq(katie, g1)))
    // ground sink, var graph (walks the inverted path per graph)
    assert(q(Seq(QuadPathPattern(?("s"), PathPlus(knows), T(julie), ?("g"))),
      ?("s"), ?("g")) == Set(Seq(rick, g2), Seq(martin, g2)))
    // shared graph var joins the path with a quad pattern
    assert(q(Seq(
      QuadPathPattern(T(rick), PathPlus(knows), ?("o"), ?("g")),
      qpat(T(martin), T(knows), ?("o2"), ?("g"))),
      ?("o"), ?("o2"), ?("g")) ==
      Set(Seq(martin, katie, g1), Seq(katie, katie, g1),
        Seq(julie, julie, g2)))
    // fully-ground scoped gates
    assert(q(Seq(qpat(T(rick), T(knows), ?("n"), T(g1)),
      QuadPathPattern(T(rick), PathPlus(knows), T(katie), T(g1))), ?("n")) ==
      Set(Seq(martin)))
    assert(q(Seq(qpat(T(rick), T(knows), ?("n"), T(g1)),
      QuadPathPattern(T(rick), PathPlus(knows), T(katie), T(g2))), ?("n")) ==
      Set.empty[Seq[Term]])
    // against a triple store: loud
    intercept[InvalidBgp] { Projections.selectDf(friends,
      Seq(QuadPathPattern(T(rick), PathPlus(knows), ?("o"), ?("g"))),
      Seq(?("o"))) }
    // dict-encoded quad store: same solutions over (long, long) keys
    val dd = qdb.dictEncode()
    try {
      val got = Projections.selectDf(dd,
        Seq(QuadPathPattern(T(rick), PathPlus(knows), ?("o"), ?("g"))),
        Seq(?("o"), ?("g")))
        .collect().toSeq.map(r => (Term.fromRow(r.getStruct(0)),
          Term.fromRow(r.getStruct(1)))).toSet
      assert(got == Set((martin, g1), (katie, g1), (julie, g2)))
    } finally dd.unpersist()
  }

  test("path algebra: sequence, inverse, general alternation, plus-of — " +
      "ground source, ground sink, whole-sequence inverse, dict store") {
    val mentors = k("mentors")
    // rick -knows-> martin -knows-> katie; julie -mentors-> katie
    val g = db(
      (rick, knows, martin), (martin, knows, katie),
      (julie, mentors, katie))
    def seq2 = PathSeq(Seq(PathPred(knows), PathPred(knows)))
    // sequence: knows/knows = exactly two hops
    assert(resultSet(g, Seq(?("o")),
      Seq(PathPattern(T(rick), seq2, ?("o")))) == Set(Seq(katie)))
    // sequence ending in an inverse step: the 2-hop target's mentor
    assert(resultSet(g, Seq(?("m")), Seq(PathPattern(T(rick),
      PathSeq(Seq(PathPred(knows), PathPred(knows), PathInv(PathPred(mentors)))),
      ?("m")))) == Set(Seq(julie)))
    // ground sink through a sequence (frontier walks the inverse path)
    assert(resultSet(g, Seq(?("s")),
      Seq(PathPattern(?("s"), seq2, T(katie)))) == Set(Seq(rick)))
    // inverse of a whole sequence reverses and inverts its steps
    assert(resultSet(g, Seq(?("s")),
      Seq(PathPattern(T(katie), PathInv(seq2), ?("s")))) == Set(Seq(rick)))
    // double inverse cancels
    assert(resultSet(g, Seq(?("o")),
      Seq(PathPattern(T(rick), PathInv(PathInv(seq2)), ?("o")))) ==
      Set(Seq(katie)))
    // general alternation over inverse elements
    assert(resultSet(g, Seq(?("x")), Seq(PathPattern(T(katie),
      PathAlt(Seq(PathInv(PathPred(knows)), PathInv(PathPred(mentors)))),
      ?("x")))) == Set(Seq(martin), Seq(julie)))
    // plus-of over an inverse: all ancestors via ^knows+
    assert(resultSet(g, Seq(?("x")), Seq(PathPattern(T(katie),
      PathPlusOf(PathInv(PathPred(knows))), ?("x")))) ==
      Set(Seq(martin), Seq(rick)))
    // ground/ground sequence as an existence gate
    assert(resultSet(g, Seq(?("n")), Seq(
      pat(T(rick), T(knows), ?("n")),
      PathPattern(T(rick), seq2, T(katie)))) == Set(Seq(martin)))
    assert(resultSet(g, Seq(?("n")), Seq(
      pat(T(rick), T(knows), ?("n")),
      PathPattern(T(katie), seq2, T(rick)))) == Set.empty[Seq[Term]])
    // var/var over a sequence
    assert(resultSet(g, Seq(?("a"), ?("b")),
      Seq(PathPattern(?("a"), seq2, ?("b")))) == Set(Seq(rick, katie)))
    // dict-encoded store runs the same algebra over 8-byte keys
    val dd = g.dictEncode()
    try {
      val got = Projections.selectDf(dd, Seq(PathPattern(T(rick),
        PathSeq(Seq(PathPred(knows), PathPred(knows),
          PathInv(PathPred(mentors)))), ?("m"))), Seq(?("m")))
        .collect().toSeq.map(r => Term.fromRow(r.getStruct(0))).toSet
      assert(got == Set(julie))
    } finally dd.unpersist()
  }

  test("negated property sets !(p1|...): forward complement, inverse " +
      "via ^!p, mixed set as the SPARQL union, composition, graph " +
      "scoping, dict store") {
    val mentors = k("mentors"); val hates = k("hates")
    val g = db(
      (rick, knows, martin), (rick, hates, katie),
      (julie, mentors, katie))
    // forward: anything rick relates to EXCEPT via knows
    assert(resultSet(g, Seq(?("o")),
      Seq(PathPattern(T(rick), PathNeg(Seq(knows)), ?("o")))) ==
      Set(Seq(katie)))
    // 2-pred exclusion: nothing left from rick
    assert(resultSet(g, Seq(?("o")),
      Seq(PathPattern(T(rick), PathNeg(Seq(knows, hates)), ?("o")))) ==
      Set.empty[Seq[Term]])
    // inverse members compose as ^(!p): who reaches katie by any
    // predicate except hates
    assert(resultSet(g, Seq(?("s")),
      Seq(PathPattern(T(katie), PathInv(PathNeg(Seq(hates))), ?("s")))) ==
      Set(Seq(julie)))
    // mixed set !(knows|^mentors) = SPARQL union of the two parts:
    // forward non-knows edges ∪ reversed non-mentors edges
    val mixed = PathAlt(Seq(
      PathNeg(Seq(knows)), PathInv(PathNeg(Seq(mentors)))))
    assert(resultSet(g, Seq(?("o")),
      Seq(PathPattern(T(katie), mixed, ?("o")))) == Set(Seq(rick)))
    // composes inside sequences: a knows-hop then a non-knows hop
    assert(resultSet(g, Seq(?("a"), ?("b")), Seq(PathPattern(?("a"),
      PathSeq(Seq(PathNeg(Seq(mentors)), PathInv(PathNeg(Seq(knows))))),
      ?("b")))) == Set(Seq(rick, rick), Seq(rick, julie)))
    // ground/ground gate
    assert(resultSet(g, Seq(?("n")), Seq(
      pat(T(rick), T(knows), ?("n")),
      PathPattern(T(rick), PathNeg(Seq(knows)), T(katie)))) ==
      Set(Seq(martin)))
    // graph scoping: the complement scan stays inside the graph
    val qd = QuadDb.fromQuads(spark, Seq(
      (rick, knows, martin, g1),
      (rick, hates, katie, g1),
      (rick, mentors, julie, g2)))
    // ground graph g1: non-knows edge from rick is only the hates one
    assert(qset(qd, Seq(?("o")), Seq(
      QuadPathPattern(T(rick), PathNeg(Seq(knows)), ?("o"), T(g1)))) ==
      Set(Seq(katie)))
    // var graph: each graph's own complement, graph bound per pair
    assert(qset(qd, Seq(?("o"), ?("g")), Seq(
      QuadPathPattern(T(rick), PathNeg(Seq(knows)), ?("o"), ?("g")))) ==
      Set(Seq(katie, g1), Seq(julie, g2)))
    // dict store: the exclusion is an 8-byte id inequality
    val dd = g.dictEncode()
    try {
      val got = Projections.selectDf(dd, Seq(PathPattern(T(rick),
        PathNeg(Seq(knows)), ?("o"))), Seq(?("o")))
        .collect().toSeq.map(r => Term.fromRow(r.getStruct(0))).toSet
      assert(got == Set(katie))
    } finally dd.unpersist()
  }

  test("path quantifier elt{n,m}: exact hop windows, zero-length " +
      "component, ground endpoints via the frontier, inverse, scoped") {
    val e = k("e")
    // a chain a→b→c→d plus a side edge b→x
    val d = TripleDb.fromTerms(spark, Seq(
      (k("a"), e, k("b")), (k("b"), e, k("c")), (k("c"), e, k("d")),
      (k("b"), e, k("x"))))
    def pairs(pe: PathExpr): Set[(Term, Term)] =
      Projections.selectDf(d, Seq(PathPattern(?("s"), pe, ?("o"))),
        Seq(?("s"), ?("o"))).collect().toSeq
        .map(r => (fromRow(r.getStruct(0)), fromRow(r.getStruct(1)))).toSet
    // {2,3}: exactly the 2- and 3-hop pairs
    assert(pairs(PathRange(PathPred(e), 2, 3)) == Set(
      (k("a"), k("c")), (k("a"), k("x")), (k("b"), k("d")), // 2 hops
      (k("a"), k("d")))) // 3 hops
    // {1,1} ≡ the single hop; {0,1} adds the node-universe identity
    assert(pairs(PathRange(PathPred(e), 1, 1)) ==
      pairs(PathPred(e)))
    assert(pairs(PathRange(PathPred(e), 0, 1)) ==
      pairs(PathOpt(PathPred(e))))
    // ground source walks a frontier: only the reachable set
    val fromA = Projections.selectDf(d, Seq(
      PathPattern(T(k("a")), PathRange(PathPred(e), 1, 2), ?("o"))),
      Seq(?("o"))).collect().toSeq.map(r => fromRow(r.getStruct(0))).toSet
    assert(fromA == Set(k("b"), k("c"), k("x")))
    // inverse distributes into the quantifier: (^e){2,2} = 2 hops back
    assert(pairs(PathInv(PathRange(PathPred(e), 2, 2))) ==
      pairs(PathRange(PathPred(e), 2, 2)).map(_.swap))
    // graph-scoped: the walk cannot cross graphs
    val qd = QuadDb.fromQuads(spark, Seq(
      (k("a"), e, k("b"), g1), (k("b"), e, k("c"), g2)))
    assert(qset(qd, Seq(?("o")), Seq(
      QuadPathPattern(T(k("a")), PathRange(PathPred(e), 1, 2), ?("o"),
        T(g1)))) == Set(Seq(k("b")))) // the g2 hop is unreachable
    // validation is loud
    intercept[IllegalArgumentException](PathRange(PathPred(e), -1, 2))
    intercept[IllegalArgumentException](PathRange(PathPred(e), 3, 2))
  }

  test("zero-length forms p* / p?: self-pairs cover every STORE node " +
      "(SPARQL ZeroLengthPath), ground endpoints pay existence probes, " +
      "graph scope bounds the node universe per graph") {
    val a = u("a"); val b = u("b"); val c = u("c")
    val g = db((a, knows, b), (b, knows, c), (a, label, s("A")))
    // ground source star: a itself plus everything reachable
    assert(resultSet(g, Seq(?("o")),
      Seq(PathPattern(T(a), PathStar(PathPred(knows)), ?("o")))) ==
      Set(Seq(a), Seq(b), Seq(c)))
    // a term NOT in the store has no zero-length pair
    assert(resultSet(g, Seq(?("o")),
      Seq(PathPattern(T(u("ghost")), PathStar(PathPred(knows)), ?("o")))) ==
      Set.empty[Seq[Term]])
    // a literal node self-pairs (it appears in object position)
    assert(resultSet(g, Seq(?("o")),
      Seq(PathPattern(T(s("A")), PathStar(PathPred(knows)), ?("o")))) ==
      Set(Seq(s("A"))))
    // opt: zero or ONE hop
    assert(resultSet(g, Seq(?("o")),
      Seq(PathPattern(T(a), PathOpt(PathPred(knows)), ?("o")))) ==
      Set(Seq(a), Seq(b)))
    // var/var opt = identity over ALL 4 store nodes + the edges
    assert(resultSet(g, Seq(?("x"), ?("y")),
      Seq(PathPattern(?("x"), PathOpt(PathPred(knows)), ?("y")))) ==
      Set(Seq(a, a), Seq(b, b), Seq(c, c), Seq(s("A"), s("A")),
        Seq(a, b), Seq(b, c)))
    // star inside a sequence: knows*/label finds labels at ANY depth
    assert(resultSet(g, Seq(?("l")),
      Seq(PathPattern(T(a), PathSeq(Seq(PathStar(PathPred(knows)),
        PathPred(label))), ?("l")))) == Set(Seq(s("A"))))
    // ground sink star through the inverse walk
    assert(resultSet(g, Seq(?("x")),
      Seq(PathPattern(?("x"), PathStar(PathPred(knows)), T(c)))) ==
      Set(Seq(a), Seq(b), Seq(c)))
    // graph scope bounds the zero-length node universe PER GRAPH:
    // rick self-pairs in both graphs, but reaches julie only in g2
    val qdb = QuadDb.fromQuads(spark, Seq(
      (rick, knows, martin, g1),
      (rick, knows, julie, g2)))
    assert(qset(qdb, Seq(?("o"), ?("g")), Seq(QuadPathPattern(T(rick),
      PathStar(PathPred(knows)), ?("o"), ?("g")))) ==
      Set(Seq(rick, g1), Seq(martin, g1), Seq(rick, g2), Seq(julie, g2)))
    // ground-graph scope: only that graph's nodes and edges
    assert(qset(qdb, Seq(?("o")), Seq(QuadPathPattern(T(rick),
      PathStar(PathPred(knows)), ?("o"), T(g1)))) ==
      Set(Seq(rick), Seq(martin)))
  }

  test("path+ composes with patterns, optional, values; alternation " +
      "walks any predicate; dict store runs the same fold") {
    val mentors = k("mentors")
    val g = db(
      (rick, knows, martin), (martin, knows, katie), (katie, mentors, julie),
      (rick, label, s("Rick")), (julie, label, s("Julie")))
    // join with a scan pattern: reachable-from-rick THAT have labels
    assert(resultSet(g, Seq(?("o"), ?("l")), Seq(
      PathPattern(T(rick), PathPlus(knows), ?("o")),
      pat(?("o"), T(label), ?("l")))) == Set.empty[Seq[Term]])
    // alternation: knows|mentors reaches julie
    assert(resultSet(g, Seq(?("o"), ?("l")), Seq(
      PathPattern(T(rick), PathAltPlus(Seq(knows, mentors)), ?("o")),
      pat(?("o"), T(label), ?("l")))) == Set(Seq(julie, s("Julie"))))
    // optional around the label; values restricting path endpoints
    assert(resultSet(g, Seq(?("o"), ?("l")), Seq(
      PathPattern(T(rick), PathPlus(knows), ?("o")),
      Values(?("o"), Seq(martin, julie)),
      Optional(Seq(pat(?("o"), T(label), ?("l")))))) ==
      Set(Seq(martin, null)))
    // dict-encoded store: same solutions through the long-keyed fold
    val dictGot = Projections.selectDf(g.dictEncode(), Seq(
        PathPattern(T(rick), PathAltPlus(Seq(knows, mentors)), ?("o")),
        pat(?("o"), T(label), ?("l"))), Seq(?("o"), ?("l")))
      .collect().toSeq.map(r => (Term.fromRow(r.getStruct(0)),
        Term.fromRow(r.getStruct(1)))).toSet
    assert(dictGot == Set((julie, s("Julie"))))
  }

  test("GraphScope sugar: rewrites to exactly the hand-written quad " +
      "rows (plan identity by construction); recursion through " +
      "optional/union/exists; passthrough rows; loud refusals") {
    val gv = ?("g")
    // AST identity — the compiler sees the SAME rows, so the plan is
    // byte-identical to authoring the quad forms by hand
    assert(GraphScope(gv, Seq(
      pat(?("s"), T(knows), ?("o")),
      PathPattern(?("s"), PathPlus(knows), ?("t")),
      Optional(Seq(pat(?("o"), T(label), ?("l")))),
      Union(Seq(Seq(pat(?("s"), T(knows), ?("x"))),
        Seq(pat(?("x"), T(knows), ?("s"))))),
      Values(?("s"), Seq(rick)),
      FilterAnd(Seq(FilterBound(?("l")),
        FilterExists(Seq(pat(?("o"), T(knows), ?("z")))))))) == Seq(
      qpat(?("s"), T(knows), ?("o"), gv),
      QuadPathPattern(?("s"), PathPlus(knows), ?("t"), gv),
      Optional(Seq(qpat(?("o"), T(label), ?("l"), gv))),
      Union(Seq(Seq(qpat(?("s"), T(knows), ?("x"), gv)),
        Seq(qpat(?("x"), T(knows), ?("s"), gv)))),
      Values(?("s"), Seq(rick)),
      FilterAnd(Seq(FilterBound(?("l")),
        FilterExists(Seq(qpat(?("o"), T(knows), ?("z"), gv)))))))
    // behavior: the scoped group joins within ONE graph per solution
    val d = quadFriends
    assert(qset(d, Seq(?("g")), GraphScope(?("g"), Seq(
      pat(T(rick), T(knows), T(katie)),
      pat(T(katie), T(knows), T(julie))))) == Set(Seq(g1)))
    // already-scoped rows and subqueries refuse loudly
    intercept[InvalidBgp] {
      GraphScope(gv, Seq(qpat(?("s"), T(knows), ?("o"), T(g1))))
    }
    intercept[InvalidBgp] {
      GraphScope(gv, Seq(SubSelect(Seq(?("s")),
        Seq(pat(?("s"), T(knows), ?("o"))))))
    }
  }
}
