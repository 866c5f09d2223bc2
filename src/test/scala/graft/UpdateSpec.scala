package graft

import graft.core.{QuadDb, Term, TripleDb}
import graft.core.Term._
import graft.dsl._
import graft.ops.Update

/** Query-driven mutation (ops/Update.scala): INSERT WHERE / DELETE
  * WHERE / DELETE-INSERT WHERE over value and durable stores. */
class UpdateSpec extends GraftSpec {

  private val amt = k("amt"); private val cat = k("cat")
  private def base = db(
    (k("a"), amt, l(5)), (k("a"), cat, s("hot")),
    (k("b"), amt, l(1)), (k("b"), cat, s("cold")),
    (k("c"), amt, l(9)), (k("c"), cat, s("hot")))

  test("value forms: INSERT adds set-semantically, DELETE removes from " +
      "the full view AND every slice, DELETE/INSERT shares one " +
      "pre-mutation solution set") {
    // INSERT WHERE: mark every hot subject; re-running adds nothing
    val ins = Update.insertWhere(base,
      Seq((V("x"), T(k("marked")), T(TBool(true)))),
      Seq(pat(V("x"), T(cat), T(s("hot")))))
    assert(ins.triples.toSet == base.triples.toSet ++ Set(
      (k("a"), k("marked"), TBool(true)),
      (k("c"), k("marked"), TBool(true))))
    val again = Update.insertWhere(ins,
      Seq((V("x"), T(k("marked")), T(TBool(true)))),
      Seq(pat(V("x"), T(cat), T(s("hot")))))
    assert(again.triples.size == ins.triples.size)
    // DELETE WHERE with a var predicate: every fact of hot subjects
    val del = Update.deleteWhere(base,
      Seq((V("x"), V("p"), V("o"))),
      Seq(pat(V("x"), T(cat), T(s("hot"))),
        pat(V("x"), V("p"), V("o"))))
    assert(del.triples.toSet == Set(
      (k("b"), amt, l(1)), (k("b"), cat, s("cold"))))
    // slices stay consistent with the full view (ground-pred scan)
    assert(bag(del, Seq(V("x")), Seq(pat(V("x"), T(amt), V("v")))) ==
      Map(Seq(k("b")) -> 1))
    // §3.1.3: delete the amt facts of hot subjects AND insert a
    // tombstone marker carrying the PRE-delete amount — the insert
    // reads bindings the delete removes
    val di = Update.deleteInsertWhere(base,
      deleteTs = Seq((V("x"), T(amt), V("v"))),
      insertTs = Seq((V("x"), T(k("redacted_amt")), V("v"))),
      where = Seq(pat(V("x"), T(cat), T(s("hot"))),
        pat(V("x"), T(amt), V("v"))))
    assert(di.triples.toSet == Set(
      (k("a"), cat, s("hot")), (k("b"), amt, l(1)),
      (k("b"), cat, s("cold")), (k("c"), cat, s("hot")),
      (k("a"), k("redacted_amt"), l(5)),
      (k("c"), k("redacted_amt"), l(9))))
    // a fact deleted AND re-inserted by the same op ends up PRESENT
    val keep = Update.deleteInsertWhere(base,
      deleteTs = Seq((V("x"), T(amt), V("v"))),
      insertTs = Seq((V("x"), T(amt), V("v"))),
      where = Seq(pat(V("x"), T(amt), V("v"))))
    assert(keep.triples.toSet == base.triples.toSet)
  }

  test("quad forms: INSERT lands into computed graphs; DELETE keys on " +
      "the full quad (same triple in another graph stays live)") {
    val qdb = QuadDb.fromQuads(spark, Seq(
      (k("a"), amt, l(1), TUri("g/1")),
      (k("a"), amt, l(1), TUri("g/2")),
      (k("b"), amt, l(2), TUri("g/1"))))
    val del = Update.deleteWhere(qdb,
      Seq((V("x"), T(amt), V("v"), T(TUri("g/1")))),
      Seq(QuadPattern(V("x"), T(amt), V("v"), T(TUri("g/1")))))
    assert(del.quads.toSet == Set(
      (k("a"), amt, l(1), TUri("g/2")))) // g/2 copy survives
    val ins = Update.insertWhere(qdb,
      Seq((V("x"), T(k("seen")), T(TBool(true)), V("g"))),
      Seq(QuadPattern(V("x"), T(amt), V("v"), V("g"))))
    assert(ins.quads.toSet == qdb.quads.toSet ++ Set(
      (k("a"), k("seen"), TBool(true), TUri("g/1")),
      (k("a"), k("seen"), TBool(true), TUri("g/2")),
      (k("b"), k("seen"), TBool(true), TUri("g/1"))))
  }

  test("durable forms: DELETE WHERE tombstones only live facts; INSERT " +
      "WHERE appends only novel facts and RESURRECTS re-asserted " +
      "tombstoned ones; DELETE/INSERT is the §3.1.3 composition") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_upd").toString
    TripleDb.save(base, tmp)
    // redact hot subjects' amounts, marker carries the old value
    Update.deleteInsertWhere(spark, tmp,
      deleteTs = Seq((V("x"), T(amt), V("v"))),
      insertTs = Seq((V("x"), T(k("redacted_amt")), V("v"))),
      where = Seq(pat(V("x"), T(cat), T(s("hot"))),
        pat(V("x"), T(amt), V("v"))))
    assert(TripleDb.load(spark, tmp).triples.toSet == Set(
      (k("a"), cat, s("hot")), (k("b"), amt, l(1)),
      (k("b"), cat, s("cold")), (k("c"), cat, s("hot")),
      (k("a"), k("redacted_amt"), l(5)),
      (k("c"), k("redacted_amt"), l(9))))
    // RESURRECTION: re-asserting a's amount clears its tombstone — and
    // appends NO duplicate (the physical row is still in the store)
    Update.insertWhere(spark, tmp,
      Seq((V("x"), T(amt), T(l(5)))),
      Seq(pat(V("x"), T(k("redacted_amt")), T(l(5)))))
    // materialize BEFORE compaction rewrites files in place (frames
    // captured pre-rewrite chase deleted part files — the q116 lesson)
    val afterSeq = TripleDb.load(spark, tmp).triples
    val afterSet = afterSeq.toSet
    // a Seq count — a physical duplicate row would show here
    assert(afterSeq.count(_ == ((k("a"), amt, l(5)))) == 1)
    // c's amount stays dead (only a's was re-asserted)
    assert(!afterSet.contains((k("c"), amt, l(9))))
    // deleting an absent fact is a no-op; deleting b's cat works
    Update.deleteWhere(spark, tmp,
      Seq((V("x"), T(cat), V("v"))),
      Seq(pat(V("x"), T(cat), T(s("cold"))),
        pat(V("x"), T(cat), V("v"))))
    assert(TripleDb.load(spark, tmp).triples.toSet ==
      afterSet - ((k("b"), cat, s("cold"))))
    // compaction after query-driven deletes stays equivalent
    TripleDb.compact(spark, tmp)
    assert(TripleDb.load(spark, tmp).triples.toSet ==
      afterSet - ((k("b"), cat, s("cold"))))
  }

  test("durable stores whose predicate names all look like numbers or " +
      "dates load them as string slices, answer queries, and keep the " +
      "names through delete + compaction") {
    for (names <- Seq(Seq("2024", "2025"), Seq("2024-01-01", "2024-02-01"),
                      Seq("007", "1.50"))) {
      val Seq(p1, p2) = names.map(k)
      val facts = Seq((k("a"), p1, l(1)), (k("b"), p2, l(2)),
        (k("c"), p2, l(3)))
      val q = Seq(pat(V("x"), T(p2), V("v")))
      val tmp = java.nio.file.Files.createTempDirectory("graft_numpred").toString
      TripleDb.save(db(facts: _*), tmp)
      val loaded = TripleDb.load(spark, tmp)
      assert(loaded.predIndex.keySet == names.toSet, names)
      assert(bag(loaded, Seq(V("x"), V("v")), q) ==
        bag1(Seq(Seq(k("b"), l(2)), Seq(k("c"), l(3)))), names)
      TripleDb.deleteTriples(db((k("b"), p2, l(2))).df, tmp)
      TripleDb.compact(spark, tmp)
      val compacted = TripleDb.load(spark, tmp)
      assert(compacted.predIndex.keySet == names.toSet, names)
      assert(bag(compacted, Seq(V("x"), V("v")), q) ==
        bag1(Seq(Seq(k("c"), l(3)))), names)

      val qtmp = java.nio.file.Files.createTempDirectory("graft_numpredq").toString
      QuadDb.save(QuadDb.fromQuads(spark,
        facts.map { case (s1, p, o) => (s1, p, o, TUri("g/1")) }), qtmp)
      val qloaded = QuadDb.load(spark, qtmp)
      assert(qloaded.predIndex.keySet == names.toSet, names)
      assert(graft.engine.Projections.selectDf(qloaded,
          Seq(QuadPattern(V("x"), T(p2), V("v"), V("g"))), Seq(V("x"), V("g")))
        .collect().map(r => (Term.fromRow(r.getStruct(0)),
          Term.fromRow(r.getStruct(1)))).toSet ==
        Set((k("b"), TUri("g/1")), (k("c"), TUri("g/1"))), names)
    }
  }

  test("tombstone crash recovery: a swap interrupted between its two " +
      "renames leaves only _old — the next read renames it back, so " +
      "deleted facts stay masked (never resurrected)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_crash").toString
    TripleDb.save(base, tmp)
    Update.deleteWhere(spark, tmp,
      Seq((V("x"), T(amt), V("v"))),
      Seq(pat(V("x"), T(cat), T(s("hot"))), pat(V("x"), T(amt), V("v"))))
    val masked = TripleDb.load(spark, tmp).triples.toSet
    assert(!masked.contains((k("a"), amt, l(5))))
    // simulate the crash window: tombstone dir moved aside, the new
    // set never renamed into place
    val tombDir = tmp + "/" + graft.core.Tombstones.Dir
    val p = new org.apache.hadoop.fs.Path(tombDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(p, new org.apache.hadoop.fs.Path(tombDir + "_old")))
    spark.catalog.refreshByPath(tmp)
    // a masked load repairs _old automatically — same answer
    assert(TripleDb.load(spark, tmp).triples.toSet == masked)
    assert(fs.exists(p) &&
      !fs.exists(new org.apache.hadoop.fs.Path(tombDir + "_old")))
  }

  test("durable quad DELETE WHERE: graph-scoped redaction keys on the " +
      "full quad; INSERT WHERE resurrects per-quad and appends novel " +
      "facts into computed graphs") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_updq").toString
    val qdb = QuadDb.fromQuads(spark, Seq(
      (k("a"), amt, l(1), TUri("g/1")),
      (k("a"), amt, l(1), TUri("g/2")),
      (k("b"), amt, l(2), TUri("g/1"))))
    QuadDb.save(qdb, tmp)
    Update.deleteWhereQuads(spark, tmp,
      Seq((V("x"), T(amt), V("v"), T(TUri("g/1")))),
      Seq(QuadPattern(V("x"), T(amt), V("v"), T(TUri("g/1")))))
    assert(QuadDb.load(spark, tmp).quads.toSet == Set(
      (k("a"), amt, l(1), TUri("g/2"))))
    // INSERT WHERE: a marker lands in the SAME graph the fact lives
    // in (computed graph position), and re-asserting a's g/1 amount
    // resurrects the tombstoned quad without a physical duplicate
    Update.insertWhereQuads(spark, tmp,
      Seq((V("x"), T(k("seen")), T(TBool(true)), V("g")),
        (V("x"), T(amt), V("v"), T(TUri("g/1")))),
      Seq(QuadPattern(V("x"), T(amt), V("v"), V("g"))))
    val got = QuadDb.load(spark, tmp).quads
    // b's g/1 quad stays dead: its tombstone survives the key removal
    assert(got.toSet == Set(
      (k("a"), amt, l(1), TUri("g/2")),
      (k("a"), amt, l(1), TUri("g/1")), // resurrected, not re-appended
      (k("a"), k("seen"), TBool(true), TUri("g/2"))))
    assert(got.count(_ == ((k("a"), amt, l(1), TUri("g/1")))) == 1)
  }
}
