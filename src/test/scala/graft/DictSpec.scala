package graft

import graft.core.{DictDb, QuadDb, Term, TripleDb}
import graft.core.Term._
import graft.dsl._
import graft.engine.{BgpCompiler, Projections}
import org.apache.spark.sql.functions.{array, col, explode, xxhash64}
import org.apache.spark.sql.types.LongType

/** Dictionary-encoded store (DictDb): id parity, struct≡dict result
  * equivalence on every compile path (join fold, values filter / bag /
  * generator, optionals with NULL decode, ground gates), and the
  * long-keyed physical plan the layout exists for.
  */
class DictSpec extends GraftSpec {

  /** Every term kind, incl. the null-layout edge cases the id hash
    * must keep apart (TNil vs empty string, lang vs datatype field). */
  val zoo: Seq[Term] = Seq(
    TNil, TKeyword("foo/bar"), TUri("http://data/example/x"),
    TString(""), TString("x"), TString("x@en"),
    TLong(9007199254740993L), // exact past 2^53
    TLong(0L), TDouble(0.0), TDouble(1.5), TBool(true), TBool(false),
    TLangString("x", "en"), TTyped("x", "en"), // same fields, different slot
    TDate("2024-01-01T00:00:00"),
    Term.opaque("tag", Array[Byte](1, 2, 3)))

  test("driver-side termId matches the column xxhash64 for all kinds") {
    val d = TripleDb.fromTerms(spark, zoo.map(t => (t, k("p"), t)))
    val fromCol = d.df.select(DictDb.idOf(col("s")).as("id"), col("s"))
      .collect().map(r => Term.fromRow(r.getStruct(1)) -> r.getLong(0)).toMap
    for (t <- zoo)
      assert(DictDb.termId(t) == fromCol(t), s"id mismatch for $t")
    // and the ids are pairwise distinct across the zoo
    assert(zoo.map(DictDb.termId).distinct.size == zoo.size)
  }

  /** Dict-path select decoded back to terms, as a bag. */
  def dictBag(d: TripleDb, vars: Seq[V], rows: Seq[PatternRow]): Map[Seq[Term], Int] = {
    val dd = d.index().dictEncode()
    try {
      val out = Projections.selectDf(dd, rows, vars).collect().toSeq
        .map(r => r.toSeq.indices.map(i =>
          if (r.isNullAt(i)) null else Term.fromRow(r.getStruct(i))))
      out.groupBy(identity).map { case (k, v) => k -> v.size }
    } finally { dd.unpersist(); d.unpersist() }
  }

  def structBag(d: TripleDb, vars: Seq[V], rows: Seq[PatternRow]): Map[Seq[Term], Int] =
    bag(d.index(), vars, rows)

  def both(d: => TripleDb, vars: Seq[V], rows: Seq[PatternRow]): Unit =
    assert(dictBag(d, vars, rows) == structBag(d, vars, rows))

  test("BGP join fold ≡ struct path") {
    both(friends, Seq(?("a"), ?("n")), Seq(
      pat(?("a"), T(knows), ?("b")),
      pat(?("b"), T(label), ?("n"))))
  }

  test("values filter, dup bag, and generator ≡ struct path") {
    both(friends, Seq(?("a"), ?("n")), Seq(
      pat(?("a"), T(label), ?("n")),
      Values(?("n"), Seq(s("Rick"), s("Katie")))))
    both(friends, Seq(?("n")), Seq(
      pat(?("a"), T(label), ?("n")),
      Values(?("n"), Seq(s("Rick"), s("Rick"), s("Katie")))))
    // generator: coll elements NOT in the db must decode (extras path)
    both(friends, Seq(?("n"), ?("tag")), Seq(
      pat(?("a"), T(label), ?("n")),
      Values(?("tag"), Seq(s("fresh-1"), l(42)))))
  }

  test("optional NULLs and ground gates ≡ struct path") {
    both(friends, Seq(?("a"), ?("w")), Seq(
      pat(?("a"), T(label), ?("n")),
      Optional(Seq(pat(?("a"), T(knows), ?("w"))))))
    both(friends, Seq(?("n")), Seq(
      pat(?("a"), T(label), ?("n")),
      pat(T(rick), T(knows), T(katie)))) // fully-ground existence gate
  }

  test("projected var bound by no pattern pads to NULL, like struct path") {
    both(friends, Seq(?("n"), ?("ghost")), Seq(pat(?("a"), T(label), ?("n"))))
  }

  test("dict join fold runs on LONG columns end to end") {
    val d = friends.index()
    val dd = d.dictEncode()
    try {
      val sol = BgpCompiler.compileDict(dd, Seq(
        pat(?("a"), T(knows), ?("b")),
        pat(?("b"), T(label), ?("n"))))
      assert(sol.schema.fields.forall(_.dataType == LongType),
        sol.schema.treeString)
      // decode joins hash, never sort-merge (SMJ would re-sort the
      // dict per projected var)
      val q = Projections.selectDf(dd, Seq(
        pat(?("a"), T(knows), ?("b")),
        pat(?("b"), T(label), ?("n"))), Seq(?("a"), ?("n")))
      q.collect()
      val plan = q.queryExecution.executedPlan.toString()
      assert(plan.contains("ShuffledHashJoin") || plan.contains("BroadcastHashJoin"),
        plan)
      // no decode join (recognizable by its __did_ key) sort-merges;
      // embedded pre-AQE "Initial Plan" sections may mention SMJ elsewhere
      assert(!plan.linesIterator.exists(l =>
        l.contains("SortMergeJoin") && l.contains("__did_")), plan)
    } finally { dd.unpersist(); d.unpersist() }
  }

  test("save/load round-trip; bucketed dict decodes with no dict-side shuffle") {
    val built = friends.index().dictEncode()
    val tmp = java.nio.file.Files.createTempDirectory("graft_dict").toString
    val tbl = s"dictspec_${math.abs(tmp.hashCode)}"
    DictDb.save(built, tmp, tbl, buckets = 4)
    built.unpersist()
    val loaded = DictDb.load(spark, tmp, tbl)
    val rows = Seq(pat(?("a"), T(label), ?("n")))
    val q = Projections.selectDf(loaded, rows, Seq(?("a"), ?("n")))
    val got = q.collect().toSeq.map(r =>
      Seq(Term.fromRow(r.getStruct(0)), Term.fromRow(r.getStruct(1))))
    assert(bag1(got) == structBag(friends, Seq(?("a"), ?("n")), rows))
    // the dict side of every decode join scans the bucketed table
    // directly — no Exchange between the dict scan and the join
    val plan = q.queryExecution.executedPlan.toString()
    val dictScanShuffled = plan.linesIterator.exists(l =>
      l.contains("Exchange") && l.contains("__did_"))
    assert(!dictScanShuffled, plan)
    assert(plan.contains("SelectedBucketsCount") || plan.contains("Bucketed: true"),
      plan)
  }

  test("dict-store delete: masked ≡ compacted ≡ never-containing") {
    val built = friends.index().dictEncode()
    val tmp = java.nio.file.Files.createTempDirectory("graft_dict_del").toString
    val tbl = s"dictspec_del_${math.abs(tmp.hashCode)}"
    DictDb.save(built, tmp, tbl, buckets = 4)
    built.unpersist()

    def names(d: DictDb): Set[Seq[Term]] = {
      val q = Projections.selectDf(d, Seq(pat(?("a"), T(label), ?("n"))),
        Seq(?("a"), ?("n")))
      q.collect().toSeq.map(r =>
        Seq(Term.fromRow(r.getStruct(0)), Term.fromRow(r.getStruct(1)))).toSet
    }
    val before = names(DictDb.load(spark, tmp, tbl))
    assert(before.exists(_.head == rick))

    // delete rick's label fact by its encoded ids
    import spark.implicits._
    val doomed = Seq((DictDb.termId(rick), DictDb.termId(label),
      DictDb.termId(before.find(_.head == rick).get(1)))).toDF("s", "p", "o")
    DictDb.deleteTriples(doomed, tmp)
    val masked = names(DictDb.load(spark, tmp, tbl))
    assert(masked == before.filterNot(_.head == rick),
      "masked load ≡ store never containing the fact")

    DictDb.compact(spark, tmp)
    assert(names(DictDb.load(spark, tmp, tbl)) == masked,
      "compacted ≡ tombstone-masked")
    assert(!graft.core.Tombstones.exist(spark, s"$tmp/triples"))
  }

  test("merge ≡ struct-path merge (set union, cross-store terms decode)") {
    val other = db( // overlaps friends on one fact, adds new terms
      (rick, knows, katie),
      (julie, knows, rick),
      (julie, label, s("Julie")),
      (martin, knows, julie))
    val a = friends.dictEncode()
    val b = other.dictEncode()
    val merged = DictDb.merge(a, b)
    try {
      val rows = Seq(pat(?("x"), T(knows), ?("y")))
      val got = Projections.selectDf(merged, rows, Seq(?("x"), ?("y")))
        .collect().toSeq.map(r =>
          Seq(Term.fromRow(r.getStruct(0)), Term.fromRow(r.getStruct(1))))
      val structMerge = TripleDb.merge(friends, other)
      assert(bag1(got) == bag(structMerge, Seq(?("x"), ?("y")), rows))
      // dict stays one-row-per-id after the union
      assert(merged.dict.groupBy("id").count()
        .where(org.apache.spark.sql.functions.col("count") > 1).count() == 0)
    } finally { merged.unpersist(); a.unpersist(); b.unpersist() }
  }

  test("ask / constructDf / buildDf ≡ struct path on the dict store") {
    val d = friends.index()
    val dd = d.dictEncode()
    try {
      // ask: positive + negative, no decode involved
      assert(Projections.ask(dd, Seq(pat(T(rick), T(knows), ?("x")))))
      assert(!Projections.ask(dd, Seq(pat(T(julie), T(knows), T(rick)))))
      assert(Projections.ask(dd, Seq(pat(T(rick), T(knows), ?("x"))))
        == Projections.ask(d, Seq(pat(T(rick), T(knows), ?("x")))))
      // constructDf / buildDf: per-subject grouped rows decode equal
      val rows = Seq(pat(?("a"), T(knows), ?("b")))
      def canonC(df: org.apache.spark.sql.DataFrame): Set[(Term, Long, Set[Term])] =
        df.collect().toSet.map { (r: org.apache.spark.sql.Row) =>
          val st = r.getStruct(r.fieldIndex("friend"))
          (Term.fromRow(r.getStruct(0)), st.getLong(0),
            st.getSeq[org.apache.spark.sql.Row](1).map(Term.fromRow).toSet)
        }
      assert(canonC(Projections.constructDf(dd, ?("a"), Seq("friend" -> ?("b")), rows))
        == canonC(Projections.constructDf(d, ?("a"), Seq("friend" -> ?("b")), rows)))
      def canonB(df: org.apache.spark.sql.DataFrame): Set[(Term, Set[Term])] =
        df.collect().toSet.map { (r: org.apache.spark.sql.Row) =>
          (Term.fromRow(r.getStruct(0)),
            r.getSeq[org.apache.spark.sql.Row](1).map(Term.fromRow).toSet)
        }
      assert(canonB(Projections.buildDf(dd, ?("a"), Seq("friend" -> ?("b")), rows))
        == canonB(Projections.buildDf(d, ?("a"), Seq("friend" -> ?("b")), rows)))
    } finally { dd.unpersist(); d.unpersist() }
  }

  test("distinctness tracking: union makes no claim, unionDisjoint does, " +
    "index dedups overlapping unions") {
    import spark.implicits._
    val one = db((u("a"), k("friend"), u("b")), (u("b"), k("friend"), u("c")))
    assert(!one.distinct) // fromTerms: caller seq may repeat
    // union of a db with ITSELF must stay non-distinct so that
    // index()/dictEncode() keep set semantics (q12 idempotency)
    val overlapped = TripleDb.union(one, one)
    assert(!overlapped.distinct)
    val idx = overlapped.index()
    try assert(idx.df.count() == 2 && idx.distinct)
    finally idx.unpersist()
    // dict path over the overlapping union also dedups
    val dd = overlapped.dictEncode()
    try assert(dd.triples.count() == 2)
    finally dd.unpersist()
    // unionDisjoint propagates distinct only when every input claims it
    assert(!TripleDb.unionDisjoint(one, one).distinct)
    val wide = TripleDb.fromWideTable(
      Seq((1, "x"), (2, "y")).toDF("id", "v"), "t", "id")
    assert(wide.distinct)
    assert(TripleDb.unionDisjoint(wide, one.index()).distinct)
  }

  test("same id on rebuild — ids are pure functions of the term") {
    val a = friends.index().dictEncode()
    val b = friends.index().dictEncode()
    try {
      val ia = a.dict.orderBy("id").collect().map(_.getLong(0)).toSeq
      val ib = b.dict.orderBy("id").collect().map(_.getLong(0)).toSeq
      assert(ia == ib)
    } finally { a.unpersist(); b.unpersist() }
  }

  test("encode(db) ≡ encodeQuads(fromTripleDb(db)) with g dropped, " +
      "the dict included") {
    val t = DictDb.encode(friends)
    val q = DictDb.encodeQuads(QuadDb.fromTripleDb(friends))
    def ids(df: org.apache.spark.sql.DataFrame): Set[Seq[Long]] =
      df.collect().map(r => Seq(r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def dict(df: org.apache.spark.sql.DataFrame): Set[(Long, Term)] =
      df.collect().map(r => r.getLong(0) -> Term.fromRow(r.getStruct(1))).toSet
    try {
      assert(ids(q.quads.select("s", "p", "o")) == ids(t.triples))
      assert(q.quads.where(col("g") =!= DictDb.termId(QuadDb.DefaultGraph))
        .isEmpty)
      assert(dict(q.dict) == dict(t.dict) +
        (DictDb.termId(QuadDb.DefaultGraph) -> QuadDb.DefaultGraph))
    } finally { t.unpersist(); q.unpersist() }
  }

  test("0.0 and -0.0 get one dict id, as struct grouping makes them one " +
      "term") {
    val d = db((rick, label, TDouble(0.0)), (rick, label, TDouble(-0.0)))
    val triples = d.df.distinct().count()
    val terms = d.df.select(explode(array(col("s"), col("p"), col("o"))))
      .distinct().count()
    assert(DictDb.termId(TDouble(0.0)) == DictDb.termId(TDouble(-0.0)))
    val enc = DictDb.encode(d) // the collision check would throw here
    try {
      assert(enc.triples.count() == triples)
      assert(enc.dict.count() == terms)
    } finally enc.unpersist()
  }

  test("store advisor: one-shot and single-pattern stay on TripleDb, " +
    "build-once-query-many lands on the dict path") {
    import graft.core.StoreAdvisor._
    // single-pattern queries never join — dict never pays, at ANY volume
    assert(choose(1, 1000000).choice == UseTripleDb)
    // one-shot multi-pattern query: encode costs more than one query saves
    assert(choose(3, 1).choice == UseTripleDb)
    // the documented dict sweet spot: repeated multi-pattern queries
    assert(choose(3, 10).choice == UseDictDb)
    assert(choose(5, 2).choice == UseDictDb)
    // break-even boundary: queries × (p−1) ≥ 2 × EncodeCostUnits
    assert(choose(2, 5).choice == UseTripleDb)  // 2.5 units < 3
    assert(choose(2, 6).choice == UseDictDb)    // 3.0 units ≥ 3
    assert(choose(2, 6).reason.nonEmpty)
    intercept[IllegalArgumentException](choose(0, 1))
    // applied form: encodes exactly when the rule says dict
    assert(encodeIfWorthIt(friends.index(), 3, 1).isEmpty)
    val dd = encodeIfWorthIt(friends.index(), 3, 10)
    try assert(dd.nonEmpty && dd.get.triples.count() > 0)
    finally dd.foreach(_.unpersist())
  }
}
