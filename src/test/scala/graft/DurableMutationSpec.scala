package graft

import graft.core.{PartitionedStore, QuadDb, Term, Tombstones, TripleDb}
import graft.core.Term._
import graft.dsl._
import graft.ops.Update
import graft.sparql.SparqlUpdate
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType

/** The local filesystem under the `failrename` scheme, whose `rename`
  * returns false (Hadoop's failure signal) when compaction moves a
  * rewritten file out of its staging directory. Every other rename,
  * the write committers' included, succeeds. */
class FailingRenameFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("failrename:///")
  override def rename(src: Path, dst: Path): Boolean =
    if (src.toString.contains("/_compact_staging/") &&
        !dst.toString.contains("/_compact_staging")) false
    else super.rename(src, dst)
}

/** Durable mutations on the triple and quad layouts: the Spark jobs
  * each one runs, the two layouts agreeing step by step on one op
  * sequence, and a compaction whose file move fails. */
class DurableMutationSpec extends GraftSpec {

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private val amt = k("amt"); private val cat = k("cat")
  private val base: Seq[(Term, Term, Term)] = Seq(
    (k("a"), amt, l(5)), (k("a"), cat, s("hot")),
    (k("b"), amt, l(1)), (k("b"), cat, s("cold")),
    (k("c"), amt, l(9)), (k("c"), cat, s("hot")))

  private val gk = "PREFIX gk: <urn:graft:kw/>\n"

  test("job counts of the durable quad-store ops a SPARQL Update " +
      "request runs, and of quad compaction") {
    val path = tmpDir("graft_jobs_quad") + "/store"
    QuadDb.save(QuadDb.fromQuads(spark,
      (1 to 4).flatMap(i => Seq(
        (u(s"acct$i"), k("m_seg"), s(if (i % 2 == 0) "X" else "Y"), u("t0")),
        (u(s"acct$i"), k("m_bal"), l(i.toLong), u("t0")),
        (u(s"acct$i"), k("m_name"), s(s"A$i"), u("t1"))))), path)
    def run(text: String): Int = jobsOf(SparqlUpdate.run(spark, path, gk + text))
    val counts = Seq(
      "insert_data" -> run(
        """INSERT DATA { GRAPH <urn:t2> {
          |  gk:n1 gk:m_seg "X" . gk:n1 gk:m_bal 7 . gk:n2 gk:m_seg "Y" .
          |} }""".stripMargin),
      "delete_data" -> run(
        """DELETE DATA { GRAPH <urn:t2> { gk:n1 gk:m_bal 7 . } }"""),
      "modify" -> run(
        """DELETE { GRAPH <http://data/example/t0> { ?a gk:m_bal ?b . } }
          |INSERT { GRAPH <http://data/example/t0> { ?a gk:m_redacted true . } }
          |WHERE { GRAPH <http://data/example/t0> {
          |  ?a gk:m_seg "X" . ?a gk:m_bal ?b . } }""".stripMargin),
      "graph" -> run(
        """ADD <http://data/example/t1> TO <urn:copy> ;
          |MOVE <urn:copy> TO <urn:moved> ;
          |DROP GRAPH <http://data/example/t1>""".stripMargin),
      "compact" -> jobsOf(QuadDb.compact(spark, path)))
    // INSERT DATA appends a literal frame without checkpointing it:
    // one job fewer than with the checkpoint (5)
    assert(counts == Seq("insert_data" -> 4, "delete_data" -> 4,
      "modify" -> 21, "graph" -> 34, "compact" -> 7))
  }

  test("job counts of the durable triple-store Update ops and of " +
      "triple compaction") {
    val path = tmpDir("graft_jobs_triple") + "/store"
    TripleDb.save(db(base: _*), path)
    val counts = Seq(
      "delete_where" -> jobsOf(Update.deleteWhere(spark, path,
        Seq((V("x"), T(amt), V("v"))),
        Seq(pat(V("x"), T(cat), T(s("hot"))), pat(V("x"), T(amt), V("v"))))),
      // resurrects (a amt 5) and appends (c amt 5)
      "insert_where" -> jobsOf(Update.insertWhere(spark, path,
        Seq((V("x"), T(amt), T(l(5)))),
        Seq(pat(V("x"), T(cat), T(s("hot")))))),
      "delete_insert_where" -> jobsOf(Update.deleteInsertWhere(spark, path,
        Seq((V("x"), T(cat), V("c"))),
        Seq((V("x"), T(cat), T(s("warm")))),
        Seq(pat(V("x"), T(cat), V("c")), pat(V("x"), T(amt), V("v"))))),
      "compact" -> jobsOf(TripleDb.compact(spark, path)))
    assert(counts == Seq("delete_where" -> 4, "insert_where" -> 19,
      "delete_insert_where" -> 21, "compact" -> 7))
  }

  /** Every stored row, tombstoned ones included, minus the distinct
    * ones: the physical duplicates. */
  private def duplicates(path: String, schema: StructType): Long = {
    val raw = PartitionedStore.raw(spark, path, schema, PartitionedStore.Pred)
    raw.count() - raw.distinct().count()
  }

  test("a triple store and the same facts as a default-graph quad store " +
      "agree after every step of one durable op sequence") {
    val tp = tmpDir("graft_parity_t") + "/store"
    val qp = tmpDir("graft_parity_q") + "/store"
    TripleDb.save(db(base: _*), tp)
    QuadDb.save(QuadDb.fromTripleDb(db(base: _*)), qp)
    val dg = T(QuadDb.DefaultGraph)
    def quads(ts: Seq[(TermOrVar, TermOrVar, TermOrVar)]) =
      ts.map { case (a, b, c) => (a, b, c, dg) }
    def check(step: String, expected: Set[(Term, Term, Term)]): Unit = {
      val triples = TripleDb.load(spark, tp).triples
      val fromQuads = QuadDb.load(spark, qp).quads.map(q => (q._1, q._2, q._3))
      assert(triples.toSet == expected, step)
      assert(fromQuads.sortBy(_.toString) == triples.sortBy(_.toString), step)
      assert(duplicates(tp, TripleDb.schema) == 0, step)
      assert(duplicates(qp, QuadDb.schema) == 0, step)
    }
    val seen = (V("x"), T(k("seen")), T(TBool(true)))

    // DELETE/INSERT WHERE: hot subjects lose amt and gain `seen`
    val delAmt = Seq((V("x"), T(amt), V("v")))
    val hotAmt = Seq(pat(V("x"), T(cat), T(s("hot"))), pat(V("x"), T(amt), V("v")))
    Update.deleteInsertWhere(spark, tp, delAmt, Seq(seen), hotAmt)
    Update.deleteInsertWhereQuads(spark, qp, quads(delAmt), quads(Seq(seen)),
      hotAmt)
    val step1 = base.toSet -- Set((k("a"), amt, l(5)), (k("c"), amt, l(9))) ++
      Set((k("a"), k("seen"), TBool(true)), (k("c"), k("seen"), TBool(true)))
    check("delete/insert where", step1)

    // INSERT WHERE: (a amt 5) is tombstoned and comes back; (c amt 5)
    // is new
    val amt5 = Seq((V("x"), T(amt), T(l(5))))
    val seenWhere = Seq(pat(V("x"), T(k("seen")), T(TBool(true))))
    Update.insertWhere(spark, tp, amt5, seenWhere)
    Update.insertWhereQuads(spark, qp, quads(amt5), seenWhere)
    val step2 = step1 ++ Set((k("a"), amt, l(5)), (k("c"), amt, l(5)))
    check("insert where (resurrect)", step2)

    // DELETE WHERE of a fact no store holds
    val absent = Seq((V("x"), T(amt), T(l(100))))
    val anyCat = Seq(pat(V("x"), T(cat), V("c")))
    Update.deleteWhere(spark, tp, absent, anyCat)
    Update.deleteWhereQuads(spark, qp, quads(absent), anyCat)
    check("delete where (absent)", step2)

    TripleDb.compact(spark, tp)
    QuadDb.compact(spark, qp)
    check("compact", step2)
  }

  test("a compaction whose move out of staging fails throws, and keeps " +
      "the staging directory and the tombstones") {
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("fs.failrename.impl", classOf[FailingRenameFs].getName)
    try {
      val path = "failrename://" + tmpDir("graft_compact_rename") + "/store"
      TripleDb.save(db(base: _*), path)
      TripleDb.deleteTriples(db((k("a"), amt, l(5))).df, path)
      intercept[java.io.IOException](TripleDb.compact(spark, path))
      val staged: DataFrame = spark.read
        .schema(TripleDb.schema.add(PartitionedStore.Pred))
        .parquet(path + "/_compact_staging")
      assert(TripleDb(staged.drop("pred")).triples.toSet ==
        Set((k("b"), amt, l(1)), (k("c"), amt, l(9))))
      assert(Tombstones.exist(spark, path))
    } finally hconf.unset("fs.failrename.impl")
  }
}
