package graft

import graft.core.{PartitionedStore, QuadDb, Term, Tombstones, TripleDb}
import graft.core.Term._
import graft.dsl._
import graft.ops.{Dedup, Similarity, Update}
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

/** Durable mutations on the triple and quad layouts and on the minhash
  * and IVF-PQ indexes: the Spark jobs each one runs, the two layouts
  * agreeing step by step on one op sequence, and compactions whose file
  * move fails. */
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

  /** `body` with the `failrename` scheme registered, given a fresh
    * directory under that scheme. */
  private def withFailingRename(prefix: String)(body: String => Unit): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("fs.failrename.impl", classOf[FailingRenameFs].getName)
    try body("failrename://" + tmpDir(prefix))
    finally hconf.unset("fs.failrename.impl")
  }

  /** A minhash index over 40 small docs in 4 files, with every fourth
    * doc tombstoned. Returns the live ids. */
  private def minhashWithDeletes(path: String): Set[Long] = {
    val docs = spark.createDataFrame((0L until 40L).map(i =>
        (i, (0 until 12).map(j => s"w${(i * 7 + j * j) % 23}").mkString(" "))))
      .toDF("doc_id", "text")
    Dedup.minhashIndexSave(
      Dedup.minhashIndex(docs, "doc_id", "text").repartition(4), path)
    Dedup.minhashIndexDelete(docs.where("doc_id % 4 = 1"), path,
      idCol = "doc_id")
    (0L until 40L).filter(_ % 4 != 1).toSet
  }

  /** A `keepRaw` IVF-PQ index over 48 vectors in 4 cells, with every
    * vector of vector 0's cell and every vector `i % 5 == 3`
    * tombstoned. Returns that cell and the live ids. */
  private def ivfPqWithDeletes(path: String): (Int, Set[Long]) = {
    val vecs = spark.createDataFrame((0L until 48L).map(i =>
        (i, Seq.tabulate(64)(j => math.sin(i * 0.7 + j * (i % 4 + 1)).toFloat))))
      .toDF("vec_id", "embedding")
    val cents = vecs.where("vec_id < 4").orderBy("vec_id").collect()
      .map(_.getSeq[Float](1).toArray).toSeq
    Similarity.ivfPqSaveIndex(vecs, cents, cents, path, keepRaw = true)
    val codes = spark.read.parquet(s"$path/codes")
    val cell = codes.where("vec_id = 0").head().getAs[Int]("cell")
    val victims = codes.where(s"cell = $cell or vec_id % 5 = 3")
      .select("vec_id").distinct().collect().map(_.getLong(0)).toSet
    Similarity.ivfPqDeleteIndex(
      spark.createDataFrame(victims.toSeq.map(Tuple1(_))).toDF("vec_id"), path)
    (cell, (0L until 48L).toSet -- victims)
  }

  /** The distinct long `c` values of the relation at `path` (read with
    * that schema, so a directory left with no data file reads empty). */
  private def ids(path: String, c: String): Set[Long] =
    spark.read.schema(s"$c long").parquet(path).distinct()
      .collect().map(_.getLong(0)).toSet

  test("job counts of minhash and IVF-PQ index compaction") {
    val mh = tmpDir("graft_jobs_mh") + "/idx"
    val pq = tmpDir("graft_jobs_pq") + "/idx"
    minhashWithDeletes(mh)
    val (cell, live) = ivfPqWithDeletes(pq)
    val counts = Seq(
      "minhash" -> jobsOf(Dedup.minhashIndexCompact(spark, mh)),
      "ivfpq" -> jobsOf(Similarity.ivfPqCompactIndex(spark, pq)))
    // the tombstone set is read with its key schema and IVF-PQ rewrites
    // only affected files, not whole cells: 8 and 41 jobs before
    assert(counts == Seq("minhash" -> 6, "ivfpq" -> 12))
    assert(!new java.io.File(s"$pq/codes/cell=$cell").exists)
    assert(!new java.io.File(s"$pq/raw/cell=$cell").exists)
    assert(ids(s"$pq/codes", "vec_id") == live)
    assert(ids(s"$pq/raw", "vec_id") == live)
  }

  test("an index compaction whose move out of staging fails throws, and " +
      "keeps the staged survivors and the tombstones") {
    withFailingRename("graft_compact_rename_idx") { root =>
      val mh = root + "/minhash"
      val mhLive = minhashWithDeletes(mh)
      intercept[java.io.IOException](Dedup.minhashIndexCompact(spark, mh))
      assert(ids(mh, "id") ++
        ids(mh + "/_compact_staging", "id") == mhLive)
      assert(Tombstones.exist(spark, mh))

      val pq = root + "/ivfpq"
      val (_, pqLive) = ivfPqWithDeletes(pq)
      intercept[java.io.IOException](Similarity.ivfPqCompactIndex(spark, pq))
      assert(ids(pq + "/codes", "vec_id") ++
        ids(pq + "/codes/_compact_staging", "vec_id") ==
        pqLive)
      assert(Tombstones.existAt(spark, pq + "/tombstones"))
    }
  }

  test("a compaction after a failed one refuses to start, and keeps the " +
      "staged rows and the tombstones") {
    withFailingRename("graft_compact_refuse") { root =>
      def refused(compact: => Unit): Unit = {
        intercept[java.io.IOException](compact)
        val e = intercept[java.io.IOException](compact)
        assert(e.getMessage.contains("only copy of live rows"), e.getMessage)
      }
      val store = root + "/store"
      TripleDb.save(db(base: _*), store)
      TripleDb.deleteTriples(db((k("a"), amt, l(5))).df, store)
      refused(TripleDb.compact(spark, store))
      val staged = spark.read
        .schema(TripleDb.schema.add(PartitionedStore.Pred))
        .parquet(store + "/_compact_staging")
      assert(TripleDb(staged.drop("pred")).triples.toSet ==
        Set((k("b"), amt, l(1)), (k("c"), amt, l(9))))
      assert(Tombstones.exist(spark, store))

      val mh = root + "/minhash"
      val mhLive = minhashWithDeletes(mh)
      refused(Dedup.minhashIndexCompact(spark, mh))
      assert(ids(mh, "id") ++
        ids(mh + "/_compact_staging", "id") == mhLive)
      assert(Tombstones.exist(spark, mh))
    }
  }
}
