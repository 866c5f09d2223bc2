package graft

import graft.core.{DictDb, QuadDb, Term, Tombstones, TripleDb}
import graft.dsl._
import graft.engine.BgpCompiler
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Durable-store loads ([[TripleDb.load]], [[QuadDb.load]],
  * [[DictDb.load]], [[DictDb.loadQuads]] and the `loadFrame` reads):
  * what a load costs in Spark jobs, and that its slices and stats agree
  * with a `distinct` over the partition column and with Catalyst's size
  * estimate. */
class StoreLoadSpec extends GraftSpec {

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private val facts: Seq[(Term, Term, Term)] =
    (1 to 20).map(i => (u(s"s$i"), k("name"), s(s"n$i"))) ++
      (1 to 20).map(i => (u(s"s$i"), k("age"), l(i.toLong)))

  test("loads run no Spark jobs, with and without tombstones; a dict " +
      "load runs exactly one (the dict-name probe)") {
    val tp = tmpDir("graft_jobs_t")
    val qp = tmpDir("graft_jobs_q")
    TripleDb.save(db(facts: _*), tp)
    QuadDb.save(QuadDb.fromTripleDb(db(facts: _*), u("g")), qp)
    val dp = tmpDir("graft_jobs_d")
    val dqp = tmpDir("graft_jobs_dq")
    DictDb.save(db(facts: _*).dictEncode(), dp, "store_load_jobs_dict")
    DictDb.saveQuads(QuadDb.fromTripleDb(db(facts: _*), u("g")).dictEncode(),
      dqp, "store_load_jobs_dictq")

    def assertCosts(when: String): Unit = {
      assert(jobsOf(TripleDb.load(spark, tp)) == 0, s"TripleDb.load $when")
      assert(jobsOf(QuadDb.load(spark, qp)) == 0, s"QuadDb.load $when")
      assert(jobsOf(TripleDb.loadFrame(spark, tp)) == 0,
        s"TripleDb.loadFrame $when")
      assert(jobsOf(QuadDb.loadFrame(spark, qp)) == 0,
        s"QuadDb.loadFrame $when")
      assert(jobsOf(DictDb.load(spark, dp, "store_load_jobs_dict")) == 1,
        s"DictDb.load $when")
      assert(jobsOf(DictDb.loadQuads(spark, dqp, "store_load_jobs_dictq")) == 1,
        s"DictDb.loadQuads $when")
    }
    assertCosts("without tombstones")

    val doomed = u("s3")
    TripleDb.deleteTriples(
      TripleDb.loadFrame(spark, tp).where(col("s") === Term.lit(doomed)), tp)
    QuadDb.deleteQuads(
      QuadDb.loadFrame(spark, qp).where(col("s") === Term.lit(doomed)), qp)
    val doomedId = DictDb.termId(doomed)
    DictDb.deleteTriples(DictDb.load(spark, dp, "store_load_jobs_dict")
      .triples.where(col("s") === doomedId), dp)
    DictDb.deleteQuadRows(DictDb.loadQuads(spark, dqp, "store_load_jobs_dictq")
      .quads.where(col("s") === doomedId), dqp)
    assertCosts("with a tombstone set")

    // past the bloom threshold the mask also reads the sidecar
    spark.conf.set(Tombstones.BloomMinBytesKey, "1")
    try {
      TripleDb.deleteTriples(
        TripleDb.loadFrame(spark, tp).where(col("s") === Term.lit(u("s4"))), tp)
      QuadDb.deleteQuads(
        QuadDb.loadFrame(spark, qp).where(col("s") === Term.lit(u("s4"))), qp)
      assert(jobsOf(TripleDb.load(spark, tp)) == 0, "TripleDb.load, bloom")
      assert(jobsOf(QuadDb.load(spark, qp)) == 0, "QuadDb.load, bloom")
    } finally spark.conf.unset(Tombstones.BloomMinBytesKey)

    // the masks still hold
    assert(TripleDb.load(spark, tp).triples.toSet ==
      facts.filterNot(f => f._1 == doomed || f._1 == u("s4")).toSet)
    assert(QuadDb.load(spark, qp).quads.map(q => (q._1, q._2, q._3)).toSet ==
      facts.filterNot(f => f._1 == doomed || f._1 == u("s4")).toSet)
    assert(DictDb.load(spark, dp, "store_load_jobs_dict").triples
      .where(col("s") === doomedId).isEmpty)
    assert(DictDb.loadQuads(spark, dqp, "store_load_jobs_dictq").quads
      .where(col("s") === doomedId).isEmpty)
  }

  test("slice names equal a distinct over the partition column, stats " +
      "rank like Catalyst's size estimate, and pattern order and " +
      "answers follow (escaped names, live tombstones)") {
    // five keyword predicates of clearly different sizes, four of them
    // with names partition paths must escape, plus a non-keyword one
    val sizes = Seq("a/b" -> 3, "x=y" -> 40, "p q" -> 200, "100%" -> 900,
      "plain" -> 2500)
    val all: Seq[(Term, Term, Term)] =
      sizes.flatMap { case (p, n) =>
        (1 to n).map(i => (u(s"e${i % 300}"), k(p), s(s"$p-value-$i")))
      } :+ ((u("e1"), u("not-a-keyword"), s("x")))
    val path = tmpDir("graft_slices")
    TripleDb.save(db(all: _*), path)
    val doomed = all.filter { case (_, p, _) => p == k("x=y") || p == k("plain") }
      .take(5) ++ all.filter(_._2 == k("100%")).take(2)
    TripleDb.deleteTriples(db(doomed: _*).df, path)
    val live = all.filterNot(doomed.toSet)

    val loaded = TripleDb.load(spark, path)

    // reference names: a distinct over the (inferred) partition column
    val refNames = spark.read.parquet(path).select("pred").distinct()
      .collect().map(_.getString(0)).filter(_ != "__other").toSet
    // reference sizes: Catalyst's estimate for a read of ONE partition
    // directory. (On a whole-store read the optimized plan's estimate
    // is not partition-pruned — path-based file indexes prune only at
    // physical planning — so it is the same for every slice.)
    val root = new org.apache.hadoop.fs.Path(path)
    val refStats: Map[String, BigInt] = root
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("pred="))
      .map { st =>
        val one = spark.read.option("basePath", path)
          .parquet(st.getPath.toString)
        one.select("pred").head().getString(0) ->
          one.drop("pred").queryExecution.optimizedPlan.stats.sizeInBytes
      }.filter(_._1 != "__other").toMap

    assert(refNames == sizes.map(_._1).toSet)
    assert(refStats.keySet == refNames)
    assert(loaded.predIndex.keySet == refNames)
    assert(loaded.stats.keySet == refNames)
    for (a <- refNames; b <- refNames if a < b)
      assert(Integer.signum(loaded.stats(a).compare(loaded.stats(b))) ==
        Integer.signum(refStats(a).compare(refStats(b))),
        s"stats rank of $a vs $b")
    // each slice holds exactly its live facts
    for ((name, _) <- sizes)
      assert(TripleDb(loaded.predIndex(name)).triples.toSet ==
        live.filter(_._2 == k(name)).toSet, s"slice $name")

    val bgp = Seq(pat(?("x"), T(k("100%")), ?("c")),
      pat(?("x"), T(k("a/b")), ?("a")),
      pat(?("x"), T(k("p q")), ?("b")))
    val refOrder = BgpCompiler.orderPatterns(bgp,
      refStats.map { case (n, b) => n -> b.toLong })
    assert(BgpCompiler.orderPatterns(bgp, loaded.stats) == refOrder)
    assert(refOrder.head == bgp(1), "smallest slice scans first")
    val vars = Seq(?("x"), ?("a"), ?("b"), ?("c"))
    assert(bag(loaded, vars, bgp) == bag(db(live: _*), vars, bgp))
    assert(bag(loaded, vars, bgp).nonEmpty)
  }
}
