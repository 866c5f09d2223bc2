package graft.ops

import graft.core.{PartitionedStore, QuadDb, Term, Tombstones, TripleDb}
import graft.dsl._
import graft.engine.Projections
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Query-driven mutation (SPARQL-Update-shaped, §3.1.3 DELETE/INSERT):
  * INSERT WHERE / DELETE WHERE as compositions of the existing pieces
  * — the WHERE group compiles like any BGP, templates instantiate per
  * solution exactly like CONSTRUCT, and the instantiated facts feed
  * [[TripleDb.merge]] / the [[Tombstones]] lifecycle. This completes
  * the store lifecycle from the QUERY side: redactions, derived-fact
  * materialization, and provenance markers are one call instead of a
  * hand-rolled pipeline.
  *
  * Semantics (SPARQL Update §3.1.3): the WHERE group evaluates ONCE
  * against the PRE-mutation store; delete templates and insert
  * templates both instantiate against that one solution set (so a
  * fact both deleted and re-inserted ends up PRESENT, and an insert
  * may reference facts the same operation deletes). A solution that
  * leaves any template position unbound instantiates nothing for that
  * template (§16.2's incomplete-solution rule, like CONSTRUCT).
  * Inserted facts follow set semantics (already-live facts are not
  * duplicated); deleting an absent fact is a no-op.
  *
  * Scale shape: one narrow select per template over the one solution
  * frame + union + dedup — never a driver materialization. The
  * durable forms write only deltas: DELETE appends tombstones for the
  * matched LIVE facts (nothing rewritten — the GDPR contract), INSERT
  * appends only novel facts into the predicate-partitioned layout and
  * clears any tombstones it resurrects (rewriting the tombstone SET,
  * whose size tracks deletes, never the store).
  */
object Update {

  /** Instantiate triple templates against the WHERE solutions of a
    * store: the construct-keys frame (one narrow select per template,
    * union, per-fact dedup; rows with an unbound position drop). */
  def constructTriples(db: TripleDb,
      templates: Seq[(TermOrVar, TermOrVar, TermOrVar)],
      where: Seq[PatternRow]): DataFrame = {
    require(templates.nonEmpty, "need >= 1 template")
    val vars = templates.flatMap(t => Seq(t._1, t._2, t._3)
      .collect { case v: V => v }).distinct
    instantiate(Projections.selectDf(db, where, vars), templates)
  }

  private def instantiate(sol: DataFrame,
      templates: Seq[(TermOrVar, TermOrVar, TermOrVar)]): DataFrame = {
    def colOf(tv: TermOrVar): Column = tv match {
      case v: V => col(v.name)
      case T(t) => Term.lit(t)
    }
    templates.map { t =>
      sol.select(colOf(t._1).as("s"), colOf(t._2).as("p"),
          colOf(t._3).as("o"))
        .where(col("s").isNotNull && col("p").isNotNull &&
          col("o").isNotNull)
    }.reduce(_.unionByName(_)).dropDuplicates("s", "p", "o")
  }

  // ---------------------------------------------------------------
  // Value forms (in-memory stores → new stores; inputs untouched)
  // ---------------------------------------------------------------

  /** `INSERT { templates } WHERE { group }` over a value store: the
    * store plus the instantiated facts, set semantics ([[TripleDb
    * .merge]] — slices and stats merge consistently). */
  def insertWhere(db: TripleDb,
      templates: Seq[(TermOrVar, TermOrVar, TermOrVar)],
      where: Seq[PatternRow]): TripleDb =
    TripleDb.merge(db, TripleDb(constructTriples(db, templates, where)))

  /** `DELETE { templates } WHERE { group }` over a value store: the
    * store minus the instantiated facts. The anti-join applies to the
    * full relation AND every predicate slice (a store whose slices
    * disagree with its full view breaks var-predicate scans silently —
    * the fromWideTable `keep` lesson).
    *
    * Stats are INTENTIONALLY kept pre-delete: per-slice sizeInBytes
    * then OVERESTIMATES the post-delete store, which can only make the
    * planner more conservative (a slice that would broadcast still
    * broadcasts or shuffles — never the reverse error of broadcasting
    * something too big). Recomputing exact stats would cost one count
    * job per slice for a bound whose safe direction is already known;
    * callers deleting most of a store and re-querying heavily should
    * rebuild via `TripleDb(deleteWhere(db, …).df)`. */
  def deleteWhere(db: TripleDb,
      templates: Seq[(TermOrVar, TermOrVar, TermOrVar)],
      where: Seq[PatternRow]): TripleDb = {
    val doomed = constructTriples(db, templates, where)
    def anti(d: DataFrame): DataFrame =
      d.join(doomed, Seq("s", "p", "o"), "left_anti")
    TripleDb(anti(db.df), db.predIndex.map { case (n, d) => n -> anti(d) },
      db.stats, distinct = db.distinct)
  }

  /** SPARQL Update §3.1.3 `DELETE { d } INSERT { i } WHERE { group }`
    * over a value store: ONE solution set drives both template sets —
    * the insert sees pre-delete bindings, and a fact in both sets ends
    * up present. Stats keep the pre-delete values (see [[deleteWhere]]'s
    * conservative-direction note); the merge then folds the inserts'
    * stats in on top. */
  def deleteInsertWhere(db: TripleDb,
      deleteTs: Seq[(TermOrVar, TermOrVar, TermOrVar)],
      insertTs: Seq[(TermOrVar, TermOrVar, TermOrVar)],
      where: Seq[PatternRow]): TripleDb = {
    val vars = (deleteTs ++ insertTs).flatMap(t => Seq(t._1, t._2, t._3)
      .collect { case v: V => v }).distinct
    val sol = Projections.selectDf(db, where, vars)
    val doomed = instantiate(sol, deleteTs)
    val inserts = instantiate(sol, insertTs)
    def anti(d: DataFrame): DataFrame =
      d.join(doomed, Seq("s", "p", "o"), "left_anti")
    TripleDb.merge(
      TripleDb(anti(db.df), db.predIndex.map { case (n, d) => n -> anti(d) },
        db.stats, distinct = db.distinct),
      TripleDb(inserts))
  }

  /** Quad-store INSERT WHERE: [[Projections.constructQuads]] (the
    * q172 machinery — graph positions may be vars, so facts land INTO
    * computed graphs) merged into the dataset. */
  def insertWhere(db: QuadDb,
      templates: Seq[(TermOrVar, TermOrVar, TermOrVar, TermOrVar)],
      where: Seq[PatternRow]): QuadDb =
    QuadDb.merge(db, Projections.constructQuads(db, templates, where))

  /** Quad-store DELETE WHERE — keys are full quads (the same triple
    * in another graph is a different fact and stays live). */
  def deleteWhere(db: QuadDb,
      templates: Seq[(TermOrVar, TermOrVar, TermOrVar, TermOrVar)],
      where: Seq[PatternRow]): QuadDb = {
    val doomed = Projections.constructQuads(db, templates, where).df
    QuadDb(db.df.join(doomed, Seq("s", "p", "o", "g"), "left_anti"),
      distinct = db.distinct)
  }

  // ---------------------------------------------------------------
  // Durable forms (saved predicate-partitioned stores; delta writes)
  // ---------------------------------------------------------------

  /** Durable `DELETE WHERE`: evaluates the WHERE against the LIVE
    * (masked) store and tombstones the matched facts — one tiny
    * append, nothing rewritten ([[TripleDb.deleteTriples]]'s GDPR
    * contract, parameterized by a query). Only facts actually live
    * become tombstones (the semi-join keeps the tombstone set tight). */
  def deleteWhere(spark: SparkSession, path: String,
      templates: Seq[(TermOrVar, TermOrVar, TermOrVar)],
      where: Seq[PatternRow]): Unit = {
    val db = TripleDb.load(spark, path)
    val doomed = constructTriples(db, templates, where)
      .join(db.df, Seq("s", "p", "o"), "left_semi")
    TripleDb.deleteTriples(doomed, path)
  }

  /** Durable `INSERT WHERE`: instantiates against the live store,
    * resurrects any tombstoned facts being re-asserted (their
    * physical rows still exist — clearing the tombstone IS the
    * insert), and appends only the genuinely novel facts into the
    * predicate-partitioned layout. */
  def insertWhere(spark: SparkSession, path: String,
      templates: Seq[(TermOrVar, TermOrVar, TermOrVar)],
      where: Seq[PatternRow]): Unit = {
    val db = TripleDb.load(spark, path)
    // eager localCheckpoint, NOT persist: the resurrection step
    // rewrites the tombstone set and refreshByPath INVALIDATES cached
    // plans that read it — a persisted frame would silently RECOMPUTE
    // against post-mutation state (caught by UpdateSpec's quad leg).
    // Cutting lineage pins the pre-mutation solutions physically.
    val inserts = constructTriples(db, templates, where).localCheckpoint()
    appendNovel(spark, path, inserts)
    freeCheckpoint(inserts)
  }

  /** Durable §3.1.3 `DELETE/INSERT WHERE`: one solution set against
    * the pre-mutation live store; tombstones first, then resurrection
    * + novel-fact append — so a fact in both sets ends up present,
    * exactly the value-form (and spec) semantics. */
  def deleteInsertWhere(spark: SparkSession, path: String,
      deleteTs: Seq[(TermOrVar, TermOrVar, TermOrVar)],
      insertTs: Seq[(TermOrVar, TermOrVar, TermOrVar)],
      where: Seq[PatternRow]): Unit = {
    val db = TripleDb.load(spark, path)
    val vars = (deleteTs ++ insertTs).flatMap(t => Seq(t._1, t._2, t._3)
      .collect { case v: V => v }).distinct
    // one eager lineage cut pins the PRE-mutation solutions (see
    // insertWhere's note); both template sets instantiate from it
    val sol = Projections.selectDf(db, where, vars).localCheckpoint()
    val doomed = instantiate(sol, deleteTs)
      .join(db.df, Seq("s", "p", "o"), "left_semi").localCheckpoint()
    val inserts = instantiate(sol, insertTs).localCheckpoint()
    TripleDb.deleteTriples(doomed, path)
    appendNovel(spark, path, inserts)
    freeCheckpoint(sol); freeCheckpoint(doomed); freeCheckpoint(inserts)
  }

  /** Quad-store durable DELETE WHERE (graph-aware redaction). */
  def deleteWhereQuads(spark: SparkSession, path: String,
      templates: Seq[(TermOrVar, TermOrVar, TermOrVar, TermOrVar)],
      where: Seq[PatternRow]): Unit = {
    val db = QuadDb.load(spark, path)
    val doomed = Projections.constructQuads(db, templates, where).df
      .join(db.df, Seq("s", "p", "o", "g"), "left_semi")
    QuadDb.deleteQuads(doomed, path)
  }

  /** Quad-store durable INSERT WHERE: instantiates against the live
    * dataset, resurrects re-asserted tombstoned quads (keys are full
    * quads), appends only novel ones — the graph-aware twin of the
    * triple form, so the durable lifecycle is symmetric across both
    * layouts. */
  def insertWhereQuads(spark: SparkSession, path: String,
      templates: Seq[(TermOrVar, TermOrVar, TermOrVar, TermOrVar)],
      where: Seq[PatternRow]): Unit = {
    val db = QuadDb.load(spark, path)
    // lineage cut before the tombstone rewrite (see insertWhere's note)
    val inserts = Projections.constructQuads(db, templates, where)
      .df.localCheckpoint()
    appendNovelQuads(spark, path, inserts)
    freeCheckpoint(inserts)
  }

  /** Durable quad-store §3.1.3 `DELETE { d } INSERT { i } WHERE { g }`:
    * ONE pre-mutation solution set drives both template sets (the
    * triple form's semantics with graph-aware templates — positions
    * including the GRAPH may be vars bound by the WHERE). Tombstones
    * first, then resurrection + novel append, so a quad in both sets
    * ends up present. */
  def deleteInsertWhereQuads(spark: SparkSession, path: String,
      deleteTs: Seq[(TermOrVar, TermOrVar, TermOrVar, TermOrVar)],
      insertTs: Seq[(TermOrVar, TermOrVar, TermOrVar, TermOrVar)],
      where: Seq[PatternRow]): Unit = {
    val db = QuadDb.load(spark, path)
    val vars = (deleteTs ++ insertTs)
      .flatMap(t => Seq(t._1, t._2, t._3, t._4)
        .collect { case v: V => v }).distinct
    // one eager lineage cut pins the PRE-mutation solutions
    val sol = Projections.selectDf(db, where, vars).localCheckpoint()
    val doomed = instantiateQuads(sol, deleteTs)
      .join(db.df, Seq("s", "p", "o", "g"), "left_semi").localCheckpoint()
    val inserts = instantiateQuads(sol, insertTs).localCheckpoint()
    QuadDb.deleteQuads(doomed, path)
    appendNovelQuads(spark, path, inserts)
    freeCheckpoint(sol); freeCheckpoint(doomed); freeCheckpoint(inserts)
  }

  private def instantiateQuads(sol: DataFrame,
      templates: Seq[(TermOrVar, TermOrVar, TermOrVar, TermOrVar)]): DataFrame = {
    def colOf(tv: TermOrVar): Column = tv match {
      case v: V => col(v.name)
      case T(t) => Term.lit(t)
    }
    templates.map { t =>
      sol.select(colOf(t._1).as("s"), colOf(t._2).as("p"),
          colOf(t._3).as("o"), colOf(t._4).as("g"))
        .where(col("s").isNotNull && col("p").isNotNull &&
          col("o").isNotNull && col("g").isNotNull)
    }.reduce(_.unionByName(_)).dropDuplicates("s", "p", "o", "g")
  }

  /** Resurrect re-asserted tombstoned quads, then append only the
    * genuinely novel ones into the predicate-partitioned layout — the
    * shared durable-insert tail ([[GraphMgmt]]'s LOAD/ADD/COPY use it
    * too). `inserts` must be LINEAGE-CUT by the caller (an eager
    * localCheckpoint): the resurrection step rewrites the tombstone
    * set, and an uncut frame would silently recompute against
    * post-mutation state. */
  private[graft] def appendNovelQuads(spark: SparkSession, path: String,
                                      inserts: DataFrame): Unit = {
    Tombstones.removeKeysAt(spark, Tombstones.tombPath(path), inserts,
      Seq("s", "p", "o", "g"))
    val novel = inserts.join(QuadDb.loadFrame(spark, path),
      Seq("s", "p", "o", "g"), "left_anti").localCheckpoint()
    if (!novel.isEmpty)
      novel.withColumn("pred", PartitionedStore.predValue)
        .write.mode("append").partitionBy("pred").parquet(path)
    freeCheckpoint(novel)
    spark.catalog.refreshByPath(path)
  }

  /** Resurrect tombstoned re-assertions, then append the novel rest. */
  private def appendNovel(spark: SparkSession, path: String,
                          inserts: DataFrame): Unit = {
    Tombstones.removeKeysAt(spark, Tombstones.tombPath(path), inserts,
      Seq("s", "p", "o"))
    // against the POST-resurrection live view: a resurrected fact is
    // live again, so it is not re-appended (no physical duplicates);
    // checkpointed so the append never reads the store mid-write
    val novel = inserts.join(TripleDb.loadFrame(spark, path),
      Seq("s", "p", "o"), "left_anti").localCheckpoint()
    if (!novel.isEmpty)
      novel.withColumn("pred", PartitionedStore.predValue)
        .write.mode("append").partitionBy("pred").parquet(path)
    freeCheckpoint(novel)
    spark.catalog.refreshByPath(path)
  }

  /** Drop a localCheckpoint'd frame's cached blocks (the Bpe
    * freeCheckpoint pattern — an unpersisted checkpoint block
    * otherwise pins heap until the cleaner's periodic GC). */
  private def freeCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ =>
    }
}
