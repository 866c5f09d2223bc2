package graft.ops

import graft.core.{PartitionedStore, QuadDb, Tombstones, TripleDb}
import graft.dsl._
import graft.engine.Projections
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

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
      where: Seq[PatternRow]): DataFrame =
    instantiate(Projections.selectDf(db, where, varsOf(templates)),
      TripleDb.schema, templates)

  /** Tuple templates onto the key columns of `schema`. */
  private def instantiate(sol: DataFrame, schema: StructType,
                          templates: Seq[Product]): DataFrame =
    Projections.instantiateRows(sol, schema.fieldNames.toSeq,
      Projections.cells(templates))

  private def varsOf(templates: Seq[Product]): Seq[V] =
    Projections.rowVars(Projections.cells(templates))

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
      where: Seq[PatternRow]): TripleDb =
    without(db, constructTriples(db, templates, where))

  /** `db` minus `doomed`, in the full relation and every slice. */
  private def without(db: TripleDb, doomed: DataFrame): TripleDb = {
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
    val sol = Projections.selectDf(db, where, varsOf(deleteTs ++ insertTs))
    TripleDb.merge(without(db, instantiate(sol, TripleDb.schema, deleteTs)),
      TripleDb(instantiate(sol, TripleDb.schema, insertTs)))
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
  // Durable forms (saved predicate-partitioned stores; delta writes).
  // One body per op shape serves both layouts: a [[Durable]] names
  // the store's key schema, its live (masked) frame and its WHERE
  // solver.
  // ---------------------------------------------------------------

  private final case class Durable(schema: StructType, live: DataFrame,
                                   solve: (Seq[PatternRow], Seq[V]) => DataFrame)

  private def triples(spark: SparkSession, path: String): Durable = {
    val db = TripleDb.load(spark, path)
    Durable(TripleDb.schema, db.df, Projections.selectDf(db, _, _))
  }

  private def quads(spark: SparkSession, path: String): Durable = {
    val db = QuadDb.load(spark, path)
    Durable(QuadDb.schema, db.df, Projections.selectDf(db, _, _))
  }

  /** Durable `DELETE WHERE`: evaluates the WHERE against the LIVE
    * (masked) store and tombstones the matched facts — one tiny
    * append, nothing rewritten ([[TripleDb.deleteTriples]]'s GDPR
    * contract, parameterized by a query). Only facts actually live
    * become tombstones (the semi-join keeps the tombstone set tight). */
  def deleteWhere(spark: SparkSession, path: String,
      templates: Seq[(TermOrVar, TermOrVar, TermOrVar)],
      where: Seq[PatternRow]): Unit =
    delete(path, triples(spark, path), templates, where)

  /** Durable `INSERT WHERE`: instantiates against the live store,
    * resurrects any tombstoned facts being re-asserted (their
    * physical rows still exist — clearing the tombstone IS the
    * insert), and appends only the genuinely novel facts into the
    * predicate-partitioned layout. */
  def insertWhere(spark: SparkSession, path: String,
      templates: Seq[(TermOrVar, TermOrVar, TermOrVar)],
      where: Seq[PatternRow]): Unit =
    insert(spark, path, triples(spark, path), templates, where)

  /** Durable §3.1.3 `DELETE/INSERT WHERE`: one solution set against
    * the pre-mutation live store; tombstones first, then resurrection
    * + novel-fact append — so a fact in both sets ends up present,
    * exactly the value-form (and spec) semantics. */
  def deleteInsertWhere(spark: SparkSession, path: String,
      deleteTs: Seq[(TermOrVar, TermOrVar, TermOrVar)],
      insertTs: Seq[(TermOrVar, TermOrVar, TermOrVar)],
      where: Seq[PatternRow]): Unit =
    deleteInsert(spark, path, triples(spark, path), deleteTs, insertTs, where)

  /** Quad-store durable DELETE WHERE (graph-aware redaction; keys are
    * full quads). */
  def deleteWhereQuads(spark: SparkSession, path: String,
      templates: Seq[(TermOrVar, TermOrVar, TermOrVar, TermOrVar)],
      where: Seq[PatternRow]): Unit =
    delete(path, quads(spark, path), templates, where)

  /** Quad-store durable INSERT WHERE: [[insertWhere]] with graph-aware
    * templates, so the durable lifecycle is symmetric across both
    * layouts. */
  def insertWhereQuads(spark: SparkSession, path: String,
      templates: Seq[(TermOrVar, TermOrVar, TermOrVar, TermOrVar)],
      where: Seq[PatternRow]): Unit =
    insert(spark, path, quads(spark, path), templates, where)

  /** Durable quad-store §3.1.3 `DELETE { d } INSERT { i } WHERE { g }`:
    * [[deleteInsertWhere]] with graph-aware templates — positions
    * including the GRAPH may be vars bound by the WHERE. */
  def deleteInsertWhereQuads(spark: SparkSession, path: String,
      deleteTs: Seq[(TermOrVar, TermOrVar, TermOrVar, TermOrVar)],
      insertTs: Seq[(TermOrVar, TermOrVar, TermOrVar, TermOrVar)],
      where: Seq[PatternRow]): Unit =
    deleteInsert(spark, path, quads(spark, path), deleteTs, insertTs, where)

  private def delete(path: String, store: Durable, templates: Seq[Product],
                     where: Seq[PatternRow]): Unit = {
    val doomed = instantiate(store.solve(where, varsOf(templates)),
        store.schema, templates)
      .join(store.live, store.schema.fieldNames.toSeq, "left_semi")
    PartitionedStore.delete(doomed, path, store.schema, PartitionedStore.Pred)
  }

  private def insert(spark: SparkSession, path: String, store: Durable,
                     templates: Seq[Product], where: Seq[PatternRow]): Unit = {
    // eager localCheckpoint, NOT persist: the resurrection step
    // rewrites the tombstone set and refreshByPath INVALIDATES cached
    // plans that read it — a persisted frame would silently RECOMPUTE
    // against post-mutation state (caught by UpdateSpec's quad leg).
    // Cutting lineage pins the pre-mutation solutions physically.
    val inserts = instantiate(store.solve(where, varsOf(templates)),
      store.schema, templates).localCheckpoint()
    appendNovel(spark, path, store.schema, inserts)
    freeCheckpoint(inserts)
  }

  private def deleteInsert(spark: SparkSession, path: String, store: Durable,
                           deleteTs: Seq[Product], insertTs: Seq[Product],
                           where: Seq[PatternRow]): Unit = {
    // one eager lineage cut pins the PRE-mutation solutions (see
    // insert's note); both template sets instantiate from it
    val sol = store.solve(where, varsOf(deleteTs ++ insertTs)).localCheckpoint()
    val doomed = instantiate(sol, store.schema, deleteTs)
      .join(store.live, store.schema.fieldNames.toSeq, "left_semi")
      .localCheckpoint()
    val inserts = instantiate(sol, store.schema, insertTs).localCheckpoint()
    PartitionedStore.delete(doomed, path, store.schema, PartitionedStore.Pred)
    appendNovel(spark, path, store.schema, inserts)
    freeCheckpoint(sol); freeCheckpoint(doomed); freeCheckpoint(inserts)
  }

  /** The shared durable-insert tail of a predicate-partitioned store
    * keyed on `schema` ([[GraphMgmt]]'s LOAD/ADD/COPY/MOVE and SPARQL
    * INSERT DATA use it too): resurrect re-asserted tombstoned rows,
    * then append only the genuinely novel ones.
    *
    * Lineage contract: the resurrection step rewrites the tombstone
    * set, and a frame whose lineage READS THE STORE would silently
    * recompute against post-mutation state — the caller must cut such
    * a frame first (an eager localCheckpoint). A frame that does not
    * read the store (literal data) needs no cut. */
  private[graft] def appendNovel(spark: SparkSession, path: String,
                                 schema: StructType, inserts: DataFrame): Unit = {
    val keys = schema.fieldNames.toSeq
    Tombstones.removeKeysAt(spark, Tombstones.tombPath(path), inserts, keys)
    // against the POST-resurrection live view: a resurrected fact is
    // live again, so it is not re-appended (no physical duplicates);
    // checkpointed so the append never reads the store mid-write
    val novel = inserts.join(
      PartitionedStore.frame(spark, path, schema, PartitionedStore.Pred),
      keys, "left_anti").localCheckpoint()
    if (!novel.isEmpty)
      PartitionedStore.write(novel, path, PartitionedStore.Pred, "append")
    freeCheckpoint(novel)
    spark.catalog.refreshByPath(path)
  }
}
