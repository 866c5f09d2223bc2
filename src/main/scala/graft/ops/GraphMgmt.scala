package graft.ops

import graft.core.{QuadDb, Term, TripleDb}
import graft.sources.{JsonLd, NTriples, RdfXml, Turtle}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SPARQL 1.1 Update §3.2 graph management — LOAD, CLEAR, DROP, COPY,
  * MOVE, ADD — as one-call compositions over the named-graph store:
  * value forms build new [[QuadDb]]s (inputs untouched), durable forms
  * write DELTAS against a [[QuadDb.save]]d store (tombstones for
  * removals, novel-only appends for additions — never a store
  * rewrite, the same contract as [[Update]]'s §3.1.3 forms).
  *
  * Dataset-model note (documented divergence from stores with
  * explicit graph containers): this engine's dataset has no EMPTY
  * graphs — a graph exists exactly while quads carry its name — so
  * CLEAR and DROP coincide (§3.2.2/§3.2.3 differ only in whether the
  * empty container remains), and the SILENT option is moot (no
  * "graph does not exist" errors: clearing an absent graph is a
  * no-op). COPY/MOVE/ADD with `from == to` are no-ops per spec.
  *
  * Scale shape: every op is a pushed graph-scan filter plus at most
  * one anti-join against ONE graph's rows — CLEAR/DROP tombstone only
  * the victim graph's live quads; COPY/MOVE/ADD read only the source
  * graph and append only novel facts. Nothing reads the whole store
  * beyond the pruned scans.
  */
object GraphMgmt {

  /** LOAD's document readers — the TRIPLE formats (a SPARQL LOAD
    * names ONE destination graph, so quad documents don't fit the
    * §3.1.1 shape; load those via the dataset readers directly). */
  def readTriples(spark: SparkSession, file: String,
                  format: String): TripleDb = format match {
    case "ntriples" | "nt"   => NTriples.load(spark, file)
    case "turtle" | "ttl"    => Turtle.load(spark, file)
    case "jsonld" | "jsonl"  => JsonLd.load(spark, file)
    case "rdfxml" | "rdf"    => RdfXml.load(spark, file)
    case other => throw new IllegalArgumentException(
      s"unknown LOAD format '$other' (ntriples/turtle/jsonld/rdfxml; " +
        "quad formats load via NTriples.loadQuads / Turtle.loadTrig / " +
        "JsonLd.loadQuads — a LOAD names one destination graph)")
  }

  /** Apply one frame transform consistently to the full relation AND
    * every predicate slice (the fromWideTable lesson: a store whose
    * slices disagree with its full view breaks var-predicate scans
    * silently). */
  private def mapStore(db: QuadDb, distinct: Boolean)
                      (f: DataFrame => DataFrame): QuadDb =
    QuadDb(f(db.df), db.predIndex.map { case (n, d) => n -> f(d) },
      db.stats, distinct = distinct)

  // ---------------------------------------------------------------
  // Value forms (QuadDb → QuadDb; inputs untouched)
  // ---------------------------------------------------------------

  /** `LOAD <doc> INTO GRAPH g` (§3.1.1): the document's triples merge
    * into graph `g` (set semantics within the dataset). */
  def load(db: QuadDb, spark: SparkSession, file: String, format: String,
           g: Term = QuadDb.DefaultGraph): QuadDb =
    add(db, QuadDb.fromTripleDb(readTriples(spark, file, format), g), g)

  /** `CLEAR GRAPH g` ≡ `DROP GRAPH g` (§3.2.2/3 — see the class note):
    * remove every quad of graph `g`. A pushed scan filter, no joins;
    * distinctness is preserved (filtering never duplicates). */
  def clear(db: QuadDb, g: Term): QuadDb =
    mapStore(db, db.distinct)(_.where(col("g") =!= Term.lit(g)))

  /** `CLEAR DEFAULT` (§3.2.2). */
  def clearDefault(db: QuadDb): QuadDb = clear(db, QuadDb.DefaultGraph)

  /** `CLEAR ALL` — the empty dataset (schema kept). */
  def clearAll(db: QuadDb): QuadDb =
    mapStore(db, distinct = true)(_.where(lit(false)))

  /** `CLEAR NAMED` ≡ `DROP NAMED` (§3.2.2/3): remove every quad of
    * every NAMED graph; the default graph survives. One pushed scan
    * filter — no graph-catalog enumeration. */
  def clearNamed(db: QuadDb): QuadDb =
    mapStore(db, db.distinct)(
      _.where(col("g") === Term.lit(QuadDb.DefaultGraph)))

  /** The source graph's quads retagged into `to`. */
  private def retagged(d: DataFrame, from: Term, to: Term): DataFrame =
    d.where(col("g") === Term.lit(from))
      .select(col("s"), col("p"), col("o"))
      .withColumn("g", Term.lit(to))

  /** `COPY from TO to` (§3.2.5): `to` := `from`'s data (destination
    * cleared first, source kept). The result unions two frames that
    * are DISJOINT by graph name, so distinctness survives without a
    * dedup shuffle. `from == to` is a no-op per spec. */
  def copy(db: QuadDb, from: Term, to: Term): QuadDb =
    if (from == to) db
    else mapStore(db, db.distinct)(d =>
      d.where(col("g") =!= Term.lit(to)).unionByName(retagged(d, from, to)))

  /** `MOVE from TO to` (§3.2.6): COPY then drop the source. */
  def move(db: QuadDb, from: Term, to: Term): QuadDb =
    if (from == to) db
    else mapStore(db, db.distinct)(d =>
      d.where(col("g") =!= Term.lit(to) && col("g") =!= Term.lit(from))
        .unionByName(retagged(d, from, to)))

  /** `ADD from TO to` (§3.2.7): insert `from`'s data into `to`,
    * keeping both; facts already in `to` are not duplicated (one
    * anti-join against ONE graph's rows — never a store-wide dedup). */
  def add(db: QuadDb, from: Term, to: Term): QuadDb =
    if (from == to) db
    else mapStore(db, db.distinct) { d =>
      val novel = retagged(d, from, to)
        .join(d.where(col("g") === Term.lit(to)),
          Seq("s", "p", "o", "g"), "left_anti")
      d.unionByName(novel)
    }

  /** [[add]] from ANOTHER dataset's graph (LOAD's merge step). */
  private def add(db: QuadDb, src: QuadDb, g: Term): QuadDb =
    mapStore(db, db.distinct) { d =>
      val novel = src.df.where(col("g") === Term.lit(g))
        .join(d.where(col("g") === Term.lit(g)),
          Seq("s", "p", "o", "g"), "left_anti")
      d.unionByName(novel)
    }

  // ---------------------------------------------------------------
  // Durable forms (a QuadDb.save'd store path; delta writes only)
  // ---------------------------------------------------------------

  /** Durable `LOAD <doc> INTO GRAPH g`: parse the document, tag it
    * into `g`, resurrect any re-asserted tombstoned quads, append the
    * novel rest — one partitioned append, nothing rewritten. */
  def loadInto(spark: SparkSession, path: String, file: String,
               format: String, g: Term = QuadDb.DefaultGraph): Unit = {
    val quads = readTriples(spark, file, format).df
      .select("s", "p", "o").withColumn("g", Term.lit(g))
      .localCheckpoint() // parse once: the append tail reads it twice
    Update.appendNovel(spark, path, QuadDb.schema, quads)
    freeCheckpoint(quads)
  }

  /** Durable `CLEAR GRAPH g` ≡ `DROP GRAPH g`: tombstone the graph's
    * live quads ([[QuadDb.deleteGraph]] — a tiny append; the GDPR
    * takedown unit, reached from the Update grammar). Clearing a
    * graph with NO live quads is a true no-op: without the probe it
    * would mint an EMPTY tombstone set, and every later load of the
    * store would pay the mask anti-join for nothing (one limit-1 job
    * here buys it back permanently — the common COPY-into-fresh-graph
    * case hits this on its destination clear). The probe and the
    * append share one masked read of the store. */
  def clearGraph(spark: SparkSession, path: String, g: Term): Unit = {
    val doomed = QuadDb.loadFrame(spark, path).where(col("g") === Term.lit(g))
    if (!doomed.limit(1).isEmpty) QuadDb.deleteQuads(doomed, path)
  }

  /** Durable `DROP GRAPH g` — same operation (see the class note). */
  def dropGraph(spark: SparkSession, path: String, g: Term): Unit =
    clearGraph(spark, path, g)

  /** Durable `CLEAR NAMED` ≡ `DROP NAMED`: tombstone every live quad
    * OUTSIDE the default graph — one pushed scan filter feeding the
    * tombstone append, never a per-graph loop or catalog scan. Same
    * no-op probe discipline as [[clearGraph]]. */
  def clearNamedGraphs(spark: SparkSession, path: String): Unit = {
    val doomed = QuadDb.loadFrame(spark, path)
      .where(col("g") =!= Term.lit(QuadDb.DefaultGraph))
    if (doomed.limit(1).isEmpty) return
    QuadDb.deleteQuads(doomed, path)
  }

  /** Durable `ADD from TO to`: resurrect + append the source graph's
    * quads retagged to `to`; only novel facts hit disk. */
  def addGraph(spark: SparkSession, path: String, from: Term,
               to: Term): Unit = {
    if (from == to) return
    val src = retagged(QuadDb.loadFrame(spark, path), from, to)
      .localCheckpoint()
    Update.appendNovel(spark, path, QuadDb.schema, src)
    freeCheckpoint(src)
  }

  /** Durable `COPY from TO to`: clear the destination, then add. The
    * source snapshot is pinned BEFORE the clear (an eager lineage
    * cut), so `COPY g TO g2` never sees its own tombstones. */
  def copyGraph(spark: SparkSession, path: String, from: Term,
                to: Term): Unit = {
    if (from == to) return
    val src = retagged(QuadDb.loadFrame(spark, path), from, to)
      .localCheckpoint()
    clearGraph(spark, path, to)
    Update.appendNovel(spark, path, QuadDb.schema, src)
    freeCheckpoint(src)
  }

  /** Durable `MOVE from TO to` ≡ COPY then DROP the source, batched
    * into ONE data append + ONE tombstone append (round-16: the
    * unbatched composition paid two probe jobs and two tombstone
    * appends; the end state is identical — GraphMgmtSpec's durable
    * lifecycle pins it).
    *
    * Ordering is the crash-safety contract: the data append lands
    * FIRST, so every crash window leaves the store a SUPERSET of
    * either the old or the new state (worst case: source copied but
    * not yet dropped — exactly the unbatched composition's window);
    * tombstoning before the append could lose the source graph. The
    * single tombstone append covers (a) the destination's pre-move
    * rows NOT re-asserted by the copy (rows also in the source stay
    * live — same physical outcome as COPY's clear+resurrect) and (b)
    * the whole source graph. `doomed` evaluates against the
    * post-append live view, where the anti-join against the pinned
    * source snapshot excludes every row the append just landed. */
  def moveGraph(spark: SparkSession, path: String, from: Term,
                to: Term): Unit = {
    if (from == to) return
    val src = retagged(QuadDb.loadFrame(spark, path), from, to)
      .localCheckpoint()
    Update.appendNovel(spark, path, QuadDb.schema, src)
    val liveAfter = QuadDb.loadFrame(spark, path)
    val doomed = liveAfter.where(col("g") === Term.lit(to))
        .join(src, Seq("s", "p", "o", "g"), "left_anti")
      .unionByName(liveAfter.where(col("g") === Term.lit(from)))
    // same no-op probe discipline as [[clearGraph]]: never mint an
    // empty tombstone set
    if (!doomed.limit(1).isEmpty) QuadDb.deleteQuads(doomed, path)
    freeCheckpoint(src)
  }
}
