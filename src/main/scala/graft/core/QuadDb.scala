package graft.core

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** A quad database: a DataFrame with columns `s`, `p`, `o`, `g`, each a
  * [[Term]] struct — the named-graph extension of [[TripleDb]].
  *
  * The reference destructures grafter Quads positionally and silently
  * DROPS the 4th element (alpha.clj:54-58; alpha_test.clj:244-245) —
  * [[TripleDb.fromQuads]] reproduces that faithfully for parity. But
  * every real RDF dataset ships as quads (TriG / N-Quads), so a store
  * aiming beyond the reference keeps the graph position: this type is
  * the keep-`g` counterpart, queried through the same BGP compiler via
  * [[graft.dsl.QuadPattern]] rows.
  *
  * Dataset semantics (documented choice): the DEFAULT graph is the
  * nil-graph — quads whose `g` is term-nil, which is exactly how an
  * N-Quads line with no graph label loads ([[graft.sources.NTriples]]
  * `parseQuads`). A plain [[graft.dsl.TriplePattern]] run against a
  * QuadDb matches the UNION of all graphs — with BAG-PER-QUAD
  * cardinality: a triple asserted in two graphs yields TWO solutions,
  * one per containing quad (test-pinned, intentional: solutions stay
  * 1:1 with the quads that produced them, so provenance-style queries
  * can count assertions). NOTE this diverges from the set-union
  * semantics of e.g. Jena's unionDefaultGraph, which dedups the
  * union; dedup explicitly (`.distinct` on the solution frame) for
  * that behavior. A [[graft.dsl.QuadPattern]] scopes to a ground
  * graph or binds a graph variable per solution.
  *
  * Scale shape is [[TripleDb]]'s: set semantics via one dedup shuffle at
  * [[index]] time, per-predicate slices for ground-predicate pattern
  * pruning, predicate-partitioned parquet as the durable layout. The
  * graph column adds ZERO joins — graph scoping is a pushed-down filter
  * on the scan, and a graph variable is just a fourth projected column.
  */
final case class QuadDb(df: DataFrame,
                        predIndex: Map[String, DataFrame] = Map.empty,
                        stats: Map[String, Long] = Map.empty,
                        distinct: Boolean = false) {

  /** Dedup + cache, with per-predicate slices rebuilt as filtered views
    * over the single persisted relation (same contract as
    * [[TripleDb.index]]; set semantics are per QUAD — the same triple
    * asserted in two graphs is two facts). */
  def index(): QuadDb = {
    val deduped =
      (if (distinct) df else df.dropDuplicates("s", "p", "o", "g")).persist()
    val slices = predIndex.keys.map { name =>
      name -> deduped.where(col("p") === Term.lit(Term.TKeyword(name)))
    }.toMap
    QuadDb(deduped, slices, stats, distinct = true)
  }

  def unpersist(): QuadDb = { df.unpersist(); this }

  /** Dictionary-encode this quad store (≙ [[TripleDb.dictEncode]]) —
    * the long-keyed scale layout with the graph position kept. */
  def dictEncode(): DictQuadDb = DictDb.encodeQuads(this)

  /** One named graph as a [[TripleDb]] — the graph filter is a pushed
    * predicate on the scan, not a join. Facts within one graph are
    * distinct iff the quad store is. */
  def graph(g: Term): TripleDb =
    TripleDb(df.where(col("g") === Term.lit(g)).select("s", "p", "o"),
      predIndex.map { case (n, d) =>
        n -> d.where(col("g") === Term.lit(g)).select("s", "p", "o") },
      stats, distinct = distinct)

  /** The union-of-all-graphs view as a [[TripleDb]] — the reference's
    * quad-collapse (alpha.clj:54-58), made explicit. Distinctness is
    * NOT preserved: the same triple in two graphs collapses to one
    * fact, so the result needs its own dedup (`.index()`). */
  def toTriples: TripleDb =
    TripleDb(df.select("s", "p", "o"),
      predIndex.map { case (n, d) => n -> d.select("s", "p", "o") }, stats)

  /** Driver-side collector — human-sized stores only (≙
    * [[TripleDb.triples]]). */
  def quads: Seq[(Term, Term, Term, Term)] =
    df.select("s", "p", "o", "g").collect().toSeq.map(r =>
      (Term.fromRow(r.getStruct(0)), Term.fromRow(r.getStruct(1)),
        Term.fromRow(r.getStruct(2)), Term.fromRow(r.getStruct(3))))
}

object QuadDb {
  /** [[TripleDb.schema]] plus the graph key `g`. */
  val schema: StructType = TripleDb.schema.add("g", Term.schema, nullable = false)

  /** The default graph's name: term-nil (an N-Quads line with no graph
    * label parses here, and quads in this graph serialize without one). */
  val DefaultGraph: Term = Term.TNil

  /** In-memory quads → DB, keeping the 4th position (contrast
    * [[TripleDb.fromQuads]], which reproduces the reference's drop). */
  def fromQuads(spark: SparkSession,
                quads: Seq[(Term, Term, Term, Term)]): QuadDb = {
    val rows = quads.map { case (s, p, o, g) =>
      Row(Term.toRow(s), Term.toRow(p), Term.toRow(o), Term.toRow(g))
    }
    QuadDb(spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toList, math.max(1, rows.size / 50000)),
      schema))
  }

  /** Tag a whole [[TripleDb]] into one named graph (graph column is a
    * literal — no shuffle, distinctness preserved). */
  def fromTripleDb(db: TripleDb, g: Term = DefaultGraph): QuadDb =
    QuadDb(db.df.select("s", "p", "o").withColumn("g", Term.lit(g)),
      db.predIndex.map { case (n, d) =>
        n -> d.select("s", "p", "o").withColumn("g", Term.lit(g)) },
      db.stats, distinct = db.distinct)

  /** Set union of quad stores (≙ [[TripleDb.merge]], per-quad set
    * semantics). */
  def merge(dbs: QuadDb*): QuadDb =
    QuadDb(dbs.map(_.df).reduce(_.unionByName(_))
        .dropDuplicates("s", "p", "o", "g"),
      Map.empty, Map.empty, distinct = true)

  /** Union without the dedup shuffle — callers `.index()` after, or
    * assert disjointness (e.g. per-graph ingests with distinct graph
    * names are disjoint by construction). */
  def union(dbs: QuadDb*): QuadDb =
    QuadDb(dbs.map(_.df).reduce(_.unionByName(_)),
      distinct = false)

  /** [[union]] plus the caller's pairwise-disjointness assertion (true
    * whenever the inputs carry distinct graph names), so downstream
    * `.index()` skips its dedup shuffle. */
  def unionDisjoint(dbs: QuadDb*): QuadDb =
    union(dbs: _*).copy(distinct = dbs.forall(_.distinct))

  /** Durable predicate-partitioned layout, same directory contract as
    * [[TripleDb.save]] — ground-predicate scans prune to one partition
    * directory; the graph column rides along and graph scoping remains
    * a pushed filter. */
  def save(db: QuadDb, path: String): Unit =
    PartitionedStore.write(db.df, path, PartitionedStore.Pred)

  /** The masked quad FRAME of a [[save]]d store, without slices or
    * stats — the mutation-internal read ([[graft.ops.Update]] /
    * [[graft.ops.GraphMgmt]] deltas), which only anti-joins or filters
    * the frame. Same known-schema read as [[load]]
    * ([[PartitionedStore.frame]]); query paths keep [[load]]. */
  private[graft] def loadFrame(spark: SparkSession, path: String): DataFrame =
    PartitionedStore.frame(spark, path, schema, PartitionedStore.Pred)

  /** Load a [[save]]d quad store (≙ [[TripleDb.load]]): one slice per
    * keyword-predicate partition with its on-disk bytes as the stat,
    * deleted-but-not-yet-compacted quads masked at read. Runs no Spark
    * job: the cost is the partition listing ([[PartitionedStore]]). */
  def load(spark: SparkSession, path: String): QuadDb = {
    val l = PartitionedStore.load[String](spark, path, schema,
      PartitionedStore.Pred)(PartitionedStore.keywordPreds)
    QuadDb(l.frame, l.slices, l.stats)
  }

  /** Per-GRAPH VoID statistics: the W3C VoID property-partition
    * counts of [[TripleDb.voidStats]], one row per (graph, predicate)
    * — the per-dataset description a named-graph warehouse publishes
    * per tenant/source graph. One map-side-combined groupBy; output
    * bounded by graphs × predicates. */
  def voidStats(db: QuadDb): DataFrame =
    db.df.groupBy(Term.encode(col("g")).as("graph"),
        Term.encode(col("p")).as("pred"))
      .agg(count(lit(1)).as("n_triples"),
        countDistinct(Term.encode(col("s"))).as("n_subjects"),
        countDistinct(Term.encode(col("o"))).as("n_objects"))

  /** Append-only GDPR delete on a [[save]]d quad store: the given quads
    * (s/p/o/g [[Term]] structs) become tombstones — one tiny write,
    * nothing in the store is rewritten. [[load]] masks tombstoned
    * quads; [[compact]] reclaims the space physically. Keys are the
    * full quad: the same triple asserted in another graph is a
    * different fact and stays live. */
  def deleteQuads(quads: DataFrame, path: String): Unit =
    PartitionedStore.delete(quads, path, schema, PartitionedStore.Pred)

  /** Delete EVERY fact about the given subjects across ALL graphs (the
    * takedown unit of [[TripleDb.deleteSubjects]], extended to the
    * union dataset). `subjects` needs a Term-struct column `s`. */
  def deleteSubjects(spark: SparkSession, path: String,
                     subjects: DataFrame): Unit =
    PartitionedStore.deleteSubjects(spark, path, schema,
      PartitionedStore.Pred, subjects)

  /** Delete a whole named graph — the takedown unit quads ADD over
    * triples (a tenant / source / crawl-snapshot graph). One masked
    * scan finds the graph's live quads, which become the tombstones. */
  def deleteGraph(spark: SparkSession, path: String, g: Term): Unit =
    deleteQuads(loadFrame(spark, path).where(col("g") === Term.lit(g)), path)

  /** Physically drop tombstoned quads: partition-pruned to the affected
    * `pred=` directories, and only files holding a deleted quad are
    * rewritten ([[Tombstones.compactPartitioned]]). Load before and
    * after are equivalent. */
  def compact(spark: SparkSession, path: String): Unit =
    Tombstones.compactPartitioned(spark, path, schema, PartitionedStore.Pred)
}
