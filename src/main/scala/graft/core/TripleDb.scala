package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A triple database: a DataFrame with columns `s`, `p`, `o`, each a
  * [[Term]] struct.
  *
  * Mirrors the reference's pldb fact database (alpha.clj:52, 60-76):
  *   - set semantics — duplicate triples are idempotent (alpha_test.clj:
  *     211-231); [[TripleDb.index]] ≙ `index-triples` = dropDuplicates +
  *     persist, so repeated queries reuse the deduped, cached relation;
  *   - [[TripleDb.merge]] ≙ `merge-dbs` (alpha.clj:728-746) = set union.
  *
  * Scale notes: the reference's 3-position hash index (alpha.clj:52) maps
  * to Catalyst predicate pushdown on ground positions — patterns compile
  * to `where` clauses *before* any join, so the parquet scan prunes both
  * rows and columns. At cluster scale, persist the triple table
  * partitioned by `p` (predicates are low-cardinality and queries are
  * almost always predicate-ground), which turns each pattern scan into
  * partition pruning instead of a full scan.
  */
final case class TripleDb(df: DataFrame,
                          predIndex: Map[String, DataFrame] = Map.empty,
                          /** Per-predicate source size in bytes (on-disk
                            * parquet bytes or plan statistics — no
                            * job). Feeds BGP pattern
                            * ordering: a pattern over a 5-row dimension
                            * slice should scan before one over a 100 TB
                            * fact slice when the boundness heuristic
                            * ties. Advisory: empty map = no stats. */
                          stats: Map[String, Long] = Map.empty,
                          /** Triples known pairwise-distinct (set
                            * semantics already hold) — lets consumers
                            * ([[index]], [[DictDb.encode]]) skip the
                            * dedup shuffle, a full pass over the fact
                            * table that at 100 TB is the single largest
                            * avoidable cost of an ingest. True for
                            * [[TripleDb.fromWideTable]] (one triple per
                            * (row, column) under the unique-key
                            * contract) and preserved by [[TripleDb.union]]
                            * (whose contract is caller-asserted
                            * disjointness — that is what distinguishes
                            * it from [[TripleDb.merge]]). */
                          distinct: Boolean = false) {
  /** ≙ `index-triples` (alpha.clj:60-69): dedup + cache for reuse.
    * Predicate slices are rebuilt as filtered views OVER the single
    * persisted relation — one cache, set semantics guaranteed
    * consistent between the full view and every slice, and
    * ground-predicate scans read from memory.
    */
  def index(): TripleDb = {
    val deduped =
      (if (distinct) df else df.dropDuplicates("s", "p", "o")).persist()
    val slices = predIndex.keys.map { name =>
      name -> deduped.where(col("p") === Term.lit(Term.TKeyword(name)))
    }.toMap
    TripleDb(deduped, slices, stats, distinct = true)
  }
  def unpersist(): TripleDb = { df.unpersist(); this }

  /** Dictionary-encode this store: long-keyed triples + term dict — the
    * repeated-query / join-heavy scale layout. See [[DictDb]] for the
    * design and the struct-vs-dict tradeoff. Set semantics built in
    * (dedup runs on the narrow long keys — no `.index()` needed first).
    */
  def dictEncode(): DictDb = DictDb.encode(this)

  /** The database back as a seq of term triples — the reference's db
    * representation (a seq of `[s p o]`, alpha.clj:54-58). Driver-side
    * collector: human-sized stores only; the scale path stays in `df`.
    */
  def triples: Seq[(Term, Term, Term)] =
    df.collect().toSeq.map(r =>
      (Term.fromRow(r.getStruct(0)), Term.fromRow(r.getStruct(1)),
        Term.fromRow(r.getStruct(2))))
}

object TripleDb {
  val schema: StructType = StructType(Seq(
    StructField("s", Term.schema, nullable = false),
    StructField("p", Term.schema, nullable = false),
    StructField("o", Term.schema, nullable = false)))

  /** Persist a triple DB as parquet partitioned by predicate (keyword
    * predicates get their own directory; anything else lands in
    * `__other`). At cluster scale this is the durable form of the
    * predicate index: a ground-predicate pattern scan prunes to one
    * partition directory instead of touching the whole store.
    */
  def save(db: TripleDb, path: String): Unit =
    PartitionedStore.write(db.df, path, PartitionedStore.Pred)

  /** Subject-bucketed durable store: writes the triple table bucketed
    * (and sorted) by the encoded subject. BGP conjunctions join
    * patterns on shared subject vars — two scans of a subject-bucketed
    * store are co-partitioned, so those joins need NO shuffle (the
    * classic bucketed co-located join; pinned in PlanSpec). Use for
    * subject-star query workloads; [[save]]'s predicate partitioning
    * is the complementary layout for predicate-selective scans.
    */
  def saveBucketedBySubject(db: TripleDb, table: String,
                            buckets: Int = 32): Unit =
    db.df.withColumn("sk", Term.encode(col("s")))
      .write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "sk").sortBy("sk")
      .saveAsTable(table)

  /** GDPR-style takedown for a [[save]]d store: append the doomed
    * triples (s/p/o [[Term]] structs) to the tombstone set — one tiny
    * write, nothing in the store is rewritten. [[load]] masks
    * tombstoned triples; [[compact]] reclaims the space physically.
    * The tombstones carry the predicate partition value so compaction
    * prunes to the affected `pred=` directories.
    */
  def deleteTriples(triples: DataFrame, path: String): Unit =
    PartitionedStore.delete(triples, path, schema, PartitionedStore.Pred)

  /** The masked triple FRAME of a [[save]]d store, without slices or
    * stats — the mutation-internal read (≙ [[QuadDb.loadFrame]]) for
    * semi/anti-join and filter callers. Same known-schema read as
    * [[load]] ([[PartitionedStore.frame]]); query paths keep [[load]]. */
  private[graft] def loadFrame(spark: SparkSession, path: String): DataFrame =
    PartitionedStore.frame(spark, path, schema, PartitionedStore.Pred)

  /** Delete EVERY fact about the given subjects (the usual takedown
    * unit): one masked scan of the store finds their live triples,
    * which become the tombstones. `subjects` needs a Term-struct
    * column `s`.
    */
  def deleteSubjects(spark: SparkSession, path: String,
                     subjects: DataFrame): Unit =
    PartitionedStore.deleteSubjects(spark, path, schema,
      PartitionedStore.Pred, subjects)

  /** Physically drop tombstoned triples: only the affected predicate
    * partitions are scanned and only files holding a deleted triple are
    * rewritten — untouched predicate partitions stay byte-stable
    * (spec-pinned). Load before and after are equivalent.
    */
  def compact(spark: SparkSession, path: String): Unit =
    Tombstones.compactPartitioned(spark, path, schema, PartitionedStore.Pred)

  /** Save as JSON-lines — one `{"s":{…},"p":{…},"o":{…}}` object per
    * line. Schema-exact interchange sink: JSON escaping handles any
    * lexical content (tabs, newlines, quotes, unicode), unlike an
    * ad-hoc delimited text format. Use [[save]] (predicate-partitioned
    * parquet) for the durable store; this is the export/interop form.
    */
  def saveJsonl(db: TripleDb, path: String): Unit =
    db.df.select("s", "p", "o").write.mode("overwrite").json(path)

  /** Load a [[saveJsonl]] export. No predicate index (a text format
    * carries no partition layout) — patterns filter the full relation;
    * `.index()` after loading if the store will be queried repeatedly.
    */
  def loadJsonl(spark: SparkSession, path: String): TripleDb =
    TripleDb(spark.read.schema(schema).json(path))

  /** Load a [[save]]d store: one slice per keyword-predicate partition
    * directory (slices prune partitions at scan time), its on-disk
    * bytes as the slice's stat, deleted-but-not-yet-compacted triples
    * masked at read. Runs no Spark job: the cost is the partition
    * listing ([[PartitionedStore]]). */
  def load(spark: SparkSession, path: String): TripleDb = {
    val l = PartitionedStore.load[String](spark, path, schema,
      PartitionedStore.Pred)(PartitionedStore.keywordPreds)
    TripleDb(l.frame, l.slices, l.stats)
  }

  /** VoID-style dataset statistics (W3C "Vocabulary of Interlinked
    * Datasets" property partitions: void:triples,
    * void:distinctSubjects, void:distinctObjects per predicate) — the
    * dataset-description surface an RDF publisher ships next to a
    * store, and the row-level stats that sharpen BGP pattern ordering
    * beyond the byte-size heuristic in [[TripleDb.stats]].
    *
    * One map-side-combined groupBy over the store; output is bounded
    * by the predicate count. Callers pass an indexed/distinct db for
    * set-semantics counts (nil objects are term-nil, a VALUE — they
    * count as a distinct object, matching the matchable-nil model).
    */
  def voidStats(db: TripleDb): DataFrame =
    db.df.groupBy(Term.encode(col("p")).as("pred"))
      .agg(count(lit(1)).as("n_triples"),
        countDistinct(Term.encode(col("s"))).as("n_subjects"),
        countDistinct(Term.encode(col("o"))).as("n_objects"))

  /** Quads → DB: the 4th element (graph) is silently dropped, exactly
    * like the reference's positional destructuring of grafter Quads
    * (alpha.clj:54-58; alpha_test.clj:244-245). */
  def fromQuads(spark: SparkSession,
                quads: Seq[(Term, Term, Term, Term)]): TripleDb =
    fromTerms(spark, quads.map(q => (q._1, q._2, q._3)))

  /** In-memory triples → DB (≙ raw seq-of-triples input, alpha.clj:54-58). */
  def fromTerms(spark: SparkSession, triples: Seq[(Term, Term, Term)]): TripleDb = {
    val rows = triples.map { case (s, p, o) =>
      Row(Term.toRow(s), Term.toRow(p), Term.toRow(o))
    }
    TripleDb(spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toList, math.max(1, rows.size / 50000)),
      schema))
  }

  /** ≙ `merge-dbs` (alpha.clj:728-746): set union of databases.
    * Per-predicate slices dedup independently (a fact lives in exactly
    * one predicate slice), so the merged index stays consistent with
    * the merged full view.
    */
  def merge(dbs: TripleDb*): TripleDb =
    TripleDb(dbs.map(_.df).reduce(_.unionByName(_)).dropDuplicates("s", "p", "o"),
      mergeIndexes(dbs, dedup = true), mergeStats(dbs), distinct = true)

  /** Union without the dedup shuffle — for callers that `.index()` after,
    * or that know inputs are disjoint (e.g. unpivoted tables with
    * distinct subject prefixes, where dedup would be a pure waste of a
    * shuffle at 100 TB). Makes NO distinctness claim (inputs may
    * overlap — e.g. re-adding facts before an idempotent `.index()`);
    * use [[unionDisjoint]] to assert disjointness.
    */
  def union(dbs: TripleDb*): TripleDb =
    TripleDb(dbs.map(_.df).reduce(_.unionByName(_)),
      mergeIndexes(dbs, dedup = false), mergeStats(dbs))

  /** [[union]] plus a caller assertion that the inputs are pairwise
    * fact-disjoint (e.g. unpivoted tables with distinct subject
    * prefixes). Then the union of all-`distinct` inputs is itself
    * `distinct`, and downstream ingest ([[index]], [[DictDb.encode]])
    * skips its dedup shuffle — a full pass over the fact table at
    * 100 TB.
    */
  def unionDisjoint(dbs: TripleDb*): TripleDb =
    union(dbs: _*).copy(distinct = dbs.forall(_.distinct))

  /** Union stats survive a merge: slices with the same predicate sum. */
  private def mergeStats(dbs: Seq[TripleDb]): Map[String, Long] =
    if (dbs.exists(_.stats.isEmpty)) Map.empty
    else dbs.flatMap(_.stats.toSeq).groupBy(_._1)
      .map { case (p, xs) => p -> xs.map(_._2).sum }

  private def mergeIndexes(dbs: Seq[TripleDb], dedup: Boolean): Map[String, DataFrame] = {
    if (dbs.exists(_.predIndex.isEmpty)) return Map.empty // partial index is unsound
    dbs.flatMap(_.predIndex.toSeq)
      .groupBy(_._1)
      .map { case (p, slices) =>
        val u = slices.map(_._2).reduce(_.unionByName(_))
        // dedup even single-source slices: a source db may itself carry
        // duplicate facts, and merge's contract is set semantics
        p -> (if (dedup) u.dropDuplicates("s", "p", "o") else u)
      }
  }

  /** Unpivot a wide table into triples — our "connector" (the reference
    * has none; its data arrives as in-memory seqs, README:17-20).
    *
    * subject   = `<table>/<key>` URI term
    * predicate = column-name keyword term
    * object    = column value as a typed term; FK columns (in `fks`)
    *             become URI terms `<targetTable>/<value>` so BGP joins
    *             hop across tables.
    *
    * `keyCol` must be a unique row key (it names the subject). Under
    * that contract every (row, column) pair emits exactly one distinct
    * triple, so the result is marked `distinct` and downstream ingest
    * ([[TripleDb.index]], [[DictDb.encode]]) skips its dedup shuffle.
    *
    * This is a narrow map (no shuffle): each input row emits one output
    * row per column via an inline explode, so it scales linearly and
    * partitions inherit from the parquet scan.
    */
  def fromWideTable(df: DataFrame, table: String, keyCol: String,
                    fks: Map[String, String] = Map.empty,
                    cols: Seq[String] = Nil,
                    keep: Seq[String] = Nil): TripleDb = {
    val useCols = (if (cols.nonEmpty) cols
                   else df.columns.toSeq.filter(_ != keyCol))
      .filterNot(keep.contains)
    val subj = Term.uriCol(concat(lit(table + "/"), col(keyCol).cast(StringType)))
    val dtypes = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val pairs: Seq[Column] = useCols.map { c =>
      val obj = fks.get(c) match {
        case Some(target) =>
          when(col(c).isNull, Term.lit(Term.TNil))
            .otherwise(Term.uriCol(concat(lit(target + "/"), col(c).cast(StringType))))
        case None => Term.fromRaw(col(c), dtypes(c))
      }
      struct(Term.lit(Term.TKeyword(c)).as("p"), obj.as("o"))
    }
    val exploded = df
      .select(subj.as("s") +: explode(array(pairs: _*)).as("po") +:
        keep.map(col): _*)
      .select(col("s") +: col("po.p").as("p") +: col("po.o").as("o") +:
        keep.map(col): _*)
    // Predicate index: each column is its own narrow (s,p,o) projection
    // — a pattern with that ground predicate scans ONLY this slice, so
    // parquet reads exactly two columns of one table instead of the
    // whole exploded union (≙ "partition the triple store by p").
    val perPred: Map[String, DataFrame] = useCols.zipWithIndex.map { case (c, i) =>
      c -> df.select(subj.as("s"), pairs(i).getField("p").as("p"),
        pairs(i).getField("o").as("o"))
    }.toMap
    // Source-size stat from parquet metadata — no Spark job. Every slice
    // of one table shares the table's size; ordering leverage comes from
    // the (huge) size differences BETWEEN tables in a unioned graph db.
    // Streaming inputs have no batch plan to ask (and no fixed size):
    // skip stats there.
    val stats: Map[String, Long] =
      if (df.isStreaming) Map.empty
      else {
        val tableBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
          .min(BigInt(Long.MaxValue)).toLong
        useCols.map(_ -> tableBytes).toMap
      }
    TripleDb(exploded, perPred, stats, distinct = true)
  }
}
