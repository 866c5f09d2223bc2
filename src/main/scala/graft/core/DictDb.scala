package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Dictionary-encoded triple store: the classic RDF-store layout (every
  * published triple engine — RDF-3X, Jena TDB, Virtuoso — encodes terms
  * to fixed-width ids and joins on the ids) realized in Spark.
  *
  * `triples` carries `s`, `p`, `o` as 8-byte LONGs; `dict` maps each id
  * back to its term struct. The BGP join fold runs entirely over longs —
  * ~5× narrower join keys than the 5-field term struct, which the
  * dictionary-encoding A/B (tools/Stress) measured at ~2× on the join
  * stage plus ~70% less shuffle I/O — and terms are rehydrated by
  * joining the (persisted) dict once per projected variable at the very
  * edge of the plan, where the result is small.
  *
  * Ids are `xxhash64` over the five term-struct fields. Within one term
  * kind the null layout of the remaining fields is fixed (e.g. a string
  * term always has num/lang/datatype null), and `kind` itself is never
  * null and hashes first, so Spark's skip-nulls hash folding cannot
  * alias two *different* terms through null shuffling; what remains is
  * the generic 2^-64 birthday risk, which [[DictDb.encode]] checks
  * LOUDLY at build time (one aggregation over the distinct-term dict —
  * an ingest-time cost, paid once per store like the dict itself) and
  * refuses to build on a collision rather than silently merging terms.
  *
  * When to use which store: [[TripleDb]] (struct-keyed) wins for
  * one-shot queries — no dict build, no decode joins. DictDb wins when
  * a store is built once and queried repeatedly, or when the join fold
  * itself dominates (many patterns / large intermediate solutions):
  * the per-query saving on shuffle width and key comparison repays the
  * one-time encode. [[StoreAdvisor]] codifies this rule (break-even:
  * expected queries × join stages ≥ 2 × encode cost) so callers can
  * ask instead of re-deriving it. The semantic source of truth stays
  * the term struct.
  *
  * Reference: the pldb index (alpha.clj:52) keys facts by the term
  * values themselves; dictionary ids are our scale substitute with
  * byte-identical decoded results (DictSpec + the differential fuzzer's
  * third leg pin `decoded(dict path) ≡ struct path`).
  */
final case class DictDb(triples: DataFrame,
                        dict: DataFrame,
                        predIndex: Map[String, DataFrame] = Map.empty,
                        stats: Map[String, Long] = Map.empty) {

  /** Rehydrate id columns back to term structs: one left join against
    * the dict per column, at the edge of the plan where the result is
    * small. NULL ids (unbound optional vars) stay NULL structs.
    *
    * `extraTerms`: terms that can reach a solution without living in
    * the db — a `values` generator binds its collection elements
    * directly (membero succeeds on coll membership, not db membership,
    * alpha.clj:175-176) — so the decode dictionary is `dict ∪ extras`.
    * Terms present in both carry the same id AND the same struct, so
    * the dedup is value-deterministic.
    */
  def decode(df: DataFrame, cols: Seq[String],
             extraTerms: Seq[Term] = Nil): DataFrame =
    DictDb.decodeWith(dict, df, cols, extraTerms)

  def unpersist(): DictDb = { triples.unpersist(); dict.unpersist(); this }
}

/** Dictionary-encoded QUAD store — the [[DictDb]] layout with the graph
  * position kept as a fourth 8-byte id, so named-graph BGPs
  * ([[graft.dsl.QuadPattern]]) run the same long-keyed join fold
  * ([[graft.engine.BgpCompiler.compileDictQuads]]). Same id scheme,
  * same LOUD collision check, same decode-at-the-edge contract;
  * set semantics are per QUAD.
  */
final case class DictQuadDb(quads: DataFrame,
                            dict: DataFrame,
                            predIndex: Map[String, DataFrame] = Map.empty,
                            stats: Map[String, Long] = Map.empty) {
  def decode(df: DataFrame, cols: Seq[String],
             extraTerms: Seq[Term] = Nil): DataFrame =
    DictDb.decodeWith(dict, df, cols, extraTerms)

  def unpersist(): DictQuadDb = { quads.unpersist(); dict.unpersist(); this }
}

object DictDb {

  /** Rehydrate id columns back to term structs: one left join against
    * the dict per column, at the edge of the plan where the result is
    * small. NULL ids (unbound optional vars) stay NULL structs.
    *
    * `extraTerms`: terms that can reach a solution without living in
    * the db — a `values` generator binds its collection elements
    * directly (membero succeeds on coll membership, not db membership,
    * alpha.clj:175-176) — so the decode dictionary is `dict ∪ extras`.
    * Terms present in both carry the same id AND the same struct, so
    * the dedup is value-deterministic.
    */
  private[core] def decodeWith(dict: DataFrame, df: DataFrame,
                               cols: Seq[String],
                               extraTerms: Seq[Term]): DataFrame = {
    val spark = df.sparkSession
    val d0 =
      if (extraTerms.isEmpty) dict
      else dict.unionByName(DictDb.termDf(spark, extraTerms.distinct))
        .dropDuplicates("id")
    var out = df
    for (v <- cols) {
      // shuffle-hash hint: a sort-merge join would re-sort the (large)
      // dict per decode; hashing it once per partition is the right
      // shape when the result side is the small one
      val d = d0.select(col("id").as(s"__did_$v"), col("term").as(s"__dt_$v"))
        .hint("shuffle_hash")
      out = out.join(d, out.col(v) === col(s"__did_$v"), "left_outer")
        .drop(v).drop(s"__did_$v")
        .withColumnRenamed(s"__dt_$v", v)
    }
    out.select(cols.map(col): _*)
  }

  /** [[encode]] for a quad store: four id columns, one dict over all
    * four positions, per-quad set semantics, the same LOUD collision
    * refusal. */
  def encodeQuads(db: QuadDb): DictQuadDb =
    encodeWith(db.df, QuadIds, db.distinct, db.predIndex.keys, db.stats,
      "QuadDb").quads

  /** An encoded store of either layout. */
  private final case class Built(rows: DataFrame, dict: DataFrame,
                                 predIndex: Map[String, DataFrame],
                                 stats: Map[String, Long]) {
    def triples: DictDb = DictDb(rows, dict, predIndex, stats)
    def quads: DictQuadDb = DictQuadDb(rows, dict, predIndex, stats)
  }

  private def sliced(enc: DataFrame, names: Iterable[String]): Map[String, DataFrame] =
    names.map { name =>
      name -> enc.where(col("p") === termId(Term.TKeyword(name)))
    }.toMap

  /** The LOUD collision refusal: an id the (id-clustered) dict maps to
    * two terms would merge distinct terms, so the build frees its
    * caches and throws. */
  private def refuseCollisions(enc: DataFrame, dict: DataFrame,
                               message: Long => String): Unit = {
    val collided = dict.groupBy("id").count().where(col("count") > 1).count()
    if (collided != 0) {
      enc.unpersist(); dict.unpersist()
      throw new IllegalStateException(message(collided))
    }
  }

  /** ≙ `merge-dbs` (alpha.clj:728-746) for encoded stores: set union of
    * the triple relations (dedup on the three 8-byte ids — ids are pure
    * functions of the terms, so equal facts from different stores carry
    * equal ids) and union of the dicts. A CROSS-store id collision (two
    * stores assigning one id to different terms) is re-checked the same
    * LOUD way encode checks a single store: dedup on (id, term) first —
    * an id still duplicated after that maps two distinct terms.
    * Slices/stats merge like [[TripleDb.merge]].
    */
  def merge(dbs: DictDb*): DictDb =
    mergeWith(dbs.map(d => Built(d.triples, d.dict, d.predIndex, d.stats)),
      TripleIds).triples

  private def mergeWith(dbs: Seq[Built], ids: StructType): Built = {
    val enc = dbs.map(_.rows).reduce(_.unionByName(_))
      .dropDuplicates(ids.fieldNames.toSeq).persist()
    val dict = dbs.map(_.dict).reduce(_.unionByName(_))
      .dropDuplicates("id", "term")
      .repartition(col("id"))
      .persist()
    refuseCollisions(enc, dict, n =>
      s"cross-store term-id collision on $n id(s) — merged " +
        "dictionaries would map one id to two distinct terms")
    val slices =
      if (dbs.exists(_.predIndex.isEmpty)) Map.empty[String, DataFrame]
      else sliced(enc, dbs.flatMap(_.predIndex.keys).distinct)
    val stats =
      if (dbs.exists(_.stats.isEmpty)) Map.empty[String, Long]
      else dbs.flatMap(_.stats.toSeq).groupBy(_._1)
        .map { case (p, xs) => p -> xs.map(_._2).sum }
    Built(enc, dict, slices, stats)
  }

  /** Term-struct column → 64-bit id. See the collision discussion in
    * the class doc: kind-first hashing + fixed per-kind null layout
    * make null skipping harmless, and encode() verifies uniqueness.
    */
  def idOf(term: Column): Column =
    xxhash64(term.getField("kind"), term.getField("lex"),
      term.getField("num"), term.getField("lang"), term.getField("datatype"))

  /** Driver-side twin of [[idOf]] for ground pattern terms and values
    * collections — evaluates the same Catalyst XxHash64 (seed 42) over
    * literal fields, so no Spark job runs to encode a query constant.
    * Parity with the column form is pinned by DictSpec across all 11
    * term kinds.
    */
  def termId(t: Term): Long = {
    val r = Term.toRow(t)
    def s(i: Int): Literal =
      Literal(if (r.isNullAt(i)) null else UTF8String.fromString(r.getString(i)),
        StringType)
    val exprs = Seq(
      Literal(r.getByte(0), ByteType),
      s(1),
      Literal(if (r.isNullAt(2)) null else r.getDouble(2), DoubleType),
      s(3), s(4))
    XxHash64(exprs, 42L).eval(InternalRow.empty).asInstanceOf[Long]
  }

  /** A seq of terms as a (id, term) frame — decode-side extras. */
  private[graft] def termDf(spark: SparkSession, terms: Seq[Term]): DataFrame = {
    val rows = terms.map(t => Row(termId(t), Term.toRow(t)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("term", Term.schema, nullable = false))))
  }

  /** Build the encoded store from a [[TripleDb]]. The dict analog of
    * `index-triples` (alpha.clj:60-69): the store ALWAYS comes out with
    * set semantics — triples dedup on the three 8-byte id keys (narrow
    * shuffle with map-side combine; sound because the collision check
    * proves id-distinctness ≡ term-distinctness), so no struct-keyed
    * `.index()` pass is needed first. Both relations persist;
    * predicate slices are filtered views OVER the persisted relation.
    *
    * Plan-shape note (measured, sf0.1): the dict dedup MUST be
    * `dropDuplicates("term")` — a struct grouping KEY hashes as an
    * UnsafeRow inside codegen'd HashAggregate. The tempting fused form
    * (`groupBy(id).agg(first(term), min/max(checkKey))`) puts a struct
    * and strings in the aggregation BUFFER, which is not
    * UnsafeRow-mutable, so Spark demotes the whole aggregate to
    * ObjectHashAggregate with sort-based fallback — measurably slower
    * end to end. The deduped dict then re-clusters on id (one small
    * shuffle of distinct terms only) so every decode join's dict side
    * satisfies its clustering from cache, and the collision check
    * (`groupBy(id).count > 1` — fixed-width buffer, codegen'd, zero
    * Exchange over the id-clustered cache) runs eagerly so a bad
    * build fails LOUDLY at ingest, not as silently-merged query
    * results.
    */
  def encode(db: TripleDb): DictDb =
    encodeWith(db.df, TripleIds, db.distinct, db.predIndex.keys, db.stats,
      "TripleDb").triples

  /** The encode body of both layouts: `df`'s term-struct columns named
    * by `ids` become id columns, and one dict covers every position. */
  private def encodeWith(df: DataFrame, ids: StructType, distinct: Boolean,
                         preds: Iterable[String], stats: Map[String, Long],
                         structStore: String): Built = {
    // NOT staged: an A/B showed caching the exploded struct triples for
    // the build's three passes costs more than the three source
    // scans+explodes it saves (columnar parquet + codegen'd explode is
    // cheaper to re-run than struct rows are to cache).
    val keys = ids.fieldNames.toSeq
    // A `distinct` source skips the set-semantics dedup: struct-distinct
    // triples map to id-distinct triples because the collision check
    // below proves term↔id is a bijection over every term in the store.
    // That dedup is a full shuffle of the fact table — the largest
    // single cost of ingest at scale (measured ~2× the hash+persist
    // itself at sf0.1).
    val encRaw = df.select(keys.map(k => idOf(col(k)).as(k)): _*)
    val enc = (if (distinct) encRaw else encRaw.dropDuplicates(keys)).persist()
    // one scan, not a per-position union: each union branch would
    // re-run the source scan (for unpivoted stores, scan + explode)
    val dict = df
      .select(explode(array(keys.map(col): _*)).as("term"))
      .dropDuplicates("term")
      .select(idOf(col("term")).as("id"), col("term"))
      .repartition(col("id"))
      .persist()
    refuseCollisions(enc, dict, n =>
      s"xxhash64 term-id collision on $n id(s) — dictionary " +
        "encoding would merge distinct terms; use the struct-keyed " +
        s"$structStore for this data")
    Built(enc, dict, sliced(enc, preds), stats)
  }


  /** Durable form of the encoded store. Triples land partitioned by
    * predicate id (ground-predicate scans prune to one directory, the
    * dict analog of [[TripleDb.save]]); the dict lands BUCKETED+SORTED
    * on id, so decode joins off a loaded store read the dict with NO
    * shuffle at all — only the (small) result side moves. At 100 TB
    * the dict is the piece every query touches; paying its layout once
    * at save time is the point.
    */
  def save(db: DictDb, path: String, dictTable: String,
           buckets: Int = 32): Unit =
    saveWith(db.triples, db.dict, path, "triples", dictTable, buckets)

  private def saveWith(rows: DataFrame, dict: DataFrame, path: String,
                       rowsDir: String, dictTable: String, buckets: Int): Unit = {
    PartitionedStore.write(rows, s"$path/$rowsDir", PartitionedStore.Pid)
    dict.write.mode("overwrite").format("parquet")
      .bucketBy(buckets, "id").sortBy("id")
      .option("path", s"$path/dict").saveAsTable(dictTable)
  }

  /** GDPR-style takedown for a [[save]]d dict store: append the doomed
    * encoded triples (long columns s/p/o) to the tombstone set under
    * the triples dir. [[load]] masks them; [[compact]] reclaims the
    * space. Dict entries for terms that no longer occur are left in
    * place — a dictionary maps ids it has ever issued and an orphan
    * entry can never resurface a deleted fact (decode joins start from
    * the triples side).
    */
  def deleteTriples(triples: DataFrame, path: String): Unit =
    PartitionedStore.delete(triples, s"$path/triples", TripleIds,
      PartitionedStore.Pid)

  /** Physically drop tombstoned triples, pruned to the affected
    * predicate-id partitions; only files holding a deleted triple are
    * rewritten. */
  def compact(spark: SparkSession, path: String): Unit =
    Tombstones.compactPartitioned(spark, s"$path/triples", TripleIds,
      PartitionedStore.Pid)

  /** Load a [[save]]d store: one slice per predicate-id partition
    * directory (slices prune partitions at scan time) with its on-disk
    * bytes as the stat, tombstoned triples masked at read, the dict
    * read bucketed. Costs one Spark job: the dict probe that names the
    * keyword predicate ids ([[keywordNames]]); the store read itself is
    * a partition listing ([[PartitionedStore]]). */
  def load(spark: SparkSession, path: String, dictTable: String): DictDb =
    loadWith(spark, s"$path/triples", TripleIds, dictTable).triples

  private def loadWith(spark: SparkSession, rowsPath: String, ids: StructType,
                       dictTable: String): Built = {
    val dict = spark.table(dictTable)
    val l = PartitionedStore.load[Long](spark, rowsPath, ids,
      PartitionedStore.Pid)(keywordNames(dict))
    Built(l.frame, dict, l.slices, l.stats)
  }

  /** Rows of the durable encoded stores: term ids. */
  private val TripleIds: StructType = StructType(
    Seq("s", "p", "o").map(StructField(_, LongType, nullable = false)))
  private val QuadIds: StructType = TripleIds.add("g", LongType, nullable = false)

  /** Predicate id → keyword lex for the ids that name a keyword term:
    * one probe of the dict (a real lookup, so a job). */
  private def keywordNames(dict: DataFrame)(pids: Seq[Long]): Map[Long, String] =
    if (pids.isEmpty) Map.empty
    else dict
      .where(col("id").isin(pids: _*) && col("term.kind") === Term.KKeyword)
      .select(col("id"), col("term.lex"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  // ---- durable form of the encoded QUAD store: [[save]]/[[load]]/
  // delete/compact with the graph id riding as a fourth 8-byte key.
  // Same layout contract — quads partitioned by predicate id, dict
  // bucketed+sorted on id so decode joins never shuffle the dict. ----

  def saveQuads(db: DictQuadDb, path: String, dictTable: String,
                buckets: Int = 32): Unit =
    saveWith(db.quads, db.dict, path, "quads", dictTable, buckets)

  /** GDPR takedown on a [[saveQuads]]-durable store: the doomed encoded
    * quads (long columns s/p/o/g) append to the tombstone set; keys are
    * the full quad, so the same triple in another graph stays live.
    * Orphaned dict entries are harmless, as in [[deleteTriples]]. */
  def deleteQuadRows(quads: DataFrame, path: String): Unit =
    PartitionedStore.delete(quads, s"$path/quads", QuadIds,
      PartitionedStore.Pid)

  /** Physically drop tombstoned quads, pruned to affected predicate-id
    * partitions; only files holding a deleted quad are rewritten. */
  def compactQuads(spark: SparkSession, path: String): Unit =
    Tombstones.compactPartitioned(spark, s"$path/quads", QuadIds,
      PartitionedStore.Pid)

  /** Load a [[saveQuads]]d store (≙ [[load]]: one job, the dict probe). */
  def loadQuads(spark: SparkSession, path: String,
                dictTable: String): DictQuadDb =
    loadWith(spark, s"$path/quads", QuadIds, dictTable).quads

  /** [[merge]] for encoded quad stores: set union on the four 8-byte
    * ids, dict union with the same LOUD cross-store collision check. */
  def mergeQuads(dbs: DictQuadDb*): DictQuadDb =
    mergeWith(dbs.map(d => Built(d.quads, d.dict, d.predIndex, d.stats)),
      QuadIds).quads
}
