package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Deduplication operators for LLM training-data pipelines, each
  * designed around its 100 TB shuffle shape:
  *
  *  - exact / fingerprint dedup: one hash-partitioned groupBy (map-side
  *    combined), no all-pairs anything;
  *  - MinHash-LSH near-dup: banding turns the quadratic candidate
  *    problem into an equi-join shuffled by (band, bucket-hash) — only
  *    same-bucket docs are ever compared, and the exact-Jaccard verify
  *    runs on candidate pairs only;
  *  - SimHash: 64-bit fingerprints from one explode+groupBy, candidates
  *    via 8×8-bit bands (pigeonhole: hamming ≤ 7 ⟹ some band equal, so
  *    banding loses nothing at the ≤7 threshold).
  *
  * Verification thresholds use integer cross-multiplication, never
  * floats, so results are exactly reproducible by the SQL oracle.
  */
object Dedup {

  /** Exact dedup by content hash: one row per distinct key, keeping the
    * smallest id (deterministic winner) + group size. */
  def exactDedup(docs: DataFrame, idCol: String, keyExpr: Column): DataFrame =
    docs.groupBy(keyExpr.as("key"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))
      .select("keep_id", "n_dups")

  /** MinHash signature: `perms` minimums of per-permutation shingle
    * hashes (XXH64 seeded by the permutation index) — one tight loop
    * via the custom MinHashSig expression (the nested
    * transform/array_min formulation pays an interpreted lambda frame
    * per (shingle, perm)). */
  def minhashSignature(shingleSet: Column, perms: Int): Column =
    graft.functions.VectorExpressions.minhashSig(shingleSet, perms)

  /** Near-duplicate pairs by MinHash-LSH with exact-Jaccard verification.
    *
    * Returns (ia, ib) with ia < ib and word-`shingleN`-gram Jaccard
    * ≥ jNum/jDen. Candidates come ONLY from LSH bucket collisions —
    * the join is shuffled by (band, bandHash), never all-pairs — then
    * each candidate pair is verified against the exact shingle sets.
    * With 16×4 banding the s-curve midpoint is (1/16)^(1/4) ≈ 0.5, and
    * P(miss | J=0.9) ≈ 4e-8.
    *
    * Scale shape: band explode is ids+hashes only (shingle arrays are
    * NOT carried through the explode); shingle sets are re-joined just
    * for the verified candidate pairs.
    */
  def minhashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                          shingleN: Int = 3, perms: Int = 64,
                          bands: Int = 16, jNum: Int = 1, jDen: Int = 2): DataFrame = {
    // shingle sets feed the banding AND both sides of the verify join —
    // persist so the tokenize+shingle pass runs once, not three times
    val base = docs.select(col(idCol).as("id"),
      Text.shingles(col(textCol), shingleN).as("sh")).persist()
    // persist the banded (id, band, bh) frame too: the self-join would
    // otherwise run the perms×|shingles| MinHash pass twice per row
    // (base caches shingles, not band hashes)
    val banded = base
      .select(col("id"),
        posexplode(graft.functions.TextExpressions.minhashBandHashes(
          col("sh"), perms, bands)).as(Seq("band", "bh")))
      .persist()
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("ia"), col("b.id").as("ib"))
      .dropDuplicates("ia", "ib")
    // materialize the (small) verified pair set eagerly so the shingle
    // cache can be released before returning — no cached-RDD leak per call
    val result = verifyJaccard(cand, base, jNum, jDen).persist()
    result.count()
    banded.unpersist()
    base.unpersist()
    result
  }

  /** Persistent MinHash band index of a corpus: one row per doc with
    * its shingle set and the banded MinHash hashes, computed ONCE per
    * corpus. Save as parquet (or keep cached) and incremental batches
    * dedup against it via [[minhashNearDupAgainst]] without ever
    * touching the corpus text again — the shape that matters when the
    * corpus is 100 TB and tonight's batch is 100 GB.
    */
  def minhashIndex(docs: DataFrame, idCol: String, textCol: String,
                   shingleN: Int = 3, perms: Int = 64,
                   bands: Int = 16): DataFrame = {
    // the banding params ride on the bhs column's metadata so save()
    // records what the index was BUILT with, not what its caller
    // happened to pass (metadata survives select/filter/union)
    val md = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("shingleN", shingleN.toLong).putLong("perms", perms.toLong)
      .putLong("bands", bands.toLong).build()
    docs.select(col(idCol).as("id"),
        Text.shingles(col(textCol), shingleN).as("sh"))
      .select(col("id"), col("sh"),
        graft.functions.TextExpressions.minhashBandHashes(
          col("sh"), perms, bands).as("bhs", md))
  }

  /** Durable [[minhashIndex]]: save the (id, sh, bhs) relation as
    * parquet. Pairs with [[minhashIndexAppend]] for build-once,
    * append-forever maintenance. The banding params are persisted in an
    * underscore-prefixed sidecar inside the index dir (invisible to
    * parquet readers) so appends can validate compatibility instead of
    * silently corrupting the bucket space. */
  def minhashIndexSave(index: DataFrame, path: String, shingleN: Int = 3,
                       perms: Int = 64, bands: Int = 16): Unit = {
    // prefer the build params carried on the index itself (bhs column
    // metadata, written by [[minhashIndex]]) over this call's
    // arguments — a save that defaulted its params after a non-default
    // build would otherwise record a lie and give append validation
    // false confidence
    val m = index.schema.fields.find(_.name == "bhs").map(_.metadata)
    val (s, p, b) = m match {
      case Some(md) if md.contains("shingleN") && md.contains("perms") &&
          md.contains("bands") =>
        (md.getLong("shingleN").toInt, md.getLong("perms").toInt,
          md.getLong("bands").toInt)
      case _ => (shingleN, perms, bands)
    }
    index.write.mode("overwrite").parquet(path)
    writeParams(index.sparkSession, path, s, p, b)
  }

  /** Append a new batch to a saved index WITHOUT rebuilding: only the
    * batch pays tokenize+shingle+MinHash, and the write ADDS files to
    * the index directory — existing index files are never read or
    * rewritten, so appending tonight's 100 GB to a 100 TB index costs
    * the batch, not the corpus. Banding params are validated against
    * the sidecar written at save time — a mismatched append would put
    * incompatible band hashes in the same layout and silently corrupt
    * every later probe, so it fails loud here instead. */
  def minhashIndexAppend(newDocs: DataFrame, idCol: String, textCol: String,
                         path: String, shingleN: Int = 3, perms: Int = 64,
                         bands: Int = 16): Unit = {
    readParams(newDocs.sparkSession, path).foreach { case (s, p, b) =>
      require(s == shingleN && p == perms && b == bands,
        s"minhash index at $path was built with shingleN=$s perms=$p " +
          s"bands=$b; append called with shingleN=$shingleN perms=$perms " +
          s"bands=$bands — incompatible band hashes would corrupt probes")
    }
    minhashIndex(newDocs, idCol, textCol, shingleN, perms, bands)
      .write.mode("append").parquet(path)
  }

  private val ParamsFile = "_graft_minhash_params.json"

  private def writeParams(spark: org.apache.spark.sql.SparkSession,
                          path: String, shingleN: Int, perms: Int,
                          bands: Int): Unit = {
    val p = new org.apache.hadoop.fs.Path(path, ParamsFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(
      s"""{"shingleN":$shingleN,"perms":$perms,"bands":$bands}"""
        .getBytes("UTF-8"))
    finally out.close()
  }

  /** Params recorded at save time, if the sidecar exists (indexes saved
    * before the sidecar was introduced have none — append proceeds on
    * the caller's word, the pre-sidecar contract). */
  private def readParams(spark: org.apache.spark.sql.SparkSession,
                         path: String): Option[(Int, Int, Int)] = {
    val p = new org.apache.hadoop.fs.Path(path, ParamsFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val re = """"(\w+)"\s*:\s*(\d+)""".r
      val kv = re.findAllMatchIn(txt).map(m => m.group(1) -> m.group(2).toInt).toMap
      for (s <- kv.get("shingleN"); pe <- kv.get("perms"); b <- kv.get("bands"))
        yield (s, pe, b)
    }
  }

  /** Load a saved [[minhashIndex]] (build + any appends), with any
    * tombstoned ids masked out: querying it via
    * [[minhashNearDupAgainst]] is equivalent to querying a fresh index
    * built over the union of every batch written so far MINUS every id
    * passed to [[minhashIndexDelete]]. */
  def minhashIndexLoad(spark: org.apache.spark.sql.SparkSession,
                       path: String): DataFrame =
    // shared mask: broadcast anti-join for small tombstone sets, bloom
    // sidecar (scan-side prefilter) once the set outgrows a broadcast
    graft.core.Tombstones.mask(spark, path, spark.read.parquet(path),
      IdKeys)

  /** Tombstone keys of a minhash index: [[minhashIndexDelete]] writes
    * the ids as longs, whatever the index's own id type. */
  private val IdKeys = StructType(Seq(StructField("id", LongType)))

  /** GDPR-style takedown for a durable index: append the ids to a
    * tombstone file set under an underscore-prefixed subdir (invisible
    * to parquet directory readers, so raw reads of the index dir are
    * unaffected). A delete costs one tiny write — nothing in the index
    * is rewritten; [[minhashIndexLoad]] masks tombstoned rows at read,
    * and [[minhashIndexCompact]] reclaims the space physically. */
  def minhashIndexDelete(ids: DataFrame, path: String,
                         idCol: String = "id"): Unit =
    graft.core.Tombstones.append(
      ids.select(col(idCol).cast("long").as("id")), path,
      keyCols = Seq("id"))

  /** Physically drop tombstoned rows, rewriting ONLY the parquet files
    * that contain at least one deleted id — untouched files are never
    * read-modified-written (at 100 TB a takedown of one tenant touches
    * their files, not the corpus). The index is unpartitioned; the
    * staging, move, refusal and cleanup rules are the shared body's
    * ([[graft.core.Tombstones.compactAt]]), which also removes emptied
    * partitions of partitioned relations. Load/probe before and after
    * are equivalent (spec-pinned). */
  def minhashIndexCompact(spark: org.apache.spark.sql.SparkSession,
                          path: String): Unit =
    graft.core.Tombstones.compactAt(spark,
      graft.core.Tombstones.tombPath(path), IdKeys,
      Seq(path -> None))(spark.read.parquet(_))

  /** Incremental near-dup: a NEW batch of docs against an EXISTING
    * corpus index (the [[minhashIndex]] layout). Returns verified
    * (newId, corpusId) pairs with shingle-Jaccard ≥ jNum/jDen.
    *
    * Scale shape: only the new batch pays tokenize+shingle+MinHash;
    * the corpus side explodes ids+hashes straight off the index.
    * Candidates come ONLY from band-bucket collisions — an asymmetric
    * equi-join shuffled by (band, hash), never new×corpus — and exact
    * verification joins shingle sets for the candidate pairs alone.
    * Banding params must match the ones the index was built with.
    */
  def minhashNearDupAgainst(newDocs: DataFrame, idCol: String,
                            textCol: String, index: DataFrame,
                            shingleN: Int = 3, perms: Int = 64,
                            bands: Int = 16, jNum: Int = 1,
                            jDen: Int = 2): DataFrame = {
    val newBase = minhashIndex(newDocs, idCol, textCol, shingleN, perms,
      bands).persist()
    val nb = newBase
      .select(col("id"), posexplode(col("bhs")).as(Seq("band", "bh")))
    val cb = index
      .select(col("id"), posexplode(col("bhs")).as(Seq("band", "bh")))
    val cand = nb.as("a").join(cb.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh"))
      .select(col("a.id").as("ia"), col("b.id").as("ib"))
      .dropDuplicates("ia", "ib")
    val verified = cand
      .join(newBase.select(col("id").as("ia"), col("sh").as("sha")), "ia")
      .join(index.select(col("id").as("ib"), col("sh").as("shb")), "ib")
      .where(jaccardAtLeast(col("sha"), col("shb"), jNum, jDen))
      .select("ia", "ib")
    val result = verified.persist()
    result.count()
    newBase.unpersist()
    result
  }

  /** Exact all-pairs shingle-Jaccard within small blocks (the honest
    * quadratic baseline — callers must bound the block). */
  def exactJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        shingleN: Int, jNum: Int, jDen: Int): DataFrame = {
    val base = docs.select(col(idCol).as("id"),
      Text.shingles(col(textCol), shingleN).as("sh"))
    val cand = base.select(col("id").as("ia")).crossJoin(base.select(col("id").as("ib")))
      .where(col("ia") < col("ib"))
    verifyJaccard(cand, base, jNum, jDen)
  }

  /** J(a,b) ≥ num/den via integer cross-multiplication:
    * (den+num)·|∩| ≥ num·(|a|+|b|)  ⟺  |∩|/|∪| ≥ num/den.
    * THE shared threshold rule — batch pairs, incremental batches, and
    * the streaming gate all go through this one predicate, so the
    * stream ≡ batch oracle-sharing can't silently drift. */
  private[graft] def jaccardAtLeast(sha: Column, shb: Column,
                                    jNum: Int, jDen: Int): Column =
    lit(jDen + jNum) * size(array_intersect(sha, shb)) >=
      lit(jNum) * (size(sha) + size(shb))

  private def verifyJaccard(cand: DataFrame, base: DataFrame,
                            jNum: Int, jDen: Int): DataFrame =
    cand
      .join(base.select(col("id").as("ia"), col("sh").as("sha")), "ia")
      .join(base.select(col("id").as("ib"), col("sh").as("shb")), "ib")
      .where(jaccardAtLeast(col("sha"), col("shb"), jNum, jDen))
      .select("ia", "ib")

  /** 64-bit SimHash fingerprints in one narrow pass — per-document
    * custom expression (graft.functions.TextExpressions.SimHash64):
    * no explode, no shuffle, fingerprints computed inside the scan
    * projection. `useMd5` switches the per-token hash from XXH64 to
    * md5-derived — slower, but reproducible by a SQL oracle.
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String,
              useMd5: Boolean = false): DataFrame =
    docs.select(col(idCol).as("id"),
      graft.functions.TextExpressions.simhash64(Text.tokens(col(textCol)), useMd5)
        .as("simhash"))

  /** Near-dup pairs by SimHash hamming distance ≤ maxHamming:
    * candidates via maxHamming+1 bands (pigeonhole: ≤ maxHamming bit
    * flips leave at least one band untouched, so banding has perfect
    * recall). Fewer bands ⇒ wider bands ⇒ sparser buckets ⇒ fewer
    * candidate pairs — at hamming ≤ 3 the bands are 16-bit, which
    * keeps vocabulary-clustered fingerprints from flooding buckets.
    */
  def simhashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                          maxHamming: Int = 3, useMd5: Boolean = false): DataFrame = {
    val nBands = maxHamming + 1
    require(64 % nBands == 0, s"band count ${nBands} must divide 64")
    val bits = 64 / nBands
    val mask = (1L << bits) - 1
    // persist = projection-collapse barrier: without it Catalyst inlines
    // the SimHash64 expression into all band columns and re-tokenizes
    // every document once per band
    val sh = simhash(docs, idCol, textCol, useMd5).persist()
    val bandCols = (0 until nBands).map(b =>
      struct(lit(b).as("band"),
        shiftrightunsigned(col("simhash"), bits * b).bitwiseAND(mask).as("bh")))
    val banded = sh.select(col("id"), col("simhash"),
        explode(array(bandCols: _*)).as("bb"))
      .select(col("id"), col("simhash"), col("bb.band").as("band"), col("bb.bh").as("bh"))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("ia"), col("b.id").as("ib"),
        col("a.simhash").as("ha"), col("b.simhash").as("hb"))
      .dropDuplicates("ia", "ib")
    val result = cand
      .where(bit_count(col("ha").bitwiseXOR(col("hb"))) <= maxHamming)
      .select("ia", "ib")
      .persist()
    result.count() // materialize, then release the fingerprint cache
    sh.unpersist()
    result
  }

  // --------------------------------------------------------------------
  // Substring-level exact dedup (the ExactSubstr pass of Lee et al.
  // 2022, "Deduplicating Training Data Makes Language Models Better"):
  // a span of ≥ k tokens appearing at more than one (doc, position) is
  // repeated text — ads, licence boilerplate, templated headers —
  // even when the surrounding documents are entirely distinct, which
  // is exactly what document-level MinHash cannot see.
  //
  // Spark shape (suffix arrays don't distribute; sorted k-window
  // grouping does): every k-token window hashes to md5 inside the scan
  // projection (one custom-expression pass, position = array index), a
  // window row_number partitioned by hash marks every occurrence after
  // the first — the canonical keeper is the lexicographically smallest
  // (id, pos), so exactly one copy of every repeated span survives —
  // and per-doc run-grouping of marked window starts yields MAXIMAL
  // spans (consecutive duplicated k-windows chain into one long span,
  // the suffix-array property recovered relationally). Never all-pairs:
  // the only shuffles are hash-partitioned (by window hash, then by
  // doc), each carrying (id, pos, 32-byte md5) — ~corpus-sized, the
  // honest floor for this op at 100 TB.
  // --------------------------------------------------------------------

  /** All k-token windows of every doc: (id, pos, h) with h = md5 of
    * the window's space-joined tokens. Docs shorter than k tokens
    * contribute nothing. */
  private def windowHashes(docs: DataFrame, idCol: String, textCol: String,
                           k: Int): DataFrame =
    docs.select(col(idCol).as("id"),
      posexplode(graft.functions.TextExpressions.wordWindowHashes(
        Text.tokens(col(textCol)), k)).as(Seq("pos", "h")))

  /** Maximal repeated spans, excluding each span's first occurrence:
    * (id, start, end) token-position ranges (inclusive) where every
    * k-window inside the range also occurs at a smaller (id, pos).
    * `start`/`end` index the doc's whitespace tokens, 0-based. */
  def repeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                    k: Int = 20): DataFrame = {
    require(k >= 2, "a repeated span needs at least 2 tokens")
    import org.apache.spark.sql.expressions.Window
    val win = windowHashes(docs, idCol, textCol, k)
    // Mark every occurrence of a k-window except its first (smallest
    // (id, pos)). NOT a `row_number() over (partition by h)` window: a
    // boilerplate span present in 10^8 docs (license headers — the
    // exact thing this op removes) would put 10^8 rows in ONE window
    // partition = one straggler task doing a full sort, and AQE cannot
    // split window partitions. Instead: min(struct) groupBy — partial
    // aggregation collapses each hot h to one row per map task before
    // the shuffle — joined back on h, where AQE skew-join handling CAN
    // split the hot probe partition.
    val firsts = win.groupBy("h")
      .agg(min(struct(col("id"), col("pos"))).as("first"))
    val marked = win
      .join(firsts, Seq("h"))
      .where(struct(col("id"), col("pos")) =!= col("first"))
      .select("id", "pos")
    marked
      .withColumn("grp",
        col("pos") - row_number().over(
          Window.partitionBy("id").orderBy(col("pos"))))
      .groupBy(col("id"), col("grp"))
      .agg(min(col("pos")).cast("long").as("start"),
        (max(col("pos")) + lit(k - 1)).cast("long").as("end"))
      .select("id", "start", "end")
  }

  /** Excise repeated spans: every token covered by a non-first
    * duplicated k-window is removed; the surviving tokens re-join with
    * single spaces. Returns one row per input doc —
    * (id, clean_text, n_kept, n_removed) — fully-excised docs come
    * back with empty text, short docs untouched. The first occurrence
    * of every repeated span survives verbatim, so corpus content is
    * never lost, only de-repeated. */
  def exciseRepeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                          k: Int = 20): DataFrame = {
    val tok = docs.select(col(idCol).as("id"),
      posexplode(Text.tokens(col(textCol))).as(Seq("pos", "token")))
    val covered = repeatedSpans(docs, idCol, textCol, k)
      .select(col("id"), explode(sequence(col("start"), col("end"))).as("pos"))
      .dropDuplicates("id", "pos") // adjacent runs may cover overlapping tokens
    val agg = tok.join(covered, Seq("id", "pos"), "left_anti")
      .groupBy("id")
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("token")))),
          x => x("token")), " ").as("clean_text"),
        count(lit(1)).as("n_kept"))
    docs.select(col(idCol).as("id"), Text.tokenCount(col(textCol)).as("n_total"))
      .join(agg, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_total") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }
}
