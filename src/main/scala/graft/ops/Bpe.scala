package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Byte-pair encoding: merge-table learning and subword encoding, the
  * real-token-count backbone of a training-data pipeline (packing,
  * chunking, and length quantiles all want subword counts, not word
  * counts).
  *
  * Scale shape: learning runs on the word-frequency dictionary — the
  * classic BPE sufficient statistic (Sennrich et al. 2016; every
  * production trainer works off word counts, not the raw corpus). The
  * dictionary is produced by ONE distributed map-side-combined groupBy
  * over the corpus; only the deterministic top-`topWords` rows (count
  * desc, word asc — a TakeOrdered, no full sort) reach the driver, so
  * the collect is bounded by a constant the caller picks, not by corpus
  * size. Encoding is a pure per-row expression inside the scan
  * projection: no shuffle, memoized per word.
  *
  * Everything is exactly reproducible in SQL: the learning loop
  * replays as `numMerges` unrolled count-argmax-substitute stages with
  * a (count DESC, left, right) tie-break, and encoding replays as a
  * recursive lowest-rank-first substitution — both over a
  * parenthesized-symbol string representation where applying a merge is
  * a plain string replace.
  */
object Bpe {

  /** One learned merge: at `rank`, adjacent symbols `left`+`right`
    * fuse into `left+right`. Ranks are dense from 0. */
  case class Merge(rank: Int, left: String, right: String)

  /** Learn `numMerges` BPE merges from a corpus.
    *
    * Words are whitespace tokens of the lowercased text, restricted to
    * `^[a-z0-9]+$` (dirty tokens — URLs, punctuation runs — carry
    * little reusable subword structure and would dominate the pair
    * space; the filter also keeps the symbol alphabet closed). Per
    * iteration: count adjacent symbol pairs weighted by word frequency,
    * fuse the most frequent pair (ties: lexicographically smallest
    * (left, right)) in every word, repeat. Stops early if no pair is
    * left (tiny corpora).
    */
  def learnMerges(docs: DataFrame, textCol: String, numMerges: Int,
                  topWords: Int = 1000): Seq[Merge] = {
    require(numMerges >= 1 && topWords >= 1, "numMerges and topWords >= 1")
    val dict = Text.fanOut(docs)
      .select(explode(Text.tokens(col(textCol))).as("w"))
      .where(col("w").rlike("^[a-z0-9]+$"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w").asc)
      .limit(topWords)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // the driver loop below is the textbook trainer over the bounded
    // dictionary — identical argmax/tie-break to the SQL replay
    val segs: Array[(Array[String], Long)] =
      dict.map { case (w, n) => (w.map(_.toString).toArray, n) }
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var rank = 0
    var exhausted = false
    while (rank < numMerges && !exhausted) {
      val counts = new java.util.HashMap[(String, String), Long]()
      segs.foreach { case (s, n) =>
        var i = 0
        while (i < s.length - 1) {
          counts.merge((s(i), s(i + 1)), n, (a, b) => a + b)
          i += 1
        }
      }
      if (counts.isEmpty) exhausted = true
      else {
        var best: (String, String) = null
        var bestN = -1L
        counts.forEach { (p, n) =>
          if (n > bestN || (n == bestN &&
              (p._1 < best._1 || (p._1 == best._1 && p._2 < best._2)))) {
            best = p; bestN = n
          }
        }
        merges += Merge(rank, best._1, best._2)
        var k = 0
        while (k < segs.length) {
          val (s, n) = segs(k)
          val out = new Array[String](s.length)
          var m = 0
          var i = 0
          while (i < s.length) {
            if (i < s.length - 1 && s(i) == best._1 && s(i + 1) == best._2) {
              out(m) = s(i) + s(i + 1); m += 1; i += 2
            } else { out(m) = s(i); m += 1; i += 1 }
          }
          if (m < s.length) segs(k) = (java.util.Arrays.copyOf(out, m), n)
          k += 1
        }
        rank += 1
      }
    }
    merges.toSeq
  }

  /** [[learnMerges]] without the top-`topWords` bound: the merge table
    * is learned from the FULL word-frequency dictionary, so long-tail
    * subword structure participates (§8.5.8's honest limit, closed).
    * Per iteration everything stays distributed except ONE row: the
    * dictionary lives as a DataFrame of paren-delimited segment
    * strings (`(c)(a)(t)`), adjacent-pair counts are a
    * slice/arrays_zip/explode projection + one map-side-combined
    * groupBy, the argmax is a TakeOrdered(1) with the same
    * (count DESC, left, right) tie-break as the driver trainer, and
    * applying the winning merge is a codegen'd `replace` of
    * `(l)(r)` → `(lr)` — sequential non-overlapping left-to-right,
    * exactly the driver loop's fusion rule (paren delimiters make the
    * pair match unambiguous, so no symbol can match inside another).
    *
    * Scale shape: `numMerges` iterations × (one shuffle bounded by the
    * distinct-pair space + one narrow map). The dictionary frame is
    * persisted per iteration and the predecessor released (the
    * pageRank discipline); on a real cluster, checkpoint every ~16
    * iterations to cap lineage. `minCount` drops hapax words first —
    * the standard trainer knob when the 100 TB tail is pure noise.
    * Identical tie-breaks make this bit-equal to [[learnMerges]] with
    * `topWords` ≥ the full vocabulary (spec-pinned).
    *
    * The iteration loop runs at dictionary-sized parallelism: after the
    * one-time corpus word count collapses the input to the distinct-word
    * dict (typically a few MB even for crawl corpora), the loop's
    * frames are repartitioned — and `spark.sql.shuffle.partitions`
    * temporarily lowered, restored in a finally — to ~100k dict rows
    * per task (never raised above the session setting, so a genuinely
    * huge dict keeps full parallelism). Together with the checkpoint
    * lineage barriers below: 16 merges at sf0.1 measured 81.5 s → 1.8 s
    * cold.
    */
  def learnMergesDistributed(docs: DataFrame, textCol: String,
                             numMerges: Int,
                             minCount: Long = 1L): Seq[Merge] = {
    require(numMerges >= 1, "numMerges >= 1")
    val spark = docs.sparkSession
    // eager localCheckpoint, not persist: the loop replaces the dict
    // frame every iteration, and a persist/unpersist chain makes the
    // cache manager RE-COMPILE each surviving entry when its parent is
    // unpersisted — the recompiled plan falls back to raw lineage and
    // every later job re-runs the whole history (measured: per-
    // iteration cost DOUBLED, 16 merges = 100 s on a 31-word dict).
    // Checkpointing truncates lineage at each step, so iteration cost
    // is flat; old checkpoint blocks are freed by the context cleaner
    // (the Paths/pageRank discipline).
    val seg0 = Text.fanOut(docs)
      .select(explode(Text.tokens(col(textCol))).as("w"))
      .where(col("w").rlike("^[a-z0-9]+$"))
      .groupBy("w").agg(count(lit(1)).as("n"))
      .where(col("n") >= minCount)
      .select(regexp_replace(col("w"), "(.)", "($1)").as("seg"), col("n"))
      .localCheckpoint()
    val dictRows = seg0.count()
    val sessionParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val p = math.max(1L, math.min(sessionParts.toLong,
      (dictRows + 99999L) / 100000L)).toInt
    val seg =
      if (p < seg0.rdd.getNumPartitions) {
        val r = seg0.repartition(p).localCheckpoint()
        freeCheckpoint(seg0) // repartitioned copy is materialized — free
        r
      } else seg0
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    try {
      spark.conf.set("spark.sql.shuffle.partitions", p)
      learnLoop(seg, numMerges, merges)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", sessionParts)
    }
    merges.toSeq
  }

  /** The per-iteration body of [[learnMergesDistributed]] — runs with
    * the caller's (temporarily dict-sized) shuffle parallelism. */
  private def learnLoop(seg0: DataFrame, numMerges: Int,
                        merges: scala.collection.mutable.ArrayBuffer[Merge])
      : Unit = {
    var seg = seg0
    var rank = 0
    var exhausted = false
    while (rank < numMerges && !exhausted) {
      val syms = seg.select(col("n"),
        split(expr("trim(BOTH '()' FROM seg)"), "\\)\\(").as("s"))
      val top = syms
        .select(col("n"), explode(arrays_zip(
          slice(col("s"), lit(1), size(col("s")) - 1).as("l"),
          slice(col("s"), lit(2), size(col("s")) - 1).as("r"))).as("pr"))
        .groupBy(col("pr.l").as("l"), col("pr.r").as("r"))
        .agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r) = (top(0).getString(0), top(0).getString(1))
        merges += Merge(rank, l, r)
        // all-Column replace (symbols ride as literals, never spliced
        // into SQL text — the ^[a-z0-9]+$ corpus filter is a modeling
        // choice, not a load-bearing injection guard); eager
        // localCheckpoint truncates lineage (see caller)
        val prev = seg
        seg = seg
          .select(org.apache.spark.sql.functions.replace(col("seg"),
            lit(s"($l)($r)"), lit(s"($l$r)")).as("seg"), col("n"))
          .localCheckpoint()
        freeCheckpoint(prev) // successor materialized — predecessor dead
        rank += 1
      }
    }
    freeCheckpoint(seg) // merge list is plain driver data; dict is dead
  }

  /** The merge table as a (rank, left, right) relation. */
  def mergesDf(spark: SparkSession, merges: Seq[Merge]): DataFrame = {
    import spark.implicits._
    merges.toDF("rank", "left", "right")
  }

  /** Persist a learned merge table — the tokenizer ARTIFACT. Training
    * corpora and encode jobs live in different pipelines; the merge
    * table is the contract between them (the vocab.json/merges.txt of
    * this engine), so it must round-trip durably, not ride in a driver
    * variable. Parquet keeps lexical fidelity for any symbol content.
    */
  def saveMerges(spark: SparkSession, merges: Seq[Merge],
                 path: String): Unit =
    mergesDf(spark, merges).repartition(1)
      .write.mode("overwrite").parquet(path)

  /** Load a [[saveMerges]] table, rank-ordered (encode semantics
    * depend on rank order, so the read re-sorts — parquet makes no
    * row-order promise). */
  def loadMerges(spark: SparkSession, path: String): Seq[Merge] =
    spark.read.parquet(path).orderBy("rank").collect()
      .map(r => Merge(r.getInt(0), r.getString(1), r.getString(2))).toSeq

  /** Subword tokens of a text column under a merge table — an array
    * column computed inside the scan projection (no shuffle). */
  def encodeTokens(text: Column, merges: Seq[Merge]): Column =
    graft.functions.BpeExpressions.bpeEncodeTokens(
      Text.tokens(text), merges.map(m => (m.left, m.right)))

  /** Real subword token count — the drop-in upgrade for every consumer
    * that previously used whitespace-word counts. */
  def tokenCount(text: Column, merges: Seq[Merge]): Column =
    size(encodeTokens(text, merges)).cast("long")

  /** Encode a corpus: one row per (id, pos, token, token_id), pos
    * 0-based over the document's subword stream. `token_id` is the
    * token's rank in the sorted distinct-token vocabulary of the
    * encoded corpus (deterministic, SQL-replayable; the vocabulary is
    * bounded by base-alphabet + numMerges symbols, so the id-assignment
    * window is over a tiny relation).
    */
  def encode(docs: DataFrame, idCol: String, textCol: String,
             merges: Seq[Merge]): DataFrame = {
    val toks = docs.select(col(idCol),
      posexplode(encodeTokens(col(textCol), merges)).as(Seq("pos", "token")))
    val vocab = toks.select(col("token")).distinct()
      .withColumn("token_id",
        row_number().over(Window.orderBy(col("token"))).cast("long") - 1)
    toks.join(broadcast(vocab), "token")
      .select(col(idCol), col("pos").cast("long").as("pos"),
        col("token"), col("token_id"))
  }
}
