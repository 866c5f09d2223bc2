package perfbench

import graft.functions.{TextExpressions, VectorExpressions}
import graft.ops.{Bpe, Components, Dedup, Similarity, Text}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, explode, posexplode, sum}
import perfbench.Main._

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The `curate` workload: a batch training-data pipeline over a seeded
  * 10× document replica and an embedding corpus, repeated in a closed
  * loop. One batch: quality filter → `Text.fingerprint` exact dedup →
  * `Dedup.minhashNearDupPairs` → `Components.dropSet` → BPE merges and
  * tokens for the survivors → IVF-PQ index and refined top-k for a
  * seeded query batch. No BGP runs here.
  *
  * Checks per batch: the stage counts equal what the replica recipe
  * planted (see `gen.py`), BPE yields at least one token per word, and
  * IVF-PQ recall@k against exact cosine top-k meets the floor of
  * `ivfpq_refined` in graft's ANN recall test.
  */
object Curate {
  private val Reps = 3
  private val Merges = 40
  private val Stages = Seq("quality", "exact", "minhash", "components", "bpe", "ann")

  final case class Rig(docs: DataFrame, emb: DataFrame, queries: DataFrame,
                       fixed16: Seq[Array[Float]])

  def build(ctx: Ctx): Rig = {
    val sp = ctx.spark
    val docs = sp.read.parquet(s"${ctx.dataDir}/documents.parquet").persist()
    val emb = sp.read.parquet(s"${ctx.dataDir}/embeddings.parquet").persist()
    docs.count(); emb.count()
    val qids = seq(ctx.spec.get("expect").get("query_ids")).map(_.asLong())
    val fixed16 = emb.where(col("vec_id") < 16).orderBy(col("vec_id"))
      .select(col("embedding")).collect().map(_.getSeq[Float](0).toArray).toSeq
    Rig(docs, emb, emb.where(col("vec_id").isin(qids: _*)), fixed16)
  }

  final case class Batch(ms: Map[String, Double], ok: Boolean,
                         candidates: Long, pairs: Long, scanned: Long,
                         results: Long)

  /** One pipeline batch; per-stage wall times, and whether every check
    * held. With `trace`, also the LSH candidate and IVF scan counts. */
  def batch(ctx: Ctx, rig: Rig): Batch = {
    val exp = ctx.spec.get("expect")
    val ms = mutable.Map.empty[String, Double]
    def stage[A](name: String)(body: => A): A = {
      val (t, r) = timed(if (ctx.trace) ctx.probe.traced(body) else body)
      ms(name) = t
      r
    }
    val checks = mutable.ArrayBuffer.empty[(String, Boolean)]
    val good = rig.docs.where(Text.isQuality(col("text")))
    val nGood = stage("quality")(good.count())
    checks += "quality" -> (nGood == exp.get("quality_docs").asLong())
    val kept = stage("exact") {
      val keep = Dedup.exactDedup(good, "doc_id", Text.fingerprint(col("text")))
        .select(col("keep_id").as("doc_id"))
      val k = good.join(keep, "doc_id").persist()
      k.count()
      k
    }
    checks += "exact" -> (kept.count() == exp.get("kept_after_exact").asLong())
    val pairs = stage("minhash")(Dedup.minhashNearDupPairs(kept, "doc_id", "text"))
    val nPairs = pairs.count()
    checks += "minhash" -> (nPairs == exp.get("near_dup_pairs").asLong())
    val survivors = stage("components") {
      val drop = Components.dropSet(pairs, "ia", "ib")
      val s = kept.join(drop, kept("doc_id") === drop("drop_id"), "left_anti").persist()
      s.count()
      s
    }
    checks += "components" -> (survivors.count() == exp.get("survivors").asLong())
    val (tokens, words) = stage("bpe") {
      val merges = Bpe.learnMerges(survivors, "text", Merges)
      val toks = Bpe.encode(survivors, "doc_id", "text", merges).count()
      (toks, survivors.agg(sum(Text.tokenCount(col("text")))).head().getLong(0))
    }
    checks += "bpe" -> (tokens >= words && words > 0)
    val k = exp.get("k").asInt()
    val found = stage("ann") {
      val idx = Similarity.ivfPqIndex(rig.emb, rig.fixed16, rig.fixed16)
      Similarity.ivfPqSearchTopKRefined(idx, rig.fixed16, rig.fixed16,
          rig.queries, raw = rig.emb, k = k, rerank = 50)
        .select("qid", "nid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val qids = seq(exp.get("query_ids")).map(_.asLong())
    val truth = qids.zip(seq(exp.get("truth"))).flatMap { case (q, ns) =>
      seq(ns).map(n => (q, n.asLong())) }
    val recall = truth.count(found.contains).toDouble / truth.size
    checks += "ann_recall" -> (recall >= exp.get("recall_floor").asDouble())
    for ((name, ok) <- checks if !ok)
      System.err.println(s"[perfbench] curate check failed: $name")
    val (cand, scanned) =
      if (ctx.trace) (candidates(kept), ivfScanned(rig)) else (0L, 0L)
    pairs.unpersist(); survivors.unpersist(); kept.unpersist()
    Batch(ms.toMap, checks.forall(_._2), cand, nPairs, scanned, truth.size)
  }

  /** Distinct LSH candidate pairs under minhashNearDupPairs' default
    * banding (3-shingles, 64 permutations, 16 bands). */
  private def candidates(kept: DataFrame): Long = {
    val banded = kept.select(col("doc_id").as("id"),
      posexplode(TextExpressions.minhashBandHashes(
        Text.shingles(col("text"), 3), 64, 16)).as(Seq("band", "bh")))
    banded.as("a").join(banded.as("b"), col("a.band") === col("b.band") &&
        col("a.bh") === col("b.bh") && col("a.id") < col("b.id"))
      .select(col("a.id"), col("b.id")).distinct().count()
  }

  /** Vectors scored by ADC across the query batch: members of each
    * query's 4 probed cells (ivfPqSearchTopK's default nProbe). */
  private def ivfScanned(rig: Rig): Long = {
    val cellOf = rig.emb.select(explode(VectorExpressions.nearestCells(
      col("embedding"), rig.fixed16, 1)).as("cell"))
      .groupBy("cell").count()
    rig.queries.select(explode(VectorExpressions.nearestCells(
        col("embedding"), rig.fixed16, 4)).as("cell"))
      .join(cellOf, "cell").agg(sum("count")).head().getLong(0)
  }

  def run(ctx: Ctx): Outcome = {
    var rig: Rig = null
    val setups = (1 to Reps).map { _ =>
      if (rig != null) { rig.docs.unpersist(); rig.emb.unpersist() }
      val (ms, r) = timed(build(ctx))
      rig = r
      phase("set-up built")
      ms / 1000.0
    }
    // two warm-up batches: the second still runs partly cold code, and
    // a cold batch inside a 4-batch window moves the median
    val (warmMs, warm) = timed(Seq.fill(2)(batch(ctx.copy(trace = false), rig)))
    phase("warm-up done")
    ctx.probe.heapMark()
    val nDocs = rig.docs.count()
    val batches = mutable.ArrayBuffer.empty[Batch]
    val lat = mutable.ArrayBuffer.empty[Double]
    val start = ctx.probe.snapshot()
    val t0 = System.nanoTime()
    val deadline = ctx.deadlineNs(t0)
    while (System.nanoTime() < deadline) {
      val (ms, b) = timed(batch(ctx, rig))
      batches += b; lat += ms
    }
    val elapsedS = (System.nanoTime() - t0) / 1e9
    phase("window done")
    ctx.probe.heapMark()
    val nVectors = rig.emb.count()
    rig.docs.unpersist(); rig.emb.unpersist()
    val docsPerS = nDocs * batches.size / elapsedS
    val base = Map(
      "setup_s" -> (median(setups) + warmMs / 1000.0),
      "lat_p50_ms" -> quantile(lat.toSeq, 0.5),
      "lat_p90_ms" -> quantile(lat.toSeq, 0.9),
      "ops_per_s" -> batches.size / elapsedS,
      "curate.docs_per_s" -> docsPerS)
    val layers = if (!ctx.trace) Map.empty[String, Double] else {
      val n = math.max(1, batches.size).toDouble
      val end = ctx.probe.snapshot()
      end.map { case (k, v) => k -> (v - start.getOrElse(k, 0.0)) / n } ++
        Stages.map(s => s"ops.${s}_ms" -> median(batches.map(_.ms(s)).toSeq)) ++
        Map("ops.minhash_verified_per_candidate" ->
              batches.map(_.pairs).sum.toDouble / math.max(1L, batches.map(_.candidates).sum),
            "ops.ann_scanned_per_result" ->
              batches.map(_.scanned).sum.toDouble / math.max(1L, batches.map(_.results).sum),
            "trace.op_ms" -> median(lat.toSeq))
    }
    Outcome(batches.size + warm.size, (batches ++ warm).count(!_.ok),
      base ++ layers, Seq("docs" -> nDocs, "batches" -> batches.size,
        "docs_per_s" -> docsPerS, "vectors" -> nVectors,
        "setup_build_s" -> median(setups), "warmup_s" -> warmMs / 1000.0))
  }
}
