package graft.tools

import graft.ops.Similarity
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Recall@k of every ANN family against brute-force ground truth — the
  * QUALITY axis of the ANN tier. The oracle entries (q20/q28/q33/q92/
  * q95/q120/q132) pin exactness of the replayed computations; this
  * table pins how good the approximations ARE, so a refactor that
  * silently degrades recall (wrong probe order, a broken LUT, a
  * truncated candidate set) trips the committed numbers and the
  * OpsSpec thresholds, not just latency.
  *
  * Measures the SHIPPED configurations: the oracle entries' fixed
  * first-16-centroid / md5-plane variants AND the production defaults
  * (seeded-Gaussian planes, KMeans centroids). Deterministic end to
  * end (fixed seeds, fixed centroids, md5 planes), so the numbers are
  * stable per fixture.
  */
object AnnRecall {

  /** (family, recall@k) for every ANN family vs [[Similarity.bruteKnn]]
    * on the first `nQ` vectors as queries. */
  def recallTable(emb: DataFrame, k: Int, nQ: Int): Seq[(String, Double)] = {
    val q = emb.where(col("vec_id") < nQ)
    val truth = Similarity.bruteKnn(emb, q, k)
      .select("qid", "nid").persist()
    val nTruth = truth.count().toDouble

    def recall(res: DataFrame): Double =
      res.select("qid", "nid").join(truth, Seq("qid", "nid"))
        .count() / nTruth

    val fixed16 = emb.where(col("vec_id") < 16).orderBy(col("vec_id"))
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray).toSeq

    val out = Seq(
      "lsh_gaussian" -> recall(Similarity.lshKnn(emb, q, k)),
      "lsh_md5" -> recall(Similarity.lshKnn(emb, q, k,
        planes = Similarity.md5SignPlanes(8, 4, 64))),
      "ivf_kmeans" -> recall(Similarity.ivfKnn(emb, q, k)),
      "ivf_fixed16" -> recall(Similarity.ivfKnnFixed(emb, q, k, fixed16)),
      "pq_fixed16" -> recall(Similarity.pqSearchTopK(
        Similarity.pqCodes(emb, fixed16), fixed16, q, k)),
      "ivfpq_fixed16" -> recall(Similarity.ivfPqSearchTopK(
        Similarity.ivfPqIndex(emb, fixed16, fixed16), fixed16, fixed16, q, k)),
      "ivfpq_refined" -> recall(Similarity.ivfPqSearchTopKRefined(
        Similarity.ivfPqIndex(emb, fixed16, fixed16), fixed16, fixed16, q,
        raw = emb, k = k, rerank = 50)),
      // the quality dials: more probed cells + deeper exact re-rank...
      "ivfpq_refined_hi" -> recall(Similarity.ivfPqSearchTopKRefined(
        Similarity.ivfPqIndex(emb, fixed16, fixed16), fixed16, fixed16, q,
        raw = emb, k = k, rerank = 200, nProbe = 8)),
      // ...and TRAINED codebooks (KMeans coarse cells + a KMeans-64
      // PQ codebook) instead of the oracle entries' replayable
      // first-16-vectors — the production-default quality point
      "ivfpq_trained" -> {
        val coarse = trainCentroids(emb, 16)
        val pqC = trainCentroids(emb, 64)
        recall(Similarity.ivfPqSearchTopKRefined(
          Similarity.ivfPqIndex(emb, coarse, pqC), coarse, pqC, q,
          raw = emb, k = k, rerank = 50))
      },
      "sq8" -> recall(Similarity.sq8SearchTopK(emb, q, k)))

    // ---- production-sized IVF-PQ rows (round-11 sizing-rule audit,
    // SURVEY §8.3): nClusters ≈ √n coarse cells, a 256-codeword
    // PER-SUBSPACE codebook (Similarity.trainPqCodebooks — sliced
    // full-vector centroids were measured to cap the ADC ceiling),
    // codebook capped by corpus size so the same rows run on the
    // tiny spec fixture. Two probe dials on the SAME index:
    //   prod    = the originally documented probe ≈ √nClusters —
    //             committed honestly; containment-bound on this
    //             near-isotropic fixture;
    //   prod90  = the measured ≥0.9-recall operating point
    //             (probe ≈ 2·nClusters/3, rerank 400). ----
    val n = emb.count()
    val nc = math.max(16, math.round(math.sqrt(n.toDouble)).toInt)
    val book = math.min(256, math.max(16, (n / 4).toInt))
    val coarse = trainCentroids(emb, nc)
    val pqC = Similarity.trainPqCodebooks(emb, book)
    val prodIdx = Similarity.ivfPqIndex(emb, coarse, pqC).persist()
    val prodRows = Seq(
      "ivfpq_prod" -> recall(Similarity.ivfPqSearchTopKRefined(
        prodIdx, coarse, pqC, q, raw = emb, k = k, rerank = 200,
        nProbe = math.max(4, math.round(math.sqrt(nc.toDouble)).toInt))),
      "ivfpq_prod90" -> recall(Similarity.ivfPqSearchTopKRefined(
        prodIdx, coarse, pqC, q, raw = emb, k = k, rerank = 400,
        nProbe = math.max(4, (2 * nc) / 3))))
    prodIdx.unpersist()
    val all = out ++ prodRows
    truth.unpersist()
    all
  }

  /** Deterministic KMeans centroids (seed 42) over the embedding
    * column — the trained-codebook path (same trainer as
    * [[Similarity.ivfKnn]]). */
  def trainCentroids(emb: DataFrame, n: Int): Seq[Array[Float]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.linalg.{Vector => MlVector, Vectors}
    val toVec = udf((a: Seq[Float]) => Vectors.dense(a.map(_.toDouble).toArray))
    val feats = emb.select(col("embedding")).withColumn("features",
      toVec(col("embedding")))
    new KMeans().setK(n).setSeed(42).setMaxIter(10).fit(feats)
      .clusterCenters.map((v: MlVector) => v.toArray.map(_.toFloat)).toSeq
  }

  /** Pair recall of the near-dup LSH dials vs the exact quadratic scan
    * at `threshold` — the round-12 audit of occupancy-scaled banding
    * (more planes cut candidates AND per-pair match probability; this
    * measures what that costs in found pairs, per the s-curve). The
    * exact scan is quadratic (one bounded block) — an audit cost, paid
    * once per fixture, never a production path. */
  def pairRecallTable(emb: DataFrame,
                      threshold: Double): Seq[(String, Long, String)] = {
    // exact pairs WITH their cosine, so recall reports per band: the
    // near-dup contract is recall >= 0.9 at the DESIGN cosine (0.9),
    // decaying along the s-curve toward the verify threshold
    val a = emb.select(col("vec_id").as("ia"), col("embedding").as("va"),
      Similarity.norm(col("embedding")).as("na"))
    val b = emb.select(col("vec_id").as("ib"), col("embedding").as("vb"),
      Similarity.norm(col("embedding")).as("nb"))
    val exact = a.join(b, col("ia") < col("ib"))
      .withColumn("sim", Similarity.dot(col("va"), col("vb")) /
        (col("na") * col("nb")))
      .where(col("sim") >= threshold)
      .select("ia", "ib", "sim").persist()
    val bands = Seq(threshold, 0.7, 0.9)
    val nBand = bands.map(t => exact.where(col("sim") >= t).count().toDouble)
    def rec(res: => DataFrame): (Long, String) = {
      val t0 = System.nanoTime()
      val r = res.persist()
      val n = r.count()
      val secs = (System.nanoTime() - t0) / 1e9
      val hits = r.join(exact, Seq("ia", "ib")).persist()
      val line = bands.zip(nBand).map { case (t, tot) =>
        val h = hits.where(col("sim") >= t).count()
        f"r@>=$t%.2f=${if (tot == 0) 1.0 else h / tot}%.4f"
      }.mkString(" ")
      hits.unpersist(); r.unpersist()
      (n, f"$line t=$secs%.1fs")
    }
    val (nFixed, rFixed) = rec(Similarity.cosinePairsLsh(emb, threshold,
      planes = Similarity.md5SignPlanes(8, 4, 64)))
    val (nScaled, rScaled) = rec(Similarity.cosinePairsLshScaled(emb,
      threshold, planeGen = (l, b2, d) => Similarity.md5SignPlanes(l, b2, d),
      acceptScurveRecall = true))
    val (nGauss, rGauss) = rec(Similarity.cosinePairsLshScaled(emb, threshold,
      acceptScurveRecall = true))
    val (nAtT, rAtT) = rec(Similarity.cosinePairsLshScaled(emb, threshold,
      designCosine = threshold))
    val out = Seq(
      ("exact", nBand.head.toLong,
        bands.zip(nBand).map { case (t, n) => f"n@>=$t%.2f=${n.toLong}" }
          .mkString(" ")),
      ("lsh_fixed_8x4", nFixed, rFixed),
      ("lsh_scaled_md5", nScaled, rScaled),
      ("lsh_scaled_gauss", nGauss, rGauss),
      ("lsh_design_at_t", nAtT, rAtT))
    exact.unpersist()
    out
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = graft.Session.build()
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    if (args.length > 1 && args(1) == "pairs") {
      val threshold = if (args.length > 2) args(2).toDouble else 0.45
      println(s"[recall] corpus=${emb.count()} pair-recall at >= $threshold sf=$sfDir")
      for ((fam, n, r) <- pairRecallTable(emb, threshold))
        println(f"[recall] $fam%-18s pairs=$n%-8d $r")
    } else {
      val k = if (args.length > 1) args(1).toInt else 10
      val nQ = if (args.length > 2) args(2).toInt else 50
      println(s"[recall] corpus=${emb.count()} queries=$nQ k=$k sf=$sfDir")
      for ((fam, r) <- recallTable(emb, k, nQ))
        println(f"[recall] $fam%-16s recall@$k = $r%.4f")
    }
    spark.stop()
  }
}
