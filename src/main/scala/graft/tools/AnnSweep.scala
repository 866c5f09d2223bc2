package graft.tools

import graft.ops.Similarity
import org.apache.spark.sql.functions._

/** nProbe sweep for the production-sized IVF-PQ point: isolates how
  * much of [[AnnRecall]]'s `ivfpq_prod` recall is coarse-cell
  * CONTAINMENT (does a true neighbor's cell get probed?) vs ADC/
  * re-rank quality — at full probe (`nProbe = nClusters`) the
  * containment term is 1 and what remains is the codebook + rerank
  * ceiling. Feeds the §8.3 sizing-rule finding.
  */
object AnnSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/tmp/sf1"
    val k = if (args.length > 1) args(1).toInt else 10
    val nQ = if (args.length > 2) args(2).toInt else 50
    val spark = graft.Session.build()
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").persist()
    val n = emb.count()
    val q = emb.where(col("vec_id") < nQ)
    val truth = Similarity.bruteKnn(emb, q, k).select("qid", "nid").persist()
    val nTruth = truth.count().toDouble
    val nc = math.max(16, math.round(math.sqrt(n.toDouble)).toInt)
    val coarse = AnnRecall.trainCentroids(emb, nc)
    val pqC = Similarity.trainPqCodebooks(emb, math.min(256, (n / 4).toInt))
    val idx = Similarity.ivfPqIndex(emb, coarse, pqC).persist()
    println(s"[sweep] corpus=$n nClusters=$nc k=$k queries=$nQ")
    for (np <- Seq(12, 24, 48, 96, nc); rr <- Seq(200, 400)) {
      val r = Similarity.ivfPqSearchTopKRefined(idx, coarse, pqC, q,
          raw = emb, k = k, rerank = rr, nProbe = np)
        .select("qid", "nid").join(truth, Seq("qid", "nid")).count() / nTruth
      println(f"[sweep] nProbe=$np%3d rerank=$rr%3d recall@$k = $r%.4f")
    }
    truth.unpersist(); idx.unpersist(); emb.unpersist()
    spark.stop()
  }
}
