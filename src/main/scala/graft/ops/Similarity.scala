package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Similarity search over embedding columns (`array<float>`).
  *
  * All arithmetic is done in DOUBLE with a sequential left-fold
  * (`aggregate` over `zip_with`) so results are deterministic and
  * reproducible by the oracle.
  *
  * Scale shapes:
  *  - [[bruteKnn]] broadcast-joins a SMALL query set against the corpus
  *    — one pass over the corpus, no corpus shuffle; right for "few
  *    queries × huge corpus". All-pairs over a huge corpus is never
  *    expressed.
  *  - [[lshKnn]] buckets the corpus by random-hyperplane signature and
  *    only scores same-bucket candidates — the join is shuffled by
  *    bucket id; recall trades off with #planes (probe more buckets by
  *    lowering planes or unioning rotations).
  *  - [[cosinePairs]] is the bounded quadratic primitive for near-dup
  *    mining on a subset/block.
  */
object Similarity {
  import graft.functions.VectorExpressions.{dotF, normF}

  /** dot(a,b) in double precision — codegen'd loop over array<float>
    * (graft.functions.VectorExpressions); same sequential fold the
    * SQL-oracle formulation uses, ~50× faster than the higher-order
    * `aggregate`/`zip_with` equivalent. */
  def dot(a: Column, b: Column): Column = dotF(a, b)

  def norm(a: Column): Column = normF(a)

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k cosine neighbors of each query vector (brute force —
    * the correctness baseline). `queries` must be broadcast-small.
    * Ties break on neighbor id for determinism.
    */
  def bruteKnn(corpus: DataFrame, queries: DataFrame, k: Int,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    knnCore(corpus, queries, k, idCol, vecCol, extraCols = Nil,
      pred = col("qid") =!= col("nid"))

  /** The shared broadcast-KNN body (bruteKnn, hardNegatives): small
    * query set broadcast against the corpus, cosine-scored, ranked
    * per query with ties on neighbor id. `extraCols` ride along on
    * both sides (e.g. labels) for use in `pred`. */
  private def knnCore(corpus: DataFrame, queries: DataFrame, k: Int,
                      idCol: String, vecCol: String,
                      extraCols: Seq[(String, String, String)],
                      pred: Column): DataFrame = {
    val q = queries.select(col(idCol).as("qid") +: col(vecCol).as("qv") +:
      extraCols.map { case (c, qa, _) => col(c).as(qa) }: _*)
    val c = corpus.select(col(idCol).as("nid") +: col(vecCol).as("nv") +:
      extraCols.map { case (c2, _, na) => col(c2).as(na) }: _*)
    val scored = c.join(broadcast(q), pred)
      .withColumn("sim", cosine(col("qv"), col("nv")))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank"))
  }

  /** Hyperplane/centroid methods silently truncate to min(len) inside
    * the codegen'd dot product, so a wrong `dim` would corrupt buckets
    * without erroring — fail fast on the first row instead. Costs one
    * tiny driver action (`head(1)`), so loops over many calls can opt
    * out via `checkDim = false` once the schema is known-good. */
  private def requireDim(corpus: DataFrame, vecCol: String, dim: Int): Unit =
    corpus.select(size(col(vecCol))).head(1).headOption.foreach { r =>
      require(r.getInt(0) == dim,
        s"vector column '$vecCol' has ${r.getInt(0)} dims, expected $dim")
    }

  /** Like [[requireDim]] but a lower bound — sliced-subspace ops only
    * need coverage, and a short vector would silently degenerate
    * (empty slices dot to 0) instead of erroring. */
  private def requireMinDim(df: DataFrame, vecCol: String, need: Int): Unit =
    df.select(size(col(vecCol))).head(1).headOption.foreach { r =>
      require(r.getInt(0) >= need,
        s"vector column '$vecCol' has ${r.getInt(0)} dims, need >= $need")
    }

  /** Deterministic random hyperplanes: `planes` × `dim`, seeded. */
  def hyperplanes(planes: Int, dim: Int, seed: Long = 42L): Array[Array[Float]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(planes, dim)(rnd.nextGaussian().toFloat)
  }

  /** Deterministic ±1 hyperplanes for all `tables` hash tables at once:
    * component (t, p, j) is +1 iff the first hex digit of
    * md5("t_p_j") is even. Pseudo-random enough for sign-LSH, and —
    * unlike seeded Gaussians — exactly reproducible in ANSI SQL
    * (`md5` + `substr` + parity), so LSH bucket contents can be
    * verified by an external SQL oracle. Recall behaves like the
    * Gaussian planes (sign-LSH only needs directions that are
    * near-uniform on the sphere; Rademacher ±1 vectors are a standard
    * choice).
    */
  def md5SignPlanes(tables: Int, planesPerTable: Int,
                    dim: Int): Seq[Array[Array[Float]]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until tables).map { t =>
      Array.tabulate(planesPerTable, dim) { (p, j) =>
        val h = md.digest(s"${t}_${p}_${j}".getBytes("UTF-8"))
        if (((h(0) >> 4) & 0xf) % 2 == 0) 1.0f else -1.0f
      }
    }
  }

  /** Random-hyperplane LSH signature (an Int bucket id: bit p set iff
    * dot(v, plane_p) > 0). */
  def lshBucket(vec: Column, planes: Array[Array[Float]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(dot(vec, typedlit(p.toSeq)) > 0, lit(1 << i)).otherwise(lit(0))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** All tables' buckets of a vector as (tbl, bucket) rows — one
    * tight-loop expression (VectorExpressions.LshBuckets) instead of
    * tables × planes inlined dot-product when-chains, which blow the
    * 64 KB codegen method limit at occupancy-scaled dials. Buckets are
    * bit-identical to [[lshBucket]]'s. */
  private def bucketFrame(df: DataFrame, planes: Seq[Array[Array[Float]]],
                          idCol: String, vecCol: String,
                          idAlias: String): DataFrame =
    df.select(col(idCol).as(idAlias),
      posexplode(graft.functions.VectorExpressions.lshBucketsAll(
        col(vecCol), planes)).as(Seq("tbl", "bucket")))

  /** Occupancy-scaled planes-per-table: the smallest b in [4, 24] with
    * `occupancy · 2^b ≥ n` — i.e. each table's 2^b buckets hold
    * ~`occupancy` vectors on average, so per-bucket candidate pairs
    * stay ~occupancy²/2 REGARDLESS of corpus size instead of growing
    * as (n/2^b)² at a fixed b (the measured q41 cliff: 8×4 planes at
    * 20k vectors → ~1250/bucket → ~100M raw candidates, 111 s at sf1
    * — 24% of the whole suite). Pure integer math (bit length of the
    * needed bucket count) so an external SQL oracle derives the SAME b
    * with no float-boundary risk. */
  def lshPlanesFor(n: Long, occupancy: Long = 64): Int = {
    val m = (n + occupancy - 1) / occupancy // buckets needed per table
    val bits =
      if (m <= 1) 1
      else 64 - java.lang.Long.numberOfLeadingZeros(m - 1) // ceil(log2 m)
    math.max(4, math.min(24, bits))
  }

  /** Tables needed to hold recall as planes rise: more planes cut
    * candidates AND per-table match probability, so L must rise with
    * b. Derivation (the lshKnn s-curve): a pair at design cosine c
    * agrees on one plane with p = 1 − acos(c)/π, on a table with p^b,
    * over L tables with 1 − (1−p^b)^L ≥ R ⇒ L = ⌈ln(1−R)/ln(1−p^b)⌉.
    * Pinned at the NEAR-DUP operating point c = 0.9, R = 0.9 (the op
    * detects near-duplicates; recall decays along the s-curve toward
    * the exact-verify threshold — lower-cosine pairs are found with
    * s-curve probability, exactly like MinHash banding). The values
    * are HARDCODED — identically in the SQL oracle — so cross-engine
    * sizing can never diverge on a transcendental boundary; SketchSpec
    * re-derives them from the formula. Growth is the published LSH
    * bound: L ~ n^ρ, ρ = ln(1/p₁)/ln(1/p₂) ≈ 0.22 at c = 0.9 — total
    * candidate work ~n^1.22, sublinear per vector, vs the fixed-dial
    * n² degeneration. */
  val lshTablesByPlanes: Map[Int, Int] = Map(
    4 -> 8, 5 -> 8, 6 -> 8, 7 -> 8, 8 -> 8, 9 -> 9, 10 -> 10, 11 -> 12,
    12 -> 14, 13 -> 17, 14 -> 19, 15 -> 23, 16 -> 27, 17 -> 31, 18 -> 37,
    19 -> 43, 20 -> 50, 21 -> 59, 22 -> 69, 23 -> 81, 24 -> 94)

  def lshTablesFor(planesPerTable: Int): Int =
    lshTablesByPlanes.getOrElse(planesPerTable,
      throw new IllegalArgumentException(
        s"planesPerTable must be in [4, 24], got $planesPerTable"))

  /** [[lshTablesFor]] generalized to any (designCosine, targetRecall)
    * operating point: L = ⌈ln(1−R)/ln(1−p^b)⌉, p = 1 − acos(c)/π,
    * floored at 8 tables and capped LOUDLY at 4096 (a low design
    * cosine at a high plane count needs L ~ (1/p)^b tables — the
    * published LSH exponent; past the cap the ask is "recall at a
    * non-near-dup cosine over a huge corpus", which is a different
    * algorithm, not a bigger dial). Only the default (0.9, 0.9) point
    * is SQL-oracle-replayable — it reads the hardcoded table; other
    * points compute the formula in-JVM (deterministic there, but a
    * transcendental boundary could round differently in another
    * engine). */
  def lshTablesFor(planesPerTable: Int, designCosine: Double,
                   targetRecall: Double): Int = {
    if (designCosine == 0.9 && targetRecall == 0.9)
      return lshTablesFor(planesPerTable)
    require(designCosine > 0 && designCosine < 1, "designCosine in (0,1)")
    require(targetRecall > 0 && targetRecall < 1, "targetRecall in (0,1)")
    val p = 1.0 - math.acos(designCosine) / math.Pi
    val l = math.max(8.0, math.ceil(
      math.log(1 - targetRecall) /
        math.log(1 - math.pow(p, planesPerTable))))
    require(l <= 4096,
      f"LSH needs $l%.0f tables for recall $targetRecall at cosine " +
        f"$designCosine with $planesPerTable planes — past the 4096 cap; " +
        "use a higher design cosine, fewer planes (smaller occupancy " +
        "corpus), or an exact/IVF method")
    l.toInt
  }

  /** Approximate top-k: multi-table random-hyperplane LSH. Each of
    * `tables` hash tables buckets every vector by `planesPerTable`
    * sign bits; candidates are vectors sharing ANY table's bucket with
    * the query, then scored exactly and ranked.
    *
    * Recall math: a neighbor at angle θ agrees on one plane with
    * p = 1 − θ/π, on a table with p^b, over L tables with
    * 1 − (1−p^b)^L — 8 tables × 4 planes gives ~0.83 for cosine-0.5
    * neighbors, →1 for near-dups. The join shuffles by (table,
    * bucket): never all-pairs, and only ids travel through the
    * explode (vectors re-join on the candidate set).
    */
  def lshKnn(corpus: DataFrame, queries: DataFrame, k: Int,
             tables: Int = 8, planesPerTable: Int = 4, dim: Int = 64,
             idCol: String = "vec_id", vecCol: String = "embedding",
             planes: Seq[Array[Array[Float]]] = null,
             checkDim: Boolean = true): DataFrame = {
    if (checkDim) requireDim(corpus, vecCol, dim)
    val allPlanes = Option(planes).getOrElse(
      (0 until tables).map(t => hyperplanes(planesPerTable, dim, seed = 42L + t)))
    def buckets(df: DataFrame, id: String): DataFrame =
      bucketFrame(df, allPlanes, idCol, vecCol, id)
    // persist the (small) corpus bucket frame: the 32 hyperplane dot
    // products per row run once, not once per downstream consumer
    val nb = buckets(corpus, "nid").persist()
    val cand = nb.join(buckets(queries, "qid"), Seq("tbl", "bucket"))
      .where(col("qid") =!= col("nid"))
      .select("qid", "nid").dropDuplicates("qid", "nid")
    val scored = cand
      .join(corpus.select(col(idCol).as("nid"), col(vecCol).as("nv")), "nid")
      .join(broadcast(queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))), "qid")
      .withColumn("sim", cosine(col("qv"), col("nv")))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
    val result = scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank"))
      .persist()
    result.count() // materialize, then release the bucket cache
    nb.unpersist()
    result
  }

  /** IVF (inverted-file) approximate KNN: a KMeans coarse quantizer
    * partitions the corpus into `nClusters` cells; each query probes
    * its `nProbe` nearest centroids and scores only those cells.
    *
    * Scale shape: the corpus is assigned once (narrow model.transform
    * pass, then hash-partitioned by cell); per query the candidate set
    * is ~nProbe/nClusters of the corpus. Centroids are driver-side
    * (tiny) and compiled into codegen'd distance expressions — ranking
    * cells costs nClusters dot products per query row, no shuffle.
    */
  def ivfKnn(corpus: DataFrame, queries: DataFrame, k: Int,
             nClusters: Int = 16, nProbe: Int = 4,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // (dim mismatch impossible here: centroids are learned from the data)
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.linalg.{Vector => MlVector, Vectors}
    val toVec = udf((a: Seq[Float]) => Vectors.dense(a.map(_.toDouble).toArray))
    val feats = corpus.select(col(idCol).as("nid"), col(vecCol).as("nv"))
      .withColumn("features", toVec(col("nv")))
    val model = new KMeans().setK(nClusters).setSeed(42).setMaxIter(10).fit(feats)
    val assigned = model.transform(feats)
      .select(col("nid"), col("nv"), col("prediction").as("cell"))
    val centroids: Array[Array[Float]] =
      model.clusterCenters.map((v: MlVector) => v.toArray.map(_.toFloat))
    // rank cells by squared distance: |q|^2 is constant per query, so
    // score_i = |c_i|^2 - 2 q·c_i orders identically
    val cellScores = centroids.zipWithIndex.map { case (c, i) =>
      val c2 = c.map(x => x.toDouble * x.toDouble).sum
      struct((lit(c2) - lit(2.0) * dot(col("qv"), typedlit(c.toSeq))).as("d2"),
        lit(i).as("cell"))
    }
    val probed = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
      .select(col("qid"), col("qv"),
        explode(slice(array_sort(array(cellScores: _*)), 1, nProbe)).as("pc"))
      .select(col("qid"), col("qv"), col("pc.cell").as("cell"))
    val scored = assigned.join(broadcast(probed), Seq("cell"))
      .where(col("qid") =!= col("nid"))
      .withColumn("sim", cosine(col("qv"), col("nv")))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank"))
  }

  /** IVF with caller-supplied centroids — the same probe/score shape as
    * [[ivfKnn]] minus the KMeans training step. Callers pass either a
    * trained model's `clusterCenters` or any deterministic centroid set
    * (e.g. a fixed sample of corpus vectors), which makes the whole
    * computation reproducible by an external SQL oracle: cell
    * assignment, probing, and exact re-scoring are all plain
    * expressions.
    *
    * Scale shape (same as ivfKnn): centroids are driver-side (tiny) and
    * compiled into codegen'd distance expressions; the corpus is
    * assigned in one narrow pass; per query only ~nProbe/nClusters of
    * the corpus is scored. Cell ranking uses
    * d2 = |c|² − 2·v·c (|v|² is constant per vector, so the ordering
    * matches true squared distance), ties broken on cell index.
    */
  def ivfKnnFixed(corpus: DataFrame, queries: DataFrame, k: Int,
                  centroids: Seq[Array[Float]], nProbe: Int = 4,
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    ivfProbeScore(ivfAssign(corpus, centroids, idCol, vecCol),
      queries, k, centroids, nProbe, idCol, vecCol)

  /** One narrow pass: each corpus vector to its nearest cell (columns
    * `nid`, `nv`, `cell`). */
  private def ivfAssign(corpus: DataFrame, centroids: Seq[Array[Float]],
                        idCol: String, vecCol: String): DataFrame =
    corpus.select(col(idCol).as("nid"), col(vecCol).as("nv"))
      .withColumn("cell",
        element_at(graft.functions.VectorExpressions.nearestCells(
          col("nv"), centroids, 1), 1))

  /** The probe/score phase over an already-assigned corpus: rank cells
    * per query, score only the probed cells' vectors, exact top-k. */
  private def ivfProbeScore(assigned: DataFrame, queries: DataFrame, k: Int,
                            centroids: Seq[Array[Float]], nProbe: Int,
                            idCol: String, vecCol: String): DataFrame = {
    val probed = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
      .select(col("qid"), col("qv"),
        explode(graft.functions.VectorExpressions.nearestCells(
          col("qv"), centroids, nProbe)).as("cell"))
    val scored = assigned.join(broadcast(probed), Seq("cell"))
      .where(col("qid") =!= col("nid"))
      .withColumn("sim", cosine(col("qv"), col("nv")))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank"))
  }

  /** Durable IVF index: the assigned corpus lands PARTITIONED BY cell —
    * on disk, a probe of `nProbe` cells is a partition-pruned scan of
    * nProbe directories (dynamic partition pruning from the broadcast
    * probe side), the on-disk analog of the in-memory cell hash — and
    * the centroid table (tiny) lands beside it. Pays assignment once at
    * build time; every later query batch is probe + score only. The
    * embedding-side sibling of [[Dedup.minhashIndex]]'s
    * index-once/query-incrementally contract.
    */
  def ivfSaveIndex(corpus: DataFrame, centroids: Seq[Array[Float]],
                   path: String, idCol: String = "vec_id",
                   vecCol: String = "embedding"): Unit = {
    ivfAssign(corpus, centroids, idCol, vecCol)
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/cells")
    val spark = corpus.sparkSession
    import org.apache.spark.sql.{Row => SRow}
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        centroids.zipWithIndex.map { case (c, i) => SRow(i, c.toSeq) }, 1),
      StructType(Seq(StructField("cell", IntegerType, nullable = false),
        StructField("c", ArrayType(FloatType, containsNull = false)))))
      .write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Append a batch to a durable [[ivfSaveIndex]] layout WITHOUT
    * rebuilding: the batch is assigned with the index's SAVED centroids
    * (append never re-clusters) and written `mode(append)` into the
    * partitioned-by-cell layout — only touched cell directories gain
    * files. Same append ≡ rebuild guarantee as [[ivfPqAppendIndex]]:
    * cell assignment is a deterministic function of (vector,
    * centroids). */
  def ivfAppendIndex(newVecs: DataFrame, path: String,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): Unit = {
    val cents = newVecs.sparkSession.read.parquet(s"$path/centroids")
      .orderBy("cell").collect()
      .map(_.getSeq[Float](1).toArray).toSeq
    ivfAssign(newVecs, cents, idCol, vecCol)
      .write.mode("append").partitionBy("cell").parquet(s"$path/cells")
  }

  /** Load an [[ivfSaveIndex]]-built index: (assigned corpus, centroids).
    * The centroid collect is bounded (nClusters rows). */
  def ivfLoadIndex(spark: SparkSession,
                   path: String): (DataFrame, Seq[Array[Float]]) = {
    val cells = spark.read.parquet(s"$path/cells")
    val cents = spark.read.parquet(s"$path/centroids")
      .orderBy("cell").collect()
      .map(_.getSeq[Float](1).toArray).toSeq
    (cells, cents)
  }

  /** KNN against a loaded [[ivfSaveIndex]] index — probe/score only,
    * no assignment pass. Output matches [[ivfKnnFixed]] bit-for-bit
    * when the index was built from the same centroids.
    */
  def ivfKnnIndexed(index: DataFrame, centroids: Seq[Array[Float]],
                    queries: DataFrame, k: Int, nProbe: Int = 4,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame =
    ivfProbeScore(index, queries, k, centroids, nProbe, idCol, vecCol)

  /** Embedding near-dup pairs at scale: multi-table hyperplane LSH
    * candidates, then exact cosine ≥ threshold on candidates only —
    * the join shuffles by (table, bucket), never all-pairs. Recall
    * follows the lshKnn s-curve (→1 for true near-dups at high
    * cosine); use [[cosinePairs]] as the exact baseline on bounded
    * blocks.
    */
  def cosinePairsLsh(corpus: DataFrame, threshold: Double,
                     tables: Int = 8, planesPerTable: Int = 4, dim: Int = 64,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     planes: Seq[Array[Array[Float]]] = null,
                     checkDim: Boolean = true): DataFrame = {
    if (checkDim) requireDim(corpus, vecCol, dim)
    val allPlanes = Option(planes).getOrElse(
      (0 until tables).map(t => hyperplanes(planesPerTable, dim, seed = 42L + t)))
    // persist before the self-join: otherwise every row pays the
    // tables × planes hyperplane dot products twice (once per side)
    val buckets = bucketFrame(corpus, allPlanes, idCol, vecCol, "id").persist()
    val cand = buckets.as("a").join(buckets.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("ia"), col("b.id").as("ib"))
      .dropDuplicates("ia", "ib")
    val va = corpus.select(col(idCol).as("ia"), col(vecCol).as("va"),
      norm(col(vecCol)).as("na"))
    val vb = corpus.select(col(idCol).as("ib"), col(vecCol).as("vb"),
      norm(col(vecCol)).as("nb"))
    val result = cand.join(va, "ia").join(vb, "ib")
      .where(dot(col("va"), col("vb")) / (col("na") * col("nb")) >= threshold)
      .select("ia", "ib")
      .persist()
    result.count() // materialize, then release the bucket cache
    buckets.unpersist()
    result
  }

  /** [[cosinePairsLsh]] with OCCUPANCY-SCALED banding — the 100 TB
    * default. Fixed dials make candidate pairs quadratic in corpus
    * size (each table's bucket population grows as n/2^b, pairs as its
    * square); this derives planes-per-table from the corpus count so
    * average bucket occupancy stays ~`occupancy`, and takes the table
    * count from [[lshTablesFor]] so near-dup recall holds as planes
    * rise. Total candidate work follows the published LSH bound
    * (~n^1.22 at the c = 0.9 design point) instead of n².
    *
    * THE CONTRACT: recall is engineered at `designCosine` (default
    * 0.9 — true near-duplicates), where 1−(1−p^b)^L ≥ `targetRecall`
    * holds at every corpus size; pairs between `threshold` and the
    * design point are found with s-curve probability that DECAYS
    * toward the threshold. Callers who need recall AT a low threshold
    * set `designCosine = threshold` and pay the published L ~ n^ρ
    * table growth (ρ ≈ 0.625 at cosine 0.45 — tens of millions of
    * candidates at ANY dial; for bulk mining there, prefer the exact
    * [[cosinePairs]] on bounded blocks). Measured at sf1 (20k
    * vectors, threshold 0.45, every true pair in [0.45, 0.7) —
    * tools/AnnRecall `pairs` mode re-measures):
    *   fixed 8×4 (old default)        recall 0.81, 119.7 s
    *   scaled, design c=0.9 (default) recall 0.19,   6.2 s
    *   scaled, design c=threshold     recall 0.92,  81.6 s (9×112)
    * — at the SAME design point the occupancy scaling dominates the
    * fixed dials on both axes; the near-dup default trades s-curve
    * recall on these mid-similarity pairs for ~20× the speed.
    *
    * `corpusCount` skips the sizing count() when the caller already
    * knows n (at 100 TB the catalog does). `planeGen(tables, planes,
    * dim)` supplies the hyperplane family — seeded Gaussians by
    * default; pass [[md5SignPlanes]] for SQL-oracle-replayable runs.
    * At small n the sizing floors at 4 planes × 8 tables = exactly the
    * fixed-dial default, so small-corpus results are unchanged. */
  def cosinePairsLshScaled(corpus: DataFrame, threshold: Double,
                           dim: Int = 64, idCol: String = "vec_id",
                           vecCol: String = "embedding",
                           corpusCount: Long = -1L, occupancy: Long = 64,
                           designCosine: Double = 0.9,
                           targetRecall: Double = 0.9,
                           planeGen: (Int, Int, Int) => Seq[Array[Array[Float]]] =
                             (l, b, d) => (0 until l)
                               .map(t => hyperplanes(b, d, seed = 42L + t)),
                           checkDim: Boolean = true,
                           acceptScurveRecall: Boolean = false): DataFrame = {
    // the round-12 footgun, guarded LOUDLY (round-13): a threshold
    // below the design point returns pairs in [threshold, design)
    // with s-curve recall that DECAYS as the corpus grows (measured
    // at sf1: 0.19 under the defaults vs 0.92 design-at-threshold) —
    // a caller who skims the signature must choose explicitly
    require(threshold >= designCosine || acceptScurveRecall,
      f"threshold $threshold%.2f is below designCosine $designCosine%.2f: " +
        "recall is engineered AT the design point only — pairs between " +
        "them surface with s-curve probability that DECAYS with corpus " +
        "size (measured 0.19 at sf1 under the defaults). Either set " +
        "designCosine = threshold (recall holds there; L grows by the " +
        "published n^rho bound) or pass acceptScurveRecall = true to " +
        "accept best-effort recall below the design point")
    val n = if (corpusCount >= 0L) corpusCount else corpus.count()
    val b = lshPlanesFor(n, occupancy)
    val l = lshTablesFor(b, designCosine, targetRecall)
    cosinePairsLsh(corpus, threshold, tables = l, planesPerTable = b,
      dim = dim, idCol = idCol, vecCol = vecCol,
      planes = planeGen(l, b, dim), checkDim = checkDim)
  }

  /** Product-quantization codes (Jégou et al. 2011, the IVF-PQ
    * building block): split each vector into `subspaces` contiguous
    * sub-vectors of `subDim` dims and assign each to its nearest
    * sub-centroid — a vector compresses to `subspaces` small codes
    * (here one byte each at ≤256 centroids), the representation that
    * lets a 100 TB embedding corpus keep its ANN index in memory.
    * Centroids are caller-supplied full-dim vectors whose slices give
    * the per-subspace codebooks (pass the first-k corpus vectors for a
    * SQL-replayable build, or KMeans centers for quality). Assignment
    * is the same |c|²−2·v·c ordering as [[ivfKnnFixed]], ties on code
    * index; all `subspaces`×k distances run in ONE tight loop per row
    * (VectorExpressions.PqEncodeCodes — the inlined column forest blew
    * the 64 KB codegen method limit and silently fell back to
    * interpreted eval) — one narrow pass, no shuffle, no UDF.
    *
    * Output: (`vec_id`, `subspace`, `code`) — one row per sub-code,
    * the relational form a downstream asymmetric-distance scorer
    * joins against.
    */
  def pqCodes(corpus: DataFrame, centroids: Seq[Array[Float]],
              subspaces: Int = 8, subDim: Int = 8,
              idCol: String = "vec_id",
              vecCol: String = "embedding",
              checkDim: Boolean = true): DataFrame = {
    require(centroids.nonEmpty &&
      centroids.forall(_.length >= subspaces * subDim),
      s"centroids must cover ${subspaces}×$subDim dims")
    if (checkDim) requireMinDim(corpus, vecCol, subspaces * subDim)
    corpus.select(col(idCol).as("vec_id"),
      posexplode(graft.functions.VectorExpressions.pqEncodeCodes(
        col(vecCol), centroids, subspaces, subDim))
        .as(Seq("subspace", "code")))
  }

  /** ADC (asymmetric-distance) top-k search over [[pqCodes]] — the
    * query side of IVF-PQ: each query builds a small distance
    * lookup table (subspaces × |codebook| entries, one |c|²−2·q_s·c
    * per sub-centroid), the corpus joins it BY CODE (never touching
    * raw vectors), and a vector's estimated distance is the sum of its
    * 8 table entries. The LUT is quantized to fixed-point longs
    * (`lutScale`) before summing: the doubles themselves are
    * oracle-identical, and long sums are order-independent, so the
    * ranking never depends on float summation order — a groupBy-sum
    * of raw doubles would not be deterministic even within one engine.
    *
    * Scale shape: the LUT is |queries|×subspaces×k rows — broadcast;
    * the codes relation streams through one join + one
    * map-side-combined sum; raw embeddings are touched only at LUT
    * build, which is why PQ search runs on a corpus whose vectors no
    * longer fit anywhere.
    */
  def pqSearchTopK(codes: DataFrame, centroids: Seq[Array[Float]],
                   queries: DataFrame, k: Int,
                   subspaces: Int = 8, subDim: Int = 8,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   lutScale: Long = 1L << 20,
                   checkDim: Boolean = true): DataFrame = {
    if (checkDim) requireMinDim(queries, vecCol, subspaces * subDim)
    val lut = queries.select(col(idCol).as("qid"),
        explode(graft.functions.VectorExpressions.pqLutEntries(
          col(vecCol), centroids, subspaces, subDim, lutScale)).as("e"))
      .select(col("qid"), col("e.subspace").as("subspace"),
        col("e.code").as("code"), col("e.d").as("d"))
    adcTopK(codes.join(broadcast(lut), Seq("subspace", "code")), k)
  }

  /** Sum the joined LUT entries per (query, vector) and rank: the
    * shared ADC tail (integer sums — order-independent; ties on id). */
  private def adcTopK(joined: DataFrame, k: Int): DataFrame = {
    val scored = joined.where(col("qid") =!= col("vec_id"))
      .groupBy("qid", "vec_id").agg(sum(col("d")).as("score"))
    val w = Window.partitionBy("qid").orderBy(col("score"), col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("vec_id").as("nid"), col("rank"))
  }

  /** IVF-PQ search — the full FAISS-style composition: a coarse
    * quantizer prunes the corpus to each query's `nProbe` nearest
    * cells ([[ivfKnnFixed]]'s probe), and candidates are scored by ADC
    * over their PQ codes ([[pqSearchTopK]]'s LUT) — raw corpus vectors
    * appear NOWHERE in the query path. This is the architecture that
    * serves ANN over a corpus whose vectors live only on disk: the
    * resident state is cell ids + `subspaces` bytes per vector, and a
    * query touches ~nProbe/nCells of even that.
    *
    * `cells` must be [[pqCodes]]-shaped codes joined with a coarse
    * `cell` column — build both once per corpus via [[ivfPqIndex]].
    * Ranking is the quantized-LUT integer sum (deterministic), ties on
    * neighbor id.
    */
  def ivfPqSearchTopK(cells: DataFrame, coarse: Seq[Array[Float]],
                      pqCents: Seq[Array[Float]], queries: DataFrame,
                      k: Int, nProbe: Int = 4,
                      subspaces: Int = 8, subDim: Int = 8,
                      idCol: String = "vec_id", vecCol: String = "embedding",
                      lutScale: Long = 1L << 20,
                      checkDim: Boolean = true): DataFrame = {
    if (checkDim) requireMinDim(queries, vecCol, subspaces * subDim)
    // per query: the nProbe nearest coarse cells (same d2 ordering as
    // ivfKnnFixed — VectorExpressions.NearestCells is the single probe
    // definition) + the quantized ADC lookup table (same entries as
    // pqSearchTopK — VectorExpressions.PqLutEntries is the single
    // definition both oracle replays depend on)
    val probed = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
      .select(col("qid"), col("qv"),
        explode(graft.functions.VectorExpressions.nearestCells(
          col("qv"), coarse, nProbe)).as("cell"))
    val lut = probed.select(col("qid"), col("cell"),
        explode(graft.functions.VectorExpressions.pqLutEntries(
          col("qv"), pqCents, subspaces, subDim, lutScale)).as("e"))
      .select(col("qid"), col("cell"), col("e.subspace").as("subspace"),
        col("e.code").as("code"), col("e.d").as("d"))
    // candidates stream out of ONLY the probed cells; the join carries
    // codes, never vectors
    adcTopK(cells.join(broadcast(lut), Seq("cell", "subspace", "code")), k)
  }

  /** [[ivfPqSearchTopK]] + the FAISS refine step (IndexRefineFlat):
    * ADC ranks the probed cells' codes, the top-`rerank` candidates
    * per query are re-scored EXACTLY (cosine over raw vectors — the
    * same metric every exact scorer here uses), and the exact order
    * yields the final top-k. ADC distances are 8-byte-code estimates:
    * near-tie neighbors land in the candidate set but in the wrong
    * order; the refine step fixes exactly that (spec pins a planted
    * near-tie ADC cannot order).
    *
    * Scale shape: unchanged from the ADC search until the last step —
    * raw vectors enter ONLY the candidate re-score, a
    * |queries|×`rerank` broadcast joined into one pass over `raw`
    * (pass [[ivfPqLoadRaw]] pruned to the probed cells — see
    * [[ivfPqSearchTopKRefinedIndexed]] — and that pass reads only
    * nProbe/nCells of the corpus). */
  def ivfPqSearchTopKRefined(cells: DataFrame, coarse: Seq[Array[Float]],
                             pqCents: Seq[Array[Float]], queries: DataFrame,
                             raw: DataFrame, k: Int, rerank: Int = 50,
                             nProbe: Int = 4,
                             subspaces: Int = 8, subDim: Int = 8,
                             idCol: String = "vec_id",
                             vecCol: String = "embedding",
                             lutScale: Long = 1L << 20,
                             checkDim: Boolean = true): DataFrame = {
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    val cand = ivfPqSearchTopK(cells, coarse, pqCents, queries, rerank,
        nProbe, subspaces, subDim, idCol, vecCol, lutScale, checkDim)
      .select("qid", "nid")
    val rawN = raw.select(col(idCol).as("nid"), col(vecCol).as("nv"))
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qv"))
    val scored = rawN.join(broadcast(cand), Seq("nid"))
      .join(broadcast(q), Seq("qid"))
      .withColumn("sim", cosine(col("qv"), col("nv")))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank"))
  }

  /** Refined search over a durable [[ivfPqSaveIndex]] layout saved
    * with `keepRaw = true`: the raw-vector side is PRUNED to the
    * queries' probed cells before the candidate re-score, so the
    * only stage that touches vectors reads nProbe/nCells of the raw
    * partitions (partition-pruned scan — spec-pinned), not the
    * corpus. The probed-cell collect is bounded by
    * min(|queries|·nProbe, |coarse|). */
  def ivfPqSearchTopKRefinedIndexed(spark: SparkSession, path: String,
                                    queries: DataFrame, k: Int,
                                    rerank: Int = 50, nProbe: Int = 4,
                                    subspaces: Int = 8, subDim: Int = 8,
                                    idCol: String = "vec_id",
                                    vecCol: String = "embedding",
                                    lutScale: Long = 1L << 20): DataFrame = {
    val (codes, coarse, pq) = ivfPqLoadIndex(spark, path)
    val probed = queries.select(explode(
        graft.functions.VectorExpressions.nearestCells(
          col(vecCol), coarse, nProbe)).as("cell"))
      .distinct().collect().map(_.getInt(0))
    val raw = ivfPqLoadRaw(spark, path)
      .where(col("cell").isin(probed.toIndexedSeq: _*))
    ivfPqSearchTopKRefined(codes, coarse, pq, queries, raw, k, rerank,
      nProbe, subspaces, subDim, idCol, vecCol, lutScale)
  }

  /** One NARROW corpus pass building the IVF-PQ resident state: coarse
    * cell + PQ codes per vector — (vec_id, cell, subspace, code) rows,
    * i.e. `subspaces` rows × ~10 bytes per corpus vector; no shuffle,
    * no self-join. */
  /** Train a PROPER product-quantization codebook: one independent
    * KMeans per subspace over the corpus's `subDim`-dim sub-vectors,
    * zipped back into full-dim arrays whose slice at subspace s is
    * that subspace's j-th codeword — exactly the layout
    * PqEncodeCodes / PqLutEntries slice, so the result drops into
    * every pqCents parameter unchanged.
    *
    * Why this exists (round-11 quality finding, SURVEY §8.3): passing
    * sliced FULL-vector KMeans centroids as the codebook — the
    * obvious one-trainer recipe — gives each subspace the projections
    * of the global clusters, which are near-duplicates in most
    * subspaces: an effective per-subspace codebook far smaller than
    * its nominal size. Measured at sf1 (20k vectors, 256 codewords,
    * full probe, rerank 400): sliced-global caps recall@10 at 0.80;
    * per-subspace training the same dials reaches the re-rank
    * ceiling. Training cost: `subspaces` bounded KMeans fits, one
    * corpus pass each; the codebook stays a driver-side
    * `nCodes × dim` float array.
    */
  def trainPqCodebooks(corpus: DataFrame, nCodes: Int, subspaces: Int = 8,
                       subDim: Int = 8, vecCol: String = "embedding",
                       seed: Long = 42): Seq[Array[Float]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.linalg.{Vector => MlVector, Vectors}
    val sub = udf((a: Seq[Float], s: Int) =>
      Vectors.dense(a.slice(s * subDim, (s + 1) * subDim)
        .map(_.toDouble).toArray))
    val base = corpus.select(col(vecCol).as("v")).persist()
    try {
      val books: Seq[Array[Array[Float]]] = (0 until subspaces).map { s =>
        val feats = base.withColumn("features", sub(col("v"), lit(s)))
        new KMeans().setK(nCodes).setSeed(seed + s).setMaxIter(10)
          .fit(feats)
          .clusterCenters.map((v: MlVector) => v.toArray.map(_.toFloat))
      }
      // KMeans can return < k centers on tiny/degenerate slices — zip
      // to the shortest book so every subspace indexes safely, and say
      // so LOUDLY: a silently shrunk book quietly caps quantizer
      // resolution, and recall floors (AnnRecall/OpsSpec) are the only
      // tests that can attribute the drop (the SQ8/PQ lesson)
      val m = math.min(nCodes, books.map(_.length).min)
      if (m < nCodes)
        org.apache.logging.log4j.LogManager.getLogger(getClass).warn(
          s"trainPqCodebooks: effective codebook size $m < requested " +
            s"$nCodes (a degenerate subspace returned fewer KMeans " +
            s"centers: ${books.map(_.length).mkString(",")}) — " +
            "quantizer resolution is reduced; expect a recall drop")
      (0 until m).map(j =>
        (0 until subspaces).flatMap(s =>
          books(s)(j).toIndexedSeq).toArray)
    } finally base.unpersist()
  }

  def ivfPqIndex(corpus: DataFrame, coarse: Seq[Array[Float]],
                 pqCents: Seq[Array[Float]],
                 subspaces: Int = 8, subDim: Int = 8,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding",
                 checkDim: Boolean = true): DataFrame = {
    if (checkDim) requireMinDim(corpus, vecCol, subspaces * subDim)
    ivfAssign(corpus, coarse, idCol, vecCol)
      .select(col("nid").as("vec_id"), col("cell"),
        posexplode(graft.functions.VectorExpressions.pqEncodeCodes(
          col("nv"), pqCents, subspaces, subDim))
          .as(Seq("subspace", "code")))
  }

  /** Durable IVF-PQ index: the (vec_id, cell, subspace, code) relation
    * lands PARTITIONED BY cell — a probe of nProbe cells is a
    * partition-pruned scan, and what's scanned is ~10 bytes/vector of
    * codes, not vectors — with both codebooks (tiny) beside it. The
    * IVF-PQ sibling of [[ivfSaveIndex]]: pay assignment + encoding
    * once, query forever off the compressed layout. */
  def ivfPqSaveIndex(corpus: DataFrame, coarse: Seq[Array[Float]],
                     pqCents: Seq[Array[Float]], path: String,
                     subspaces: Int = 8, subDim: Int = 8,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     keepRaw: Boolean = false): Unit = {
    ivfPqIndex(corpus, coarse, pqCents, subspaces, subDim, idCol, vecCol)
      .write.mode("overwrite").partitionBy("cell").parquet(s"$path/codes")
    // optional flat refine sidecar (FAISS IndexRefineFlat layout):
    // raw vectors partitioned by the SAME cell column, so the refined
    // search's exact re-score is a partition-pruned scan of the
    // probed cells only
    if (keepRaw)
      ivfAssign(corpus, coarse, idCol, vecCol)
        .select(col("nid").as("vec_id"), col("cell"),
          col("nv").as("embedding"))
        .write.mode("overwrite").partitionBy("cell").parquet(s"$path/raw")
    val spark = corpus.sparkSession
    import org.apache.spark.sql.{Row => SRow}
    import org.apache.spark.sql.types._
    def writeCents(cents: Seq[Array[Float]], sub: String): Unit =
      spark.createDataFrame(
        spark.sparkContext.parallelize(
          cents.zipWithIndex.map { case (c, i) => SRow(i, c.toSeq) }, 1),
        StructType(Seq(StructField("j", IntegerType, nullable = false),
          StructField("c", ArrayType(FloatType, containsNull = false)))))
        .write.mode("overwrite").parquet(s"$path/$sub")
    writeCents(coarse, "coarse")
    writeCents(pqCents, "pq")
  }

  /** Append a batch of vectors to a durable [[ivfPqSaveIndex]] layout
    * WITHOUT rebuilding: the batch is encoded with the index's SAVED
    * codebooks (append never retrains — centroid drift would silently
    * invalidate every existing code) and written `mode(append)` into
    * the partitioned-by-cell layout, so only the cell directories the
    * batch actually lands in gain files; nothing existing is read or
    * rewritten. Searching the result is bit-equal to searching a full
    * rebuild of (corpus ∪ batch) with the same codebooks, because
    * per-vector cell assignment and codes are deterministic functions
    * of (vector, codebooks) alone. */
  def ivfPqAppendIndex(newVecs: DataFrame, path: String,
                       subspaces: Int = 8, subDim: Int = 8,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): Unit = {
    val spark = newVecs.sparkSession
    def readCents(sub: String): Seq[Array[Float]] =
      spark.read.parquet(s"$path/$sub").orderBy("j").collect()
        .map(_.getSeq[Float](1).toArray).toSeq
    val coarse = readCents("coarse")
    ivfPqIndex(newVecs, coarse, readCents("pq"),
        subspaces, subDim, idCol, vecCol)
      .write.mode("append").partitionBy("cell").parquet(s"$path/codes")
    // keep the refine sidecar complete: if the index was saved with
    // keepRaw, the batch's raw vectors append into the same
    // partitioned layout (cell assignment is deterministic, so
    // append ≡ rebuild here exactly as for the codes)
    val rawPath = new org.apache.hadoop.fs.Path(s"$path/raw")
    if (rawPath.getFileSystem(
        spark.sparkContext.hadoopConfiguration).exists(rawPath))
      ivfAssign(newVecs, coarse, idCol, vecCol)
        .select(col("nid").as("vec_id"), col("cell"),
          col("nv").as("embedding"))
        .write.mode("append").partitionBy("cell").parquet(s"$path/raw")
  }

  /** The refine sidecar of a `keepRaw = true` [[ivfPqSaveIndex]]:
    * (vec_id, cell, embedding), tombstone-masked with the SAME
    * tombstone set as the codes — a deleted vector disappears from
    * both relations at read, so a refined search can never surface
    * it. `cell` stays the partition column under the mask. */
  def ivfPqLoadRaw(spark: SparkSession, path: String): DataFrame =
    graft.core.Tombstones.maskAt(spark, ivfPqTombPath(path),
      spark.read.parquet(s"$path/raw"), VecIdKeys)

  /** Load an [[ivfPqSaveIndex]] index: (codes, coarse, pqCents).
    * Centroid collects are bounded (|codebook| rows each). Searching
    * the result via [[ivfPqSearchTopK]] is bit-equal to searching the
    * in-memory build from the same centroids. */
  def ivfPqLoadIndex(spark: SparkSession, path: String)
      : (DataFrame, Seq[Array[Float]], Seq[Array[Float]]) = {
    def readCents(sub: String): Seq[Array[Float]] =
      spark.read.parquet(s"$path/$sub").orderBy("j").collect()
        .map(_.getSeq[Float](1).toArray).toSeq
    val codes = spark.read.parquet(s"$path/codes")
    // mask tombstoned vectors (ivfPqDeleteIndex) at read; the coarse
    // probe's partition pruning is unaffected (cell stays the
    // partition column under the anti-join)
    // shared mask: broadcast anti-join for small tombstone sets, bloom
    // sidecar (scan-side prefilter) once the set outgrows a broadcast;
    // cell stays the partition column under either shape, so the
    // coarse probe's partition pruning is unaffected
    val masked = graft.core.Tombstones.maskAt(
      spark, ivfPqTombPath(path), codes, VecIdKeys)
    (masked, readCents("coarse"), readCents("pq"))
  }

  private def ivfPqTombPath(path: String): String = s"$path/tombstones"

  /** Tombstone keys of an IVF-PQ index: [[ivfPqDeleteIndex]] writes the
    * ids as longs, whatever the index's own id type. */
  private val VecIdKeys = StructType(Seq(StructField("vec_id", LongType)))

  /** Tombstone-delete vectors from a durable IVF-PQ index: one tiny
    * append beside the codes — nothing in the index is rewritten.
    * [[ivfPqLoadIndex]] masks deleted ids at read;
    * [[ivfPqCompactIndex]] reclaims the space physically. The
    * GDPR-takedown / re-curation maintenance op. */
  def ivfPqDeleteIndex(ids: DataFrame, path: String,
                       idCol: String = "vec_id"): Unit =
    graft.core.Tombstones.appendAt(
      ids.select(col(idCol).cast("long").as("vec_id")),
      ivfPqTombPath(path), keyCols = Seq("vec_id"))

  /** Physically drop tombstoned vectors, rewriting ONLY the files that
    * hold a deleted id — other files, and every cell directory holding
    * none, are never touched (spec-pinned), so compaction cost scales
    * with the delete's spread, not the index. The codes and, with
    * `keepRaw`, the refine sidecar compact against their one tombstone
    * set before it clears, or clearing it would resurrect deleted raw
    * vectors. The shared body ([[graft.core.Tombstones.compactAt]])
    * stages, moves and refuses; cells left empty are removed. */
  def ivfPqCompactIndex(spark: SparkSession, path: String): Unit =
    graft.core.Tombstones.compactAt(spark, ivfPqTombPath(path), VecIdKeys,
      Seq(s"$path/codes", s"$path/raw").map(_ -> Some("cell")))(
      spark.read.parquet(_))

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster the corpus with a coarse quantizer, then mark as duplicate
    * any vector with a LOWER-id clustermate at cosine ≥ threshold —
    * pairwise comparison happens only WITHIN a cell, which is the
    * published algorithm's scale lever (cells bound the quadratic:
    * pairs ≈ N²/cells instead of N², and each cell's block joins on its
    * own shuffle key). Centroids are caller-supplied — pass a KMeans
    * model's centers, or any deterministic pick (e.g. the first k
    * corpus vectors) to make the whole computation SQL-replayable.
    *
    * Output: one row per input — (`vec_id`, `cell`, `kept`); a
    * training pipeline filters `kept` and joins back to documents.
    * Norms are computed once per side (N, not N²); only the codegen'd
    * dot runs per candidate pair.
    */
  def semDeDup(corpus: DataFrame, centroids: Seq[Array[Float]],
               threshold: Double, idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame = {
    // persist: the assignment pass (|centroids| dot products per row)
    // feeds both self-join sides and the final keep-list join
    val assigned = ivfAssign(corpus, centroids, idCol, vecCol).persist()
    val a = assigned.select(col("cell"), col("nid").as("ia"),
      col("nv").as("va"), norm(col("nv")).as("na"))
    val b = assigned.select(col("cell"), col("nid").as("ib"),
      col("nv").as("vb"), norm(col("nv")).as("nb"))
    val dropped = a.join(b, Seq("cell")).where(col("ia") < col("ib"))
      .where(dot(col("va"), col("vb")) / (col("na") * col("nb")) >= threshold)
      .select(col("ib").as("nid")).distinct()
    val result = assigned
      .join(dropped.withColumn("__dup", lit(1)), Seq("nid"), "left")
      .select(col("nid").as(idCol), col("cell"),
        col("__dup").isNull.as("kept"))
      .persist()
    result.count() // materialize, then release the assignment cache
    assigned.unpersist()
    result
  }

  /** Cluster-balanced curation sampling: assign every vector to its
    * nearest centroid (same fixed-centroid IVF assignment as
    * [[semDeDup]]), then keep the `perCell` most-REPRESENTATIVE items
    * per cell — smallest squared distance to the centroid, ties on id.
    * This is the diversity-preserving subset selection step of a
    * curation pipeline (cluster the corpus, sample each cluster
    * proportionally instead of letting dense regions dominate a random
    * sample).
    *
    * Distance is ranked as |v|² − 2·v·c (the |c|² term is constant
    * within a cell), both dot products via the sequential-double
    * [[graft.functions.VectorExpressions.dotF]] so the ordering is
    * SQL-replayable. Scale shape: one narrow assignment pass, a
    * broadcast join against K centroids, and a per-cell top-n — the
    * only shuffle is the groupBy cell, and at production K (thousands
    * of cells) AQE's skew split covers hot cells.
    *
    * Output: (idCol, cell, rk) with rk ∈ [1, perCell].
    */
  def clusterBalancedSample(corpus: DataFrame, centroids: Seq[Array[Float]],
                            perCell: Int, idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    require(perCell > 0, "perCell must be positive")
    val assigned = ivfAssign(corpus, centroids, idCol, vecCol)
    val spark = corpus.sparkSession
    import spark.implicits._
    val centDf = centroids.zipWithIndex
      .map { case (v, i) => (i, v) }.toDF("cell", "cv")
    val d = assigned.join(broadcast(centDf), Seq("cell"))
      .withColumn("dist",
        dot(col("nv"), col("nv")) - lit(2.0) * dot(col("nv"), col("cv")))
    val w = Window.partitionBy(col("cell"))
      .orderBy(col("dist"), col("nid"))
    d.withColumn("rk", row_number().over(w))
      .where(col("rk") <= perCell)
      .select(col("nid").as(idCol), col("cell"), col("rk"))
  }

  /** Hard-negative mining for contrastive training: for each query
    * (anchor), the top-k most-similar corpus vectors whose LABEL
    * differs — the negatives that actually teach a contrastive model
    * something (random negatives are trivially separable; the hard
    * ones sit just across the decision boundary). Same broadcast
    * shape as [[bruteKnn]] (small anchor set × huge corpus, one pass,
    * no corpus shuffle); swap the corpus for an LSH/IVF candidate set
    * when even one pass is too much.
    *
    * Output: (qid, nid, rank) — ties on neighbor id.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    labelCol: String = "label"): DataFrame =
    knnCore(corpus, queries, k, idCol, vecCol,
      extraCols = Seq((labelCol, "ql", "nl")),
      pred = col("qid") =!= col("nid") && col("ql") =!= col("nl"))

  /** All pairs (ia < ib) with cosine ≥ threshold — bounded quadratic;
    * callers restrict the input to a block/subset. Norms are computed
    * once per vector (N, not N²); only the codegen'd dot runs per pair.
    */
  def cosinePairs(corpus: DataFrame, threshold: Double,
                  idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val a = corpus.select(col(idCol).as("ia"), col(vecCol).as("va"),
      norm(col(vecCol)).as("na"))
    val b = corpus.select(col(idCol).as("ib"), col(vecCol).as("vb"),
      norm(col(vecCol)).as("nb"))
    a.join(b, col("ia") < col("ib"))
      .where(dot(col("va"), col("vb")) / (col("na") * col("nb")) >= threshold)
      .select("ia", "ib")
  }

  // ------------------------------------------------------------------
  // SQ8 scalar quantization — the FAISS ScalarQuantizer(QT_8bit)
  // analog, the middle point of the compression ladder (raw 4 B/dim →
  // SQ8 1 B/dim → PQ ~1 bit/dim): per-dimension [min, max] maps each
  // float to a uint8 code, and similarity is an INTEGER dot product of
  // code vectors. Unlike PQ's codebook distances, integer dots are
  // exact and order-independent, so rankings replay bit-for-bit in SQL.
  // ------------------------------------------------------------------

  /** Per-dimension quantization stats over the corpus: (mins, scales)
    * with scale_d = 255/(max_d−min_d) (0 for constant dims — every
    * value then codes to 0). One map-side-combined aggregate; the
    * collect is dim-sized (bounded), never corpus-sized. min/max are
    * order-independent, so the stats are deterministic at any
    * parallelism.
    */
  def sq8Stats(corpus: DataFrame,
               vecCol: String = "embedding"): (Array[Double], Array[Double]) = {
    val st = corpus.select(posexplode(col(vecCol)).as(Seq("i", "v")))
      .groupBy("i").agg(min(col("v").cast("double")).as("mn"),
        max(col("v").cast("double")).as("mx"))
      .orderBy("i").collect()
    val mn = st.map(_.getDouble(1))
    val sc = st.map { r =>
      val d = r.getDouble(2) - r.getDouble(1)
      if (d > 0) 255.0 / d else 0.0
    }
    (mn, sc)
  }

  /** Quantize vectors to uint8 code arrays (as longs for exact SQL
    * parity): code_d = floor((v_d − min_d)·scale_d + 0.5). A narrow
    * per-row projection with the stats riding as literal arrays —
    * no join, no shuffle, one pass at any corpus size.
    */
  def sq8Codes(df: DataFrame, mins: Array[Double], scales: Array[Double],
               idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame = {
    val mnL = typedLit(mins.toSeq)
    val scL = typedLit(scales.toSeq)
    df.select(col(idCol).as("vec_id"),
      transform(col(vecCol), (v, i) =>
        floor((v.cast("double") - element_at(mnL, i + 1)) *
          element_at(scL, i + 1) + lit(0.5)).cast("long")).as("codes"))
  }

  /** Dequantize SQ8 codes back to (float) reconstructions:
    * x̂_d = min_d + code_d / scale_d (constant dims reconstruct to
    * min_d). Narrow projection, stats ride as literals. */
  def sq8Dequant(codes: Column, mins: Array[Double],
                 scales: Array[Double]): Column = {
    val mnL = typedLit(mins.toSeq)
    val scL = typedLit(scales.toSeq)
    transform(codes, (c, i) =>
      when(element_at(scL, i + 1) === 0.0, element_at(mnL, i + 1))
        .otherwise(element_at(mnL, i + 1) +
          c.cast("double") / element_at(scL, i + 1))
        .cast("float"))
  }

  /** Top-k by SQ8 — the FAISS ScalarQuantizer shape: both sides
    * quantize under the SAME corpus stats, candidates score by COSINE
    * over the DEQUANTIZED reconstructions (descending; ties on id).
    * Scoring raw integer code dots instead would silently discard the
    * per-dimension mins/scales — on centered embeddings that ranking
    * is near-random (measured recall@5 0.05 vs 0.95+ dequantized;
    * AnnRecall pins it). The score column is the cosine in exact
    * integer micro-units (sequential double fold → floor ×1e6, the
    * pqSearchTopK quantization pattern), so the oracle compare stays
    * bit-exact. The corpus-side state is 1 byte/dim — the
    * resident-set story between [[bruteKnn]] (4 B/dim) and PQ
    * (~1 bit/dim) — and the scan is one broadcast-join pass, never a
    * corpus shuffle.
    */
  def sq8SearchTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    val (mn, sc) = sq8Stats(corpus, vecCol)
    val c = sq8Codes(corpus, mn, sc, idCol, vecCol)
      .select(col("vec_id"), sq8Dequant(col("codes"), mn, sc).as("nv"))
    val q = sq8Codes(queries, mn, sc, idCol, vecCol)
      .select(col("vec_id").as("qid"),
        sq8Dequant(col("codes"), mn, sc).as("qv"))
    val scored = c.join(broadcast(q), col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"),
        floor(cosine(col("qv"), col("nv")) * lit(1000000.0))
          .cast("long").as("score"))
    val w = Window.partitionBy("qid")
      .orderBy(col("score").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("qid"), col("vec_id").as("nid"), col("rank"), col("score"))
  }
}
