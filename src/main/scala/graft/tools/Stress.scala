package graft.tools

import graft.core.{Term, TripleDb}
import graft.core.Term._
import graft.dsl._
import graft.engine.Projections
import graft.ops.Dedup
import org.apache.spark.sql.functions
import org.apache.spark.sql.functions._

/** Scale stress runs (beyond the driver's sf0.1 bench):
  *  1. BGP select over the unpivoted lineitem table — 6.6M triples at
  *     sf0.1, 6.6× the reference's 1M-triple "<10 s on a laptop" claim;
  *  2. MinHash near-dup over a 10× replicated+perturbed doc corpus.
  */
object Stress {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    // replication factor: 10x by default; pass a second arg for bigger
    // scale points (id offsets hold up to ~100x)
    val nReps = if (args.length > 1) args(1).toInt else 10
    val spark = graft.Session.build()
    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[stress] $label%-44s ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }

    // 1. big-BGP: lineitem → 11 predicates × 600k rows = 6.6M triples
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .withColumn("li_id", monotonically_increasing_id())
    val db = TripleDb.fromWideTable(li, "lineitem", "li_id",
      fks = Map("l_orderkey" -> "orders", "l_partkey" -> "part",
        "l_suppkey" -> "supplier"))
    println(s"[stress] triple count: ${db.df.count()}")
    time("2-pattern BGP select (full fact table)") {
      val n = Projections.selectDf(db, Seq(
        TriplePattern(V("l"), T(TKeyword("l_orderkey")), V("o")),
        TriplePattern(V("l"), T(TKeyword("l_quantity")), V("q"))),
        Seq(V("o"), V("q"))).count()
      println(s"[stress]   -> $n solutions")
    }
    time("3-pattern selective BGP (returnflag ground)") {
      val n = Projections.selectDf(db, Seq(
        TriplePattern(V("l"), T(TKeyword("l_returnflag")), T(TString("R"))),
        TriplePattern(V("l"), T(TKeyword("l_orderkey")), V("o")),
        TriplePattern(V("l"), T(TKeyword("l_extendedprice")), V("p"))),
        Seq(V("o"), V("p"))).count()
      println(s"[stress]   -> $n solutions")
    }

    // 2. dedup at 10×: replicate docs with id offsets; copies 0-4 keep
    // the text (exact near-dups across replicas), 5-9 drop the last word
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val reps = (0 until nReps).map { r =>
      val txt = if (r < 5) col("text")
        else expr("array_join(slice(split(text, ' '), 1, size(split(text, ' ')) - 1), ' ')")
      docs.select((col("doc_id") + functions.lit(r * 10000000L)).as("doc_id"), txt.as("text"))
    }.reduce(_.unionByName(_))
    println(s"[stress] ${nReps}x stress corpus: ${reps.count()} docs")
    time(s"minhash-LSH near-dup at ${nReps}x corpus") {
      val n = Dedup.minhashNearDupPairs(reps, "doc_id", "text").count()
      println(s"[stress]   -> $n verified near-dup pairs")
    }

    // 2b. graph fixpoint at 10×: ten disjoint copies of the star-schema
    // FK graph (offsets keep each copy's FKs internally consistent) —
    // same diameter, 10× the edges and pairs. Checks that the
    // closure/reachable shapes (left_anti frontier pruning, checkpoint
    // barriers) scale linearly in |pairs|, not in hops × |pairs|.
    def repKeys(df: org.apache.spark.sql.DataFrame,
                offs: Map[String, Long]): org.apache.spark.sql.DataFrame =
      (0 until nReps).map { r =>
        offs.foldLeft(df) { case (d, (c, o)) =>
          d.withColumn(c, col(c) + functions.lit(r * o))
        }
      }.reduce(_.unionByName(_))
    val g10 = TripleDb.union(
      TripleDb.fromWideTable(repKeys(spark.read.parquet(s"$sfDir/orders.parquet"),
        Map("o_orderkey" -> 10000000L, "o_custkey" -> 1000000L)),
        "orders", "o_orderkey", fks = Map("o_custkey" -> "customer")),
      TripleDb.fromWideTable(repKeys(spark.read.parquet(s"$sfDir/customer.parquet"),
        Map("c_custkey" -> 1000000L, "c_nationkey" -> 1000L)),
        "customer", "c_custkey", fks = Map("c_nationkey" -> "nation")),
      TripleDb.fromWideTable(repKeys(spark.read.parquet(s"$sfDir/supplier.parquet"),
        Map("s_suppkey" -> 1000000L, "s_nationkey" -> 1000L)),
        "supplier", "s_suppkey", fks = Map("s_nationkey" -> "nation")),
      TripleDb.fromWideTable(repKeys(spark.read.parquet(s"$sfDir/nation.parquet"),
        Map("n_nationkey" -> 1000L, "n_regionkey" -> 1000L)),
        "nation", "n_nationkey", fks = Map("n_regionkey" -> "region")),
      TripleDb.fromWideTable(repKeys(spark.read.parquet(s"$sfDir/region.parquet"),
        Map("r_regionkey" -> 1000L)), "region", "r_regionkey"))
    val fkPreds = Seq(TKeyword("o_custkey"), TKeyword("c_nationkey"),
      TKeyword("s_nationkey"), TKeyword("n_regionkey"))
    time(s"transitive closure to fixpoint at ${nReps}x edges") {
      val n = graft.ops.Paths.closure(g10, fkPreds).count()
      println(s"[stress]   -> $n closure pairs")
    }
    time(s"3-hop reachability at ${nReps}x edges") {
      val n = graft.ops.Paths.reachable(g10, fkPreds, 3).count()
      println(s"[stress]   -> $n reachable pairs")
    }

    // 2c. graph-scoped paths at 10×: the customer→nation→region chain
    // as per-REGION named graphs (each replica's facts in its own
    // region graphs — nReps × 5 graphs), walked three ways: variable
    // graph scope (the composite-key one-pass form), the equivalent
    // union-graph walk (no scope — measures the composite-key
    // overhead), and a single ground graph (pushed filter). The scoped
    // walk must scale with |edges|, never with |graphs| (no per-graph
    // jobs).
    {
      import graft.core.Term
      val cust10 = repKeys(spark.read.parquet(s"$sfDir/customer.parquet"),
        Map("c_custkey" -> 1000000L, "c_nationkey" -> 1000L))
      val nat10 = repKeys(spark.read.parquet(s"$sfDir/nation.parquet"),
        Map("n_nationkey" -> 1000L, "n_regionkey" -> 1000L))
      def regU(c: org.apache.spark.sql.Column) =
        Term.uriCol(concat(functions.lit("region/"), c.cast("string")))
      val cj = cust10.join(nat10, cust10("c_nationkey") === nat10("n_nationkey"))
      val custQ = cj.select(
        Term.uriCol(concat(functions.lit("customer/"),
          col("c_custkey").cast("string"))).as("s"),
        Term.lit(Term.TKeyword("c_nationkey")).as("p"),
        Term.uriCol(concat(functions.lit("nation/"),
          col("c_nationkey").cast("string"))).as("o"),
        regU(col("n_regionkey")).as("g"))
      val natQ = nat10.select(
        Term.uriCol(concat(functions.lit("nation/"),
          col("n_nationkey").cast("string"))).as("s"),
        Term.lit(Term.TKeyword("n_regionkey")).as("p"),
        regU(col("n_regionkey")).as("o"),
        regU(col("n_regionkey")).as("g"))
      val qdb = graft.core.QuadDb(custQ.unionByName(natQ)).index()
      println(s"[stress] ${nReps}x quad store: ${qdb.df.count()} quads, " +
        s"${nReps * 5} graphs")
      val seq2 = PathSeq(Seq(PathPred(TKeyword("c_nationkey")),
        PathPred(TKeyword("n_regionkey"))))
      time(s"graph-scoped 2-hop path, VAR graph, ${nReps * 5} graphs") {
        val n = Projections.selectDf(qdb, Seq(
          QuadPathPattern(V("c"), seq2, V("r"), V("g"))),
          Seq(V("c"), V("r"), V("g"))).count()
        println(s"[stress]   -> $n scoped pairs")
      }
      time("union-graph 2-hop path (no scope, same edges)") {
        val n = Projections.selectDf(qdb, Seq(
          PathPattern(V("c"), seq2, V("r"))),
          Seq(V("c"), V("r"))).count()
        println(s"[stress]   -> $n pairs")
      }
      time("ground-graph scoped transitive walk (one graph)") {
        val n = Projections.selectDf(qdb, Seq(
          QuadPathPattern(V("c"), PathAltPlus(Seq(TKeyword("c_nationkey"),
            TKeyword("n_regionkey"))), V("x"), T(Term.TUri("region/1")))),
          Seq(V("c"), V("x"))).count()
        println(s"[stress]   -> $n pairs")
      }
      qdb.unpersist()
    }

    // 2c. ANN + embedding near-dup at 10× vectors: replicas are exact
    // duplicates, so LSH buckets get 10× dense — candidate generation
    // grows quadratically per bucket, which is precisely the behavior
    // to watch (banding must keep it bounded).
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val emb10 = (0 until nReps).map { r =>
      emb.select((col("vec_id") + functions.lit(r * 10000000L)).as("vec_id"),
        col("embedding"))
    }.reduce(_.unionByName(_))
    println(s"[stress] ${nReps}x embedding corpus: ${emb10.count()} vectors")
    time(s"LSH ANN top-5 at ${nReps}x corpus") {
      val n = graft.ops.Similarity.lshKnn(emb10,
        emb10.where(col("vec_id") < 10), 5,
        planes = graft.ops.Similarity.md5SignPlanes(8, 4, 64)).count()
      println(s"[stress]   -> $n result rows")
    }
    time(s"embedding near-dup (LSH + exact verify) at ${nReps}x") {
      // raw dup-dense input is quadratic per bucket (documented): at
      // 20x the ~400M-candidate sort-dedup's transient spill exceeds
      // this box's disk (measured — [SPILL_OUT_OF_MEMORY]: No space
      // left on device), so past 10x the stress follows the pipeline
      // the docs prescribe anyway: exact-dedup first (q17's operator),
      // then near-dup over distinct vectors only
      val input = if (nReps <= 10) emb10
        else emb10.groupBy(col("embedding"))
          .agg(functions.min(col("vec_id")).as("vec_id"))
          .select(col("vec_id"), col("embedding"))
      val n = graft.ops.Similarity.cosinePairsLsh(input, 0.45,
        planes = graft.ops.Similarity.md5SignPlanes(8, 4, 64)).count()
      println(s"[stress]   -> $n verified pairs")
    }
    time(s"embedding near-dup OCCUPANCY-SCALED at ${nReps}x") {
      // the 100 TB default: planes derive from the corpus count so
      // per-bucket candidates stay ~occupancy-bounded — the A/B
      // against the fixed-dial run above is the round-12 scale record
      val input = if (nReps <= 10) emb10
        else emb10.groupBy(col("embedding"))
          .agg(functions.min(col("vec_id")).as("vec_id"))
          .select(col("vec_id"), col("embedding"))
      val n = graft.ops.Similarity.cosinePairsLshScaled(input, 0.45,
        planeGen = (l, b, d) =>
          graft.ops.Similarity.md5SignPlanes(l, b, d),
        acceptScurveRecall = true).count()
      println(s"[stress]   -> $n verified pairs (scaled dials)")
    }

    // 2d. multimodal decode at 10×: 10 id-shifted copies of documents →
    // real PNG encode once (test rig), then timed real decode of the
    // full 10× blob set (narrow map, CPU-bound).
    val docs10 = (0 until nReps).map { r =>
      docs.select((col("doc_id") + functions.lit(r * 10000000L)).as("doc_id"))
    }.reduce(_.unionByName(_))
    val blobs10 = graft.ops.Multimodal.syntheticImages(docs10, "doc_id").persist()
    println(s"[stress] ${nReps}x blob corpus: ${blobs10.count()} PNGs")
    time(s"real image decode at ${nReps}x blobs") {
      val n = graft.ops.Multimodal.decodeMeta(blobs10).count()
      println(s"[stress]   -> $n decoded")
    }
    blobs10.unpersist()

    // 2f. round-4 additions at 10×: iterative integer PageRank over 10×
    // the FK edge graph (1.65M edges at sf0.1 — per-round cost must
    // track |edges| once and |nodes| per iteration, not hops×|edges|);
    // inverted index over the 10× corpus (posting-list collect with the
    // pre-collect stopword cap — the cap is what keeps reducers
    // bounded when every replica shares the same vocabulary); mixture +
    // chunking as narrow sanity rows.
    time(s"pageRank 3 rounds at ${nReps}x edges") {
      val edges = repKeys(spark.read.parquet(s"$sfDir/orders.parquet"),
          Map("o_orderkey" -> 10000000L, "o_custkey" -> 1000000L))
        .select(concat(functions.lit("o/"), col("o_orderkey")).as("src"),
          concat(functions.lit("c/"), col("o_custkey")).as("dst"))
        .union(repKeys(spark.read.parquet(s"$sfDir/customer.parquet"),
            Map("c_custkey" -> 1000000L, "c_nationkey" -> 1000L))
          .select(concat(functions.lit("c/"), col("c_custkey")).as("src"),
            concat(functions.lit("n/"), col("c_nationkey")).as("dst")))
      val r = graft.ops.Rank.pageRank(edges, 3)
      println(s"[stress]   -> ${r.count()} ranked nodes")
    }
    time(s"inverted index at ${nReps}x corpus (df cap 78%)") {
      val n = graft.ops.Text.invertedIndex(reps, "doc_id", "text",
        maxDf = reps.count() * 78 / 100).count()
      println(s"[stress]   -> $n indexed tokens")
    }
    time(s"temperature mixture + chunking at ${nReps}x corpus") {
      val reps2 = (0 until nReps).map { r =>
        docs.select((col("doc_id") + functions.lit(r * 10000000L)).as("doc_id"),
          col("source"))
      }.reduce(_.unionByName(_))
      val kept = graft.ops.Sample.temperatureMixture(
        reps2, "source", "doc_id", reps2.count() / 2).count()
      val chunks = graft.ops.Text.chunkTokens(reps, "doc_id", "text",
        size = 40, stride = 30).count()
      println(s"[stress]   -> $kept kept, $chunks chunks")
    }

    // 2g. sketch tier at 10×: CMS and HLL must stay one-pass with a
    // bounded shuffle (d×w / 2^p rows) no matter the corpus size;
    // SemDeDup's within-cell quadratic gets the same dup-dense stress
    // as 2c (exact replicas pack cells 10× denser — the bound to watch).
    {
      val toks10 = reps.select(explode(split(lower(col("text")), " "))
        .as("token"))
      time(s"count-min sketch at ${nReps}x token stream") {
        val n = graft.ops.Sketch.countMin(toks10, "token").sketch.count()
        println(s"[stress]   -> $n sketch counters")
      }
      time(s"hll registers at ${nReps}x token stream") {
        val n = graft.ops.Sketch.hllRegisters(toks10, "token").count()
        println(s"[stress]   -> $n registers")
      }
      // one bounded collect shared by the three centroid-based blocks —
      // the timed sections measure the operators, not a repeated probe
      val centroids = emb10.where(col("vec_id") < 16)
        .orderBy(col("vec_id")).select(col("embedding")).collect()
        .map(_.getSeq[Float](0).toArray).toSeq
      time(s"semdedup at ${nReps}x vectors (16 cells, exact-dup heavy)") {
        val r = graft.ops.Similarity.semDeDup(emb10, centroids, 0.50)
        val dropped = r.where(!col("kept")).count()
        println(s"[stress]   -> ${r.count()} rows, $dropped dropped")
        r.unpersist()
      }
      time(s"pq encode + ADC top-5 at ${nReps}x vectors") {
        val n = graft.ops.Similarity.pqSearchTopK(
          graft.ops.Similarity.pqCodes(emb10, centroids), centroids,
          emb10.where(col("vec_id") < 10), 5).count()
        println(s"[stress]   -> $n result rows")
      }
      time(s"ivf-pq (coarse probe + ADC) at ${nReps}x vectors") {
        val n = graft.ops.Similarity.ivfPqSearchTopK(
          graft.ops.Similarity.ivfPqIndex(emb10, centroids, centroids),
          centroids, centroids, emb10.where(col("vec_id") < 10), 5).count()
        println(s"[stress]   -> $n result rows")
      }
      time(s"bigram surprisal at ${nReps}x corpus") {
        val n = graft.ops.Text.bigramSurprisal(reps, "doc_id", "text").count()
        println(s"[stress]   -> $n scored docs")
      }
      time(s"rendezvous shard at ${nReps}x corpus") {
        val n = graft.ops.Sample.rendezvousShard(reps, "doc_id", 8)
          .groupBy("shard").count().count()
        println(s"[stress]   -> $n shards")
      }
      // round-6 tiers at the same scale point
      time(s"BPE learn (16 merges) + encode at ${nReps}x corpus") {
        val m = graft.ops.Bpe.learnMerges(reps, "text", 16, topWords = 200)
        val n = reps.select(sum(graft.ops.Bpe.tokenCount(col("text"), m)))
          .head().getLong(0)
        println(s"[stress]   -> ${m.size} merges, $n subword tokens")
      }
      time(s"hdr quantile sketch + quantiles at ${nReps}x corpus") {
        val sk = graft.ops.Sketch.hdrSketch(
          reps.select(graft.ops.Text.tokenCount(col("text")).as("v")), "v")
        val q = graft.ops.Sketch.hdrQuantiles(sk,
          Seq("p50" -> 0.5, "p99" -> 0.99)).count()
        println(s"[stress]   -> $q quantiles")
      }
      time(s"url filter at ${nReps}x corpus (every 4th doc blocked)") {
        val inj = reps.select(col("doc_id"),
          when(col("doc_id") % 4 === 0,
            concat(col("text"), functions.lit(" x https://spam.example/p")))
            .otherwise(col("text")).as("text"))
        val n = graft.ops.Text.urlFilter(inj, "doc_id", "text",
          Seq("spam.example")).count()
        println(s"[stress]   -> $n survivors")
      }
    }

    // 2d-6. durable-index maintenance at 10×: build once over the
    // replicated corpus, tombstone-delete 10%, compact, probe — the
    // delete/compact costs must track the DELETE's size, not the
    // corpus (compaction rewrites only files holding deleted ids)
    {
      val idxDir = java.nio.file.Files
        .createTempDirectory("graft_stress_del").toString
      time(s"minhash index build+save at ${nReps}x corpus") {
        Dedup.minhashIndexSave(
          Dedup.minhashIndex(reps, "doc_id", "text").repartition(32), idxDir)
      }
      time(s"tombstone delete 10% of ${nReps}x index") {
        Dedup.minhashIndexDelete(
          reps.where(col("doc_id") % 10 === 3).select(col("doc_id")),
          idxDir, idCol = "doc_id")
      }
      time(s"compact ${nReps}x index (10% deleted)") {
        Dedup.minhashIndexCompact(spark, idxDir)
      }
      time(s"probe 1/${nReps} batch vs compacted index") {
        val n = Dedup.minhashNearDupAgainst(
          docs.select(col("doc_id") + functions.lit(990000000L) as "doc_id",
            col("text")),
          "doc_id", "text", Dedup.minhashIndexLoad(spark, idxDir)).count()
        println(s"[stress]   -> $n cross pairs")
      }
    }

    // 2d-7. MJPEG-AVI decode at 10×: container walk + per-frame JPEG
    {
      val ids10 = (0 until nReps).map(r =>
          docs.select((col("doc_id") + functions.lit(r * 10000000L))
            .as("id")))
        .reduce(_.unionByName(_))
      val avis = graft.ops.Multimodal.syntheticAvis(ids10, "id")
        .toDF().persist()
      println(s"[stress] ${nReps}x AVI corpus: ${avis.count()} containers")
      import spark.implicits._
      val blobs = avis.as[graft.ops.Multimodal.MediaBlob]
      time(s"avi decode (RIFF walk) at ${nReps}x") {
        val n = graft.ops.Multimodal.decodeMeta(blobs).count()
        println(s"[stress]   -> $n decoded")
      }
      time(s"avi frame sampling (ImageIO JPEG) at ${nReps}x") {
        val n = graft.ops.Multimodal.sampleAviFrames(blobs, 2).count()
        println(s"[stress]   -> $n frames")
      }
      avis.unpersist()
    }

    // 2d-8. ExactSubstr under hot-span skew: ONE boilerplate span
    // planted into ~33% of the 10× corpus (the license-header case the
    // op exists for). Round 7's keeper rule was `row_number() over
    // (partition by h)` — every occurrence of the hot span's windows
    // lands in one window partition = one straggler task, and AQE
    // cannot split window partitions. The round-8 rule (map-side-
    // combinable min(struct) + AQE-splittable equi-join) must keep the
    // max task duration within a small factor of the median; a
    // straggler shows up as max >> median.
    {
      val hot = "begin license header " + (1 to 26).map(i => s"hl$i")
        .mkString(" ") + " end license header"
      val seeded = reps.select(col("doc_id"),
        when(col("doc_id") % 3 === 0, concat(functions.lit(hot + " "), col("text")))
          .otherwise(col("text")).as("text"))
      val durations = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (e.taskInfo != null) durations.add(e.taskInfo.duration)
      }
      spark.sparkContext.addSparkListener(listener)
      time(s"exactsubstr spans, hot span in 33% of ${nReps}x corpus") {
        val n = Dedup.repeatedSpans(seeded, "doc_id", "text", k = 20).count()
        println(s"[stress]   -> $n repeated spans")
      }
      spark.sparkContext.removeSparkListener(listener)
      import scala.jdk.CollectionConverters._
      val ds = durations.asScala.toArray.sorted
      if (ds.nonEmpty) {
        val med = math.max(1L, ds(ds.length / 2))
        println(f"[stress]   -> ${ds.length} tasks, median ${med} ms, " +
          f"max ${ds.last} ms (max/median ${ds.last.toDouble / med}%.1f)")
      }
    }

    // 2d-9. distributed-BPE depth: drive learnMergesDistributed to 120
    // merges on the 10× corpus. Per-iteration cost must be bounded by
    // the DISTINCT-PAIR space (the dict), not the corpus, and lineage
    // must stay flat under the localCheckpoint discipline — measured as
    // the INCREMENTAL merges/sec across depth windows (30→60→120):
    // deltas cancel the one-time corpus word count, so a growing
    // per-merge cost (lineage creep or dict-size sensitivity) shows up
    // directly as decaying incremental rates.
    {
      // depths stay under this corpus's pair-space exhaustion (~89
      // merges on the synthetic vocabulary) so every window is a full
      // window; merge counts are printed so a cap is visible, not
      // silent (No-silent-caps rule)
      def learnTimed(n: Int): (Double, Int) = {
        val t0 = System.nanoTime()
        val m = graft.ops.Bpe.learnMergesDistributed(reps, "text", n)
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"[stress]   -> depth $n%3d: ${m.size} merges in $dt%.2f s")
        (dt, m.size)
      }
      time(s"distributed BPE to depth 80 at ${nReps}x corpus") {
        val (t20, n20) = learnTimed(20)
        val (t40, n40) = learnTimed(40)
        val (t80, n80) = learnTimed(80)
        val w1 = n20 / t20
        val w2 = (n40 - n20) / (t40 - t20)
        val w3 = (n80 - n40) / (t80 - t40)
        println(f"[stress]   -> merges/sec: first-20 $w1%.1f, " +
          f"21-40 incremental $w2%.1f, 41-80 incremental $w3%.1f " +
          f"(flat ≈ no lineage creep, no checkpoint-block leak)")
      }
    }

    // 2e. dictionary-encoded store A/B (the REAL operator, DictDb): the
    // same BGPs over the 6.6M-triple fact store, struct-keyed vs
    // dict-encoded, each repeated 5× — the dict's one-time encode (dict
    // build + collision check) amortizes across the query stream, which
    // is the workload the layout exists for. Dict timings include the
    // decode joins at the plan edge (end-to-end parity with the struct
    // path). Round 3's synthetic key-width isolation measured ~2× on
    // the join stage; this measures the shipped operator.
    {
      val dbIdx = db.index()
      dbIdx.df.count() // materialize the shared cache before timing
      val wide = Seq( // 600k-solution join, 2 vars decoded
        TriplePattern(V("l"), T(TKeyword("l_orderkey")), V("o")),
        TriplePattern(V("l"), T(TKeyword("l_quantity")), V("q")))
      val selective = Seq( // filter + 2 joins, ~150k solutions
        TriplePattern(V("l"), T(TKeyword("l_returnflag")), T(TString("R"))),
        TriplePattern(V("l"), T(TKeyword("l_orderkey")), V("o")),
        TriplePattern(V("l"), T(TKeyword("l_extendedprice")), V("p")))
      def runs(d: => org.apache.spark.sql.DataFrame): Unit =
        for (_ <- 1 to 5) d.count()
      time("5x 2-pattern BGP, struct keys (indexed)") {
        runs(Projections.selectDf(dbIdx, wide, Seq(V("o"), V("q"))))
      }
      time("5x selective BGP, struct keys (indexed)") {
        runs(Projections.selectDf(dbIdx, selective, Seq(V("o"), V("p"))))
      }
      val dict = time("dict encode (one-time: dict + collision check)") {
        val d = dbIdx.dictEncode(); d.triples.count(); d
      }
      time("5x 2-pattern BGP, dict LONG keys (decode incl.)") {
        runs(Projections.selectDf(dict, wide, Seq(V("o"), V("q"))))
      }
      time("5x selective BGP, dict LONG keys (decode incl.)") {
        runs(Projections.selectDf(dict, selective, Seq(V("o"), V("p"))))
      }
      // ids-only: the downstream-op form (aggregate/dedup/count on ids,
      // decode only the tiny final output) — pure fold, no decode joins
      time("5x selective BGP, dict keys, ids only") {
        runs(graft.engine.BgpCompiler.compileDict(dict, selective)
          .select("o", "p"))
      }
      // dict var-var FILTER: the plan rehydrates only the DISTINCT
      // referenced-id pairs (quantity 1-50 × linenumber 1-7 → ≤350
      // pairs) and semi-joins back. Decode-included end-to-end shape.
      val fvvPats = Seq(
        TriplePattern(V("l"), T(TKeyword("l_quantity")), V("q")),
        TriplePattern(V("l"), T(TKeyword("l_linenumber")), V("m")))
      time("5x var-var FILTER, dict (distinct-pair rehydration)") {
        runs(Projections.selectDf(dict,
          fvvPats :+ FilterVarCmp(V("q"), Gt, V("m")), Seq(V("l"))))
      }
      dict.unpersist(); dbIdx.unpersist()
    }

    // 3. hot-predicate skew: 90% of a synthetic orders table points at
    // one customer (the rdf:type-skew analogue, SURVEY §4.2). With the
    // skew thresholds at cluster-realistic ratios, AQE must split the
    // hot partition (skew=true) instead of serializing it on one task.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1m")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256k")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    time("skewed FK BGP join (90% hot customer)") {
      val skewed = spark.range(500000).select(
        col("id").as("o_orderkey"),
        when(rand(7) < 0.9, 0L).otherwise(col("id") % 15000).as("o_custkey"),
        md5(col("id").cast("string")).as("o_comment"))
      val cust = spark.read.parquet(s"$sfDir/customer.parquet")
      val sdb = TripleDb.union(
        TripleDb.fromWideTable(skewed, "orders", "o_orderkey",
          fks = Map("o_custkey" -> "customer")),
        TripleDb.fromWideTable(cust, "customer", "c_custkey"))
      // carry the incompressible comment through the hot join — that is
      // what makes the skewed partition big in bytes, not just rows
      val q = Projections.selectDf(sdb, Seq(
        TriplePattern(V("o"), T(TKeyword("o_custkey")), V("c")),
        TriplePattern(V("o"), T(TKeyword("o_comment")), V("cm")),
        TriplePattern(V("c"), T(TKeyword("c_name")), V("n"))),
        Seq(V("o"), V("n"), V("cm")))
      // act on THIS df (count() plans a separate query execution whose
      // column pruning also drops the payload that makes the skew real)
      val agg = q.select(count(functions.lit(1)).as("n"),
        max(length(col("cm.lex"))).as("w"))
      val n = agg.collect()(0).getLong(0)
      val planStr = agg.queryExecution.executedPlan.toString
      println(s"[stress]   -> $n rows; AQE skew split: " +
        planStr.contains("skew=true"))
      if (!planStr.contains("skew=true"))
        println(planStr.linesIterator
          .filter(l => l.contains("Join") || l.contains("AQEShuffleRead"))
          .mkString("[stress] plan joins:\n", "\n", ""))
    }
    spark.stop()
  }
}
