package graft

import graft.ops.{Dedup, Multimodal, Similarity, Text}
import graft.streaming.Events
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** LLM-pipeline operator tests over the driver's sf0.001 tables. */
class OpsSpec extends GraftSpec {

  val dir = "/root/testdata/sf0.001"
  def docs = Tables.t(spark, dir, "documents")
  def emb = Tables.t(spark, dir, "embeddings")

  test("tokens: whitespace-robust — tabs, newlines, runs, edges") {
    import spark.implicits._
    val messy = Seq(
      "Plain single spaced",
      "  leading and trailing  ",
      "tab\tseparated\twords",
      "line\nbreaks\r\nand\n\nblanks",
      "multi   space    runs",
      "").toDF("text")
    val got = messy.select(Text.tokens(col("text")).as("t"))
      .collect().map(_.getSeq[String](0).toList).toList
    assert(got == List(
      List("plain", "single", "spaced"),
      List("leading", "and", "trailing"),
      List("tab", "separated", "words"),
      List("line", "breaks", "and", "blanks"),
      List("multi", "space", "runs"),
      List("")))
    // tokenCount on messy text counts words, not separator artifacts
    val counts = messy.select(Text.tokenCount(col("text")).as("n"))
      .collect().map(_.getLong(0)).toList
    assert(counts == List(3, 3, 3, 4, 3, 1))
  }

  test("minhash-LSH near-dup pairs == exact all-pairs Jaccard >= 0.5") {
    val lsh = Dedup.minhashNearDupPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.exactJaccardPairs(docs, "doc_id", "text", 3, 1, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "corpus should contain planted near-dups")
    assert(lsh == exact)
  }

  test("simhash at hamming<=3: precision >= 0.7, recall >= 0.7 vs exact J>=0.5") {
    // simhash on ~50-token docs cannot fully separate J≈0.9 near-dups
    // from natural pairs (observed: planted pairs span hamming 0-9,
    // naturals start ~5) — it is a cheap candidate stage, not an exact
    // decision; pin its operating point instead.
    val planted = Dedup.exactJaccardPairs(docs, "doc_id", "text", 3, 1, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = Dedup.simhashNearDupPairs(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(planted.nonEmpty && got.nonEmpty)
    val precision = (got & planted).size.toDouble / got.size
    val recall = (got & planted).size.toDouble / planted.size
    info(s"simhash@3: precision=$precision recall=$recall " +
      s"(${got.size} found, ${planted.size} planted)")
    // measured on this corpus: precision 0.78, recall 0.75 — the
    // fingerprints are 64-bit summaries of ~50-token docs, so a few
    // natural pairs land within 3 bits; downstream exact verification
    // (as in minhashNearDupPairs) is the precision stage.
    assert(precision >= 0.7 && recall >= 0.7)
  }

  test("ivfKnn recall >= 0.5 of brute-force top-5") {
    val q = emb.where(col("vec_id") < 20)
    val brute = Similarity.bruteKnn(emb, q, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.ivfKnn(emb, q, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & approx).size.toDouble / brute.size
    info(s"ivfKnn recall@5 = $recall")
    assert(recall >= 0.5)
  }

  test("lshKnn recall >= 0.6 of brute-force top-5") {
    val q = emb.where(col("vec_id") < 20)
    val brute = Similarity.bruteKnn(emb, q, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshKnn(emb, q, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & approx).size.toDouble / brute.size
    info(s"lshKnn recall@5 = $recall")
    assert(recall >= 0.6)
  }

  test("cosinePairsLsh finds the high-cosine pairs the exact scan finds") {
    // at the near-dup threshold the s-curve recall is ~1; on this corpus
    // the exact scan finds a small planted/clustered set
    val exact = Similarity.cosinePairs(emb, 0.45)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.cosinePairsLsh(emb, 0.45)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "verification must keep only true pairs")
    val recall = if (exact.isEmpty) 1.0 else (lsh & exact).size.toDouble / exact.size
    info(s"cosinePairsLsh recall at 0.45: $recall (${exact.size} exact pairs)")
    assert(recall >= 0.5)
  }

  test("occupancy-scaled LSH sizing: integer planes, recall-held tables") {
    // planes: smallest b in [4,24] with 64·2^b >= n — floors at the
    // fixed dials for small corpora, so existing results are unchanged
    assert(Similarity.lshPlanesFor(0) == 4)
    assert(Similarity.lshPlanesFor(1) == 4)
    assert(Similarity.lshPlanesFor(500) == 4)     // sf0.01 — old 8×4 exactly
    assert(Similarity.lshPlanesFor(1024) == 4)    // 64·2^4 boundary
    assert(Similarity.lshPlanesFor(1025) == 5)
    assert(Similarity.lshPlanesFor(2000) == 5)    // sf0.1
    assert(Similarity.lshPlanesFor(20000) == 9)   // sf1
    assert(Similarity.lshPlanesFor(1000000000L) == 24) // the 1e9 clamp
    // the hardcoded table lookup (mirrored literally in the q41 SQL
    // oracle) must equal its own derivation: L = ceil(ln(1-R)/ln(1-p^b))
    // at design cosine 0.9, target recall 0.9, floored at 8 tables
    val p = 1.0 - math.acos(0.9) / math.Pi
    for (b <- 4 to 24) {
      val derived = math.max(8,
        math.ceil(math.log(1 - 0.9) / math.log(1 - math.pow(p, b))).toInt)
      assert(Similarity.lshTablesFor(b) == derived,
        s"lshTablesByPlanes($b) drifted from the recall formula")
    }
    intercept[IllegalArgumentException](Similarity.lshTablesFor(3))
  }

  test("cosinePairsLshScaled at small n == fixed-dial result exactly") {
    // below the first occupancy boundary the sizing lands on 4 planes ×
    // 8 tables — the old fixed dials — so the scaled default changes
    // NOTHING at oracle scale (q41's hash stays put), while large
    // corpora get occupancy-bounded buckets
    val planes = Similarity.md5SignPlanes(8, 4, 64)
    val fixed = Similarity.cosinePairsLsh(emb, 0.45, planes = planes)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val scaled = Similarity.cosinePairsLshScaled(emb, 0.45,
        planeGen = (l, b, d) => Similarity.md5SignPlanes(l, b, d),
        acceptScurveRecall = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(scaled == fixed)
  }

  test("scaled-regime guard + recall floor AT the sf1 dials (9 planes " +
      "x 9 tables): design-point pairs survive occupancy scaling") {
    import spark.implicits._
    // the round-12 verdict footnote: the small-corpus floor (b = 4 =
    // the fixed dials) cannot regress-test the SCALED regime, where
    // more planes cut per-pair match probability and the table lookup
    // must buy recall back. Force sf1's exact dials (b = 9, L = 9)
    // on a spec-sized corpus via the occupancy dial: n = 600, occ = 2
    // → ceil(log2(300)) = 9 planes; design 0.9 → 9 tables.
    val rnd = new scala.util.Random(7)
    def unit(): Array[Float] = {
      val v = Array.fill(64)(rnd.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    val bases = (0 until 300).map(_ => unit())
    // planted near-dup: a slight rotation of each base, renormalized —
    // cosine lands ~0.95 (above the 0.9 design point)
    def jig(v: Array[Float]): Array[Float] = {
      val w = unit()
      val m = v.zip(w).map { case (a, b) => a + 0.32f * b }
      val n = math.sqrt(m.map(x => x.toDouble * x).sum).toFloat
      m.map(_ / n)
    }
    val rows = bases.zipWithIndex.flatMap { case (v, i) =>
      Seq((i.toLong, v), ((i + 300).toLong, jig(v))) }
    val corpus = rows.toDF("vec_id", "embedding")
    assert(Similarity.lshPlanesFor(600, occupancy = 2) == 9) // sf1's b
    assert(Similarity.lshTablesFor(9) == 9)                  // sf1's L
    val found = Similarity.cosinePairsLshScaled(corpus, 0.45,
        corpusCount = 600, occupancy = 2, acceptScurveRecall = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // recall floor at the DESIGN point: planted pairs whose exact
    // cosine clears 0.9 must surface with >= 0.9 probability — the
    // contract the guard advertises, measured at the scaled dials the
    // small-corpus floor never reaches
    def cos(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) => x.toDouble * y }.sum /
        (math.sqrt(a.map(x => x.toDouble * x).sum) *
          math.sqrt(b.map(x => x.toDouble * x).sum))
    val design = (0 until 300).filter(i => cos(bases(i), jig2(rows, i)) >= 0.9)
    val hit = design.count(i => found.contains((i.toLong, (i + 300).toLong)))
    info(s"scaled-dial recall at design point: $hit/${design.size}")
    assert(design.size > 200) // the fixture actually plants design-point pairs
    assert(hit.toDouble / design.size >= 0.9)
    // the guard itself: a skimmed low threshold without the opt-in is loud
    val ex = intercept[IllegalArgumentException](
      Similarity.cosinePairsLshScaled(corpus, 0.45, corpusCount = 600))
    assert(ex.getMessage.contains("designCosine"))
  }

  private def jig2(rows: Seq[(Long, Array[Float])], i: Int): Array[Float] =
    rows.find(_._1 == i + 300L).get._2

  test("cosine of identical vectors is 1.0; orthogonal is 0.0") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(1.0f, 0.0f), Array(1.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f), Array(0.0f, 1.0f))
    ).toDF("id", "a", "b")
    val r = df.select(col("id"), Similarity.cosine(col("a"), col("b")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(r(1L) - 1.0) < 1e-12 && math.abs(r(2L)) < 1e-12)
  }

  test("banded range join finds exactly the within-delta pairs") {
    import spark.implicits._
    val d = Seq(
      (1L, 10L, 100L), (2L, 10L, 150L), (3L, 10L, 260L), // 1-2 within 60; 2-3 not (110)
      (4L, 10L, 259L),                                   // 3-4 within 60 (1)
      (5L, 99L, 120L)                                    // other key, never pairs
    ).toDF("id", "key", "v")
    val got = ops.RangeJoin.bandPairs(d, "id", "key", "v", 60L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 2L), (3L, 4L))) // |100-150|=50, |260-259|=1; rest > 60
  }

  test("bounded reachability: k-hop pairs over a chain") {
    val d = db(
      (k("a"), k("next"), k("b")),
      (k("b"), k("next"), k("c")),
      (k("c"), k("next"), k("d")),
      (k("x"), k("other"), k("y")))
    def pairs(h: Int) = ops.Paths.reachable(d, Seq(k("next")), h)
      .collect().map(r => (graft.core.Term.fromRow(r.getStruct(0)),
        graft.core.Term.fromRow(r.getStruct(1)))).toSet
    assert(pairs(1) == Set((k("a"), k("b")), (k("b"), k("c")), (k("c"), k("d"))))
    assert(pairs(3) == Set(
      (k("a"), k("b")), (k("b"), k("c")), (k("c"), k("d")),
      (k("a"), k("c")), (k("b"), k("d")), (k("a"), k("d"))))
  }

  test("transitive closure converges to the full reachability set") {
    val d = db(
      (k("a"), k("next"), k("b")),
      (k("b"), k("next"), k("c")),
      (k("c"), k("next"), k("d")),
      (k("d"), k("next"), k("e")))
    val got = ops.Paths.closure(d, Seq(k("next")))
      .collect().map(r => (graft.core.Term.fromRow(r.getStruct(0)),
        graft.core.Term.fromRow(r.getStruct(1)))).toSet
    val nodes = Seq("a", "b", "c", "d", "e")
    val expected = (for {
      i <- nodes.indices; j <- nodes.indices if i < j
    } yield (k(nodes(i)), k(nodes(j)))).toSet
    assert(got == expected)
  }

  test("substring dedup: cross-doc and within-doc spans excised, first kept") {
    import spark.implicits._
    val fix = Seq(
      (1L, "a b c d e f g h"),           // first occurrence of "a b c d e f"
      (2L, "x y a b c d e f q"),         // later occurrence — excised
      (3L, "p q r s p q r s"),           // within-doc repeat of "p q r s"
      (4L, "too short"),                 // < k tokens: untouched
      (5L, "a b c d e f")                // the whole doc is a later copy
    ).toDF("doc_id", "text")

    val spans = Dedup.repeatedSpans(fix, "doc_id", "text", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // doc 2: windows 2,3,4 duplicated → one maximal span of tokens 2..7
    // doc 3: window 4 duplicated → tokens 4..7
    // doc 5: windows 0,1,2 duplicated → tokens 0..5 (everything)
    assert(spans == Set((2L, 2L, 7L), (3L, 4L, 7L), (5L, 0L, 5L)))

    val clean = Dedup.exciseRepeatedSpans(fix, "doc_id", "text", k = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(clean(1L) == (("a b c d e f g h", 8L, 0L)), "first occurrence intact")
    assert(clean(2L) == (("x y q", 3L, 6L)))
    assert(clean(3L) == (("p q r s", 4L, 4L)))
    assert(clean(4L) == (("too short", 2L, 0L)))
    assert(clean(5L) == (("", 0L, 6L)), "fully-excised doc returns empty text")
  }

  test("learned quality classifier separates planted junk from text") {
    import spark.implicits._
    val spam = "buy now free prize click here winner bonus"
    val good = Seq(
      "the quick brown fox jumps over the lazy dog near the river bank",
      "a study of language models shows that data quality matters most",
      "the weather in the valley was mild and the harvest came early",
      "she walked to the market and bought fresh bread for the family")
    val docs = (good.zipWithIndex.map { case (t, i) => (i.toLong, t, 1L) } ++
      (10L to 13L).map(i => (i, s"$spam $spam doc$i", 0L))).toDF("doc_id", "text", "label")
    val w = Text.trainQualityWeights(docs, "text", "label", buckets = 256)
    assert(w.length == 256)
    val scored = Text.scoreQuality(docs, "doc_id", "text", w)
      .select("doc_id", "label", "score", "pred")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    scored.foreach { case (id, label, score, pred) =>
      assert(pred == label, s"doc $id: score $score pred $pred != label $label")
    }
    // unseen doc built from the good vocabulary still scores positive
    val fresh = Seq((99L, "the fox walked to the river and the dog followed"))
      .toDF("doc_id", "text")
    val f = Text.scoreQuality(fresh, "doc_id", "text", w).select("pred").head.getLong(0)
    assert(f == 1L)
  }

  test("exact dedup groups identical content") {
    import spark.implicits._
    val d = Seq((1L, "same text"), (2L, "same text"), (3L, "other")).toDF("doc_id", "text")
    val r = Dedup.exactDedup(d, "doc_id", md5(col("text")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(r == Set((1L, 2L), (3L, 1L)))
  }

  test("language ID classifies genuinely multilingual text") {
    // the synthetic corpus's `lang` column is a label only — every text
    // shares one English-ish vocabulary — so agreement with it is not a
    // meaningful target; test on real sentences instead.
    import spark.implicits._
    val d = Seq(
      (1L, "the cat sat on the mat and it was happy with this"),
      (2L, "der hund ist nicht zu hause und das ist gut so"),
      (3L, "le chat est dans la maison et les enfants sont pour lui"),
      (4L, "el perro es una mascota que vive con los humanos por siglos"),
      (5L, "今天天气很好我们去公园散步")
    ).toDF("doc_id", "text")
    val r = d.select(col("doc_id"), Text.langId(col("text")).as("p"))
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(r == Map(1L -> "en", 2L -> "de", 3L -> "fr", 4L -> "es", 5L -> "zh"))
  }

  test("trained language ID: held-out accuracy floor on a document-" +
      "diverse multilingual fixture (the recall-floor discipline — " +
      "latency and oracle tests cannot see classifier quality)") {
    import spark.implicits._
    val langs = Seq("en", "de", "fr", "es")
    val vocab = Map(
      "en" -> Seq("the", "and", "house", "water", "friend", "morning",
        "quickly", "bright", "children", "garden", "window", "story"),
      "de" -> Seq("und", "das", "haus", "wasser", "freund", "morgen",
        "schnell", "hell", "kinder", "garten", "fenster", "geschichte"),
      "fr" -> Seq("et", "la", "maison", "eau", "ami", "matin",
        "vite", "clair", "enfants", "jardin", "fenetre", "histoire"),
      "es" -> Seq("y", "la", "casa", "agua", "amigo", "manana",
        "rapido", "claro", "ninos", "jardin", "ventana", "historia"))
    // md5-indexed word draws: every doc is a DIFFERENT word sequence,
    // so the held-out half is genuinely unseen text, not memorized
    def md5idx(seed: String, m: Int): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(seed.getBytes("UTF-8"))
      val u32 = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      (u32 % m).toInt
    }
    val docs = (0L until 400L).map { id =>
      val lg = langs((id % 4).toInt)
      val text = (0 until 10)
        .map(j => vocab(lg)(md5idx(s"$id#$j", 12))).mkString(" ")
      (id, lg, text)
    }.toDF("doc_id", "lang", "text")
    // split in BLOCKS of four so every class appears on both sides
    // (an even/odd split aliases with lang = doc_id % 4 — the training
    // half would never see two of the classes)
    val w = Text.trainLangWeights(docs.where(col("doc_id") % 8 < 4),
      "text", "lang", langs, buckets = 512)
    val held = Text.langIdTrained(docs.where(col("doc_id") % 8 >= 4),
      "text", w, langs)
    val (right, total) = held.select(
        sum(when(col("pred_lang") === col("lang"), 1L).otherwise(0L)),
        count(lit(1)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).head
    assert(total == 200L)
    assert(right >= 190L, s"held-out accuracy $right/$total below 0.95")
    // Han override still wins over any trained score
    val zh = Text.langIdTrained(
      Seq((1L, "今天天气很好")).toDF("doc_id", "text"), "text", w, langs)
    assert(zh.select("pred_lang").head().getString(0) == "zh")
  }

  test("hashedCharNgramFeatures expression ≡ the HOF formulation it " +
      "replaced (round 15): bit-identical buckets, identical emission " +
      "order, across edge and unicode inputs") {
    import spark.implicits._
    val buckets = 512
    // the pre-round-15 HOF formulation, verbatim
    def hofFeatures(text: org.apache.spark.sql.Column)
        : org.apache.spark.sql.Column = {
      def b(c: org.apache.spark.sql.Column) =
        conv(substring(md5(c), 1, 8), 16, 10).cast("long") % buckets
      val t = lower(text)
      val n = length(t)
      val empty = array().cast("array<bigint>")
      val bi = when(n >= 2,
        transform(sequence(lit(1), n - 1), i => b(t.substr(i, lit(2)))))
        .otherwise(empty)
      val tri = when(n >= 3,
        transform(sequence(lit(1), n - 2), i => b(t.substr(i, lit(3)))))
        .otherwise(empty)
      concat(bi, tri)
    }
    val d = Seq("", "a", "ab", "abc", "The Quick Brown Fox",
      "mañana früh 今天天气 mixed", "  spaces  and\ttabs\nnewlines ",
      // supplementary-plane chars: the HOF's substr counts CODE
      // POINTS, so the expression must too — a UTF-16-unit walk gets
      // both the gram count and gram bytes wrong here (round-16
      // ADVICE fix; surrogate pairs must never split)
      "a😀b𝔘c", "😀😁😂",
      "x" * 300).toDF("text")
    val rows = d.select(
        Text.hashedCharNgramFeatures(col("text"), buckets).as("nu"),
        hofFeatures(col("text")).as("old"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1),
        s"expression diverged from the HOF formulation: $r")
    }
  }

  test("winnowing: docs sharing a long substring share a fingerprint hash") {
    import spark.implicits._
    val shared = "the quick brown fox jumps over the lazy dog again and again"
    val d = Seq(
      (1L, "PREFIX AAA " + shared + " SUFFIX BBB"),
      (2L, "other start text " + shared + " other ending"),
      (3L, "completely unrelated content with nothing in common here at all")
    ).toDF("doc_id", "text")
    val fps = d.select(col("doc_id"), Text.winnowFingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1).split("~").toSet).toMap
    assert((fps(1L) & fps(2L)).nonEmpty, "shared substring must share a hash")
    assert((fps(1L) & fps(3L)).isEmpty, "unrelated docs should not collide")
  }

  test("word chunks: single-pass expression ≡ the HOF column formulation") {
    import spark.implicits._
    // the exact pre-round-5 stripBoilerplate chunking (kept as the
    // semantic reference — the q71 oracle replays the same rule)
    def hofChunks(text: org.apache.spark.sql.Column, w: Int) = {
      val words = split(text, " ")
      val nChunks = ceil(size(words).cast("double") / w).cast("int")
      transform(sequence(lit(0), nChunks - 1),
        i => array_join(slice(words, i * w + 1, lit(w)), " "))
    }
    val edge = Seq((0L, ""), (1L, "one"), (2L, "a b"), (3L, "a b c"),
      (4L, "a b c d"), (5L, "w x y z q r s t u v")).toDF("id", "text")
    for (w <- Seq(1, 2, 3, 10)) {
      val both = edge.select(col("id"),
          graft.functions.TextExpressions.wordChunks(
            split(col("text"), " "), w, w).as("fast"),
          hofChunks(col("text"), w).as("ref"))
        .collect()
      both.foreach(r => assert(r.getSeq[String](1) == r.getSeq[String](2),
        s"mismatch id=${r.getLong(0)} w=$w"))
    }
    // fixture corpus at the q71 default window
    val cmp = docs.select(
      graft.functions.TextExpressions.wordChunks(
        split(col("text"), " "), 10, 10).as("fast"),
      hofChunks(col("text"), 10).as("ref"))
    assert(cmp.where(to_json(col("fast")) =!= to_json(col("ref"))).isEmpty)
  }

  test("winnowing: single-pass expression ≡ the HOF column formulation") {
    import spark.implicits._
    // the exact transform/sequence/array_min formulation the op used
    // before round 5 (O(L²) interpreted md5s — replaced, kept here as
    // the semantic reference the oracle also replays)
    def hofWinnow(text: org.apache.spark.sql.Column, k: Int, w: Int) = {
      val hashes = transform(
        sequence(lit(0), greatest(lit(1), length(text) - (k - 1)) - 1),
        i => md5(text.substr(i + 1, lit(k))))
      val mins = transform(
        sequence(lit(0), greatest(lit(1), size(hashes) - (w - 1)) - 1),
        j => array_min(slice(hashes, j + 1, lit(w))))
      array_join(array_sort(array_distinct(mins)), "~")
    }
    val edge = Seq((0L, ""), (1L, "a"), (2L, "exactly16chars!!"),
      (3L, "seventeen chars!!"), (4L, "short"),
      (5L, "the quick brown fox jumps over the lazy dog")).toDF("id", "text")
    for ((kk, ww) <- Seq((16, 8), (4, 3), (1, 1))) {
      val both = edge.select(col("id"),
          Text.winnowFingerprint(col("text"), kk, ww).as("fast"),
          hofWinnow(col("text"), kk, ww).as("ref"))
        .collect()
      both.foreach(r => assert(r.getString(1) == r.getString(2),
        s"mismatch id=${r.getLong(0)} k=$kk w=$ww"))
    }
    // fixture corpus, default params: byte-identical across all docs
    val cmp = docs.select(Text.winnowFingerprint(col("text")).as("fast"),
      hofWinnow(col("text"), 16, 8).as("ref"))
    assert(cmp.where(col("fast") =!= col("ref")).isEmpty)
    // null text stays null
    val n = Seq((1L, null: String)).toDF("id", "text")
      .select(Text.winnowFingerprint(col("text"))).collect()
    assert(n(0).isNullAt(0))
  }

  test("fingerprint is invariant to case/punct/whitespace noise") {
    import spark.implicits._
    val d = Seq((1L, "Hello,   World!"), (2L, "hello world")).toDF("doc_id", "text")
    val fps = d.select(Text.fingerprint(col("text"))).collect().map(_.getString(0))
    assert(fps(0) == fps(1))
  }

  test("multimodal: resize bounds payloads, preserves small ones") {
    val blobs = Multimodal.textAsBlobs(docs, "doc_id", "text")
    val resized = Multimodal.resize(blobs, 100).collect()
    assert(resized.forall(_.payload.length <= 100))
    val origSmall = blobs.collect().filter(_.payload.length < 100).map(_.id).toSet
    assert(resized.filter(_.payload.length < 100).map(_.id).toSet == origSmall)
  }

  test("multimodal: stub decode meta is deterministic and batch-shaped") {
    val meta = Multimodal.decodeMeta(Multimodal.textAsBlobs(docs, "doc_id", "text"))
    val m = meta.collect()
    assert(m.length == docs.count())
    assert(m.forall(x => x.width == (x.byte_len % 640).toInt &&
      x.height == ((x.byte_len * 7) % 480).toInt))
  }

  test("connected components: min-label groups, dropSet keeps the min") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (9L, 3L)).toDF("ia", "ib")
    val comp = graft.ops.Components.connected(pairs, "ia", "ib")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L, 5L -> 5L, 6L -> 5L))
    val drops = graft.ops.Components.dropSet(pairs, "ia", "ib")
      .collect().map(_.getLong(0)).toSet
    assert(drops == Set(2L, 3L, 9L, 6L))
    // a longer chain exercises multiple propagation rounds
    val chain = (0L until 12L).map(i => (i, i + 1)).toDF("ia", "ib")
    val cc = graft.ops.Components.connected(chain, "ia", "ib")
      .collect().map(r => r.getLong(1)).toSet
    assert(cc == Set(0L))
  }

  test("asof join tolerance: stale matches become NULL, fresh ones stay") {
    import spark.implicits._
    val left = Seq((1L, 100L, 10L), (1L, 200L, 11L), (2L, 50L, 12L))
      .toDF("k", "ts", "id")
    val right = Seq((1L, 70L, 900L), (2L, 49L, 901L)).toDF("k", "ts", "id")
    val got = graft.ops.AsOf.join(left, right, Seq("k"), "ts", "id", "id",
        tolerance = 40L)
      .select("id", "asof_id").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    // left@100: right@70, diff 30 ≤ 40 → match; left@200: diff 130 → NULL;
    // left@50 (key 2): right@49, diff 1 → match
    assert(got == Map(10L -> Some(900L), 11L -> None, 12L -> Some(901L)))
    // unbounded tolerance keeps the stale match
    val unbounded = graft.ops.AsOf.join(left, right, Seq("k"), "ts", "id", "id")
      .select("id", "asof_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(unbounded(11L) == 900L)
  }

  test("hashSplit is stable across repartitioning and roughly proportional") {
    val a = graft.ops.Sample.hashSplit(docs, "doc_id")
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = graft.ops.Sample.hashSplit(docs.repartition(17), "doc_id")
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a == b, "split must not depend on partitioning")
    val n = a.size.toDouble
    val frac = a.values.groupBy(identity).view.mapValues(_.size / n).toMap
    assert(frac("train") > 0.7 && frac("train") < 0.9, s"train frac: $frac")
    assert(frac.getOrElse("val", 0.0) + frac.getOrElse("test", 0.0) > 0.1)
  }

  test("leakageSafeSplit: near-dup groups land in ONE split; singletons keep their id") {
    val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "text")
    val pairRows = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairRows.nonEmpty, "corpus should contain planted near-dups")
    val out = graft.ops.Sample.leakageSafeSplit(docs, "doc_id", pairs, "ia", "ib")
      .select("doc_id", "grp", "split").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    // every near-dup pair shares group AND split — the leakage guarantee
    pairRows.foreach { case (a, b) =>
      assert(out(a) == out(b), s"pair ($a,$b) split apart: ${out(a)} vs ${out(b)}")
    }
    // docs outside the pair graph are their own group and keep the plain
    // hashSplit label (grp = doc_id ⇒ same md5 bucket)
    val paired = pairRows.flatMap(p => Seq(p._1, p._2)).toSet
    val plain = graft.ops.Sample.hashSplit(docs, "doc_id")
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    out.foreach { case (id, (grp, split)) =>
      if (!paired.contains(id)) {
        assert(grp == id, s"singleton $id got foreign group $grp")
        assert(split == plain(id))
      } else assert(grp <= id, "group label must be the component min id")
    }
  }

  test("clusterBalancedSample: perCell most-representative per cell, ties on id") {
    import spark.implicits._
    val vecs = Seq(
      (10L, Array(0.9f, 0.1f)), (11L, Array(0.8f, 0.2f)),
      (12L, Array(0.7f, 0.3f)), (13L, Array(0.95f, 0.05f)),
      (20L, Array(0.1f, 0.9f)), (21L, Array(0.2f, 0.8f))
    ).toDF("vec_id", "embedding")
    val centroids = Seq(Array(1f, 0f), Array(0f, 1f))
    val got = Similarity.clusterBalancedSample(vecs, centroids, perCell = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    // cell 0 by |v|²−2·v·c: 13 (−0.995) < 10 (−0.98) < 11 (−0.92) < 12
    assert(got == Set((13L, 0, 1), (10L, 0, 2), (20L, 1, 1), (21L, 1, 2)))
  }

  test("bm25TopK: length normalization + tf saturation flip a raw-tf ranking") {
    import spark.implicits._
    val tiny = Seq(
      // doc 1: tf(hash)=5 but buried in a 20-token doc
      (1L, ("hash " * 5 + "filler " * 15).trim),
      // doc 2: 3 tokens, two of them query terms
      (2L, "hash hash vector"),
      (3L, "join"),
      (4L, "filler text about nothing")).toDF("doc_id", "text")
    val bm25 = graft.ops.Text.bm25TopK(tiny, "doc_id", "text", "hash vector", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // plain integer tf-idf ranks doc 1 first on raw term count…
    val tfidf = graft.ops.Text.searchTopK(tiny, "doc_id", "text", "hash vector", 10)
      .collect().map(_.getLong(0))
    assert(tfidf.head == 1L)
    // …BM25's dl penalty + tf saturation put the short focused doc first
    assert(bm25.map(_._1).toSeq == Seq(2L, 1L))
    // exact integer replay: N=4, T=28, A=7000
    val (n, a) = (4L, 7000L)
    def contrib(idf: Long, tf: Long, dl: Long): Long =
      idf * ((44 * tf * a * 1000000L) / (20 * tf * a + 6 * a + 18 * dl * 1000))
    val expected2 = contrib(n / 2, 2, 3) + contrib(n / 1, 1, 3)
    val expected1 = contrib(n / 2, 5, 20)
    assert(bm25.toMap == Map(2L -> expected2, 1L -> expected1))
  }

  test("audioFeatures: real WAV decode yields rule-exact energy/zc/peak per window") {
    import spark.implicits._
    val ids = Seq(0L, 40L, 63L).toDF("doc_id")
    val got = Multimodal.audioFeatures(
        Multimodal.syntheticWavs(ids, "doc_id"), window = 16)
      .collect().map(f => (f.id, f.win) -> ((f.n, f.energy, f.zc, f.peak))).toMap
    def rule(id: Long): Seq[Int] = (0 until (16 + (id % 64)).toInt)
      .map(i => (((id * 31 + i * 7) % 251) - 125).toInt)
    Seq(0L, 40L, 63L).foreach { id =>
      val wins = rule(id).grouped(16).toSeq
      assert(got.keys.count(_._1 == id) == wins.size,
        s"id $id: window count (last window is partial, never dropped)")
      wins.zipWithIndex.foreach { case (w, wi) =>
        val energy = w.map(x => x.toLong * x).sum
        val zc = w.sliding(2).count(p => p.size == 2 && ((p(0) < 0) != (p(1) < 0)))
        val peak = w.map(math.abs).max
        assert(got((id, wi)) == ((w.size, energy, zc, peak)), s"id $id win $wi")
      }
    }
    // id 0 is all-negative (v = 7i − 125, i ≤ 15): zero crossings = 0
    assert(got((0L, 0))._3 == 0)
  }

  test("zValue: bit-exact Morton codes; contiguous z-ranges narrow in BOTH dims") {
    import spark.implicits._
    val pts = (for (x <- 0 until 32; y <- 0 until 32) yield (x, y)).toDF("x", "y")
    def ref(x: Int, y: Int): Long = {
      var z = 0L
      for (b <- 0 until 5) {
        z |= ((x >> b) & 1).toLong << (2 * b + 1)
        z |= ((y >> b) & 1).toLong << (2 * b)
      }
      z
    }
    val withZ = pts.select(col("x"), col("y"),
      graft.ops.Layout.zValue(Seq(col("x"), col("y")), 5).as("z"))
    val got = withZ.collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    for (x <- 0 until 32; y <- 0 until 32)
      assert(got((x, y)) == ref(x, y), s"($x,$y)")
    // every aligned 128-code block (two sibling 8×8 quads) is narrow in
    // x AND y — the property that makes per-file min/max prune both
    // dims; a lexicographic layout leaves the minor dim at full span
    val spans = withZ.withColumn("bk", expr("z DIV 128"))
      .groupBy("bk").agg((max(col("x")) - min(col("x"))).as("sx"),
        (max(col("y")) - min(col("y"))).as("sy"))
      .collect().map(r => (r.getInt(1), r.getInt(2)))
    assert(spans.length == 8)
    assert(spans.forall { case (sx, sy) => sx <= 16 && sy <= 16 }, spans.toSeq)
    val lexSpans = pts.withColumn("bk", expr("x DIV 4"))
      .groupBy("bk").agg((max(col("y")) - min(col("y"))).as("sy"))
      .collect().map(_.getInt(1))
    assert(lexSpans.forall(_ == 31), "lexicographic minor-dim span is full")
    // the layout pass keeps every row and sorts z within partitions
    val zo = graft.ops.Layout.zOrder(pts, Seq(col("x"), col("y")), 5, 8)
    assert(zo.count() == 1024)
    val perPart = zo.select(
        graft.ops.Layout.zValue(Seq(col("x"), col("y")), 5).as("z"),
        org.apache.spark.sql.functions.spark_partition_id().as("pid"))
      .collect().groupBy(_.getInt(1))
    perPart.values.foreach { rows =>
      val zs = rows.map(_.getLong(0)).toSeq
      assert(zs == zs.sorted, "z not sorted within a partition")
    }
  }

  test("suppressSmallGroups: rows with rare quasi-identifier combos are dropped") {
    import spark.implicits._
    val rows = Seq(
      (1L, "u1", "click"), (2L, "u1", "click"), (3L, "u1", "click"),
      (4L, "u2", "click"), (5L, "u2", "click"),
      (6L, "u1", "purchase")).toDF("id", "user", "etype")
    def ids(k: Long) = graft.ops.Sample
      .suppressSmallGroups(rows, Seq("user", "etype"), k)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids(3) == Set(1L, 2L, 3L))
    assert(ids(2) == Set(1L, 2L, 3L, 4L, 5L))
    assert(ids(1) == Set(1L, 2L, 3L, 4L, 5L, 6L))
  }

  test("keywords rank by tf desc, rarity asc, token asc — integer-exact") {
    import spark.implicits._
    val tiny = Seq(
      (1L, "apple apple banana common"),
      (2L, "banana common common"),
      (3L, "common cherry")).toDF("doc_id", "text")
    val kw = graft.ops.Text.keywords(tiny, "doc_id", "text", 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    // doc 1: apple tf=2 → rank 1; banana (df 2) beats common (df 3)
    assert(kw.toSet.contains((1L, "apple", 1)) && kw.toSet.contains((1L, "banana", 2)))
    // doc 2: common tf=2 → rank 1, banana rank 2
    assert(kw.toSet.contains((2L, "common", 1)) && kw.toSet.contains((2L, "banana", 2)))
    // doc 3: tie tf=1 → cherry (df 1) beats common (df 3)
    assert(kw.toSet.contains((3L, "cherry", 1)) && kw.toSet.contains((3L, "common", 2)))
  }

  test("multimodal: real PNG decode round-trips generated dimensions") {
    val imgs = Multimodal.syntheticImages(docs.limit(40), "doc_id")
    val meta = Multimodal.decodeMeta(imgs).collect()
    assert(meta.length == 40)
    assert(meta.forall(m => m.width == 1 + (m.id % 16).toInt &&
      m.height == 1 + ((m.id * 3) % 16).toInt &&
      m.n_frames == 1 && m.media_type == "image/png"))
    // payloads are real PNGs (magic bytes), not fakes
    val blob = imgs.collect().head
    assert(blob.payload.take(4).map(_ & 0xff).toSeq == Seq(0x89, 0x50, 0x4e, 0x47))
    // corrupt bytes fail loudly rather than emitting garbage dims
    intercept[Exception] {
      Multimodal.imageDecode(Array[Byte](1, 2, 3, 4))
    }
  }

  test("pii redaction masks emails and phones with exact counts") {
    import spark.implicits._
    val d = Seq(
      (1L, "contact me at bob.smith@example.com or 555-123-4567 thanks"),
      (2L, "no pii here at all")).toDF("doc_id", "text")
    val r = Text.redactPii(d, "doc_id", "text").collect()
      .map(x => x.getLong(0) -> ((x.getString(1), x.getLong(2), x.getLong(3)))).toMap
    assert(r(1L) == (("contact me at <EMAIL> or <PHONE> thanks", 1L, 1L)))
    assert(r(2L) == (("no pii here at all", 0L, 0L)))
  }

  test("decontamination flags only docs overlapping benchmark n-grams") {
    import spark.implicits._
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon"),
      (11L, "totally different words entirely here")).toDF("doc_id", "text")
    val bench = Seq((1L, "xx alpha beta gamma yy")).toDF("doc_id", "text")
    val got = Text.contaminated(corpus, "doc_id", "text", bench, "text", 3)
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(10L))
  }

  test("discQuantiles: histogram-exact per-group percentiles") {
    import graft.ops.{Sample, Text => T2}
    import spark.implicits._
    val d = (1L to 10L).map(("g", _)).toDF("g", "v")
    val q = T2.discQuantiles(d, "g", "v", Seq("p50" -> 0.5, "p90" -> 0.9))
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    // expectation computed with the SAME double·ceil formula the op
    // (and the SQL oracle) uses — replication, not idealized math
    def expect(q: Double) = math.ceil(q * 10).toLong
    assert(q == Map("p50" -> expect(0.5), "p90" -> expect(0.9)))
    // rank landing inside a duplicate run picks that value
    val dup = (Seq.fill(7)(1L) ++ Seq(2L, 3L, 4L)).map(("h", _)).toDF("g", "v")
    val q2 = T2.discQuantiles(dup, "g", "v", Seq("p50" -> 0.5))
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(q2 == Map("p50" -> 1L))
    // stratifiedSample: deterministic, k per group, partition-stable
    val rows = (1L to 100L).map(i => (i, (i % 2).toString)).toDF("id", "g")
    def ids(df: org.apache.spark.sql.DataFrame) =
      Sample.stratifiedSample(df, "g", "id", 5)
        .collect().map(r => (r.getString(1), r.getLong(0))).toSet
    val a = ids(rows)
    assert(a == ids(rows.repartition(13)), "sample must not depend on partitioning")
    assert(a.groupBy(_._1).forall(_._2.size == 5))
  }

  test("repetition profile: exact integer token stats") {
    import spark.implicits._
    val d = Seq((1L, "a a a b c"), (2L, "x y")).toDF("doc_id", "text")
    val r = Text.repetition(d, "doc_id", "text").collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
    assert(r(1L) == ((5L, 3L, 3L)))
    assert(r(2L) == ((2L, 2L, 1L)))
  }

  test("multimodal: real resize follows the integer fit rule, output re-decodable") {
    val imgs = Multimodal.syntheticImages(docs.limit(40), "doc_id")
    val meta = Multimodal.decodeMeta(Multimodal.resizeImages(imgs, 8)).collect()
    assert(meta.length == 40)
    // decoded-from-resized-PNG dims == the integer fit rule over the
    // known synthetic dims — the scale + re-encode is real, not a clamp
    assert(meta.forall { m =>
      val w0 = 1 + (m.id % 16).toInt
      val h0 = 1 + ((m.id * 3) % 16).toInt
      (m.width, m.height) == Multimodal.fitDims(w0, h0, 8)
    })
    // some images genuinely shrank (ids with dims > 8 exist in 0..39)
    assert(meta.exists(m => m.width < 1 + (m.id % 16).toInt ||
      m.height < 1 + ((m.id * 3) % 16).toInt))
    // aspect ratio is preserved under floor division: w/h ordering keeps
    assert(Multimodal.fitDims(16, 4, 8) == ((8, 2)) &&
      Multimodal.fitDims(3, 12, 8) == ((2, 8)) &&
      Multimodal.fitDims(5, 7, 8) == ((5, 7)))
    // byte-bounding resize() never touches image payloads
    val clamped = Multimodal.resize(imgs, 10).collect()
    assert(clamped.forall(b => b.payload.length > 10),
      "image payloads must not be truncated")
  }

  test("lenient decode quarantines corrupt blobs, decodes the rest") {
    import spark.implicits._
    val mixed = Multimodal.syntheticImages(docs.limit(20), "doc_id")
      .map(b => if (b.id % 4 == 0) b.copy(payload = b.payload.take(5)) else b)
    val m = Multimodal.decodeMetaLenient(mixed).collect()
    assert(m.length == 20)
    assert(m.filter(_.id % 4 == 0).forall(x =>
      !x.ok && x.width == -1 && x.err != null))
    assert(m.filter(_.id % 4 != 0).forall(x =>
      x.ok && x.width == 1 + (x.id % 16).toInt))
  }

  test("sliding windows: every event lands in exactly size/slide windows") {
    val ev = Tables.events(spark, dir)
    val s = graft.streaming.Events.slidingCounts(ev)
      .agg(sum(col("n_events"))).head.getLong(0)
    assert(s == 4 * ev.count(), "1h window / 15m slide => 4 windows per event")
  }

  test("multimodal: real WAV decode round-trips the generation rule") {
    val wavs = Multimodal.syntheticWavs(docs.limit(40), "doc_id")
    val meta = Multimodal.decodeAudioMeta(wavs).collect()
    assert(meta.length == 40)
    assert(meta.forall(m => m.sample_rate == 8000 && m.channels == 1 &&
      m.n_samples == 16 + (m.id % 64) &&
      m.byte_len == 44 + 2 * m.n_samples))
    // the payload is a genuine RIFF/WAVE container
    val b = wavs.collect().head
    assert(new String(b.payload.take(4), "US-ASCII") == "RIFF")
    assert(new String(b.payload.slice(8, 12), "US-ASCII") == "WAVE")
    // corrupt bytes fail loudly, same contract as imageDecode
    intercept[Exception] {
      Multimodal.audioDecode(Array[Byte](1, 2, 3, 4))
    }
  }

  test("streaming hourly counts == batch hourly counts (MemoryStream)") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val ev = Tables.events(spark, dir)
    val input = Events.withTsUs(ev)
      .select(timestamp_micros(col("tus")).as("ts"), col("event_type"), col("value"))
      .as[(java.sql.Timestamp, String, Double)].collect().toSeq
    val stream = MemoryStream[(java.sql.Timestamp, String, Double)]
    stream.addData(input)
    val sq = Events.hourlyCountsStream(
        stream.toDF().toDF("ts", "event_type", "value"))
      .writeStream.format("memory").queryName("hourly_test")
      .outputMode("complete").start()
    sq.processAllAvailable()
    sq.stop()
    val streamed = spark.table("hourly_test")
      .select("hour", "event_type", "n_events", "sum_cents")
      .collect().map(_.toSeq).toSet
    val batch = Events.hourlyCounts(ev)
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
  }

  test("native session_window stream reproduces batch session counts") {
    import spark.implicits._
    implicit val sql = spark.sqlContext
    val ev = Tables.events(spark, dir)
    val input = Events.withTsUs(ev)
      .select(timestamp_micros(col("tus")).as("ts"), col("user_id"))
      .as[(java.sql.Timestamp, Long)].collect().toSeq
    val maxTs = input.map(_._1.getTime).max
    val stream = MemoryStream[(java.sql.Timestamp, Long)]
    stream.addData(input)
    // sentinel far-future event advances the watermark so every real
    // session closes and emits in append mode
    stream.addData(Seq((new java.sql.Timestamp(maxTs + 48L * 3600 * 1000), -1L)))
    val sq = Events.sessionWindowsStream(
        stream.toDF().toDF("ts", "user_id"), watermark = "1 minute")
      .writeStream.format("memory").queryName("sessw_test")
      .outputMode("append").start()
    sq.processAllAvailable()
    sq.stop()
    val streamed = spark.table("sessw_test").where(col("user_id") =!= -1L)
      .groupBy("user_id").agg(count(lit(1)).as("n_sessions"),
        sum(col("n_events")).as("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = Events.sessionize(ev)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch)
  }

  test("streaming sessionization (mapGroupsWithState) == batch sessionize") {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val typed = Events.withTsUs(ev)
      .select(col("user_id"), col("event_id"), col("tus"))
      .as[(Long, Long, Long)]
    val streamed = Events.sessionizeStream(typed)
      .collect().map(u => (u.user_id, u.n_sessions, u.n_events)).toSet
    val batch = Events.sessionize(ev)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch)
  }

  test("incremental near-dup against index == exact cross-split Jaccard") {
    val corpus = docs.where(col("doc_id") < 250)
    val batch = docs.where(col("doc_id") >= 250)
    val idx = Dedup.minhashIndex(corpus, "doc_id", "text")
    val got = Dedup.minhashNearDupAgainst(batch, "doc_id", "text", idx)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // expected: the all-pairs exact result restricted to cross pairs,
    // re-oriented (new, corpus)
    val exact = Dedup.exactJaccardPairs(docs, "doc_id", "text", 3, 1, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => (a < 250) != (b < 250) }
      .map { case (a, b) => if (a >= 250) (a, b) else (b, a) }.toSet
    assert(exact.nonEmpty, "split should cut at least one planted pair")
    assert(got == exact)
  }

  test("minhash index append: save + append + load ≡ one-shot index " +
    "over the union") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_mh_app").toString
    Dedup.minhashIndexSave(
      Dedup.minhashIndex(docs.where(col("doc_id") < 100), "doc_id", "text"), tmp)
    Dedup.minhashIndexAppend(
      docs.where(col("doc_id") >= 100 && col("doc_id") < 250),
      "doc_id", "text", tmp)
    val batch = docs.where(col("doc_id") >= 250)
    val appended = Dedup.minhashNearDupAgainst(batch, "doc_id", "text",
        Dedup.minhashIndexLoad(spark, tmp))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val oneShot = Dedup.minhashNearDupAgainst(batch, "doc_id", "text",
        Dedup.minhashIndex(docs.where(col("doc_id") < 250), "doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(oneShot.nonEmpty, "split should cut at least one planted pair")
    assert(appended == oneShot)
  }

  test("minhash index delete + compact: masked probe ≡ compacted probe " +
    "≡ never-indexed; compaction touches only files holding deletes") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_mh_del").toString
    // several small files so some hold no deleted ids
    Dedup.minhashIndexSave(
      Dedup.minhashIndex(docs.where(col("doc_id") < 250), "doc_id", "text")
        .repartition(8), tmp)
    Dedup.minhashIndexDelete(
      docs.where(col("doc_id") < 250 && col("doc_id") % 4 === 1)
        .select(col("doc_id")), tmp, idCol = "doc_id")
    val batch = docs.where(col("doc_id") >= 250)
    def probe() = Dedup.minhashNearDupAgainst(batch, "doc_id", "text",
        Dedup.minhashIndexLoad(spark, tmp))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val masked = probe()
    // ground truth: an index that never contained the deleted docs
    val never = Dedup.minhashNearDupAgainst(batch, "doc_id", "text",
        Dedup.minhashIndex(
          docs.where(col("doc_id") < 250 && col("doc_id") % 4 =!= 1),
          "doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(never.nonEmpty, "split should keep at least one planted pair")
    assert(masked == never)
    // which files hold deleted ids (these may be rewritten; others not)
    import org.apache.spark.sql.functions.input_file_name
    val byFile = spark.read.parquet(tmp)
      .withColumn("f", input_file_name())
      .select(col("f"), (col("id") % 4 === 1).as("del"))
      .groupBy("f").agg(org.apache.spark.sql.functions.max(col("del")).as("hasDel"))
      .collect().map(r => (r.getString(0), r.getBoolean(1))).toMap
    val untouchedBefore = byFile.filter(!_._2).keySet
    Dedup.minhashIndexCompact(spark, tmp)
    val filesAfter = spark.read.parquet(tmp)
      .withColumn("f", input_file_name()).select("f").distinct()
      .collect().map(_.getString(0)).toSet
    assert(untouchedBefore.subsetOf(filesAfter),
      "compaction must not rewrite files holding no deleted ids")
    assert(byFile.filter(_._2).keySet.intersect(filesAfter).isEmpty,
      "files holding deleted ids must be replaced")
    assert(probe() == never, "compacted probe must equal masked probe")
    // tombstones cleared: physical rows no longer contain deleted ids
    assert(spark.read.parquet(tmp).where(col("id") % 4 === 1).count() == 0)
  }

  test("minhash index compact under a URI-hostile path (space + '%'): " +
    "compacted probe ≡ masked probe (round-10 input_file_name lesson)") {
    // a path whose URI form needs escaping — feeding input_file_name()
    // URIs back to spark.read.parquet would mis-resolve it; the
    // isInCollection idiom must behave identically to the masked load
    val base = java.nio.file.Files.createTempDirectory("graft_mh ho%stile")
    val tmp = base.toString + "/idx dir"
    Dedup.minhashIndexSave(
      Dedup.minhashIndex(docs.where(col("doc_id") < 250), "doc_id", "text")
        .repartition(4), tmp)
    Dedup.minhashIndexDelete(
      docs.where(col("doc_id") < 250 && col("doc_id") % 4 === 1)
        .select(col("doc_id")), tmp, idCol = "doc_id")
    val batch = docs.where(col("doc_id") >= 250)
    def probe() = Dedup.minhashNearDupAgainst(batch, "doc_id", "text",
        Dedup.minhashIndexLoad(spark, tmp))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val masked = probe()
    assert(masked.nonEmpty, "split should keep at least one planted pair")
    Dedup.minhashIndexCompact(spark, tmp)
    assert(probe() == masked, "compacted probe must equal masked probe")
    assert(spark.read.parquet(tmp).where(col("id") % 4 === 1).count() == 0)
  }

  test("ivfpq index delete + compact: masked search ≡ compacted search; " +
    "untouched cells keep their files; emptied cells vanish") {
    import graft.ops.Similarity
    val centroids = emb.where(col("vec_id") < 16).orderBy(col("vec_id"))
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray).toSeq
    val tmp = java.nio.file.Files.createTempDirectory("graft_pq_del").toString
    Similarity.ivfPqSaveIndex(emb, centroids, centroids, tmp)
    // delete EVERY vector of one whole cell + a few others
    val (codes0, _, _) = Similarity.ivfPqLoadIndex(spark, tmp)
    val someCell = codes0.select("cell").orderBy("cell").head().getInt(0)
    val victimIds = codes0.where(col("cell") === someCell)
      .select("vec_id").distinct()
      .union(emb.where(col("vec_id") % 11 === 5).select("vec_id"))
      .distinct()
    Similarity.ivfPqDeleteIndex(victimIds, tmp)
    def search() = {
      val (c, co, pq) = Similarity.ivfPqLoadIndex(spark, tmp)
      Similarity.ivfPqSearchTopK(c, co, pq, emb.where(col("vec_id") < 6), 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    }
    val masked = search()
    assert(masked.nonEmpty)
    val victims = victimIds.collect().map(_.getLong(0)).toSet
    assert(masked.forall { case (_, nid, _) => !victims.contains(nid) })
    val dirOf = new java.io.File(s"$tmp/codes")
    def cellDirs = dirOf.listFiles().filter(_.getName.startsWith("cell="))
      .map(f => f.getName -> f.lastModified()).toMap
    val affectedCells = codes0.join(victimIds, "vec_id")
      .select("cell").distinct().collect().map(r => s"cell=${r.getInt(0)}").toSet
    val before = cellDirs
    Thread.sleep(1100) // dir mtimes have second granularity on some FS
    Similarity.ivfPqCompactIndex(spark, tmp)
    val after = cellDirs
    assert(!after.contains(s"cell=$someCell"), "emptied cell must vanish")
    for ((d, m) <- after if !affectedCells.contains(d))
      assert(before(d) == m, s"untouched cell $d was modified")
    assert(search() == masked, "compacted search must equal masked search")
    // victims is a materialized Set — the lazy victimIds plan would
    // re-scan the pre-compaction file listing
    assert(spark.read.parquet(s"$tmp/codes")
      .where(col("vec_id").isin(victims.toSeq: _*)).count() == 0)
  }

  test("minhash index append: mismatched banding params fail loud") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_mh_bad").toString
    Dedup.minhashIndexSave(
      Dedup.minhashIndex(docs.where(col("doc_id") < 50), "doc_id", "text"), tmp)
    val e = intercept[IllegalArgumentException] {
      Dedup.minhashIndexAppend(docs.where(col("doc_id") >= 50), "doc_id",
        "text", tmp, shingleN = 2, perms = 32, bands = 8)
    }
    assert(e.getMessage.contains("incompatible"))
  }

  test("pack assignments: partitioning-independent, budget invariants hold") {
    import graft.ops.Sample
    val toks = docs.select(col("doc_id"),
      size(split(lower(col("text")), " ")).cast("long").as("n_tokens"))
    val a = Sample.packAssignments(toks, "doc_id", "n_tokens", 256L, 4)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val b = Sample.packAssignments(toks.repartition(13), "doc_id", "n_tokens",
        256L, 4)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(a == b, "assignments must not depend on input partitioning")
    assert(a.forall { case (_, _, pack, off) => off >= 0 && off < 256 && pack >= 0 })
    // every (shard, pack) except a shard's last pack starts at offset < 256,
    // i.e. pack ids are dense from 0 per shard
    val perShard = a.groupBy(_._2).view.mapValues(_.map(_._3))
    perShard.foreach { case (_, packs) =>
      val mx = packs.max
      assert((0L to mx).forall(packs.contains), "pack ids dense per shard")
    }
  }

  test("boilerplate strip removes cross-doc repeated chunks, keeps the rest") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "aa bb unique one text here"),     // aa bb = shared chunk
      (2L, "aa bb other words entirely now"),
      (3L, "aa bb"),                          // pure boilerplate
      (4L, "no shared chunks in this doc")
    ).toDF("id", "text")
    val out = Text.stripBoilerplate(corpus, "id", "text",
        window = 2, maxDf = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "unique one text here")
    assert(out(2L) == "other words entirely now")
    assert(out(3L) == "", "fully-boilerplate doc comes back empty, not dropped")
    assert(out(4L) == "no shared chunks in this doc")
  }

  test("video: animated-GIF round-trip — real dims, frame count, pixels") {
    import spark.implicits._
    val ids = Seq(0L, 3L, 7L, 15L, 100L).toDF("id")
    val blobs = Multimodal.syntheticGifs(ids, "id")
    val meta = Multimodal.decodeMeta(blobs).collect()
      .map(m => m.id -> ((m.width, m.height, m.n_frames))).toMap
    for (id <- Seq(0L, 3L, 7L, 15L, 100L))
      assert(meta(id) == ((1 + (id % 16).toInt, 1 + ((id * 3) % 16).toInt,
        2 + (id % 6).toInt)), s"metadata mismatch for id $id")
    // frame pixels survive the codec exactly (fixed-palette solid frames)
    val frames = Multimodal.sampleVideoFrames(blobs, 1).collect()
    assert(frames.nonEmpty)
    for (f <- frames) {
      val expected = Multimodal.VideoPalette(((f.id + f.frame_idx) % 8).toInt)
      val got = (f.feature(0).toInt << 16) | (f.feature(1).toInt << 8) |
        f.feature(2).toInt
      assert(got == expected,
        s"pixel mismatch id=${f.id} frame=${f.frame_idx}")
    }
  }

  test("video: Y4M round-trip — header arithmetic dims, frame walk, " +
    "raw plane bytes") {
    import spark.implicits._
    val ids = Seq(0L, 3L, 7L, 15L, 100L).toDF("id")
    val blobs = Multimodal.syntheticY4ms(ids, "id")
    val meta = Multimodal.decodeMeta(blobs).collect()
      .map(m => m.id -> ((m.width, m.height, m.n_frames))).toMap
    for (id <- Seq(0L, 3L, 7L, 15L, 100L))
      assert(meta(id) == ((2 * (1 + (id % 8).toInt),
        2 * (1 + ((id * 3) % 8).toInt), 2 + (id % 6).toInt)),
        s"metadata mismatch for id $id")
    // every frame's plane bytes are the fill rule, read back raw
    val frames = Multimodal.sampleY4mFrames(blobs, 1).collect()
    assert(frames.map(_.id).distinct.length == 5)
    for (f <- frames) {
      val exp = ((7 * f.id + 13 * f.frame_idx) % 211 + 20,
        (5 * f.id + 11 * f.frame_idx) % 199 + 30,
        (3 * f.id + 17 * f.frame_idx) % 223 + 16)
      assert((f.feature(0).toLong, f.feature(1).toLong, f.feature(2).toLong)
        == exp, s"plane bytes mismatch id=${f.id} frame=${f.frame_idx}")
    }
    // sampling stride honored; dims travel with the feature
    val every2 = Multimodal.sampleY4mFrames(blobs, 2).collect()
    assert(every2.forall(f => f.frame_idx % 2 == 0))
    assert(every2.forall(f =>
      f.feature(3).toInt == 2 * (1 + (f.id % 8).toInt) &&
        f.feature(4).toInt == 2 * (1 + ((f.id * 3) % 8).toInt)))
    // malformed stream fails loud, same contract as imageDecode
    intercept[Exception] {
      Multimodal.y4mDecode("not a y4m stream\n".getBytes("US-ASCII"))
    }
    intercept[Exception] { // truncated mid-frame
      val good = blobs.collect().head.payload
      Multimodal.y4mDecode(java.util.Arrays.copyOf(good, good.length - 1))
    }
  }

  test("video: MJPEG-in-AVI round-trip — RIFF walk dims, counted " +
    "frames, bit-exact solid-gray pixels") {
    import spark.implicits._
    val ids = Seq(0L, 4L, 9L, 17L, 123L).toDF("id")
    val blobs = Multimodal.syntheticAvis(ids, "id")
    val meta = Multimodal.decodeMeta(blobs).collect()
      .map(m => m.id -> ((m.width, m.height, m.n_frames))).toMap
    for (id <- Seq(0L, 4L, 9L, 17L, 123L))
      assert(meta(id) == ((8 + (id % 9).toInt, 6 + ((id * 5) % 11).toInt,
        2 + (id % 5).toInt)), s"metadata mismatch for id $id")
    // every frame ImageIO-decodes to the exact fill gray (solid gray
    // survives the quality-1.0 JPEG round-trip); dims come from the
    // decoded frame, not the header
    val frames = Multimodal.sampleAviFrames(blobs, 1).collect()
    assert(frames.map(_.id).distinct.length == 5)
    for (f <- frames) {
      val g = ((11 * f.id + 29 * f.frame_idx) % 256).toInt
      assert(f.feature(0).toInt == g && f.feature(1).toInt == g &&
        f.feature(2).toInt == g,
        s"pixel mismatch id=${f.id} frame=${f.frame_idx}")
      assert(f.feature(3).toInt == 8 + (f.id % 9).toInt &&
        f.feature(4).toInt == 6 + ((f.id * 5) % 11).toInt)
    }
    // sampling stride honored
    assert(Multimodal.sampleAviFrames(blobs, 2).collect()
      .forall(f => f.frame_idx % 2 == 0))
    // malformed container fails loud
    intercept[Exception] {
      Multimodal.aviDecode("RIFFxxxxNOPE".getBytes("US-ASCII"))
    }
    intercept[Exception] { // truncated mid-chunk
      val good = blobs.collect().head.payload
      Multimodal.aviDecode(java.util.Arrays.copyOf(good, good.length - 9))
    }
  }

  test("searchTopK: integer tf-idf ranks by relevance, deterministic ties") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "cat cat cat"),   // tf(cat)=3
      (2L, "cat dog"),       // tf(cat)=1, tf(dog)=1
      (3L, "dog dog"),       // tf(dog)=2
      (4L, "bird")           // no query tokens
    ).toDF("id", "text")
    // N=4; df(cat)=2 → w=2; df(dog)=2 → w=2
    // scores: 1→6, 2→4, 3→4 (doc 2 beats 3 on id tie? no — equal score,
    // id asc → doc 2 first), 4 absent
    val out = Text.searchTopK(corpus, "id", "text", "cat dog", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    assert(out == List((1L, 6L), (2L, 4L), (3L, 4L)))
  }

  test("bloom decontamination ≡ exact decontamination, bloom gates the scan") {
    val corpus = docs.where(col("doc_id") >= 5)
    val bench = docs.where(col("doc_id") < 5)
    val exact = Text.contaminated(corpus, "doc_id", "text", bench, "text")
      .collect().map(_.getLong(0)).toSet
    val bloomed = Text.contaminatedBloom(corpus, "doc_id", "text", bench, "text")
    assert(exact.nonEmpty, "fixture should contain overlapping shingles")
    assert(bloomed.collect().map(_.getLong(0)).toSet == exact,
      "no false negatives + exact verify ⇒ identical result")
    val p = bloomed.queryExecution.executedPlan.toString
    assert(p.contains("might_contain"),
      s"the bloom predicate must gate the corpus scan:\n$p")
  }

  test("pageRank: integer fixed-point matches hand computation") {
    import spark.implicits._
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c")).toDF("src", "dst")
    val r = graft.ops.Rank.pageRank(edges, 2)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    // r1: a=150000, b=150000+85·(1e6/2)/100=575000, c=150000+85·1.5e6/100
    // r2 contribs: b←75000, c←75000+575000 → b=213750, c=702500
    assert(r == Map("a" -> 150000L, "b" -> 213750L, "c" -> 702500L))
    // zero iterations = uniform initial ranks
    val r0 = graft.ops.Rank.pageRank(edges, 0)
      .collect().map(x => x.getLong(1)).toSet
    assert(r0 == Set(1000000L))
  }

  test("pageRank: cyclic graph (empty static-source set) stays exact") {
    import spark.implicits._
    // a⇄b cycle plus a sink c: every source is also a receiver, so the
    // static-contribution split contributes nothing and the plain
    // iteration must carry the whole sum
    val edges = Seq(("a", "b"), ("b", "a"), ("a", "c")).toDF("src", "dst")
    val r = graft.ops.Rank.pageRank(edges, 2)
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    // outdeg a=2, b=1; r1: a=1000000, b=575000, c=575000
    // r2: a=150000+85·575000/100=638750, b=c=150000+85·500000/100=575000
    assert(r == Map("a" -> 638750L, "b" -> 575000L, "c" -> 575000L))
  }

  test("ivf index save/load: indexed query ≡ in-memory fixed-centroid query") {
    val centroids = emb.where(col("vec_id") < 8).orderBy(col("vec_id"))
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray).toSeq
    val queries = emb.where(col("vec_id") < 5)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val direct = canon(Similarity.ivfKnnFixed(emb, queries, 3, centroids,
      nProbe = 2))
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivf_spec").toString
    Similarity.ivfSaveIndex(emb, centroids, tmp)
    val (idx, cents) = Similarity.ivfLoadIndex(spark, tmp)
    assert(cents.map(_.toSeq) == centroids.map(_.toSeq),
      "centroids round-trip exactly")
    assert(canon(Similarity.ivfKnnIndexed(idx, cents, queries, 3,
      nProbe = 2)) == direct)
    // append with the SAVED centroids ≡ rebuild over the union
    val tmp2 = java.nio.file.Files.createTempDirectory("graft_ivf_app").toString
    Similarity.ivfSaveIndex(emb.where(col("vec_id") >= 40), centroids, tmp2)
    Similarity.ivfAppendIndex(emb.where(col("vec_id") < 40), tmp2)
    val (idx2, cents2) = Similarity.ivfLoadIndex(spark, tmp2)
    assert(canon(Similarity.ivfKnnIndexed(idx2, cents2, queries, 3,
      nProbe = 2)) == direct)
  }

  test("inverted index: sorted postings, df cap drops stopwords pre-collect") {
    import spark.implicits._
    val corpus = Seq(
      (3L, "the cat sat"), (1L, "the cat ran"), (2L, "the dog ran")
    ).toDF("id", "text")
    val out = Text.invertedIndex(corpus, "id", "text", maxDf = 2)
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getSeq[Long](2).toList)).toList.sortBy(_._1)
    // "the" (df 3) dropped; postings numerically sorted
    assert(out == List(("cat", 2L, List(1L, 3L)), ("dog", 1L, List(2L)),
      ("ran", 2L, List(1L, 2L)), ("sat", 1L, List(3L))))
  }

  test("chunkTokens: overlapping windows cover all tokens, tail kept") {
    import spark.implicits._
    val corpus = Seq((1L, "a b c d e"), (2L, "x")).toDF("id", "text")
    val out = Text.chunkTokens(corpus, "id", "text", size = 3, stride = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3))).toSet
    assert(out == Set(
      (1L, 0L, "a b c", 3L), (1L, 1L, "c d e", 3L), (1L, 2L, "e", 1L),
      (2L, 0L, "x", 1L)))
  }

  test("compactLatest: latest row per key, deterministic under ts ties") {
    import spark.implicits._
    val log = Seq(
      (1L, 10L, 100L, "a"), (1L, 20L, 101L, "b"), // later ts wins
      (2L, 30L, 200L, "c"), (2L, 30L, 201L, "d"), // tie: larger id wins
      (3L, 5L, 300L, "e")
    ).toDF("key", "ts", "id", "state")
    val snap = graft.ops.AsOf.compactLatest(log, Seq("key"), "ts", "id")
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(snap == Map(1L -> "b", 2L -> "d", 3L -> "e"))
  }

  test("temperature mixture: deterministic, downsampling-only, flattens shares") {
    import spark.implicits._
    // big source 400 rows, small source 16: sqrt weights 20 vs 4
    val corpus = ((1L to 400L).map(i => (i, "big")) ++
      (401L to 416L).map(i => (i, "small"))).toDF("id", "src")
    val target = 100L
    val keep = graft.ops.Sample.temperatureMixture(corpus, "src", "id", target)
    val again = graft.ops.Sample.temperatureMixture(
      corpus.repartition(7), "src", "id", target)
    val a = keep.select("id").collect().map(_.getLong(0)).toSet
    assert(a == again.select("id").collect().map(_.getLong(0)).toSet,
      "sample must be stable across partitionings")
    val bySrc = keep.groupBy("src").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // thresholds: big = 2^32·100·20/(24·400) ≈ 0.208, small = 2^32·100·4/(24·16)
    // ≈ 1.04 → capped at 1: the small source is kept ENTIRELY
    assert(bySrc("small") == 16L, "small source keep-rate caps at 1")
    // big source keeps ~83 of 400 (hash-approximate); natural share would
    // be ~96/100 — the flattened mixture keeps it well below that
    assert(bySrc("big") > 40L && bySrc("big") < 130L)
    assert(keep.columns.toSeq == Seq("id", "src"), "helper columns dropped")
  }

  test("vocab encode: frequency-ranked ids, deterministic ties, OOV = 0") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "b b b a a c"),
      (2L, "a b rare")
    ).toDF("id", "text")
    // counts: b=4, a=3, c=1, rare=1 → vocab(3): b=1, a=2, c=3 (tie c<rare)
    val out = Text.vocabEncode(corpus, "id", "text", vocabSize = 3)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(out(1L) == Seq(1, 1, 1, 2, 2, 3))
    assert(out(2L) == Seq(2, 1, 0), "rare is out-of-vocabulary → 0")
  }

  test("tombstone bloom sidecar: forced-bloom mask ≡ plain anti-join mask " +
    "on minhash index, ivf-pq index, and triple store") {
    import graft.core.Tombstones
    // force the sidecar from the first delete: builds are gated on the
    // same activation threshold the mask reads (round 15), so without
    // this the small test sets would skip the build entirely
    spark.conf.set(Tombstones.BloomMinBytesKey, "0")
    // minhash index with deletes (the q108 store shape)
    val tmp = java.nio.file.Files.createTempDirectory("graft_bloom_mh").toString
    Dedup.minhashIndexSave(
      Dedup.minhashIndex(docs.where(col("doc_id") < 250), "doc_id", "text")
        .repartition(4), tmp)
    Dedup.minhashIndexDelete(
      docs.where(col("doc_id") < 250 && col("doc_id") % 3 === 1)
        .select(col("doc_id")), tmp, idCol = "doc_id")
    // ivf-pq index with deletes
    val centroids = emb.where(col("vec_id") < 16).orderBy(col("vec_id"))
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray).toSeq
    val pqTmp = java.nio.file.Files.createTempDirectory("graft_bloom_pq").toString
    graft.ops.Similarity.ivfPqSaveIndex(emb, centroids, centroids, pqTmp)
    graft.ops.Similarity.ivfPqDeleteIndex(
      emb.where(col("vec_id") % 7 === 2).select("vec_id"), pqTmp)
    // triple store with deleted subjects (the q116 store shape)
    val tsTmp = java.nio.file.Files.createTempDirectory("graft_bloom_ts").toString
    val cust = Tables.t(spark, dir, "customer")
    graft.core.TripleDb.save(graft.core.TripleDb.fromWideTable(
      cust, "customer", "c_custkey"), tsTmp)
    graft.core.TripleDb.deleteSubjects(spark, tsTmp,
      spark.range(0, 200, 5).select(graft.core.Term.uriCol(
        concat(lit("customer/"), col("id").cast("string"))).as("s")))

    def mhIds() = Dedup.minhashIndexLoad(spark, tmp)
      .select("id").distinct().collect().map(_.getLong(0)).toSet
    def pqIds() = graft.ops.Similarity.ivfPqLoadIndex(spark, pqTmp)
      ._1.select("vec_id").collect().map(_.getLong(0)).toSet
    def tsRows() = graft.core.TripleDb.load(spark, tsTmp).df
      .select(col("s.lex"), col("p.lex"), col("o.lex"))
      .collect().map(_.toSeq).toSet

    // plain-path baselines: conf unset → mask ignores the sidecar
    spark.conf.unset(Tombstones.BloomMinBytesKey)
    val (mhPlain, pqPlain, tsPlain) = (mhIds(), pqIds(), tsRows())
    spark.conf.set(Tombstones.BloomMinBytesKey, "0")
    try {
      // the forced path really is the bloom split shape...
      val p = Dedup.minhashIndexLoad(spark, tmp)
        .queryExecution.executedPlan.toString
      assert(p.contains("might_contain"),
        s"expected a bloom scan-side prefilter in:\n$p")
      assert(p.contains("Union"), s"expected the clean/maybe split in:\n$p")
      // ...and row-identical to the plain anti-join on all three stores
      assert(mhIds() == mhPlain)
      assert(pqIds() == pqPlain)
      assert(tsRows() == tsPlain)
    } finally spark.conf.unset(Tombstones.BloomMinBytesKey)
  }

  test("tombstone bloom self-invalidates: a stale sidecar (tombstones " +
    "appended without a refresh) falls back to the plain anti-join — " +
    "deleted rows never resurface") {
    import graft.core.{Term, Tombstones, TripleDb}
    val tsTmp =
      java.nio.file.Files.createTempDirectory("graft_bloom_stale").toString
    val cust = Tables.t(spark, dir, "customer")
    TripleDb.save(TripleDb.fromWideTable(cust, "customer", "c_custkey"), tsTmp)
    def subjects(range: org.apache.spark.sql.Dataset[java.lang.Long]) = range
      .select(Term.uriCol(
        concat(lit("customer/"), col("id").cast("string"))).as("s"))
    // conf set BEFORE the delete: sidecar builds gate on the same
    // activation threshold the mask reads (round 15)
    spark.conf.set(Tombstones.BloomMinBytesKey, "0")
    TripleDb.deleteSubjects(spark, tsTmp, subjects(spark.range(0, 100, 10)))
    try {
      val fresh = TripleDb.load(spark, tsTmp).df
      assert(fresh.queryExecution.executedPlan.toString
        .contains("might_contain"), "valid sidecar → bloom split path")
      // simulate a refresh that died after its append (or a racing
      // deleter's stale sidecar): land a second tombstone batch
      // STRAIGHT in the tombstone dir, bypassing the sidecar refresh
      val doomed = spark.read.parquet(tsTmp)
        .where(col("s.lex") === "customer/7")
        .select("s", "p", "o", "pred")
      doomed.write.mode("append").parquet(Tombstones.tombPath(tsTmp))
      val masked = TripleDb.load(spark, tsTmp).df
      val plan = masked.queryExecution.executedPlan.toString
      assert(!plan.contains("might_contain"),
        s"stale sidecar must be distrusted — plain anti-join path:\n$plan")
      assert(masked.where(col("s.lex") === "customer/7").count() == 0,
        "rows tombstoned after the stale sidecar must stay masked")
      // the next API append rebuilds + re-stamps → bloom path returns,
      // still covering the bypassed batch
      TripleDb.deleteSubjects(spark, tsTmp, subjects(spark.range(1, 2)))
      val again = TripleDb.load(spark, tsTmp).df
      assert(again.queryExecution.executedPlan.toString
        .contains("might_contain"), "refreshed sidecar trusted again")
      assert(again.where(
        col("s.lex").isin("customer/7", "customer/1")).count() == 0)
    } finally spark.conf.unset(Tombstones.BloomMinBytesKey)
  }

  test("refreshBloom sizes past the runtime-filter clamps and restores " +
    "session conf afterwards") {
    import graft.core.Tombstones
    val maxBitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val maxItemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    spark.conf.set(maxBitsKey, "1024")
    spark.conf.set(maxItemsKey, "100")
    // activation gate (round 15): force the build for this small set
    spark.conf.set(Tombstones.BloomMinBytesKey, "0")
    try {
      val tombDir = java.nio.file.Files
        .createTempDirectory("graft_bloom_conf").toString + "/t"
      Tombstones.appendAt(
        spark.range(0, 5000).select(col("id").as("k")), tombDir, Seq("k"))
      assert(spark.conf.get(maxBitsKey) == "1024",
        "maxNumBits restored after the build")
      assert(spark.conf.get(maxItemsKey) == "100",
        "maxNumItems restored after the build")
      // honest sizing despite the 1024-bit / 100-item session clamps:
      // 5000 keys at fpp 1% ≈ 48 kbit ≈ 6 KB of bit array — far above
      // the 128 B a clamped build would produce
      val p = new org.apache.hadoop.fs.Path(tombDir, "_bloom.bin")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.getFileStatus(p).getLen > 4000,
        "sidecar must be sized for the real n, not the clamped one")
    } finally {
      spark.conf.unset(maxBitsKey)
      spark.conf.unset(maxItemsKey)
      spark.conf.unset(graft.core.Tombstones.BloomMinBytesKey)
    }
  }

  test("tombstone bloom sidecar builds are gated on the mask's activation " +
    "threshold: below it no sidecar is written (nothing would read it), " +
    "and the append that crosses it builds a covering one") {
    import graft.core.Tombstones
    def sidecar(tombDir: String): Boolean = {
      val p = new org.apache.hadoop.fs.Path(tombDir, "_bloom.bin")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }
    val tombDir = java.nio.file.Files
      .createTempDirectory("graft_bloom_gate").toString + "/t"
    // default threshold (32 MB): a small append must NOT build a sidecar
    Tombstones.appendAt(
      spark.range(0, 100).select(col("id").as("k")), tombDir, Seq("k"))
    assert(!sidecar(tombDir),
      "below the activation threshold the sidecar is never consulted — " +
        "building it is wasted work")
    // the append that crosses the (lowered) threshold builds a sidecar
    // covering the WHOLE set, and removeKeysAt keeps the gate too
    spark.conf.set(Tombstones.BloomMinBytesKey, "1")
    try {
      Tombstones.appendAt(
        spark.range(100, 200).select(col("id").as("k")), tombDir, Seq("k"))
      assert(sidecar(tombDir), "crossing append builds the covering sidecar")
      Tombstones.removeKeysAt(spark, tombDir,
        spark.range(0, 10).select(col("id").as("k")), Seq("k"))
      assert(sidecar(tombDir), "post-removal survivors above threshold " +
        "rebuild the sidecar")
      spark.conf.set(Tombstones.BloomMinBytesKey,
        (64L * 1024 * 1024).toString)
      Tombstones.removeKeysAt(spark, tombDir,
        spark.range(10, 20).select(col("id").as("k")), Seq("k"))
      assert(!sidecar(tombDir), "survivors below threshold skip the rebuild")
      // masked read still row-exact without a sidecar
      val live = Tombstones.maskAt(spark, tombDir,
        spark.range(0, 300).select(col("id").as("k")),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.LongType))))
        .collect().map(_.getLong(0)).toSet
      assert(live == ((0L until 20L) ++ (200L until 300L)).toSet,
        "mask over the gated set stays exact")
    } finally spark.conf.unset(Tombstones.BloomMinBytesKey)
  }

  test("withTsUs normalizes BOTH events fixture shapes (nanos-long, timestamp)") {
    import spark.implicits._
    // the driver's events.parquet has shipped ts as TIMESTAMP(NANOS)
    // (read as raw long) and as timestamp[us] across rounds; q76 broke
    // in round 7 by touching ts raw. Pin that both shapes normalize to
    // the same integer microseconds through the one blessed adapter.
    val micros = Seq(0L, 1L, 1723500000123456L, -5L)
    val asNanosLong = micros.map(_ * 1000L).toDF("ts")
    val asTimestamp = micros.toDF("us")
      .select(timestamp_micros(col("us")).as("ts"))
    def tus(df: org.apache.spark.sql.DataFrame): List[Long] =
      Events.withTsUs(df).select("tus").collect().map(_.getLong(0)).toList
    assert(tus(asNanosLong) == micros)
    assert(tus(asTimestamp) == micros)
    // and the real fixture (whatever shape this driver wrote) is tus-able
    val real = Events.withTsUs(Tables.events(spark, dir))
    assert(real.schema("tus").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(real.where(col("tus") > 0L).count() > 0)
  }

  test("l-diversity: homogeneous sensitive values suppress a group even " +
      "when it is k-large; diverse groups survive") {
    import spark.implicits._
    val rows = Seq(
      // group (1, a): 3 rows but ONE sensitive value → suppressed at l=2
      (10L, 1L, "a", 5L), (11L, 1L, "a", 5L), (12L, 1L, "a", 5L),
      // group (2, b): 2 rows, 2 distinct values → kept
      (20L, 2L, "b", 5L), (21L, 2L, "b", 6L),
      // group (3, c): 1 row → suppressed
      (30L, 3L, "c", 7L)
    ).toDF("event_id", "user_id", "event_type", "cents")
    val kept = graft.ops.Sample.suppressLowDiversityGroups(
        rows, Seq("user_id", "event_type"), "cents", 2)
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(20L, 21L))
  }

  test("rouge-2 F1: multiset overlap, zero-overlap pairs kept, " +
      "single-token docs score 0") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b c d"),       // bigrams: ab bc cd
      (2L, "b c d e"),       // bigrams: bc cd de   → ov 2, f1 = 4/6
      (3L, "x y x y x"),     // xy:2 yx:2
      (4L, "x y x"),         // xy:1 yx:1           → ov 2, f1 = 4/6
      (5L, "solo"),          // no bigrams
      (6L, "p q"),           // pq:1                → vs 5: ov 0, den 1
      (7L, null.asInstanceOf[String]) // null text ≙ empty doc
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (3L, 4L), (5L, 6L), (1L, 3L), (1L, 7L), (7L, 5L))
      .toDF("ia", "ib")
    val got = graft.ops.Text.rougeBigramF1(d, "doc_id", "text", pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(
      (1L, 2L, 666666L),   // 2*2*1e6 / (3+3)
      (3L, 4L, 666666L),   // multiset: min(2,1)+min(2,1)=2; 4e6/(4+2)
      (5L, 6L, 0L),        // zero overlap, nonzero denominator
      (1L, 3L, 0L),        // disjoint grams
      (1L, 7L, 0L),        // null-text doc scores 0, pair NOT dropped
      (7L, 5L, 0L)))       // both degenerate → den 0 branch
  }

  test("sq8: codes bounded [0,255], search recovers the planted nearest " +
      "neighbor and ranks clusters correctly") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.2f)),
      (1L, Array(0.9f, 0.1f, 0.2f)),   // near 0
      (2L, Array(0.0f, 1.0f, 0.8f)),   // far cluster
      (3L, Array(0.1f, 0.9f, 0.8f))
    ).toDF("vec_id", "embedding")
    val (mn, sc) = graft.ops.Similarity.sq8Stats(vecs)
    val codes = graft.ops.Similarity.sq8Codes(vecs, mn, sc)
      .collect().flatMap(_.getSeq[Long](1))
    assert(codes.forall(c => c >= 0L && c <= 255L))
    assert(codes.contains(0L) && codes.contains(255L)) // extremes hit
    val top = graft.ops.Similarity.sq8SearchTopK(
        vecs, vecs.where(col("vec_id") === 0L), 3)
      .orderBy(col("rank")).collect()
      .map(r => (r.getLong(1), r.getInt(2)))
    assert(top.head == (1L, 1), s"expected planted NN first: ${top.toList}")
    // the far cluster ranks behind the near one
    assert(top.map(_._1).toList == List(1L, 3L, 2L) ||
      top.map(_._1).toList == List(1L, 2L, 3L))
  }

  test("rdfs materialize: rule interaction — subproperty chain fires a " +
      "superproperty domain, then subclass chain lifts the type") {
    import graft.core.Term._
    import graft.core.{Term, TripleDb}
    import graft.ops.Rdfs
    val inst = TripleDb.fromTerms(spark, Seq(
      (TKeyword("alice"), TKeyword("manages"), TKeyword("bob")),
      (TKeyword("carol"), Rdfs.TypeP, TKeyword("intern"))))
    val ont = TripleDb.fromTerms(spark, Seq(
      // two-step property chain: manages ⊑ supervises ⊑ knows
      (TKeyword("manages"), Rdfs.SubPropertyOf, TKeyword("supervises")),
      (TKeyword("supervises"), Rdfs.SubPropertyOf, TKeyword("knows")),
      // domain on the TOP of the chain — must fire for `manages` triples
      (TKeyword("knows"), Rdfs.Domain, TKeyword("person")),
      (TKeyword("supervises"), Rdfs.Range, TKeyword("employee")),
      // two-step class chain above a range-produced and an asserted type
      (TKeyword("employee"), Rdfs.SubClassOf, TKeyword("person")),
      (TKeyword("person"), Rdfs.SubClassOf, TKeyword("agent")),
      (TKeyword("intern"), Rdfs.SubClassOf, TKeyword("employee"))))
    val got = Rdfs.materialize(inst, ont).triples.toSet
    def k(s: String) = TKeyword(s)
    // rdfs7 via the CLOSED property relation (both hops at once)
    assert(got((k("alice"), k("supervises"), k("bob"))))
    assert(got((k("alice"), k("knows"), k("bob"))))
    // rdfs2 on the expanded `knows` triple; rdfs9 lifts person→agent
    assert(got((k("alice"), Rdfs.TypeP, k("person"))))
    assert(got((k("alice"), Rdfs.TypeP, k("agent"))))
    // rdfs3 on the expanded `supervises` triple, then the class chain
    assert(got((k("bob"), Rdfs.TypeP, k("employee"))))
    assert(got((k("bob"), Rdfs.TypeP, k("person"))))
    assert(got((k("bob"), Rdfs.TypeP, k("agent"))))
    // asserted type climbs the THREE-step class chain (rdfs9 + rdfs11)
    assert(got((k("carol"), Rdfs.TypeP, k("employee"))))
    assert(got((k("carol"), Rdfs.TypeP, k("person"))))
    assert(got((k("carol"), Rdfs.TypeP, k("agent"))))
    // rdfs5/rdfs11: closed schema triples are themselves entailed
    assert(got((k("manages"), Rdfs.SubPropertyOf, k("knows"))))
    assert(got((k("intern"), Rdfs.SubClassOf, k("agent"))))
    // original facts survive
    assert(got((k("alice"), k("manages"), k("bob"))))
    // no spurious subjects: only alice/bob/carol carry type triples
    val typed = got.collect { case (s, p, _) if p == Rdfs.TypeP => s }
    assert(typed == Set(k("alice"), k("bob"), k("carol")))
    // meta-axioms over reserved predicates are rejected
    val bad = TripleDb.fromTerms(spark, Seq(
      (TKeyword("manages"), Rdfs.SubPropertyOf, Rdfs.TypeP)))
    intercept[IllegalArgumentException] {
      Rdfs.materialize(inst, bad)
    }
    // incremental append path: entailing the delta alone and set-
    // unioning equals re-materializing everything (ρdf rules never
    // join instance triples with each other) — the base store is
    // never re-scanned on append
    val delta = TripleDb.fromTerms(spark, Seq(
      (TKeyword("dave"), TKeyword("manages"), TKeyword("erin"))))
    val full = Rdfs.materialize(
      TripleDb.merge(inst, delta), ont).triples.toSet
    val incr = Rdfs.materialize(inst, ont).triples.toSet ++
      Rdfs.materializeDelta(delta, ont).triples.toSet
    assert(incr == full)
  }

  test("ann recall@5 floors per family (quality tripwire — a refactor " +
      "that degrades approximation quality fails here, not in prod)") {
    val table = graft.tools.AnnRecall.recallTable(emb, k = 5, nQ = 20).toMap
    // floors sit under the measured sf0.001 values (SURVEY §8.3 table)
    // with margin for fixture regeneration; sq8 is the dequantized-
    // cosine scorer (integer code dots measured 0.05 — the bug this
    // test exists to catch)
    val floors = Map(
      "lsh_gaussian" -> 0.6, "lsh_md5" -> 0.55,
      "ivf_kmeans" -> 0.5, "ivf_fixed16" -> 0.75,
      "pq_fixed16" -> 0.1, "ivfpq_fixed16" -> 0.15,
      "ivfpq_refined" -> 0.7, "sq8" -> 0.9,
      // production-sized rows (√n cells, per-subspace 256-codeword
      // books): prod = the documented probe ≈ √nClusters dial,
      // containment-bound by design on this near-isotropic fixture;
      // prod90 = the measured ≥0.9 operating point (probe 2nc/3,
      // rerank 400) — its floor IS the production quality contract
      "ivfpq_prod" -> 0.5, "ivfpq_prod90" -> 0.9)
    for ((fam, floor) <- floors)
      assert(table(fam) >= floor,
        s"$fam recall ${table(fam)} fell below floor $floor")
    // the refine step must dominate its unrefined base, and sq8 (1 B/dim)
    // must dominate the sub-byte PQ families
    assert(table("ivfpq_refined") >= table("ivfpq_fixed16"))
    assert(table("sq8") > table("pq_fixed16"))
  }

  test("rdfs over quads: entailments inherit the instance graph, the " +
      "schema lands in the default graph; per-graph VoID partitions") {
    import graft.core.Term._
    import graft.core.{QuadDb, TripleDb}
    import graft.ops.Rdfs
    val gA = TUri("http://data/example/gA"); val gB = TUri("http://data/example/gB")
    val inst = QuadDb.fromQuads(spark, Seq(
      (TKeyword("alice"), TKeyword("manages"), TKeyword("bob"), gA),
      (TKeyword("carol"), TKeyword("manages"), TKeyword("dan"), gB)))
    val ont = TripleDb.fromTerms(spark, Seq(
      (TKeyword("manages"), Rdfs.SubPropertyOf, TKeyword("supervises")),
      (TKeyword("supervises"), Rdfs.Domain, TKeyword("person"))))
    val ent = Rdfs.materializeQuads(inst, ont)
    val got = ent.quads.toSet
    def k(s: String) = TKeyword(s)
    // rdfs7 emission stays in the fact's own graph, per graph
    assert(got((k("alice"), k("supervises"), k("bob"), gA)))
    assert(got((k("carol"), k("supervises"), k("dan"), gB)))
    assert(!got((k("alice"), k("supervises"), k("bob"), gB)))
    // rdfs2 type emission inherits the graph too
    assert(got((k("alice"), Rdfs.TypeP, k("person"), gA)))
    assert(got((k("carol"), Rdfs.TypeP, k("person"), gB)))
    // schema facts live in the DEFAULT graph
    assert(got((k("manages"), Rdfs.SubPropertyOf, k("supervises"),
      QuadDb.DefaultGraph)))
    assert(got((k("manages"), Rdfs.SubPropertyOf, k("knows"),
      QuadDb.DefaultGraph)) == false) // no invented closure
    // a whole-graph takedown view drops the graph's entailments with it
    assert(ent.graph(gA).triples.toSet ==
      Set((k("alice"), k("manages"), k("bob")),
        (k("alice"), k("supervises"), k("bob")),
        (k("alice"), Rdfs.TypeP, k("person"))))
    // per-graph VoID: one row per (graph, predicate), honest counts
    val vs = QuadDb.voidStats(inst)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(vs == Set(
      ("u|http://data/example/gA", "k|manages", 1L, 1L, 1L),
      ("u|http://data/example/gB", "k|manages", 1L, 1L, 1L)))
  }

  test("rdfs: an instance store fed as the ontology fails fast at the " +
      "driver-size cap instead of collecting it") {
    import graft.core.Term._
    import graft.core.TripleDb
    import graft.ops.Rdfs
    val inst = TripleDb.fromTerms(spark, Seq(
      (TKeyword("a"), TKeyword("p"), TKeyword("b")),
      (TKeyword("b"), TKeyword("p"), TKeyword("c")),
      (TKeyword("c"), TKeyword("p"), TKeyword("d"))))
    spark.conf.set("graft.rdfs.maxSchemaTriples", "2")
    try {
      val ex = intercept[IllegalArgumentException] {
        Rdfs.materialize(inst, inst)
      }
      assert(ex.getMessage.contains("maxSchemaTriples"))
    } finally spark.conf.unset("graft.rdfs.maxSchemaTriples")
    // within the cap, the same call works
    assert(Rdfs.materialize(inst,
      TripleDb.fromTerms(spark, Seq(
        (TKeyword("p"), Rdfs.SubPropertyOf, TKeyword("q"))))).df.count() == 7)
  }

  test("fanOut is a plan-time no-op on streaming frames (token ops stay " +
      "stream-composable)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[String]
    val sdf = ms.toDF()
    assert(Text.fanOut(sdf) eq sdf)
  }
}
