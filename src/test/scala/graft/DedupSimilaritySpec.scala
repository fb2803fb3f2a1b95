package graft

import graft.functions.TextAnalysis
import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._

/** Training-data-pipeline operators: dedup family + ANN search. */
class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
    (3L, "completely different content about spark sql engines"),
    (4L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (5L, "spark sql engines process completely different content")
  ).toDF("doc_id", "text")

  test("containment dominates jaccard on every overlapping pair (property)") {
    // deterministic pseudo-random docs over a small vocabulary so
    // overlaps are plentiful; |A∩B|/min ≥ |A∩B|/|A∪B| must hold per pair
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta")
    val rng = new scala.util.Random(42)
    val docs = (1L to 30L).map { i =>
      val len = 4 + rng.nextInt(8)
      (i, Seq.fill(len)(vocab(rng.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val j = Dedup.jaccardPairs(docs, "doc_id", "text", n = 2, threshold = 0.0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val c = Dedup.containmentPairs(docs, "doc_id", "text", n = 2,
        threshold = 0.0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(j.nonEmpty && j.keySet == c.keySet) // same candidate pairs
    j.foreach { case (pair, jac) =>
      assert(c(pair) >= jac, s"containment < jaccard for $pair")
      assert(c(pair) <= 1.0 && jac <= 1.0)
    }
  }

  test("editSimilarityPairs verifies order: same-vocab scrambles are dropped") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val oneEdit = "alpha beta gamma delta epsilon zeta eta theta iota kappo"
    // same word MULTISET, aggressively reordered: bigram-shingle overlap
    // stays high enough to clear a low candidate bar, but the character
    // sequence diverges — the edit verifier must drop it
    val scrambled = "kappa iota theta eta zeta epsilon delta gamma beta alpha"
    val df = Seq((1L, base), (2L, oneEdit), (3L, scrambled))
      .toDF("doc_id", "text")
    // unigram shingles: all three docs share (nearly) the same word SET,
    // so every pair is a candidate at 0.5
    val cands = Dedup.jaccardPairs(df, "doc_id", "text", n = 1, threshold = 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(cands.contains((1L, 3L)), "scramble must survive the candidate stage")
    val verified = Dedup.editSimilarityPairs(df, "doc_id", "text", n = 1,
      candThreshold = 0.5, simThreshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(verified.keySet == Set((1L, 2L)),
      s"only the one-edit pair passes the verifier, got ${verified.keySet}")
    // 1 char substituted out of 58 → sim = 1 - 1/58
    assert(math.abs(verified((1L, 2L)) - (1.0 - 1.0 / base.length)) < 1e-6)
  }

  test("containmentPairs catches a quoted doc that jaccard misses") {
    val quote = "the quick brown fox jumps over the lazy dog"
    val host = ("completely unrelated framing text opens this long document " +
      "with many extra sentences about spark catalyst optimizers and " +
      "distributed shuffle exchanges before finally citing " + quote +
      " and then continuing with yet more unrelated trailing material " +
      "about parquet encodings and broadcast joins at cluster scale")
    val df = Seq((1L, quote), (2L, host)).toDF("doc_id", "text")
    // every 3-shingle of the quote appears in the host → containment 1.0
    val cont = Dedup.containmentPairs(df, "doc_id", "text", n = 3,
      threshold = 0.9).collect()
    assert(cont.length == 1)
    assert(cont.head.getLong(0) == 1L && cont.head.getLong(1) == 2L)
    assert(cont.head.getDouble(2) == 1.0)
    // jaccard's union term dilutes the same pair to ~|A|/|B| — far
    // below any dedup threshold: the asymmetric case needs containment
    val jac = Dedup.jaccardPairs(df, "doc_id", "text", n = 3,
      threshold = 0.5).collect()
    assert(jac.isEmpty)
  }

  test("clusterRepresentatives keeps the best-scoring member per cluster") {
    val clusters = Seq(
      (1L, 1L), (2L, 1L), (4L, 1L), // one near-dup cluster, canonical 1
      (3L, 3L), (5L, 5L)            // singletons
    ).toDF("doc_id", "canonical_id")
    val scores = Seq(
      (1L, 0.4), (2L, 0.9), (4L, 0.9), // tie between 2 and 4 → lower id wins
      (3L, 0.7), (5L, 0.1)
    ).toDF("doc_id", "score")
    val reps = Dedup.clusterRepresentatives(clusters, scores, "doc_id", "score")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
    assert(reps(1L) == ((2L, 0.9, 3L))) // best score, tie → min id, size 3
    assert(reps(3L) == ((3L, 0.7, 1L)))
    assert(reps(5L) == ((5L, 0.1, 1L)))
    // shape: one aggregation, no sort window over the cluster key
    val plan = Dedup.clusterRepresentatives(clusters, scores, "doc_id", "score")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("WindowExec") && !plan.contains("RunningWindow"))
  }

  test("exact dedup groups by normalized fingerprint") {
    val groups = Dedup.exactGroups(docs, "doc_id", "text")
    assert(groups.count() == 4)
    assert(groups.filter($"n_docs" === 2).collect()(0)
      .getAs[Long]("canonical_id") == 1L)
    assert(Dedup.exactDedup(docs, "doc_id", "text").count() == 4)
  }

  test("jaccard pairs finds near-dups above threshold") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L))) // exact dup: jaccard 1.0
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 4L))) // near-dup
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("maxDocFreq prunes hot shingles without losing qualifying pairs") {
    val common = "alpha beta gamma delta"
    val near = (1 to 20).map(w => s"w$w").mkString(" ")
    val hotDocs = (
      Seq((1L, s"$common $near one"), (2L, s"$common $near two")) ++
        (3L to 12L).map(i => (i, s"$common u${i}a u${i}b u${i}c u${i}d"))
      ).toDF("doc_id", "text")
    // the shared prefix's interior shingles appear in all 12 docs —
    // over the cap of 5
    val maxDf = Dedup.shingleSets(hotDocs, "doc_id", "text", 3)
      .select(explode($"_sh").as("s")).groupBy("s")
      .agg(count(lit(1)).as("df")).agg(max($"df")).collect()(0).getLong(0)
    assert(maxDf > 5)
    def run(cap: Long) =
      Dedup.jaccardPairs(hotDocs, "doc_id", "text", n = 3,
        threshold = 0.5, maxDocFreq = cap).collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val uncapped = run(0L)
    val capped = run(5L)
    // the qualifying pair set survives the prune (estimates for pairs
    // that shared a hot shingle shrink, but stay over the threshold)
    assert(uncapped.keySet == Set((1L, 2L)))
    assert(capped.keySet == uncapped.keySet)
    assert(capped((1L, 2L)) >= 0.5)
    // and the prune really is in the plan — the capped native pair
    // aggregate (overflow = pruned), with no anti-join second pass and
    // no cached intermediate left behind
    val plan = Dedup.jaccardPairs(hotDocs, "doc_id", "text", n = 3,
      threshold = 0.5, maxDocFreq = 5L).queryExecution.sparkPlan.toString
    assert(plan.contains(graft.expr.PostingPairsAgg.FunctionName))
    assert(!plan.contains("LeftAnti") && !plan.contains("InMemoryTableScan"))
  }

  test("OrderedPairs matches the composed transform-in-transform form") {
    val arrays = Seq(
      Seq.empty[Long], Seq(7L), Seq(1L, 2L), Seq(5L, 1L, 9L, 3L),
      (1L to 12L).toSeq)
    val df = arrays.zipWithIndex.map { case (a, i) => (i.toLong, a) }
      .toDF("k", "ids")
    val native = df.select($"k",
        explode(call_function(graft.expr.OrderedPairs.FunctionName, $"ids"))
          .as("p"))
      .select($"k", $"p.id1", $"p.id2")
      .as[(Long, Long, Long)].collect().toSeq
    val composed = df.select($"k",
        explode(flatten(transform($"ids", (x, i) =>
          transform(slice($"ids", i + 2, size($"ids")),
            y => struct(x.as("id1"), y.as("id2")))))).as("p"))
      .select($"k", $"p.id1", $"p.id2")
      .as[(Long, Long, Long)].collect().toSeq
    assert(native == composed) // same pairs, same order
    assert(native.count(_._1 == 4L) == 12 * 11 / 2)
    // null slots (possible for ad-hoc SQL callers) are skipped, not
    // fabricated into id-0 pairs
    val withNull = spark.sql(
      "SELECT graft_pairs(array(CAST(5 AS BIGINT), CAST(NULL AS BIGINT), CAST(9 AS BIGINT))) AS p")
      .selectExpr("inline(p)").as[(Long, Long)].collect().toSeq
    assert(withNull == Seq((5L, 9L)), withNull)
  }

  test("crossJaccardPairs: cross-corpus matches only, sizes from own side") {
    val a = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "totally unrelated archive entry about engines")
    ).toDF("doc_id", "text")
    val b = Seq(
      (10L, "the quick brown fox jumps over the lazy cat"), // near-dup of a:1
      (11L, "the quick brown fox jumps over the lazy dog"), // exact dup of a:1
      (12L, "nothing in common with anything here at all")
    ).toDF("doc_id", "text")
    val pairs = Dedup.crossJaccardPairs(a, b, "doc_id", "text",
        n = 3, threshold = 0.5)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs.keySet == Set((1L, 10L), (1L, 11L)), pairs)
    assert(pairs((1L, 11L)) == 1.0)
    assert(pairs((1L, 10L)) >= 0.5 && pairs((1L, 10L)) < 1.0)
    // within-corpus duplicates are NOT this operator's business
    val aa = Dedup.crossJaccardPairs(a, a.filter(lit(false)), "doc_id", "text",
      n = 3, threshold = 0.1)
    assert(aa.isEmpty)
  }

  test("minhash LSH candidates contain the true near-dups") {
    val verified = Dedup.minhashDedupPairs(docs, "doc_id", "text", n = 3,
      threshold = 0.5, numHashes = 64, bands = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(verified.contains((1L, 4L)))
    assert(verified.contains((1L, 2L)))
  }

  test("near-dup clusters: transitive closure with min-id canonicals") {
    // 1-2, 2-4 similar (chain), 3 and 5 singletons at this threshold
    val clusters = Dedup.nearDupClusters(docs, "doc_id", "text",
      n = 3, threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters(1L) == 1L && clusters(2L) == 1L && clusters(4L) == 1L)
    assert(clusters(3L) == 3L && clusters(5L) == 5L)

    // a longer chain resolves transitively: a~b, b~c but a and c share
    // nothing — all three still land in one component
    val chain = Seq(
      (10L, "one two three four five six seven eight"),
      (11L, "one two three four five nine ten eleven"),
      (12L, "five nine ten eleven twelve thirteen")
    ).toDF("doc_id", "text")
    val chainPairs = Dedup.jaccardPairs(chain, "doc_id", "text", n = 3,
      threshold = 0.2)
    val cc = Dedup.connectedComponents(chainPairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(10L -> 10L, 11L -> 10L, 12L -> 10L))
    // the distributed label-propagation regime resolves identically
    val ccDist = Dedup.connectedComponents(chainPairs, driverThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ccDist == cc)

    // empty pair list → empty components, all docs self-canonical
    val lone = Seq((1L, "abc"), (2L, "totally different")).toDF("doc_id", "text")
    val loneClusters = Dedup.nearDupClusters(lone, "doc_id", "text", 3, 0.9)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(loneClusters == Map(1L -> 1L, 2L -> 2L))
  }

  test("connectedComponents fails loudly when a component outlives maxIter") {
    // a path graph 0-1-2-...-8 has diameter 8: min-label propagation
    // needs 8 rounds + 1 to detect the fixpoint. With maxIter=3 the
    // distributed regime must raise, NOT return wrong labels (silent
    // non-convergence would leave duplicates unclustered)
    val path = (0L until 8L).map(i => (i, i + 1)).toDF("id1", "id2")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(path, maxIter = 3, driverThreshold = 0L)
        .collect()
    }
    assert(e.getMessage.contains("maxIter"))
    // with enough rounds the same graph converges to the path min
    val ok = Dedup.connectedComponents(path, maxIter = 10, driverThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ok.values.toSet == Set(0L) && ok.size == 9)
  }

  test("jaccard pairs equal a scala brute-force model on random corpora") {
    // independent model of the shingle/jaccard semantics (lowercase
    // alnum tokens, word 3-grams, whole-text when short, distinct)
    def model(text: String): Set[String] = {
      val toks = text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
      if (toks.length <= 3) Set(toks.mkString(" "))
      else toks.sliding(3).map(_.mkString(" ")).toSet
    }
    val rnd = new scala.util.Random(4242)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    for (round <- 1 to 3) {
      val corpus = (1L to 30L).map { id =>
        val len = 4 + rnd.nextInt(8)
        id -> Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }
      val expected = (for {
        (i, ti) <- corpus; (j, tj) <- corpus if i < j
        si = model(ti); sj = model(tj)
        inter = (si & sj).size
        jac = inter.toDouble / (si.size + sj.size - inter)
        rounded = math.rint(jac * 1e6) / 1e6 if rounded >= 0.4
      } yield (i, j) -> rounded).toMap
      val got = Dedup.jaccardPairs(corpus.toDF("doc_id", "text"),
          "doc_id", "text", n = 3, threshold = 0.4)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(got == expected, s"round $round")
      // LSH-verified pairs are a subset of exact pairs with the same
      // jaccard values (verification is exact)
      val lsh = Dedup.minhashDedupPairs(corpus.toDF("doc_id", "text"),
          "doc_id", "text", n = 3, threshold = 0.4, numHashes = 128, bands = 64)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      lsh.foreach { case (k, v) => assert(expected.get(k).contains(v)) }
    }
  }

  test("simhash: identical docs same fingerprint, near-dups close, distinct far") {
    val fp = docs.select($"doc_id", Dedup.simhash($"text").as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(4L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(fp(1L), fp(2L)) < hamming(fp(1L), fp(3L)))
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L)))
  }

  private def vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(0.99f, 0.1f, 0.0f)), // close to 0
    (2L, Array(0.0f, 1.0f, 0.0f)),
    (3L, Array(0.0f, 0.98f, 0.2f)), // close to 2
    (4L, Array(0.0f, 0.0f, 1.0f))
  ).toDF("vec_id", "embedding")

  test("brute-force cosine top-k returns nearest neighbors") {
    val top1 = Similarity.bruteForceTopK(
      vecs.filter($"vec_id" < 2), vecs, "vec_id", "embedding", k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(top1(0L) == 1L)
    assert(top1(1L) == 0L)
  }

  test("IVF assignment routes vectors to nearest centroid; topk within probes") {
    val centroids = vecs.filter($"vec_id" === 0L || $"vec_id" === 2L)
    val assigned = Similarity.ivfAssign(vecs, centroids, "vec_id", "embedding")
    val m = assigned.select("vec_id", "centroid_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) == 0L)
    assert(m(3L) == 2L)
    val res = Similarity.ivfTopK(vecs.filter($"vec_id" === 1L), assigned,
      centroids, "vec_id", "embedding", k = 1, nProbe = 1)
      .collect()
    assert(res.length == 1 && res(0).getLong(1) == 0L)
  }

  test("rankingMetrics: hand-computed MRR/NDCG, absent truth, no-relevant query") {
    // query 1: predictions ranked by score = (n10, n20, n30); truth
    // marks n20 (rel 2) and n30 (rel 1) → first hit at rank 2.
    // discounts d(r) = round(1/log2(r+1), 9): d1=1, d2=0.630929754,
    // d3=0.5
    val preds = Seq(
      (1L, 10L, 0.9), (1L, 20L, 0.8), (1L, 30L, 0.7),
      (2L, 10L, 0.9) // query 2: no relevant docs at all
    ).toDF("query_id", "neighbor_id", "score")
    val truth = Seq(
      (1L, 20L, 2.0), (1L, 30L, 1.0),
      (9L, 10L, 1.0) // a query absent from predictions — ignored
    ).toDF("query_id", "neighbor_id", "rel")
    val got = Similarity.rankingMetrics(preds, truth, "score", k = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val d2 = BigDecimal(1.0 / (math.log(3) / math.log(2)))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    // dcg = 2*d2 + 1*0.5; idcg = 2*1 + 1*d2 (ideal puts rel-2 first)
    val dcg = BigDecimal(2 * d2 + 0.5)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val idcg = BigDecimal(2.0 + d2)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val ndcg = BigDecimal((2 * d2 + 0.5) / (2.0 + d2))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L) == ((0.5, dcg, idcg, ndcg)), got(1L))
    assert(got(2L) == ((0.0, 0.0, 0.0, 0.0)), got(2L))
    assert(!got.contains(9L))
  }

  test("recallAtK: perfect match scores 1, disjoint scores 0, coverage for all queries") {
    val truth = Similarity.bruteForceTopK(
      vecs.filter($"vec_id" < 2), vecs, "vec_id", "embedding", k = 2)
    // approx == truth → recall 1.0 everywhere
    val perfect = Similarity.recallAtK(truth, truth, k = 2)
      .select("query_id", "recall").as[(Long, Double)].collect().toMap
    assert(perfect.values.forall(_ == 1.0), perfect)
    assert(perfect.keySet == Set(0L, 1L))
    // empty approx → every query present with recall 0
    val none = Similarity.recallAtK(truth, truth.limit(0), k = 2)
      .select("query_id", "recall").as[(Long, Double)].collect().toMap
    assert(none.values.forall(_ == 0.0), none)
    assert(none.keySet == Set(0L, 1L))
  }

  test("quantizeInt8: codes bounded, max component hits ±127, dequant error small") {
    val q = Similarity.quantizeInt8(vecs, "vec_id", "embedding")
      .as[(Long, Long, Long)].collect()
    assert(q.forall { case (_, _, c) => c >= -127 && c <= 127 })
    // every vector's largest |component| quantizes to exactly ±127
    val maxPerVec = q.groupBy(_._1).map { case (_, rows) => rows.map(r => math.abs(r._3)).max }
    assert(maxPerVec.forall(_ == 127L), maxPerVec)
    // dequantization error ≤ scale/254 per component (half a code step)
    val orig = vecs.collect().map { r =>
      r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble)
    }.toMap
    q.foreach { case (id, idx, code) =>
      val xs = orig(id)
      val scale = xs.map(math.abs).max
      val err = math.abs(xs(idx.toInt) - code.toDouble * scale / 127)
      assert(err <= scale / 254 + 1e-12, s"vec $id idx $idx err $err")
    }
  }

  test("embedding near-dup pairs via threshold") {
    val pairs = Similarity.nearDupPairs(vecs, "vec_id", "embedding", 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L), (2L, 3L)))
  }

  test("semanticDedup keeps the duplicate farthest from the centroid") {
    // one cell (single centroid): a and b are near-dups of each other;
    // o is orthogonal. b sits farther from the centroid than a, so the
    // SemDeDup keep rule must keep b and drop a; o is untouched.
    val centroid = Seq((100L, Array(1.0f, 0.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, Array(1.0f, 0.01f, 0.0f, 0.0f)), // a: closest to centroid
      (2L, Array(1.0f, 0.02f, 0.0f, 0.0f)), // b: near-dup of a, farther out
      (3L, Array(0.0f, 0.0f, 1.0f, 0.0f))   // o: no near neighbor
    ).toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(corpus, centroid, "vec_id",
        "embedding", threshold = 0.9)
      .select("vec_id", "kept").as[(Long, Int)].collect().toMap
    assert(out == Map(1L -> 0, 2L -> 1, 3L -> 1), out)
    // singleton cells are trivially kept (left join, not inner)
    val solo = Similarity.semanticDedup(
        corpus.filter($"vec_id" === 3L), centroid, "vec_id", "embedding", 0.9)
      .select("vec_id", "kept").as[(Long, Int)].collect().toMap
    assert(solo == Map(3L -> 1), solo)
  }

  test("trainCentroids: auto-k = ceil(sqrt(N)), deterministic seeds, refined means") {
    // 9 vectors in 3 tight groups → auto-k picks ceil(sqrt(9)) = 3
    val corpus = (0 until 9).map { i =>
      val base = Array.fill(4)(0.0f)
      base(i / 3) = 1.0f
      base(3) = 0.01f * (i % 3)
      (i.toLong, base)
    }.toDF("vec_id", "embedding")
    val cents = Similarity.trainCentroids(corpus, "vec_id", "embedding")
    assert(cents.columns.toSeq == Seq("vec_id", "embedding"))
    val k = cents.count()
    assert(k <= 3 && k >= 1, s"auto-k picked $k cells") // cells can merge
    // deterministic: a second training run is identical
    val again = Similarity.trainCentroids(corpus, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val first = cents.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(again == first)
    // explicit k bypasses the count and seeds exactly k cells pre-refine
    val seeded = Similarity.trainCentroids(corpus, "vec_id", "embedding",
      k = Some(4), rounds = 0)
    assert(seeded.count() == 4)
    // rounds=0 returns raw seed vectors: members of the corpus itself
    val seedVecs = seeded.collect().map(_.getSeq[Float](1).toList).toSet
    val corpusVecs = corpus.collect().map(_.getSeq[Float](1).toList).toSet
    assert(seedVecs.subsetOf(corpusVecs))
    // the auto pipeline: dedup with self-trained centroids equals
    // dedup against the same centroids passed explicitly
    val auto = Similarity.semanticDedupAuto(corpus, "vec_id", "embedding",
        threshold = 0.999)
      .select("vec_id", "kept").as[(Long, Int)].collect().toMap
    val explicit = Similarity.semanticDedup(corpus,
        Similarity.trainCentroids(corpus, "vec_id", "embedding"),
        "vec_id", "embedding", threshold = 0.999)
      .select("vec_id", "kept").as[(Long, Int)].collect().toMap
    assert(auto == explicit, s"auto=$auto explicit=$explicit")
    assert(auto.values.sum < 9, "threshold 0.999 should drop some near-dups")
    graft.Caches.release(spark)
  }

  test("semanticDedup matches a brute-force dominance model (property)") {
    // the relational shape (cell self-join + per-vector max) must equal
    // the straight-line model: assign by best rounded cosine (ties →
    // lowest centroid id), drop iff a same-cell neighbor above the
    // threshold has lower centroid_sim (ties → lower id). Cosines are
    // taken FROM Spark so the property isolates the dominance logic
    // from the arithmetic.
    val rng = new scala.util.Random(7)
    val corpus = (0L until 40L).map { i =>
      (i, Array.fill(8)((rng.nextDouble() * 2 - 1).toFloat))
    }.toDF("vec_id", "embedding")
    val cents = corpus.filter($"vec_id" < 4)
    val threshold = 0.6
    val a = corpus.select($"vec_id".as("id1"), $"embedding".as("_v1"))
    val b = corpus.select($"vec_id".as("id2"), $"embedding".as("_v2"))
    val sims = a.join(b)
      .select($"id1", $"id2",
        round(Similarity.cosine($"_v1", $"_v2"), 6).as("sim"))
      .as[(Long, Long, Double)].collect()
      .map { case (x, y, s) => (x, y) -> s }.toMap
    // model: argmax over rounded centroid cosines, lowest id on ties
    val ids = (0L until 40L).toSeq
    val cell = ids.map { v =>
      v -> (0L until 4L).maxBy(c => (sims((v, c)), -c))
    }.toMap
    val csim = ids.map(v => v -> sims((v, cell(v)))).toMap
    val expectKept = ids.map { v =>
      val dominated = ids.exists { o =>
        o != v && cell(o) == cell(v) && sims((v, o)) >= threshold &&
          (csim(o) < csim(v) || (csim(o) == csim(v) && o < v))
      }
      v -> (if (dominated) 0 else 1)
    }.toMap
    val got = Similarity.semanticDedup(corpus, cents, "vec_id", "embedding",
        threshold)
      .select("vec_id", "kept").as[(Long, Int)].collect().toMap
    assert(got == expectKept,
      s"diff=${got.toSet.diff(expectKept.toSet)}")
    // sanity: the property exercised both verdicts
    assert(expectKept.values.toSet == Set(0, 1), expectKept.values.toSet)
  }

  test("sourceMixWeights: shares, uniform and explicit targets") {
    import graft.operators.Corpus
    // src a: 3 docs x 2 tokens = 6; src b: 1 doc x 2 tokens = 2
    val docs = Seq(
      ("a", "alpha beta"), ("a", "gamma delta"), ("a", "epsilon zeta"),
      ("b", "eta theta")
    ).toDF("source", "text")
    val uni = Corpus.sourceMixWeights(docs, "source", "text")
      .as[(String, Long, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(uni("a") == (("a", 3L, 6L, 0.75, 0.5, 0.666667)), uni("a"))
    assert(uni("b") == (("b", 1L, 2L, 0.25, 0.5, 2.0)), uni("b"))
    // an explicit target matching the actual mixture → every weight 1;
    // the map renormalizes (3:1 == 0.75:0.25)
    val matched = Corpus.sourceMixWeights(docs, "source", "text",
        target = Map("a" -> 3.0, "b" -> 1.0))
      .select("source", "mix_weight").as[(String, Double)].collect().toMap
    assert(matched == Map("a" -> 1.0, "b" -> 1.0), matched)
  }

  test("sourceMixWeights: zero-sum targets rejected, uncovered sources drop to 0") {
    import graft.operators.Corpus
    val docs = Seq(
      ("a", "alpha beta"), ("a", "gamma delta"), ("b", "eta theta")
    ).toDF("source", "text")
    // an all-zero explicit target can never renormalize — rejected
    intercept[IllegalArgumentException](
      Corpus.sourceMixWeights(docs, "source", "text",
        target = Map("a" -> 0.0, "b" -> 0.0)))
    // a target covering only absent sources renormalizes over zero:
    // every present source gets explicit 0 shares/weights, not nulls
    val uncovered = Corpus.sourceMixWeights(docs, "source", "text",
        target = Map("zz" -> 1.0))
      .select("source", "target_share", "mix_weight")
      .as[(String, Double, Double)].collect()
      .map { case (s, t, w) => s -> ((t, w)) }.toMap
    assert(uncovered == Map("a" -> ((0.0, 0.0)), "b" -> ((0.0, 0.0))), uncovered)
    // and the resampler then drops everything — empty, not a crash
    val resampled = Corpus.sourceMixResampled(
      docs.withColumn("doc_id", monotonically_increasing_id()),
      "doc_id", "source", "text", target = Map("zz" -> 1.0))
    assert(resampled.count() == 0L)
  }

  test("sourceMixResampled repeats floor(w) times plus a fractional draw") {
    import graft.operators.Corpus
    // weights under a uniform target: a=2/3, b=2 (token shares 0.75 /
    // 0.25). Source b's docs appear exactly twice (integer weight, the
    // fractional draw adds nothing); source a's appear 0 or 1 times,
    // matching each key's md5 draw against the 2/3 threshold.
    val docs = Seq(
      (1L, "a", "alpha beta"), (2L, "a", "gamma delta"),
      (3L, "a", "epsilon zeta"), (4L, "b", "eta theta")
    ).toDF("doc_id", "source", "text")
    val out = Corpus.sourceMixResampled(docs, "doc_id", "source", "text")
      .select("doc_id", "epoch").as[(Long, Long)].collect().toSeq
    val perDoc = out.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    // b (doc 4): exactly epochs 0 and 1
    assert(perDoc(4L) == Seq(0L, 1L), perDoc)
    // a docs: each 0 or 1 copies, epoch always 0
    Seq(1L, 2L, 3L).foreach { d =>
      assert(perDoc.getOrElse(d, Seq.empty).forall(_ == 0L), perDoc)
      assert(perDoc.getOrElse(d, Seq.empty).size <= 1, perDoc)
    }
    // the draw is the stratifiedSample md5 contract — replicate it to
    // pin WHICH a-docs survive (threshold = frac(2/3) scaled to 1e6)
    val thr = math.round((2.0 / 3.0 - 0.0) * 1000000)
    val expectA = docs.filter($"source" === "a")
      .select($"doc_id",
        pmod(TextAnalysis.md5Long(concat($"doc_id".cast("string"), lit(""))),
          lit(1000000L)).as("draw"))
      .as[(Long, Long)].collect()
      .filter { case (_, draw) => draw < thr }.map(_._1).toSet
    assert(perDoc.keySet.filter(_ != 4L) == expectA, s"got=$perDoc exp=$expectA")
    // determinism: a second run is identical
    val again = Corpus.sourceMixResampled(docs, "doc_id", "source", "text")
      .select("doc_id", "epoch").as[(Long, Long)].collect().toSeq
    assert(again.sorted == out.sorted)
  }

  test("kmeans refinement: exact decimal means, stable reassignment") {
    val seeds = vecs.filter($"vec_id" === 0L || $"vec_id" === 2L)
    // seed assign: v4 (0,0,1) ties 0.0 to both seeds → lowest id (0)
    val refined = Similarity.kmeansRecompute(
        Similarity.ivfAssign(vecs, seeds, "vec_id", "embedding"), "embedding")
      .collect().map(r => r.getLong(0) ->
        r.getAs[scala.collection.Seq[Double]]("embedding").toSeq).toMap
    assert(refined(0L) == Seq(0.663333, 0.033333, 0.333333)) // mean of v0,v1,v4
    assert(refined(2L) == Seq(0.0, 0.99, 0.1))               // mean of v2,v3
    val a2 = Similarity.kmeansRefineAssign(vecs, seeds, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a2 == Map(0L -> 0L, 1L -> 0L, 4L -> 0L, 2L -> 2L, 3L -> 2L))
  }

  test("SRP near-dup pairs are exact-verified candidates") {
    // hyperplanes are deterministic across calls (oracle contract)
    assert(Similarity.srpHyperplanes(4, 8) == Similarity.srpHyperplanes(4, 8))
    val srp = Similarity.srpNearDupPairs(vecs, "vec_id", "embedding",
        threshold = 0.95, dim = 3, bits = 16, bands = 8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val exact = Similarity.nearDupPairs(vecs, "vec_id", "embedding", 0.95)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // verified candidates ⊆ exact pairs, with identical sims
    srp.foreach { case (k, v) => assert(exact.get(k).contains(v)) }
    // an identical vector collides in EVERY band → always recalled
    val withDup = vecs.union(Seq((9L, Array(1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding"))
    val dupPairs = Similarity.srpNearDupPairs(withDup, "vec_id", "embedding",
        threshold = 0.99, dim = 3, bits = 16, bands = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dupPairs.contains((0L, 9L)))
  }

  test("langIdWideComposed: the analyzed expression tree stays linear") {
    // the reference form must stay small enough to analyze, render and
    // evaluate: a fold that repeats its accumulator per refinement
    // prior grows exponentially (2.9M nodes against the native
    // kernel's 14)
    val plan = Seq("x").toDF("text")
      .select(TextAnalysis.langIdWideComposed($"text").as("r"))
      .queryExecution.analyzed
    var nodes = 0L
    plan.expressions.foreach(_.foreach(_ => nodes += 1))
    assert(nodes < 20000L, s"langIdWideComposed has $nodes expression nodes")
  }

  test("langIdWide: script tier, close-language pairs, confidence") {
    val df = Seq(
      // close Latin pairs — the lists are built to separate them
      (1L, "el perro corre por la calle con los amigos para que es"), // es
      (2L, "o cachorro corre na rua com os amigos para que um dia"), // pt
      (3L, "og det er en hund som ikke er med af dem at se"), // da (af)
      (4L, "og det er en hund som ikke er med av dem at se"), // no (av)
      // script tier
      (5L, "привет как дела сегодня"), // ru (Cyrillic)
      (6L, "これはテストです"), // ja (kana)
      (7L, "这是一个测试文本"), // zh (Han, no kana)
      (8L, "안녕하세요 테스트입니다"), // ko (Hangul)
      (9L, "مرحبا كيف حالك اليوم"), // ar
      (10L, "Γεια σου κόσμε σήμερα"), // el
      // a couple of foreign chars must NOT flip a Latin doc (30% rule)
      (11L, "the cat and the dog is in the house да"), // en
      (12L, "xyzzy qwerty"), // no evidence at all
      (13L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val pred = TextAnalysis.langIdWide($"text")
    val got = df.select($"doc_id", pred.getField("lang"),
        pred.getField("confidence"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2)))
      .toMap
    val expLang = Map(1L -> "es", 2L -> "pt", 3L -> "da", 4L -> "no",
      5L -> "ru", 6L -> "ja", 7L -> "zh", 8L -> "ko", 9L -> "ar",
      10L -> "el", 11L -> "en", 12L -> "und", 13L -> "und")
    expLang.foreach { case (id, l) =>
      assert(got(id)._1 == l, s"doc $id: got ${got(id)} want $l")
    }
    // confidence contracts: script tier = script-char share of non-ws
    // chars; stopword tier = hit share of tokens; no evidence = 0.0
    assert(got(6L)._2 == 1.0 && got(7L)._2 == 1.0) // pure-script docs
    assert(got(12L)._2 == 0.0 && got(13L)._2 == 0.0)
    assert(got(1L)._2 > 0.4 && got(1L)._2 < 1.0)
    // the 4-way langId is unchanged (reference form)
    val narrow = df.filter($"doc_id" === 1L)
      .select(TextAnalysis.langId($"text")).collect()(0).getString(0)
    assert(narrow == "es")
    // the native kernel ≡ the composed reference form, bit for bit —
    // the kernel exists because the composed projection exceeds
    // janino's limits and falls back to interpreted evaluation.
    // Supplementary characters included: the kernel must count CODE
    // POINTS like Spark's length()/regexp, not UTF-16 code units (an
    // emoji is one non-ws char, not two)
    val composed = TextAnalysis.langIdWideComposed($"text")
    val withAstral = df.unionByName(Seq(
      (20L, "これは 😀😀😀😀😀"), // kana + astral emoji: code-unit counting flips the 30% rule
      (21L, "😀😀 the cat and the dog 😀😀")).toDF("doc_id", "text"))
    val both = withAstral.select($"doc_id",
        pred.getField("lang"), pred.getField("confidence"),
        composed.getField("lang"), composed.getField("confidence"))
      .collect()
    both.foreach { r =>
      assert(r.getString(1) == r.getString(3) &&
        r.getDouble(2) == r.getDouble(4),
        s"native vs composed diverge on doc ${r.getLong(0)}: $r")
    }
  }

  test("langIdWide: widened 62-language set — new scripts and close pairs") {
    val df = Seq(
      // new script tiers (explicit escapes; real words in each block)
      (1L, "ሰላም መልካም"), // am: Ethiopic
      (2L, "བོད སྐད"), // bo: Tibetan
      (3L, "નમસ્તે"), // gu: Gujarati
      (4L, "ខ្មែរ"), // km: Khmer
      (5L, "ಕನ್ನಡ"), // kn: Kannada
      (6L, "ລາວ ບານ"), // lo: Lao
      (7L, "മലയാളം"), // ml: Malayalam
      (8L, "မြန်မာ"), // my: Myanmar
      (9L, "ਪੰਜਾਬੀ"), // pa: Gurmukhi
      (10L, "සිංහල"), // si: Sinhala
      (11L, "தமிழ்"), // ta: Tamil
      (12L, "తెలుగు"), // te: Telugu
      (13L, "ދިވެހި"), // dv: Thaana
      // close Latin pairs the widened lists must separate
      (20L, "yang dan di dengan untuk ini itu tidak dari akan"), // id
      (21L, "yang dan di dengan untuk ini adalah boleh kerana telah"), // ms
      (22L, "ja on ei se oli mutta kun niin joka jos"), // fi
      (23L, "ja on ei see oli ka kui aga mis oma"), // et
      (24L, "bir ve bu da ne gibi ama daha sonra kadar"), // tr
      (25L, "ki bir bu lakin olaraq zaman daha sonra ancaq edir"), // az
      (26L, "je se na da su od za ali kao ili"), // hr
      (27L, "je in se na da so za ki pa tudi"), // sl
      (28L, "de que o da em um para com os uma"), // pt
      (29L, "de que o a e do da un unha dos"), // gl
      // singletons from the new band
      (30L, "die hond en die kat is nie van die huis wat ook"), // af
      (31L, "ang mga bata ay sa bahay na ito para hindi"), // tl
      (32L, "na ya wa kwa ni za katika hii lakini kama"), // sw
      (33L, "cho trong khi hay nhau theo ra con anh nay"), // vi
      (34L, "ir yra kad tai bet kaip jau buvo apie nes"), // lt
      (35L, "un ir ka par bet no uz tas vai tika"), // lv
      (36L, "je se na to ale jako pro tak co nebo"), // cs
      (37L, "je sa na to som ako ale pre tak alebo") // sk
    ).toDF("doc_id", "text")
    val pred = TextAnalysis.langIdWide($"text")
    val got = df.select($"doc_id", pred.getField("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val exp = Map(1L -> "am", 2L -> "bo", 3L -> "gu", 4L -> "km",
      5L -> "kn", 6L -> "lo", 7L -> "ml", 8L -> "my", 9L -> "pa",
      10L -> "si", 11L -> "ta", 12L -> "te", 13L -> "dv",
      20L -> "id", 21L -> "ms", 22L -> "fi", 23L -> "et", 24L -> "tr",
      25L -> "az", 26L -> "hr", 27L -> "sl", 28L -> "pt", 29L -> "gl",
      30L -> "af", 31L -> "tl", 32L -> "sw", 33L -> "vi", 34L -> "lt",
      35L -> "lv", 36L -> "cs", 37L -> "sk")
    exp.foreach { case (id, l) =>
      assert(got(id) == l, s"doc $id: got ${got(id)} want $l")
    }
    // native ≡ composed holds at the widened label space too
    val composed = TextAnalysis.langIdWideComposed($"text")
    df.select($"doc_id", pred.getField("lang"), pred.getField("confidence"),
        composed.getField("lang"), composed.getField("confidence"))
      .collect().foreach { r =>
        assert(r.getString(1) == r.getString(3) &&
          r.getDouble(2) == r.getDouble(4),
          s"native vs composed diverge on doc ${r.getLong(0)}: $r")
      }
  }

  test("langIdWide: 93-language set — script refinement and the new Latin band") {
    val df = Seq(
      // Cyrillic refinement: distinctive letters pick within the
      // script; the prior (ru) holds when no marker appears
      (1L, "русский язык это красивый"), // ы + э → ru
      (2L, "колокол и молоко на столе"), // common letters only → prior ru
      (3L, "це її українська мова є гарною"), // ї є → uk
      (4L, "гэта беларуская мова ў нашай краіне ўвогуле"), // ў×2 beats э×1 → be
      (5L, "това е български език със ъгъл"), // ъ → bg
      (6L, "ово је ђак и ћирилица џеп"), // ђ ћ → sr
      (7L, "ова е ѕвезда ѓавол ќерка"), // ѕ ѓ ќ → mk
      (8L, "қазақ тілі әдемі ұлттық"), // қ ә ұ → kk
      (9L, "забони тоҷикӣ ҳаст"), // ҷ ӣ ҳ → tg
      (10L, "монгол хэл өдөр үг"), // ө+ү beat э → mn
      // Arabic refinement: fa/ur/ps add letters to the base alphabet
      (11L, "مرحبا كيف حالك اليوم جيد"), // no added letters → prior ar
      (12L, "پس چگونه گفتگو"), // پ چ گ → fa
      (13L, "یہ اردو زبان ہے ٹھیک بڑے"), // ے ٹ ڑ → ur
      (14L, "دا پښتو ژبه ده ښه ټول"), // ښ ټ beat پ? no پ here; ژ → fa=1 < ps=3
      // Bengali-script refinement: Assamese ৰ/ৱ vs the bn prior
      (15L, "এটি বাংলা ভাষার বাক্য"), // Bengali র → prior bn
      (16L, "অসমীয়া ভাষাৰ বাক্য"), // ৰ → as
      // Hebrew-script refinement: Yiddish digraph ligatures vs he
      (17L, "שלום מה שלומך היום"), // no ligatures → prior he
      (18L, "װאָס איז דאָס ײד"), // װ ײ → yi
      // Devanagari refinement: Marathi retroflex ळ vs the hi prior
      (19L, "यह हिंदी भाषा का वाक्य है"), // no ळ → prior hi
      (42L, "मराठी भाषेतील वेगळे अक्षर ळ आहे"), // ळ → mr
      // the new Latin band, including its close pairs
      (20L, "ang mga bata ay sa bahay na ito para hindi"), // tl (control)
      (21L, "ang mga bata sa balay ug kini dili usa ka"), // ceb
      (22L, "an mga bata ha balay ngan ini hini kay waray"), // war
      (23L, "ukuba oku kwaye kodwa ngoba into le apho naye xa"), // xh
      (24L, "ukuthi futhi ngoba kodwa kanye uma noma lapho yena khona"), // zu
      (25L, "og um sem er var til ekki hann eru hefur"), // is
      (26L, "og det er en hund som ikke er med af dem"), // da (control)
      (27L, "et in est non cum ad ut sed quod qui"), // la
      (28L, "la kaj de en al estas ne por kun sed"), // eo
      (29L, "iyo ka oo waa uu si ay ku soo kale"), // so
      (30L, "da ya ta na sun ba wannan amma suka wata"), // ha
      (31L, "ny sy dia izay amin ary fa tsy ho tamin"), // mg
      (32L, "lan ing kang saka iku karo ora wis ana uga"), // jv
      (33L, "jeung anu teu eta ieu dina henteu oge kana sanes"), // su
      (34L, "yang dan di dengan untuk ini itu tidak dari akan"), // id (control)
      (35L, "va bu bilan uchun emas ham lekin keyin edi deb"), // uz
      (36L, "nan ak pou yo li ki sa men te gen"), // ht
      (37L, "de en fan it dat net mar foar wurdt hawwe"), // fy
      (38L, "de het een van en dat niet op voor met"), // nl (control)
      (39L, "agus air aig anns bha tha chan ann mar iad"), // gd
      (40L, "agus an ar na le go ach mar ag sin"), // ga (control)
      (41L, "uye kuti kana asi zvakare izvi vanhu nekuti saka apo") // sn
    ).toDF("doc_id", "text")
    val pred = TextAnalysis.langIdWide($"text")
    val got = df.select($"doc_id", pred.getField("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val exp = Map(
      1L -> "ru", 2L -> "ru", 3L -> "uk", 4L -> "be", 5L -> "bg",
      6L -> "sr", 7L -> "mk", 8L -> "kk", 9L -> "tg", 10L -> "mn",
      11L -> "ar", 12L -> "fa", 13L -> "ur", 14L -> "ps",
      15L -> "bn", 16L -> "as", 17L -> "he", 18L -> "yi",
      19L -> "hi", 42L -> "mr",
      20L -> "tl", 21L -> "ceb", 22L -> "war", 23L -> "xh", 24L -> "zu",
      25L -> "is", 26L -> "da", 27L -> "la", 28L -> "eo", 29L -> "so",
      30L -> "ha", 31L -> "mg", 32L -> "jv", 33L -> "su", 34L -> "id",
      35L -> "uz", 36L -> "ht", 37L -> "fy", 38L -> "nl", 39L -> "gd",
      40L -> "ga", 41L -> "sn")
    exp.foreach { case (id, l) =>
      assert(got(id) == l, s"doc $id: got ${got(id)} want $l")
    }
    // refinement must not change CONFIDENCE: it picks within the
    // script, the ratio stays script chars / non-ws chars
    val conf = df.filter($"doc_id" === 3L)
      .select(pred.getField("confidence")).collect()(0).getDouble(0)
    assert(conf > 0.9, s"uk confidence should be the script ratio: $conf")
    // native ≡ composed at the refined label space, bit for bit
    val composed = TextAnalysis.langIdWideComposed($"text")
    df.select($"doc_id", pred.getField("lang"), pred.getField("confidence"),
        composed.getField("lang"), composed.getField("confidence"))
      .collect().foreach { r =>
        assert(r.getString(1) == r.getString(3) &&
          r.getDouble(2) == r.getDouble(4),
          s"native vs composed diverge on doc ${r.getLong(0)}: $r")
      }
  }

  test("langIdWide: 106-language set — round-11b Cyrillic/Arabic refinements and Latin band") {
    val df = Seq(
      // new Cyrillic refinements: each language's unique letters win;
      // the reshuffled kk (қ/ұ only — ә/ғ/ң/һ now shared with
      // tt/ba/sah and excluded) and the mn majority assignment still
      // classify their controls
      (1L, "башҡорттар ҙур ҡала"), // ҡ×2 ҙ×1 → ba
      (2L, "нохчийн мотт хӀара Ӏаламат"), // palochka ×2 → ce
      (3L, "чӑваш чӗлхи питӗ илемлӗ"), // ӑ ӗ×3 → cv
      (4L, "ирон ӕвзаг ӕмӕ адӕм"), // ӕ×4 → os
      (5L, "саха тыла аҕата таҥара"), // ҕ+ҥ beat тыла's ы → sah
      (6L, "татар теле матур җыр һәм җир"), // җ×2 beat җыр's ы → tt
      (7L, "қазақ тілі әдемі ұлттық"), // қ×2 ұ×1 with ә no longer counted → kk
      (8L, "монгол хэл өдөр үг"), // ө+ү beat э → mn (majority assignment)
      // new Arabic-script refinements: unique letters beat the fa
      // majority letters they co-occur with
      (9L, "هەڵبژاردنی شێوازی ڕاست"), // ڵ ێ ڕ beat the ژ → ckb
      (10L, "سنڌي ٻولي ڄاڻ ۽ ڏاهپ ڪم"), // ڄ ڏ ڪ beat the پ → sd
      (11L, "ئۇيغۇر تىلى بولۇپ ئۈچۈن"), // ۇ×3 ۈ×2 beat the پ → ug
      (12L, "مرحبا كيف حالك اليوم"), // no added letters → prior ar
      (13L, "یہ اردو زبان ہے ٹھیک بڑے"), // ٹ ڑ ے → ur (control)
      // new Latin band with its close-pair controls
      (14L, "hag an eus gant evit war ur met bet ar"), // br (ga shares only an/ar)
      (15L, "an de den ass vun fir net datt och mat"), // lb
      (16L, "de het een van en dat niet op voor met"), // nl (control)
      (17L, "og det at er som med av til ikkje eit"), // nn: ikkje/eit split from no
      (18L, "og det at en til er som med av ikke"), // no (control): en/ikke split from nn
      (19L, "de la que lo los per una dins mas pas"), // oc: lo/dins/mas split from ca
      (20L, "el la de que els per amb una als dels") // ca (control)
    ).toDF("doc_id", "text")
    val pred = TextAnalysis.langIdWide($"text")
    val got = df.select($"doc_id", pred.getField("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val exp = Map(
      1L -> "ba", 2L -> "ce", 3L -> "cv", 4L -> "os", 5L -> "sah",
      6L -> "tt", 7L -> "kk", 8L -> "mn",
      9L -> "ckb", 10L -> "sd", 11L -> "ug", 12L -> "ar", 13L -> "ur",
      14L -> "br", 15L -> "lb", 16L -> "nl", 17L -> "nn", 18L -> "no",
      19L -> "oc", 20L -> "ca")
    exp.foreach { case (id, l) =>
      assert(got(id) == l, s"doc $id: got ${got(id)} want $l")
    }
    // native ≡ composed at the widened label space, bit for bit
    val composed = TextAnalysis.langIdWideComposed($"text")
    df.select($"doc_id", pred.getField("lang"), pred.getField("confidence"),
        composed.getField("lang"), composed.getField("confidence"))
      .collect().foreach { r =>
        assert(r.getString(1) == r.getString(3) &&
          r.getDouble(2) == r.getDouble(4),
          s"native vs composed diverge on doc ${r.getLong(0)}: $r")
      }
  }

  test("langIdWide: 134-language set — round-12 scripts, refinements and Latin band") {
    val df = Seq(
      // new scripts: each range routes to its language
      (1L, "ᏣᎳᎩ ᎦᏬᏂᎯᏍᏗ ᎤᏬᏂᎯᏍ"), // Cherokee syllabary → chr
      (2L, "ꆈꌠꉙ ꁱꂷ ꅉꀕ"), // Yi syllables → ii
      (3L, "ᐃᓄᒃᑎᑐᑦ ᑎᑎᕋᐅᓯᖅ ᓄᓇᕗᑦ"), // UCAS → iu
      (4L, "ߒߞߏ ߞߊ߲ ߛߓߍߛߎ߲"), // N'Ko → nqo
      // Ethiopic refinement: the Tigrinya QHA series beats the am
      // prior; marker-free Ethiopic stays am
      (5L, "ቋንቋ ትግርኛ እዩ ቐሊል ቑጽሪ"), // ቐ ቑ (+ቋ is QWA, not a marker) → ti
      (6L, "አማርኛ ቋንቋ ነው ሰላም"), // no QHA letters → am prior
      // Arabic-script refinement: Kashmiri's ٲ/ۄ/ؠ beat fa's majority
      // letters
      (7L, "کٲشُر زبٲن چھُ ۄنان ؠتھ"), // ٲ×2 ۄ ؠ → ks
      // new Latin band and its close-pair controls
      (8L, "og at er til um sum ikki hann eru hevur"), // fo: sum/ikki/hevur
      (9L, "og um sem er var til ekki hann eru hefur"), // is (control)
      (10L, "de un dat en vun to mit ok he wat"), // nds: un/dat/vun/ok
      (11L, "der die und das ist nicht ein mit auf zu"), // de (control)
      (12L, "the an o tae wi fae nae aboot efter haes"), // sco: tae/wi/fae/nae
      (13L, "the and of to in is that it for with"), // en (control)
      (14L, "le ho ya ka hore empa tsa ba na haeba"), // st: ho/hore/empa
      (15L, "le go ya mo gore mme fa ka tsa jaaka"), // tn: go/gore/mme
      (16L, "we bu bilen hem emma bolan uly bir bolup gelen"), // tk
      (17L, "va bu bilan uchun emas ham lekin keyin edi deb"), // uz (control)
      (18L, "la de que el ya nun pa los nel cola"), // ast: ya/nun/pa/nel
      (19L, "el la de que los una por con para es"), // es (control)
      (20L, "le o i e ua ma mo lona lenei tagata"), // sm
      (21L, "ka ke i o ma kona aku mai kekahi keia"), // haw
      (22L, "te o i ki me ka he nga ana tenei"), // mi
      (23L, "di de ku ji li bi ev ew heye hatiye"), // ku (Kurmanji, Latin)
      (24L, "ati ni ti pe won awon si lati fun gbogbo"), // yo
      (25L, "na ka nke ya di ndi maka banyere otu ihe"), // ig
      (26L, "ku mu ni ko cyangwa ariko kandi uko ibyo muri"), // rw
      (27L, "nga mu ku era naye kuba bya kino oba buli"), // lg
      (28L, "ndi kuti koma ngati chifukwa anthu zonse pamene kwambiri kapena"), // ny
      (29L, "fi kan akka garuu kana isaa waan kun keessa booda"), // om
      (30L, "ak ci la ngir waaye loolu dafa yi bi nit"), // wo
      (31L, "na ya mpe te oyo moto bato kasi esika boye"), // ln
      (32L, "le de e un es que pro con iste al"), // ia
      (33L, "di u chi un una cun quellu anu issa avia"), // co
      (34L, "il di che la per con del le si una"), // it (control)
      (35L, "ha ko pe avei umi ndive ikatu oiko ojapo hague") // gn
    ).toDF("doc_id", "text")
    val pred = TextAnalysis.langIdWide($"text")
    val got = df.select($"doc_id", pred.getField("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val exp = Map(
      1L -> "chr", 2L -> "ii", 3L -> "iu", 4L -> "nqo",
      5L -> "ti", 6L -> "am", 7L -> "ks",
      8L -> "fo", 9L -> "is", 10L -> "nds", 11L -> "de", 12L -> "sco",
      13L -> "en", 14L -> "st", 15L -> "tn", 16L -> "tk", 17L -> "uz",
      18L -> "ast", 19L -> "es", 20L -> "sm", 21L -> "haw", 22L -> "mi",
      23L -> "ku", 24L -> "yo", 25L -> "ig", 26L -> "rw", 27L -> "lg",
      28L -> "ny", 29L -> "om", 30L -> "wo", 31L -> "ln", 32L -> "ia",
      33L -> "co", 34L -> "it", 35L -> "gn")
    exp.foreach { case (id, l) =>
      assert(got(id) == l, s"doc $id: got ${got(id)} want $l")
    }
    // native ≡ composed at the widened label space, bit for bit
    val composed = TextAnalysis.langIdWideComposed($"text")
    df.select($"doc_id", pred.getField("lang"), pred.getField("confidence"),
        composed.getField("lang"), composed.getField("confidence"))
      .collect().foreach { r =>
        assert(r.getString(1) == r.getString(3) &&
          r.getDouble(2) == r.getDouble(4),
          s"native vs composed diverge on doc ${r.getLong(0)}: $r")
      }
  }

  test("langIdWide: 167-language set — round-13 scripts, refinements and Latin band") {
    val df = Seq(
      // new script ranges: range membership routes each to its language
      (1L, "ᨀᨁᨂ ᨐᨑᨕ"), // Buginese → bug
      (2L, "ꯀꯁꯂ ꯐꯑ"), // Meetei Mayek → mni
      (3L, "ᱚᱛᱜ ᱥᱦ"), // Ol Chiki → sat
      (4L, "ܐܒܕ ܠܡܫ"), // Syriac → syr
      (5L, "ꔀꔁꔂ ꔐꔑ"), // Vai → vai
      (6L, "ⴰⴱⴳ ⵀⵏ"), // Tifinagh → zgh
      // Greek refinement: any polytonic hit is grc; monotonic stays el
      (7L, "καὶ γὰρ ἀνθρωπων"), // καὶ γὰρ ἀνθρώπων → grc
      (8L, "και τα νερα της"), // monotonic → el
      // CJK refinement: written-Cantonese particles vs plain Mandarin
      (9L, "佢哋嘅嘢唔係喺度"), // 嘅 嘢 唔 喺 → yue
      (10L, "我们的语言是中文"), // no yue particles → zh prior
      // new Cyrillic refinements (markers must beat ru's ы/э)
      (11L, "удмурт кыл ӵӝӥ ӟеч"), // ӵ ӝ ӥ ӟ → udm
      (12L, "аҧсуа бызшәа ҽаҩра ҵара"), // ҧ ҽ ҩ ҵ → ab
      // new Latin band: each language's own ten words win it
      (14L, "blong long i ol we se hemi tasol wetem nomo"), // bi
      (15L, "long bilong i em ol na dispela tasol wanpela olgeta"), // tpi (close pair)
      (16L, "ni ka ye la ko ani nka min don kelen"), // bm
      (17L, "eye kple gake le be ame esia nye wo na"), // ee
      (18L, "na e ni sa me kei era ena vaka tiko"), // fj
      (19L, "as ayns er dy agh ta va lesh shoh myr"), // gv
      (20L, "la e en di kun ma esas ica qua por"), // io
      (21L, "la kaj de en al estas ne por kun sed"), // eo (control)
      (22L, "aamma kisianni imaluunniit tassa una taanna soorlu ilaa massakkut pillugu"), // kl
      (23L, "ha hag yn dhe gans rag mes yma bos den"), // kw
      (24L, "hag an eus gant evit war ur met bet ar"), // br (control)
      (25L, "el de che un la cont minga anca lu semper"), // lmo
      (26L, "el de che un na par xe anca sto ghe"), // vec (close pair)
      (27L, "di ta ku na pa e den tin nan esaki"), // pap
      (28L, "mana chay kay ichaqa hinaspa paykuna kunan llapa imayna chaymanta"), // qu
      (29L, "cun quai era dals ed ina num betg vegn anc"), // rm
      (30L, "de su sa chi non cun pro unu custu issu"), // sc
      (31L, "di ca lu la nun pi cu chistu comu quannu"), // scn
      (32L, "ja lea dat go son mii leat dan ii muhto"), // se
      (33L, "kutsi kodvwa futsi ngobe kuze lapha njengoba lona nome yebo"), // ss
      (34L, "ukuthi futhi ngoba kodwa kanye uma noma lapho yena khona"), // zu (control)
      (35L, "ko e he mo ki pea oku ene ha kuo"), // to
      (36L, "ku na hi leswaku kambe loko swona lava xana tani"), // ts
      (37L, "uri fhedzi na kha nga ngauri zwenezwo arali huno vhathu"), // ve
      (38L, "li et ki po avou mins dji nosse tot come") // wa
    ).toDF("doc_id", "text")
    val pred = TextAnalysis.langIdWide($"text")
    val got = df.select($"doc_id", pred.getField("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val exp = Map(
      1L -> "bug", 2L -> "mni", 3L -> "sat", 4L -> "syr", 5L -> "vai",
      6L -> "zgh", 7L -> "grc", 8L -> "el", 9L -> "yue", 10L -> "zh",
      11L -> "udm", 12L -> "ab",
      14L -> "bi", 15L -> "tpi", 16L -> "bm", 17L -> "ee",
      18L -> "fj", 19L -> "gv", 20L -> "io", 21L -> "eo", 22L -> "kl",
      23L -> "kw", 24L -> "br", 25L -> "lmo", 26L -> "vec", 27L -> "pap",
      28L -> "qu", 29L -> "rm", 30L -> "sc", 31L -> "scn", 32L -> "se",
      33L -> "ss", 34L -> "zu", 35L -> "to", 36L -> "ts", 37L -> "ve",
      38L -> "wa")
    exp.foreach { case (id, l) =>
      assert(got(id) == l, s"doc $id: got ${got(id)} want $l")
    }
    // native ≡ composed at the widened label space, bit for bit
    val composed = TextAnalysis.langIdWideComposed($"text")
    df.select($"doc_id", pred.getField("lang"), pred.getField("confidence"),
        composed.getField("lang"), composed.getField("confidence"))
      .collect().foreach { r =>
        assert(r.getString(1) == r.getString(3) &&
          r.getDouble(2) == r.getDouble(4),
          s"native vs composed diverge on doc ${r.getLong(0)}: $r")
      }
  }

  test("text analysis: langId, token stats, fingerprint determinism") {
    val df = Seq(
      (1L, "the cat and the dog is in the house"),
      (2L, "el perro y la casa de los gatos es una"),
      (3L, "xyzzy qwerty")
    ).toDF("doc_id", "text")
    val langs = df.select($"doc_id", TextAnalysis.langId($"text").as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(langs(1L) == "en")
    assert(langs(2L) == "es")
    assert(langs(3L) == "und")
    val stats = df.filter($"doc_id" === 1L)
      .select(TextAnalysis.tokenCount($"text")).collect()(0).getInt(0)
    assert(stats == 9)

    // feature hashing: buckets bounded, per-doc tf mass = token count,
    // identical tokens land in identical buckets
    val tf = TextAnalysis.hashingTf(df, "doc_id", "text", numFeatures = 16)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(tf.forall { case (_, b, _) => b >= 0 && b < 16 })
    assert(tf.filter(_._1 == 1L).map(_._3).sum == 9L)
    val perDoc = tf.groupBy(_._1)
    assert(perDoc.keySet == Set(1L, 2L, 3L))
  }

  test("native l2sq/dot kernels match the composed HOF forms exactly") {
    val df = Seq(
      (1L, Array(0.1f, -0.2f, 0.3f, 0.4f), Array(0.5, -0.25, 0.0, 1.5)),
      (2L, Array(1.0f, 0.0f, 0.0f, 0.0f), Array(1.0, 0.0, 0.0, 0.0)),
      (3L, Array(0.0f, 0.0f, 0.0f, 0.0f), Array(-2.5, 3.125, 0.75, -0.875))
    ).toDF("id", "a", "b")
    // composed references: same element order, same per-element casts
    val l2Composed = aggregate(
      zip_with(transform($"a", x => x.cast("double")),
        transform($"b", x => x.cast("double")), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)
    val rows = df.select($"id",
        Similarity.l2sq($"a", $"b").as("l2n"), l2Composed.as("l2c"),
        Similarity.dotNative($"a", $"b").as("dn"),
        Similarity.dot($"a", $"b").as("dc"))
      .collect()
    rows.foreach { r =>
      assert(r.getDouble(1) == r.getDouble(2), s"l2sq id=${r.getLong(0)}")
      assert(r.getDouble(3) == r.getDouble(4), s"dot id=${r.getLong(0)}")
    }
  }

  test("pq: encode groups planted clusters; ADC search stays in-cluster") {
    // two well-separated clusters in 8-dim space; m=2 subspaces, k=2
    // codes per subspace → after one refinement round each cluster owns
    // one codeword per subspace and ADC ranks in-cluster vectors first
    def vec(base: Array[Float], jitter: Float): Array[Float] =
      base.map(_ + jitter)
    val a = Array(1f, 1f, 1f, 1f, 0f, 0f, 0f, 0f)
    val b = Array(0f, 0f, 0f, 0f, 1f, 1f, 1f, 1f)
    val df = ((1L to 6L).map(i => (i, vec(a, i * 0.01f))) ++
      (7L to 12L).map(i => (i, vec(b, i * 0.01f)))).toDF("id", "v")
    val cb = Similarity.pqTrainCodebooks(df, "id", "v",
      dim = 8, m = 2, k = 2, rounds = 1)
    val cbRows = cb.collect()
    assert(cbRows.map(r => (r.getLong(0), r.getLong(1))).distinct.length ==
      cbRows.length, "one codeword per (sub, code)")
    val enc = Similarity.pqEncode(df, cb, "id", "v", dim = 8, m = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // within a subspace, cluster-mates share a code and the clusters
    // differ (the subspaces are exactly the planted split)
    for (sub <- 0L to 1L) {
      val ca = (1L to 6L).map(i => enc((i, sub))).distinct
      val cbb = (7L to 12L).map(i => enc((i, sub))).distinct
      assert(ca.length == 1 && cbb.length == 1 && ca != cbb,
        s"sub=$sub cluster codes: $ca vs $cbb")
    }
    val top = Similarity.pqSearch(df, df.filter($"id" === 1L || $"id" === 7L),
        "id", "v", k = 3, dim = 8, m = 2, codebookSize = 2, rounds = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(top.count(_._1 == 1L) == 3 && top.count(_._1 == 7L) == 3)
    assert(top.filter(_._1 == 1L).forall(_._2 <= 6L), "query 1 stays in cluster A")
    assert(top.filter(_._1 == 7L).forall(_._2 >= 7L), "query 7 stays in cluster B")

    // IVF+PQ with nProbe=1: cluster seeds as centroids, so a query
    // probes exactly its own cluster's cell and never scores the other
    val cents = df.filter($"id" === 1L || $"id" === 7L)
    val idx = Similarity.pqIndex(df, cents, cb, "id", "v", dim = 8, m = 2)
    assert(idx.count() == 24, "m rows per vector")
    val ivfpq = Similarity.ivfPqTopK(cents, idx, cents, cb, "id", "v",
        k = 3, nProbe = 1, dim = 8, m = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(ivfpq.count(_._1 == 1L) == 3 && ivfpq.count(_._1 == 7L) == 3)
    assert(ivfpq.filter(_._1 == 1L).forall(_._2 <= 6L))
    assert(ivfpq.filter(_._1 == 7L).forall(_._2 >= 7L))
    Caches.release(spark)
  }

  test("VecArgmin.round6 matches Spark round(col, 6) bit for bit") {
    val rng = new scala.util.Random(7)
    val vals = (Seq.tabulate(4000)(i => (rng.nextDouble() - 0.5) *
        math.pow(10, i % 7 - 3)) ++
      // half-way 6dp boundaries, where valueOf-vs-exact-binary differs
      Seq(0.1234565, -0.1234565, 2.6750005, 1.0000005, -1.0000005,
        0.9999995, 1e-7, -1e-7, 0.0, -0.0)).toArray
    val got = vals.toSeq.toDF("d").select(round($"d", 6)).collect()
      .map(_.getDouble(0))
    vals.zip(got).foreach { case (d, g) =>
      val mine = graft.expr.VecArgmin.round6(d)
      assert(java.lang.Double.doubleToRawLongBits(mine) ==
        java.lang.Double.doubleToRawLongBits(g), s"round6($d): $mine vs $g")
    }
  }

  test("map-only ivfAssign matches the windowed reference formulation") {
    val rng = new scala.util.Random(11)
    val vecs = (1L to 40L).map(i =>
      (i, Array.fill(8)((rng.nextDouble() * 2 - 1).toFloat))).toDF("id", "v")
    val cents = (0L to 4L).map(i =>
      (i, Array.fill(8)((rng.nextDouble() * 2 - 1).toFloat))).toDF("id", "v")
    val got = Similarity.ivfAssign(vecs, cents, "id", "v", keepSim = true)
      .select($"id", $"centroid_id", $"centroid_sim")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // the join + round + row_number shape ivfAssign used to be
    val scored = vecs.select($"id", $"v")
      .join(cents.select($"id".as("cid"), $"v".as("cv")))
      .withColumn("_s", round(Similarity.cosine($"v", $"cv"), 6))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("id")
      .orderBy($"_s".desc, $"cid".asc)
    val ref = scored.withColumn("_rn", row_number().over(w))
      .filter($"_rn" === 1)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getDouble(4))).toMap
    assert(got.keySet == ref.keySet)
    got.foreach { case (id, (cid, sim)) =>
      assert((cid, sim) == ref(id), s"id=$id: got ${(cid, sim)} ref ${ref(id)}")
    }
  }

  test("VecArgmin NaN candidates follow Spark's total ordering") {
    // NaN scores are reachable: cosine guards NaN INPUTS to 0.0 (NaN
    // components poison the norm, denom comparison fails → 0), but an
    // Inf component gives dot=Inf, denom=Inf → Inf/Inf = NaN past the
    // guard; L2 yields NaN from a NaN component directly. Spark's
    // total ordering sorts NaN greatest, so the windowed argmax (sim
    // desc) PICKS the NaN candidate and the L2 argmin (dist asc)
    // REJECTS it; the map-only kernels must agree — a primitive > / <
    // comparison would instead freeze on whichever candidate hit NaN
    // first.
    val vecs = Seq((10L, Array(1f, 0f, 0f))).toDF("id", "v")
    val cents = Seq(
      (0L, Array(Float.PositiveInfinity, 1f, 0f)), // cos NaN, L2 Inf
      (1L, Array(1f, 0.1f, 0f)),
      (2L, Array(0.9f, 0.2f, 0f)),
      (3L, Array(Float.NaN, 0f, 0f))) // cos 0.0 (guarded), L2 NaN
      .toDF("id", "v")
    def windowed(metric: org.apache.spark.sql.Column, asc: Boolean) = {
      val scored = vecs.select($"id", $"v")
        .join(cents.select($"id".as("cid"), $"v".as("cv")))
        .withColumn("_s", round(metric, 6))
      val w = org.apache.spark.sql.expressions.Window.partitionBy("id")
        .orderBy(if (asc) $"_s".asc else $"_s".desc, $"cid".asc)
      scored.withColumn("_rn", row_number().over(w)).filter($"_rn" === 1)
        .select($"cid").collect().head.getLong(0)
    }
    val gotCos = Similarity.ivfAssign(vecs, cents, "id", "v")
      .select($"centroid_id").collect().head.getLong(0)
    assert(gotCos == windowed(Similarity.cosine($"v", $"cv"), asc = false))
    assert(gotCos == 0L) // the NaN candidate, per Spark's NaN-greatest order
    val cbRow = cents.agg(collect_list(struct($"id".as("_cid"),
      $"v".as("_cv"))).as("_cb"))
    val gotL2 = vecs.crossJoin(cbRow)
      .select(call_function(graft.expr.VecArgmin.ArgminL2Name,
        $"v", $"_cb").getField("id"))
      .collect().head.getLong(0)
    assert(gotL2 == windowed(
      call_function(graft.expr.VecDistance.L2SqName, $"v", $"cv"),
      asc = true))
    assert(gotL2 == 1L) // NaN/Inf distances lose in ascending order
  }

  test("ivfAssign fails analysis on non-integral centroid ids") {
    val vecs = Seq((1L, Array(1f, 0f))).toDF("id", "v")
    val cents = Seq(("cellA", Array(1f, 0f))).toDF("id", "v")
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfAssign(vecs, cents, "id", "v")
    }
    assert(e.getMessage.contains("integral"))
  }

  test("pq validates the subspace split") {
    val df = Seq((1L, Array(1f, 2f, 3f))).toDF("id", "v")
    intercept[IllegalArgumentException] {
      Similarity.pqTrainCodebooks(df, "id", "v", dim = 3, m = 2, k = 1)
    }
  }

  test("gopherRules: clean prose passes; degenerate docs fail the right rules") {
    val df = Seq(
      (1L, "The quick brown fox jumps over the lazy dog and runs off " +
        "to the hills with a friend in tow because that is what foxes " +
        "have to be doing on a bright morning in the spring."),
      (2L, "word"),
      (3L, "- one thing\n- two things\n- three things"),
      (4L, "### #### ##"),
      (5L, "to be or not to be..."),
      (6L, null: String)
    ).toDF("doc_id", "text")
    val g = df.select($"doc_id",
        TextAnalysis.gopherRules($"text", minWords = 10).as("g"))
      .select($"doc_id", $"g.*")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(g(1L).getAs[Long]("pass") == 1L, "clean prose passes")
    assert(g(1L).getAs[Long]("stop_hits") >= 2L)
    assert(g(2L).getAs[Long]("pass") == 0L)
    assert(g(2L).getAs[Long]("n_words") == 1L)
    assert(g(3L).getAs[Double]("bullet_ratio") == 1.0, "all lines bulleted")
    assert(g(3L).getAs[Long]("pass") == 0L)
    assert(g(4L).getAs[Double]("alpha_ratio") == 0.0)
    assert(g(4L).getAs[Double]("symbol_ratio") > 0.1)
    assert(g(5L).getAs[Double]("ellipsis_ratio") == 1.0)
    // null text: zero counts, zero ratios, no NaN/null fields
    assert(g(6L).getAs[Long]("n_words") == 0L)
    assert(g(6L).getAs[Double]("mean_word_len") == 0.0)
    assert(g(6L).getAs[Long]("pass") == 0L)
  }
}
