package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
  ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._

import graft.operators.{Similarity, TextAnalysis}

/** BM25 ranking (t26) and reciprocal-rank hybrid fusion (s18). */
class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  /** Hand-computed Okapi BM25 on a 4-doc corpus, mirroring the
    * operator's integer-quantization discipline step for step. */
  test("bm25TopK matches a hand-computed reference ranking") {
    val docs = Seq(
      (0L, "apple banana apple"),
      (1L, "apple banana banana cherry"),
      (2L, "cherry cherry cherry durian"),
      (3L, "banana durian")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bm25TopK(docs, col("doc_id"), col("text"),
        col("doc_id") === 0, k = 3)
      .select("query_id", "rank", "doc_id", "score6")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._2)

    // reference computation (k1=1.2, b=0.75)
    val tf = Map( // (doc, token) -> tf
      (0L, "apple") -> 2L, (0L, "banana") -> 1L,
      (1L, "apple") -> 1L, (1L, "banana") -> 2L, (1L, "cherry") -> 1L,
      (2L, "cherry") -> 3L, (2L, "durian") -> 1L,
      (3L, "banana") -> 1L, (3L, "durian") -> 1L)
    val dl = Map(0L -> 3L, 1L -> 4L, 2L -> 4L, 3L -> 2L)
    val dfm = Map("apple" -> 2L, "banana" -> 3L, "cherry" -> 2L,
      "durian" -> 2L)
    val n = 4.0; val tot = 13.0
    def idf6(t: String): Long =
      math.round(math.log(1.0 + (n - dfm(t) + 0.5) / (dfm(t) + 0.5)) * 1e6)
    def contrib6(d: Long, t: String): Long = {
      val f = tf((d, t)).toDouble
      math.round(idf6(t) * (f * (1.2 + 1.0)) /
        (f + 1.2 * (0.25 + 0.75 * dl(d) * n / tot)))
    }
    // query 0 terms: apple, banana; candidates 1, 3 (2 shares nothing)
    val s1 = contrib6(1L, "apple") + contrib6(1L, "banana")
    val s3 = contrib6(3L, "banana")
    assert(s1 > s3, "doc 1 matches both terms and must outrank doc 3")
    assert(out.toSeq == Seq((0L, 1L, 1L, s1), (0L, 2L, 3L, s3)),
      s"got ${out.toSeq}")
  }

  test("bm25TopK: rarer term outweighs common term at equal tf") {
    // "rare" appears in 1 of 6 docs, "common" in all 6: one query
    // holding both terms must rank the rare-term doc first
    val docs = Seq(
      (0L, "rare common"), (10L, "rare common extra"),
      (20L, "common extra"), (30L, "common extra"),
      (40L, "common extra"), (50L, "common extra")
    ).toDF("doc_id", "text")
    val top = TextAnalysis.bm25TopK(docs, col("doc_id"), col("text"),
        col("doc_id") === 0, k = 5)
      .select("rank", "doc_id").as[(Long, Long)].collect().toMap
    assert(top(1L) == 10L, "the only other rare-term doc must rank 1")
  }

  test("bm25TopK excludes the query document itself") {
    val docs = Seq((0L, "a b"), (25L, "a b"), (1L, "a c"))
      .toDF("doc_id", "text")
    val ids = TextAnalysis.bm25TopK(docs, col("doc_id"), col("text"),
        col("doc_id") % 25 === 0, k = 10)
      .select("query_id", "doc_id").as[(Long, Long)].collect()
    assert(ids.forall { case (q, d) => q != d })
    // both queries see each other and doc 1
    assert(ids.toSet == Set((0L, 25L), (0L, 1L), (25L, 0L), (25L, 1L)))
  }

  /** The term-at-a-time scoring bm25FromTf ran before its
    * document-at-a-time kernel: every (query, doc, term) match
    * materialized by impacts ⋈ broadcast(qterms), summed per (query,
    * doc), then cut. Kept only as the reference the kernel must
    * reproduce row for row. */
  private def fanOutBm25(tf: DataFrame, qterms: DataFrame, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val dfq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val tots = dl.agg(count(lit(1)).cast("double").as("n"),
      sum(col("dl")).cast("double").as("tot"))
    val idf6 = dfq.crossJoin(broadcast(tots))
      .withColumn("idf6", round(log(lit(1.0) +
        (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
        * lit(1e6)).cast("long"))
    val impacts = tf.join(dl, Seq("doc_id")).join(idf6, Seq("token"))
      .withColumn("contrib6", round(col("idf6") *
        (col("tf") * lit(k1 + 1.0)) /
        (col("tf") + lit(k1) * (lit(1.0 - b) +
          lit(b) * col("dl") * col("n") / col("tot")))).cast("long"))
    val scored = impacts.join(broadcast(qterms), Seq("token"))
      .filter(col("query_id") =!= col("doc_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("contrib6")).as("score6"))
    graft.operators.Events.topKPerGroup(scored, Seq(col("query_id")),
        Seq(col("score6").desc, col("doc_id").asc), k)
      .select(col("query_id"), col("rank"), col("doc_id"), col("score6"))
  }

  /** 2,000 docs that all hold "c" (df = N, so idf6 is tiny) plus one
    * 10M-token doc whose "c" contrib6 rounds to 0; docs d and d+15
    * below 60 share their "m" term and tf (score ties); "solo" is in
    * docs 500 and 501 only. */
  private def edgeCorpus: (DataFrame, DataFrame) = {
    val n = 2000
    val tf = ((0 until n).map(d => (d.toLong, "c", 1L)) ++
      (0 until 60).map(d => (d.toLong, s"m${d % 5}", 1L + d % 3)) ++
      Seq((500L, "solo", 1L), (501L, "solo", 1L),
        (n - 1L, "pad", 10000000L)))
      .toDF("doc_id", "token", "tf")
    val qterms = Seq(
      (0L, "m0"), (0L, "m0"), // duplicated row; doc 0 holds m0 (self)
      (7L, "m2"), (7L, "c"), // every doc is a candidate
      (3L, "c"), // the 10M-token doc scores 0
      (500L, "solo"), // one candidate besides itself
      (4000L, "m1"), (4000L, "nosuch"), // a query that is not a doc
      (9L, "nosuch")) // no candidate at all
      .toDF("query_id", "token")
    (tf, qterms)
  }

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val old = spark.conf.get(key)
    spark.conf.set(key, value)
    try body finally spark.conf.set(key, old)
  }

  test("bm25FromTf document-at-a-time kernel ≡ the term fan-out") {
    val (tf, qterms) = edgeCorpus
    def rows(df: DataFrame): Seq[(Long, Long, Long, Long)] =
      df.select("query_id", "rank", "doc_id", "score6")
        .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    // k = 3 cuts inside tie runs; k = 2100 emits every candidate pair
    for (k <- Seq(3, 2100)) {
      val ref = rows(fanOutBm25(tf, qterms, k))
      val refDistinct = rows(fanOutBm25(tf, qterms.distinct(), k))
      // the corpus really exercises each edge case
      assert(ref.exists(r => ref.exists(o =>
        o._1 == r._1 && o._4 == r._4 && o._3 != r._3)), "no score tie")
      assert(ref.count(_._1 == 500L) == 1, "solo query should have 1 row")
      assert(ref.forall(r => r._1 != r._3), "self-match in reference")
      assert(ref != refDistinct, "duplicate qterms row had no effect")
      if (k > 2000) assert(ref.exists(_._4 == 0L), "no zero score")
      for (parts <- Seq(1, 4))
        withConf("spark.sql.shuffle.partitions", parts.toString) {
          val out = TextAnalysis.bm25FromTf(tf, qterms, k)
          assert(out.schema.map(f => (f.name, f.dataType)) ==
            fanOutBm25(tf, qterms, k).schema.map(f => (f.name, f.dataType)))
          val got = rows(out)
          assert(got == ref, s"k=$k partitions=$parts: " +
            s"only-kernel=${got.diff(ref).take(5)} " +
            s"only-fanout=${ref.diff(got).take(5)}")
        }
    }
    graft.InternalCaches.releaseAll()
  }

  /** Physical nodes through AQE stages. `whole` also descends into
    * cached relations' plans; otherwise the walk stops at them and at
    * broadcasts — the scoring path above the cached corpus exchange,
    * without the vocab side. */
  private def planNodes(p: SparkPlan, whole: Boolean): Seq[SparkPlan] =
    p +: (p match {
      case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan, whole)
      case q: QueryStageExec => planNodes(q.plan, whole)
      case m: InMemoryTableScanExec =>
        if (whole) planNodes(m.relation.cachedPlan, whole) else Nil
      case _: BroadcastExchangeExec if !whole => Nil
      case _ => p.children.flatMap(planNodes(_, whole))
    })

  test("bm25FromTf plan: one query_id exchange, no qterms join") {
    val docs = Tables.documents(spark, Sf0001)
    // no size-based broadcasts: every broadcast left is the operator's
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      val out = TextAnalysis.bm25TopK(docs, col("doc_id"), col("text"),
        col("doc_id") % 25 === 0, k = 5)
      out.collect()
      val all = planNodes(out.queryExecution.executedPlan, whole = true)
      def keyedOn(e: ShuffleExchangeExec) = e.outputPartitioning match {
        case h: HashPartitioning =>
          h.expressions.flatMap(_.references.map(_.name))
        case _ => Nil
      }
      assert(all.collect { case e: ShuffleExchangeExec => keyedOn(e) }
        .contains(Seq("doc_id")), "corpus hash(doc_id) exchange missing")
      val scoringExchanges =
        planNodes(out.queryExecution.executedPlan, whole = false)
          .collect { case e: ShuffleExchangeExec => keyedOn(e) }
      assert(scoringExchanges == Seq(Seq("query_id")),
        s"scoring exchanges: $scoringExchanges")
      all.collect { case j: BaseJoinExec => j }.foreach { j =>
        assert(!j.children.exists(_.output.exists(_.name == "query_id")),
          s"join over query terms: ${j.nodeName}")
      }
      all.collect { case bx: BroadcastExchangeExec => bx }.foreach { bx =>
        assert(!bx.output.exists(a => Set("doc_id", "query_id")(a.name)),
          s"broadcast of ${bx.output.map(_.name)}")
      }
    }
    graft.InternalCaches.releaseAll()
    // the only driver collect is the query-term index: building the
    // frame over a tf that fails when read still succeeds (the
    // repartition keeps the optimizer from folding the udf into the
    // local relation at plan time)
    val poison = udf((d: Long) => {
      if (d >= 0) throw new IllegalStateException("tf was read"); d
    })
    val (tf, qterms) = edgeCorpus
    TextAnalysis.bm25FromTf(
      tf.repartition(2).withColumn("doc_id", poison(col("doc_id"))),
      qterms, 3)
    graft.InternalCaches.releaseAll()
  }

  test("bm25FromIndex (WAND) lands on bm25TopK's exact answer") {
    val docs = Tables.documents(spark, Sf0001)
    val isQ = col("doc_id") % 25 === 0
    val full = TextAnalysis.bm25TopK(docs, col("doc_id"), col("text"),
        isQ, k = 5)
      .select("query_id", "rank", "doc_id", "score6")
      .as[(Long, Long, Long, Long)].collect().toSet
    val wand = graft.operators.InvertedIndex.bm25FromIndex(docs,
        col("doc_id"), col("text"), isQ, k = 5)
      .select("query_id", "rank", "doc_id", "score6")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(wand == full,
      s"WAND diverged: only-wand=${(wand -- full).take(5)} " +
        s"only-full=${(full -- wand).take(5)}")
  }

  test("bm25FromIndex handles degenerate (< k candidates) queries") {
    // query 0's sole term is shared with one doc → 1 result, no θ
    val docs = Seq((0L, "zzz"), (1L, "zzz aaa"), (2L, "bbb ccc"),
      (3L, "ccc ddd")).toDF("doc_id", "text")
    val out = graft.operators.InvertedIndex.bm25FromIndex(docs,
        col("doc_id"), col("text"), col("doc_id") === 0, k = 5)
      .select("query_id", "rank", "doc_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set((0L, 1L, 1L)), s"got $out")
  }

  test("bm25WandReceipts: read + skipped = total on the sf corpus") {
    // the sf documents table has a ~30-token CLOSED vocabulary — every
    // term posts in every block, so no index scheme can skip here (each
    // block really holds near-top docs); this test checks the receipt
    // INVARIANTS, the Zipf test below proves the pruning
    val docs = Tables.documents(spark, Sf0001)
    val rec = graft.operators.InvertedIndex.bm25WandReceipts(docs,
        col("doc_id"), col("text"), col("doc_id") % 25 === 0, k = 5)
      .select("query_id", "blocks_total", "blocks_read", "blocks_skipped")
      .as[(Long, Long, Long, Long)].collect()
    assert(rec.nonEmpty)
    rec.foreach { case (q, tot, rd, sk) =>
      assert(rd + sk == tot, s"q$q: $rd + $sk != $tot")
      assert(rd >= 1 && rd <= tot, s"q$q read $rd of $tot")
    }
  }

  /** A Zipf-shaped corpus (what real text is): a small stopword pool
    * every doc shares plus rare content terms with df ≈ 4. MaxScore
    * makes the stopwords non-essential once θ is known, so candidate
    * blocks come from the rare terms' few postings alone. */
  private def zipfCorpus(nDocs: Int) = {
    (0 until nDocs).map { i =>
      // 12 of 20 stopwords (df ≈ 0.6·N) + one df=8 content term whose
      // sharers are spread 256 ids (≥ 4 blocks) apart + one df=1 term
      val stop = (0 until 12).map(j => s"the${(i + j) % 20}")
      val rare = Seq(s"r${i % (nDocs / 8)}", s"u$i")
      (i.toLong, (stop ++ rare).mkString(" "))
    }.toDF("doc_id", "text")
  }

  test("bm25 WAND: MaxScore prunes most blocks on a Zipf corpus") {
    val docs = zipfCorpus(2048)
    val isQ = col("doc_id") % 512 === 0
    // seedBlocks = 8 so the seed covers the content term's sharer
    // blocks and θ clears the total stopword mass — then every
    // stopword goes non-essential and candidates come from the rare
    // terms' ~9 blocks alone
    val rec = graft.operators.InvertedIndex.bm25WandReceipts(docs,
        col("doc_id"), col("text"), isQ, k = 5, seedBlocks = 8)
      .select("query_id", "blocks_total", "blocks_read", "blocks_skipped")
      .as[(Long, Long, Long, Long)].collect()
    assert(rec.nonEmpty)
    val (tot, rd) = (rec.map(_._2).sum, rec.map(_._3).sum)
    info(s"zipf: blocks total=$tot read=$rd skipped=${tot - rd}")
    assert(rd * 2 < tot,
      s"expected >50% of blocks skipped on a Zipf corpus, read $rd/$tot")
    // and the pruned plan still lands on the full-scan answer
    val full = TextAnalysis.bm25TopK(docs, col("doc_id"), col("text"),
        isQ, k = 5)
      .select("query_id", "rank", "doc_id", "score6")
      .as[(Long, Long, Long, Long)].collect().toSet
    val wand = graft.operators.InvertedIndex.bm25FromIndex(docs,
        col("doc_id"), col("text"), isQ, k = 5, seedBlocks = 8)
      .select("query_id", "rank", "doc_id", "score6")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(wand == full)
  }

  test("rrfFuseTopK fuses integer rank contributions exactly") {
    val lex = Seq((1L, 10L, 1L), (1L, 11L, 2L), (1L, 12L, 3L))
      .toDF("query_id", "doc_id", "rank")
    val dense = Seq((1L, 11L, 1L), (1L, 13L, 2L))
      .toDF("query_id", "doc_id", "rank")
    val out = Similarity.rrfFuseTopK(lex, dense, k = 4)
      .select("rank", "doc_id", "rrf6")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    def r6(r: Long): Long = math.round(1e6 / (60.0 + r))
    // doc 11: lex rank 2 + dense rank 1 — only doc in both lists
    assert(out.head == (1L, 11L, r6(2) + r6(1)))
    val byDoc = out.map(t => t._2 -> t._3).toMap
    assert(byDoc(10L) == r6(1) && byDoc(12L) == r6(3) &&
      byDoc(13L) == r6(2))
    // one-list docs: higher single rank beats lower single rank;
    // doc_id breaks the 10-vs-13 tie? no tie: r6(1) > r6(2) > r6(3)
    assert(out.map(_._2).toSeq == Seq(11L, 10L, 13L, 12L))
  }

  test("recallCensus counts overlap per query; absent queries are 0") {
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 21L),
      (3L, 30L), (3L, 31L)).toDF("query_id", "neighbor_id")
    val approx = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 99L))
      .toDF("query_id", "neighbor_id") // q3 dropped entirely
    val census = Similarity.recallCensus(exact, approx)
      .as[(Long, Long)].collect().toMap
    assert(census == Map(2L -> 1L, 1L -> 1L, 0L -> 1L),
      s"got $census") // q1: 2 hits, q2: 1 hit, q3: 0 hits
  }

  test("hardNegativeTopK returns only cross-label neighbors, ranked") {
    // query 0 (label a) at origin-ish; same-label 1 is nearest but
    // must be excluded; cross-label 2 nearer than cross-label 3
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.99f, 0.1f)),
      (2L, Array(0.9f, 0.4f)), (3L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val lab = Seq((0L, "a"), (1L, "a"), (2L, "b"), (3L, "c"))
      .toDF("vec_id", "source")
    val out = Similarity.hardNegativeTopK(emb, lab, "vec_id",
        "embedding", "source", col("vec_id") === 0, k = 2)
      .select("rank", "neighbor_id", "neg_label")
      .as[(Long, Long, String)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((1L, 2L, "b"), (2L, 3L, "c")), s"got ${out.toSeq}")
  }

  test("rrfFuseTopK keeps per-query lists independent") {
    val lex = Seq((1L, 10L, 1L), (2L, 20L, 1L))
      .toDF("query_id", "doc_id", "rank")
    val dense = Seq((1L, 10L, 1L), (2L, 21L, 1L))
      .toDF("query_id", "doc_id", "rank")
    val out = Similarity.rrfFuseTopK(lex, dense, k = 2)
      .select("query_id", "rank", "doc_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(out == Set((1L, 1L, 10L), (2L, 1L, 20L), (2L, 2L, 21L)))
  }

  test("dimEnergyPermutation: valid snake deal, energy tiers spread") {
    // 8 dims, m=2 subspaces: dim d has energy ∝ (8−d)² so the energy
    // rank IS 0,1,2,…; snake deal with m=2 → ranks 0,3,4,7 in one
    // subspace and 1,2,5,6 in the other (boustrophedon rounds)
    val vecs = (1 to 50).map { i =>
      (i.toLong, (0 until 8).map(d => (8 - d) * 0.1f * (if (i % 2 == 0) 1 else -1)).toArray)
    }.toDF("vec_id", "embedding")
    val perm = Similarity.dimEnergyPermutation(vecs, "embedding",
      dim = 8, m = 2)
    assert(perm.sorted == (0 until 8)) // a true permutation
    // perm(newPos)=oldDim; subspace 0 = newPos 0..3, subspace 1 = 4..7
    // energy rank of dim d is d itself here
    assert(perm.take(4).toSet == Set(0, 3, 4, 7))
    assert(perm.drop(4).toSet == Set(1, 2, 5, 6))
    // deterministic
    assert(perm == Similarity.dimEnergyPermutation(vecs, "embedding",
      dim = 8, m = 2))
  }

  test("permuteVec preserves values and pairwise distances") {
    val emb = Tables.embeddings(spark, Sf0001)
    val perm = Similarity.dimEnergyPermutation(emb, "embedding",
      dim = 64, m = 8)
    val p = Similarity.permuteVec(emb, "embedding", perm)
    // multiset of elements per row unchanged
    val orig = emb.select(col("vec_id"),
        array_sort(col("embedding")).as("s"))
      .as[(Long, Seq[Float])].collect().toMap
    val perd = p.select(col("vec_id"),
        array_sort(col("embedding")).as("s"))
      .as[(Long, Seq[Float])].collect().toMap
    assert(orig == perd)
    // cosine top-1 is permutation-invariant (distances unchanged)
    val q = emb.filter(col("vec_id") % 40 === 0)
    val qp = p.filter(col("vec_id") % 40 === 0)
    val t1 = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val t1p = Similarity.bruteForceTopK(p, qp, "vec_id", "embedding", 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(t1 == t1p)
  }

  test("snake permutation beats the contiguous cut on anisotropic data") {
    // dim=16, m=4, all signal energy in dims 0–3: the contiguous cut
    // spends one 8-centroid codebook on the whole 4-D signal and
    // wastes three codebooks on noise; the energy-snake deal gives
    // every subspace exactly one signal dim (k=8 on a 1-D signal).
    // (On isotropic corpora — e.g. the synthetic testdata embeddings,
    // per-dim energy 7.0–9.1 — the permutation is neutral by design.)
    def u(i: Int, d: Int): Float = { // deterministic pseudo-uniform
      val h = ((i * 1315423911L + d * 2654435761L) & 0xffffL).toFloat
      (h / 0xffff.toFloat - 0.5f)
    }
    // unit-normalized so the exact leg's cosine order IS the ADC
    // family's L2 order — the comparison isolates quantization error
    val vecs = (0 until 200).map { i =>
      val raw = (0 until 16).map(d =>
        if (d < 4) u(i, d) else 0.001f * u(i, d + 100))
      val n = math.sqrt(raw.map(x => x.toDouble * x).sum).toFloat
      (i.toLong, raw.map(_ / n).toArray)
    }.toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") % 5 === 0)
    val exact = Similarity.bruteForceTopK(vecs, queries, "vec_id",
        "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recall(corpus: org.apache.spark.sql.DataFrame): Double = {
      val cb = Similarity.pqTrainCodebooks(corpus, "vec_id", "embedding",
        m = 4, k = 8, dim = 16, iters = 2, seed = 777)
      val got = Similarity.pqTopKWith(corpus, cb,
          corpus.filter(col("vec_id") % 5 === 0), "vec_id", "embedding",
          topK = 5, m = 4, dim = 16)
        .select("query_id", "neighbor_id")
        .as[(Long, Long)].collect().toSet
      exact.intersect(got).size.toDouble / exact.size
    }
    val plain = recall(vecs)
    val perm = Similarity.dimEnergyPermutation(vecs, "embedding",
      dim = 16, m = 4)
    // the four signal dims must land in four DIFFERENT subspaces
    val signalSubspace = (0 until 4).map(d => perm.indexOf(d) / 4)
    assert(signalSubspace.toSet.size == 4, s"deal: $signalSubspace")
    val permuted = recall(Similarity.permuteVec(vecs, "embedding", perm))
    info(f"recall@5 plain=$plain%.3f permuted=$permuted%.3f")
    assert(permuted > plain,
      f"permuted $permuted%.3f should beat plain $plain%.3f")
  }
}
