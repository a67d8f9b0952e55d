package graft

import org.apache.spark.sql.functions._

import graft.analytics.GraphAnalytics
import graft.pipeline.{Curation, Similarity}

/** Behavior tests for the corpus-curation operators (decontamination,
  * sequence packing, stratified sampling, duplicate clustering, int8
  * quantization).
  */
class CurationSpec extends SparkSpec {

  private lazy val docs = {
    import spark.implicits._
    Seq(
      (0L, "alpha beta gamma delta epsilon"),
      (1L, "alpha beta gamma delta epsilon"),     // exact dup of 0
      (2L, "alpha beta gamma something else now"), // shares a 3-gram with 0
      (3L, "totally unrelated words appear here"),
      (4L, "short text")
    ).toDF("doc_id", "text")
  }

  test("decontaminate flags docs sharing k-grams with the benchmark") {
    val bench = docs.filter(col("doc_id") === 0)
    val res = Curation.decontaminate(docs, bench, "doc_id", "text", k = 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("overlap_cnt"), r.getAs[Boolean]("contaminated")))
      .toMap
    // doc 0/1: all 3 of their 3-grams are benchmark grams
    assert(res(0L) === ((3L, true)))
    assert(res(1L) === ((3L, true)))
    // doc 2: exactly one shared 3-gram ("alpha beta gamma"), 4 total
    assert(res(2L) === ((1L, false)))
    assert(res(3L) === ((0L, false)))
    assert(res(4L) === ((0L, false)))
    // every input doc is present in the output
    assert(res.size === 5)
  }

  test("packSequences: bins follow the global exclusive prefix sum") {
    import spark.implicits._
    // token counts: 5, 5, 6, 5, 2 — budget 10:
    // before = 0, 5, 10, 16, 21 -> bins 0, 0, 1, 1, 2
    val res = Curation.packSequences(docs, "doc_id", "text",
      budgetTokens = 10).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("bin")).toMap
    assert(res === Map(0L -> 0L, 1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L))
    // chunked execution (forcing several range chunks) must agree with
    // the single-chunk global result — the prefix-offset plumbing is
    // what's under test
    val chunked = Curation.packSequences(docs, "doc_id", "text",
      budgetTokens = 10, chunks = 3).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("bin")).toMap
    assert(chunked === res)
  }

  test("packSequences on an empty frame returns no rows") {
    assert(Curation.packSequences(docs.filter(col("doc_id") < 0),
      "doc_id", "text", budgetTokens = 10).count() === 0)
  }

  test("stratifiedSample keeps exactly the rows under their stratum rate") {
    import spark.implicits._
    val rows = (0L until 200L).map(i =>
      (i, if (i % 2 == 0) "a" else "b")).toDF("id", "stratum")
    val res = Curation.stratifiedSample(rows, "id", col("stratum"),
      Map("a" -> 50, "b" -> 10))
    // recompute the expected keep-set with the same bucket formula
    val bucketed = rows.withColumn("__b",
      pmod(conv(substring(md5(col("id").cast("string")), 1, 15), 16, 10)
        .cast("long"), lit(100)))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val expected = bucketed.collect {
      case (id, "a", b) if b < 50 => id
      case (id, "b", b) if b < 10 => id
    }.toSet
    assert(res.collect().map(_.getLong(0)).toSet === expected)
    assert(expected.nonEmpty)
    // determinism: same call, same sample
    assert(Curation.stratifiedSample(rows, "id", col("stratum"),
      Map("a" -> 50, "b" -> 10)).collect().map(_.getLong(0)).toSet
      === expected)
  }

  test("dupClusters: transitive closure, min-id canonical, singletons") {
    import spark.implicits._
    val pairs = Seq((0L, 1L), (1L, 2L)).toDF("id_a", "id_b")
    val res = Curation.dupClusters(docs, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 0-1-2 collapse transitively even though 0-2 was never compared
    assert(res(0L) === 0L && res(1L) === 0L && res(2L) === 0L)
    assert(res(3L) === 3L && res(4L) === 4L) // singletons own-cluster
    val kept = Curation.canonical(docs, "doc_id", pairs)
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(0L, 3L, 4L))
  }

  test("connectedComponents (DataFrame pointer-jumping) matches GraphX " +
      "on seeded random graphs incl. chains, cliques, singletons") {
    import spark.implicits._
    import org.apache.spark.graphx.{Edge, Graph, VertexId}
    val rnd = new scala.util.Random(7)
    // chain (worst diameter), clique, random sparse, empty-edge trials
    val cases: Seq[Seq[(Long, Long)]] = Seq(
      (0L until 39L).map(i => (i, i + 1)), // 40-node chain
      (for (i <- 0 until 10; j <- i + 1 until 10)
        yield (i.toLong + 50L, j.toLong + 50L)),
      Seq.fill(80)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong)),
      Seq.empty[(Long, Long)]
    )
    for (edges <- cases) {
      val vs = (0L until 70L).toDF("u")
      val es = edges.toDF("u", "v")
      // default path: these graphs are under TailFinishEdges, so this
      // exercises the driver union-find fast path
      val mine = GraphAnalytics.connectedComponents(vs, es)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // tailFinish = 0 forces the distributed contraction loop (and its
      // in-loop convergence machinery) on the same graphs
      val mineDist = GraphAnalytics.connectedComponents(vs, es, tailFinish = 0)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // a mid-sized tail threshold makes the loop run SOME rounds and
      // then hand the contracted remainder to the driver finisher
      val mineTail = GraphAnalytics.connectedComponents(vs, es, tailFinish = 4)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val g = Graph(
        spark.sparkContext.parallelize(
          (0L until 70L).map(i => (i: VertexId, ()))),
        spark.sparkContext.parallelize(
          edges.map { case (a, b) => Edge(a, b, ()) }))
      val ref = g.connectedComponents().vertices.collect()
        .map { case (k, v) => (k: Long) -> (v: Long) }.toMap
      assert(mine === ref, s"fast path, edge set: $edges")
      assert(mineDist === ref, s"distributed path, edge set: $edges")
      assert(mineTail === ref, s"tail-finish path, edge set: $edges")
    }
  }

  test("connectedComponents: an edge endpoint outside the vertices " +
      "links its neighbors on every path and gets no row") {
    import spark.implicits._
    // 5 is no vertex, yet 10 and 11 take it as their label (least id
    // reachable through the edges); 20 has no edge
    val vs = Seq(10L, 11L, 20L).toDF("u")
    val es = Seq((10L, 5L), (10L, 11L)).toDF("u", "v")
    val expected = Seq(10L -> 5L, 11L -> 5L, 20L -> 20L)
    for (tail <- Seq(GraphAnalytics.TailFinishEdges, 0, 4)) {
      val res = GraphAnalytics.connectedComponents(vs, es, tailFinish = tail)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq.sorted
      assert(res === expected, s"tailFinish = $tail")
    }
  }

  test("connectedComponents driver fast path survives a worst-case " +
      "60k-edge chain (path compression must not recurse)") {
    import spark.implicits._
    val n = 60000L
    val vs = (0L until (n + 1)).toDF("u")
    val es = (0L until n).map(i => (i, i + 1)).toDF("u", "v")
    val res = GraphAnalytics.connectedComponents(vs, es)
      .agg(org.apache.spark.sql.functions.countDistinct("l"),
        org.apache.spark.sql.functions.max("l"),
        org.apache.spark.sql.functions.count("*")).head
    assert(res.getLong(0) === 1L) // one component
    assert(res.getLong(1) === 0L) // labeled by the min id
    assert(res.getLong(2) === n + 1)
  }

  test("dupClustersCollapsed: components identical to the full-corpus " +
      "generator run; star edges replace quadratic within-group pairs") {
    import spark.implicits._
    // corpus with: a 4-way exact-dup group (10-13), a near-dup bridge
    // (14 is a near-dup of the group's content), an unrelated pair
    // (20,21), singletons, and a pair of identical texts in DIFFERENT
    // blocks (30,31 — the generator blocks on `src`, so they must stay
    // separate clusters even though their text is identical)
    val rows = Seq(
      (10L, "a", "the quick brown fox jumps over the lazy dog"),
      (11L, "a", "the quick brown fox jumps over the lazy dog"),
      (12L, "a", "the quick brown fox jumps over the lazy dog"),
      (13L, "a", "the quick brown fox jumps over the lazy dog"),
      (14L, "a", "the quick brown fox jumps over the lazy cat"),
      (20L, "a", "completely different words entirely here now"),
      (21L, "a", "completely different words entirely here soon"),
      (30L, "a", "same text two blocks apart"),
      (31L, "b", "same text two blocks apart"),
      (40L, "b", "a lone singleton document")
    ).toDF("doc_id", "src", "text")
    def gen(d: org.apache.spark.sql.DataFrame) =
      graft.pipeline.Dedup.ngramJaccardPairs(d, "doc_id", "text",
        blockCol = "src", k = 3, threshold = 0.5)
    val full = Curation.dupClusters(rows, "doc_id", gen(rows))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val collapsed = Curation.dupClustersCollapsed(rows, "doc_id",
      exactKeyCols = Seq("src", "text"), pairGen = gen,
      collapsible = col("text").isNotNull)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(collapsed === full)
    // the semantics themselves: 10-14 one cluster via the near-dup
    // bridge; 30/31 remain separate (different blocks)
    assert((10L to 14L).map(collapsed).toSet === Set(10L))
    assert(collapsed(30L) === 30L && collapsed(31L) === 31L)
    assert(collapsed(40L) === 40L)
    // and the pair-graph reduction this exists for: the generator only
    // ever sees ONE member of the 4-way exact group
    val repDocsSeen = scala.collection.mutable.Set[Long]()
    Curation.dupClustersCollapsed(rows, "doc_id",
      exactKeyCols = Seq("src", "text"),
      pairGen = d => {
        repDocsSeen ++= d.select("doc_id").collect().map(_.getLong(0))
        gen(d)
      },
      collapsible = col("text").isNotNull).collect()
    assert(repDocsSeen.intersect(Set(10L, 11L, 12L, 13L)) === Set(10L))
  }

  test("IVF index persists: probe results identical, partitions pruned") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val vecs = (0L until 60L).map(i =>
      (i, Array.fill(4)(rnd.nextFloat()))).toDF("vec_id", "embedding")
    val centroids = Similarity.ivfTrain(vecs, k = 4, iters = 2)
    val assigned = Similarity.ivfAssign(vecs, centroids)
    val dir = java.nio.file.Files.createTempDirectory("ivf").toString
    Similarity.saveIndex(dir, centroids, assigned)
    val (c2, a2) = Similarity.loadIndex(spark, dir)
    val q = vecs.filter(col("vec_id") < 2)
    def res(c: org.apache.spark.sql.DataFrame,
            a: org.apache.spark.sql.DataFrame) =
      Similarity.ivfTopK(a, c, q, k = 5, nProbe = 2)
        .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("nn_id"),
          r.getAs[Int]("rank"))).toSet
    assert(res(c2, a2) === res(centroids, assigned))
    // the probed read plans a pruned partition scan: the vectors table
    // arrives partitioned by cluster, so cluster is a partition column
    assert(a2.schema.fieldNames.contains("cluster"))
    val pruned = a2.filter(col("cluster") === 0)
      .queryExecution.executedPlan.toString
    assert(!pruned.contains("PartitionFilters: []"),
      s"expected a partition filter on cluster:\n$pruned")
  }

  test("topTerms: exact counts, rank ties break on term") {
    import spark.implicits._
    val d = Seq((0L, "b a a"), (1L, "b c")).toDF("doc_id", "text")
    val res = graft.pipeline.TextAnalysis.topTerms(d, "text", 2)
      .collect().map(r => (r.getAs[String]("term"), r.getAs[Long]("cnt"),
        r.getAs[Int]("rank"))).toSet
    // a and b both count 2; tie breaks alphabetically
    assert(res === Set(("a", 2L, 1), ("b", 2L, 2)))
  }

  test("tfIdf: counts exact, tfidf follows tf*ln(N/df)") {
    import spark.implicits._
    val d = Seq((0L, "a a b"), (1L, "a c")).toDF("doc_id", "text")
    val res = graft.pipeline.TextAnalysis.tfIdf(d, "doc_id", "text", 10)
      .collect().map(r => (r.getAs[Long]("doc"), r.getAs[String]("term")) ->
        (r.getAs[Long]("tf"), r.getAs[Long]("df"),
          r.getAs[Double]("tfidf"))).toMap
    assert(res((0L, "a")) === ((2L, 2L, 2.0 * math.log(2.0 / 2.0))))
    assert(res((0L, "b")) === ((1L, 1L, 1.0 * math.log(2.0 / 1.0))))
    assert(res((1L, "c"))._1 === 1L)
    assert(res.size === 4)
  }

  test("quantizeInt8: max element maps to ±127, zero vector to zeros") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.5f, -1.0f)),
      (1L, Array(0.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val res = Similarity.quantizeInt8(vecs).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Double]("scale"), r.getAs[String]("qvec"))).toMap
    assert(res(0L)._1 === 1.0 / 127.0)
    assert(res(0L)._2 === "127,64,-127") // 0.5/scale = 63.5 -> floor(64.0)
    assert(res(1L)._1 === 0.0)
    assert(res(1L)._2 === "0,0,0")
  }

  private def boilerDocs = {
    import spark.implicits._
    Seq(
      (0L, "SHARED NAV\nbody zero\n\nmore zero\nSHARED NAV"),
      (1L, "SHARED NAV\nbody one"),
      (2L, "SHARED NAV\nbody two\nSHARED NAV "), // trailing space differs
      (3L, "body three\n\nbody three again"),
      (4L, "SHARED NAV"), // remnant is empty
      (5L, null.asInstanceOf[String]), // null text = zero lines
      (6L, "") // empty text = zero lines
    ).toDF("doc_id", "text")
  }

  test("removeBoilerplate: exact-match cross-doc lines cut, order and " +
      "blank lines kept, floors consistent") {
    val res = Curation.removeBoilerplate(boilerDocs, "doc_id", "text",
        minDocs = 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("clean_text"), r.getAs[Long]("n_kept"),
          r.getAs[Long]("n_removed"))).toMap
    // "SHARED NAV" is in docs 0, 1, 2, 4 (doc 0 twice counts ONCE) = 4
    // distinct docs >= 3 -> boilerplate; every occurrence is cut.
    // "SHARED NAV " (trailing space, doc 2 only) is a DIFFERENT line.
    assert(res(0L) === (("body zero\n\nmore zero", 3L, 2L)))
    assert(res(1L) === (("body one", 1L, 1L)))
    assert(res(2L) === (("body two\nSHARED NAV ", 2L, 1L)))
    // blank lines survive even though the empty string spans many docs
    assert(res(3L) === (("body three\n\nbody three again", 3L, 0L)))
    // doc 4's remnant is empty -> dropped by the default floor;
    // docs 5/6 have zero lines -> dropped too
    assert(!res.contains(4L) && !res.contains(5L) && !res.contains(6L))
    assert(res.size === 4)
  }

  test("removeBoilerplate: floor 0 keeps empty remnants with n_kept 0") {
    val res = Curation.removeBoilerplate(boilerDocs, "doc_id", "text",
        minDocs = 3, minKeptLines = 0L)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("clean_text"), r.getAs[Long]("n_kept"),
          r.getAs[Long]("n_removed"))).toMap
    assert(res(4L) === (("", 0L, 1L)))
    assert(res(5L) === (("", 0L, 0L)))
    assert(res(6L) === (("", 0L, 0L)))
    assert(res.size === 7)
  }

  test("removeBoilerplateAgainst: corpus counts push batch lines over " +
      "the threshold; batch-only lines stay") {
    import spark.implicits._
    val batch = Seq(
      (100L, "CORPUS NAV\nbatch body a"),
      (101L, "CORPUS NAV\nbatch body b"),
      (102L, "BATCH ONLY\nbatch body c")
    ).toDF("doc_id", "text")
    // "CORPUS NAV" sits in 4 corpus docs; with 2 batch docs it reaches
    // minDocs = 6 ONLY via the corpus table. "BATCH ONLY" (1) stays.
    val corpus = (0L until 4L).map(i => (i, s"CORPUS NAV\ncorpus $i"))
      .toDF("doc_id", "text")
    val counts = Curation.boilerplateLineCounts(corpus, "doc_id", "text")
    assert(counts.collect().map(r => r.getAs[Long]("n_docs")).toSet
      === Set(4L, 1L)) // NAV in 4 docs, each body in 1
    val res = Curation.removeBoilerplateAgainst(batch, counts,
        "doc_id", "text", minDocs = 6)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("clean_text"), r.getAs[Long]("n_removed")))
      .toMap
    assert(res === Map(100L -> (("batch body a", 1L)),
      101L -> (("batch body b", 1L)),
      102L -> (("BATCH ONLY\nbatch body c", 0L))))
    // one corpus doc fewer and the sum stays below the threshold
    val res5 = Curation.removeBoilerplateAgainst(batch,
        Curation.boilerplateLineCounts(corpus.filter(col("doc_id") < 3),
          "doc_id", "text"),
        "doc_id", "text", minDocs = 6)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Long]("n_removed")).toMap
    assert(res5 === Map(100L -> 0L, 101L -> 0L, 102L -> 0L))
  }

  test("removeBoilerplate: threshold is on DISTINCT documents") {
    import spark.implicits._
    // "dup" appears twice in ONE doc (1 distinct) and once in another
    // (2 distinct total) — below minDocs = 3, so nothing is removed
    val d = Seq((0L, "dup\nx\ndup"), (1L, "dup\ny"), (2L, "z"))
      .toDF("doc_id", "text")
    val res = Curation.removeBoilerplate(d, "doc_id", "text", minDocs = 3)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Long]("n_removed")).toMap
    assert(res === Map(0L -> 0L, 1L -> 0L, 2L -> 0L))
  }

  test("chunkDocuments: window starts, overlap, short tail, the one-" +
      "chunk floor, case/whitespace handling, empty docs emit nothing") {
    import spark.implicits._
    val d = Seq(
      (0L, "a b c d e f g h i j"),    // 10 toks: [0,4) [3,7) [6,10)
      (1L, "One  Two\tThree"),        // 3 toks <= budget → 1 chunk
      (2L, "x"),                      // 1 tok (== overlap) → floor
      (3L, "  \t "), (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val res = Curation.chunkDocuments(d, "doc_id", "text",
      budget = 4, overlap = 1)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("chunk_idx")) ->
        (r.getAs[String]("chunk_text"), r.getAs[Long]("n_tokens")))
      .toMap
    assert(res === Map(
      (0L, 0L) -> (("a b c d", 4L)),
      (0L, 1L) -> (("d e f g", 4L)),
      (0L, 2L) -> (("g h i j", 4L)),
      (1L, 0L) -> (("One Two Three", 3L)), // case kept, \s+ collapsed
      (2L, 0L) -> (("x", 1L))))
    // every chunk after the first contributes new tokens: 11 toks →
    // 4 chunks, tail holds 2 (1 overlap + 1 new)
    val tail = Curation.chunkDocuments(
      Seq((0L, (1 to 11).map("t" + _).mkString(" ")))
        .toDF("doc_id", "text"), "doc_id", "text", 4, 1)
      .collect().map(r => r.getAs[Long]("chunk_idx") ->
        r.getAs[Long]("n_tokens")).toMap
    assert(tail === Map(0L -> 4L, 1L -> 4L, 2L -> 4L, 3L -> 2L))
    val err = intercept[IllegalArgumentException] {
      Curation.chunkDocuments(d, "doc_id", "text", 4, 4)
    }
    assert(err.getMessage.contains("overlap"))
  }

  test("temperatureMix: tau=1 with a full budget keeps everything, " +
      "tau=0.5 up-weights the small source, membership is monotone " +
      "in budget and deterministic") {
    import spark.implicits._
    // 200 docs from 'big', 20 from 'small'
    val docs = ((0L until 200L).map((_, "big")) ++
      (200L until 220L).map((_, "small"))).toDF("doc_id", "source")
    // tau=1, budget=everything → proportional rates hit 100%
    assert(Curation.temperatureMix(docs, "doc_id", "source",
      budgetDocs = 220L, tau = 1.0).count() === 220L)
    // tau=0.5: small source's SELECTED share beats its corpus share
    val sel = Curation.temperatureMix(docs, "doc_id", "source",
      budgetDocs = 60L, tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val smallShareSel = sel.count(_._2 == "small").toDouble /
      math.max(sel.length, 1)
    assert(smallShareSel > 20.0 / 220.0,
      s"tau<1 must up-weight the small source: $smallShareSel")
    // deterministic + monotone in budget (rates only grow)
    val again = Curation.temperatureMix(docs, "doc_id", "source",
      budgetDocs = 60L, tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(sel.toSet === again.toSet)
    val bigger = Curation.temperatureMix(docs, "doc_id", "source",
      budgetDocs = 120L, tau = 0.5)
      .collect().map(_.getLong(0)).toSet
    assert(sel.map(_._1).toSet.subsetOf(bigger))
  }

  test("canonicalizeUrl: scheme/host lower, default-port drop, " +
      "tracking strip, param sort, fragment strip, path case kept, " +
      "pass-through for non-absolute inputs") {
    import spark.implicits._
    val cases = Seq(
      ("HTTP://WWW.Example.COM:80/Path/UP?utm_source=x&b=2&a=1#frag",
        "http://www.example.com/Path/UP?a=1&b=2"),
      ("https://Host.net:443", "https://host.net/"),
      // non-default port kept; empty-value param kept and sorted
      ("ftp://Host.Net:2121/A?z=1&y=&gclid=g", "ftp://host.net:2121/A?y=&z=1"),
      // ONLY tracking params → no '?' at all
      ("http://h.com/p?utm_a=1&fbclid=2&gclid=3", "http://h.com/p"),
      // `ref` is load-bearing (GitHub refs, pagination) and NOT in the
      // default blocklist (advice r14) — it must survive
      ("http://h.com/p?ref=readme&utm_a=1", "http://h.com/p?ref=readme"),
      // ref as a SUBSTRING of other keys is untouched either way
      ("http://h.com/p?xref=1&pref=2", "http://h.com/p?pref=2&xref=1"),
      ("relative/path?utm_source=x", "relative/path?utm_source=x"),
      ("", ""),
      (null.asInstanceOf[String], ""))
    val got = cases.zipWithIndex
      .map { case ((in, _), i) => (i.toLong, in) }
      .toDF("id", "u")
      .select(col("id"), Curation.canonicalizeUrl(col("u")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    cases.zipWithIndex.foreach { case ((_, want), i) =>
      assert(got(i.toLong) === want, s"case $i")
    }
    // caller-supplied blocklist: site populations differ, so the set
    // is a parameter — a custom list drops what IT names (here `ref`
    // and `sid`) and nothing else; the empty list keeps everything
    val custom = Seq((0L, "http://h.com/p?ref=1&sid=2&utm_a=3&b=4"))
      .toDF("id", "u")
    assert(custom.select(Curation.canonicalizeUrl(col("u"),
        trackingParams = Seq("ref", "sid")).as("c"))
      .head().getString(0) === "http://h.com/p?b=4&utm_a=3")
    assert(custom.select(Curation.canonicalizeUrl(col("u"),
        trackingParams = Nil).as("c"))
      .head().getString(0) === "http://h.com/p?b=4&ref=1&sid=2&utm_a=3")
  }

  test("temperatureMix: null sources group as '' and are mixed, " +
      "never NPE'd or silently excluded") {
    import spark.implicits._
    val docs = ((0L until 50L).map(i => (i, "named")) ++
      (50L until 100L).map(i => (i, null.asInstanceOf[String])))
      .toDF("doc_id", "source")
    // full budget at tau=1 → proportional rates hit 100% for BOTH
    // groups; before the fix this NPE'd on the null group
    val sel = Curation.temperatureMix(docs, "doc_id", "source",
      budgetDocs = 100L, tau = 1.0).collect()
    assert(sel.length === 100)
    assert(sel.count(_.isNullAt(1)) === 50) // null rows selected too
  }
}
