package graft.pipeline

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.analytics.GraphAnalytics

/** Corpus-curation operators a large-scale training-data pipeline needs
  * beyond dedup/similarity: benchmark decontamination, token-budget
  * sequence packing, stratified sampling, and duplicate-cluster
  * canonicalization. Each is written around its 100 TB shape (noted per
  * operator); none touches the driver except for tiny (partition-count- or
  * stratum-count-sized) metadata.
  */
object Curation {

  /** Benchmark decontamination: flag training documents sharing word
    * k-grams with an evaluation/benchmark set — the standard guard against
    * test-set leakage into a training corpus. Output per input document:
    * `overlap_cnt` (distinct shared k-grams), `overlap_ratio`
    * (shared / document's distinct k-grams), `contaminated`
    * (ratio >= `ratioThreshold`).
    *
    * 100 TB shape: the benchmark gram set is benchmark-sized (small by
    * nature — eval sets are thousands of documents, not billions), so it
    * is distinct-reduced and broadcast; the corpus side is one projection
    * (shingling), one explode, a broadcast hash join, and one
    * hash-aggregate back to document grain. No corpus-sized shuffle except
    * the final per-doc aggregate, which map-side-combines on the exploded
    * grams.
    */
  def decontaminate(docs: DataFrame, benchmark: DataFrame, idCol: String,
                    textCol: String, k: Int = 3,
                    ratioThreshold: Double = 0.5): DataFrame = {
    // Grams are compared as xxhash64 longs, never as strings: tokens are
    // hashed once in a codegen'd projection, gram hashes derive from
    // k-slices of the token-hash array, and the (id, gram-hash array)
    // rows — far smaller than the text — are materialized eagerly BEFORE
    // the explode. Without that, Catalyst collapses the gram expression
    // into the Generate, whose input runs on the interpreted path
    // (measured 6.8s → 0.9s at sf0.1, the same trap minhashLsh
    // documents). Hash-equality is string-equality modulo negligible
    // 64-bit collisions (same argument as minhash's hashed Jaccard).
    val tokenHashes = transform(split(lower(trim(col(textCol))), "\\s+"),
      t => xxhash64(t)).as("__th")
    val benchGrams = benchmark.select(tokenHashes)
      .select(Dedup.hashedShingles(col("__th"), k).as("__gh"))
      .transform(graft.core.Materialize(_))
      .select(explode(col("__gh")).as("__gram"))
      .distinct()
      .withColumn("__hit", lit(1))
    docs.select(col(idCol).as("__id"), tokenHashes)
      .select(col("__id"), Dedup.hashedShingles(col("__th"), k).as("__gh"))
      .transform(graft.core.Materialize(_))
      .select(col("__id"), size(col("__gh")).as("__total"),
        explode(col("__gh")).as("__gram"))
      .join(broadcast(benchGrams), Seq("__gram"), "left_outer")
      .groupBy("__id")
      .agg(max(col("__total")).as("__total"),
        count(col("__hit")).as("overlap_cnt"))
      .select(col("__id").as(idCol), col("overlap_cnt"),
        (col("overlap_cnt").cast("double") /
          greatest(col("__total").cast("double"), lit(1.0)))
          .as("overlap_ratio"),
        (col("overlap_cnt").cast("double") /
          greatest(col("__total").cast("double"), lit(1.0)) >=
          ratioThreshold).as("contaminated"))
  }

  /** Token-budget sequence packing: assign documents (in id order) to
    * contiguous training-sequence bins of ~`budgetTokens` whitespace
    * tokens — the sort-and-chunk packing large pipelines run before
    * example assembly. `bin = exclusive_prefix_sum(tokens) div budget`,
    * so a document straddling a boundary goes to the earlier bin
    * (documented deviation from sequential first-fit, which is a state
    * machine and cannot scale past one thread).
    *
    * 100 TB shape: a single global running sum would be a one-partition
    * window. Instead ids are range-chunked by a pure projection
    * (`floor(id / width)` — no repartition shuffle, deterministic across
    * retries unlike `spark_partition_id`), per-chunk token totals (tiny —
    * one row per chunk) come back to the driver to form prefix offsets,
    * and the running sum is a per-chunk window plus the broadcast offset:
    * the same two-job prefix-sum used for dense id assignment in
    * `GraphStore.createNodes`.
    */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
                    budgetTokens: Long, chunks: Int = 0): DataFrame = {
    require(budgetTokens > 0, "budgetTokens must be positive")
    val spark = docs.sparkSession
    val nChunks = math.max(1,
      if (chunks > 0) chunks else spark.sparkContext.defaultParallelism)
    // Materialized: the driver-side prefix offsets are computed once,
    // so the window pass must read the exact rows the per-chunk sums
    // saw (same re-evaluation pin as shuffleShards — a nondeterministic
    // input lineage would otherwise silently break bin assignment).
    // Rows are (long, long) — tiny.
    val toks = docs.select(col(idCol).cast("long").as("__id"),
      graft.pipeline.TextAnalysis.tokenCountWs(col(textCol))
        .cast("long").as("n_tokens"))
      .transform(graft.core.Materialize(_))
    val maxId = toks.agg(max("__id")).head().get(0)
      .asInstanceOf[java.lang.Long]
    if (maxId == null) {
      return toks.select(col("__id").as(idCol), col("n_tokens"),
        lit(0L).as("bin"))
    }
    val width = math.max(1L, (maxId + nChunks) / nChunks)
    val withChunk = toks.withColumn("__c",
      expr(s"__id DIV $width"))
    val sums = withChunk.groupBy("__c").agg(sum("n_tokens").as("__s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    val prefix = sums.map(_._2).scanLeft(0L)(_ + _).init
    import spark.implicits._
    val offsets = sums.map(_._1).zip(prefix).toSeq.toDF("__c", "__off")
    val w = Window.partitionBy("__c").orderBy("__id")
    withChunk
      .join(broadcast(offsets), Seq("__c"))
      .withColumn("__before",
        sum(col("n_tokens")).over(w) - col("n_tokens") + col("__off"))
      .select(col("__id").as(idCol), col("n_tokens"),
        expr(s"__before DIV $budgetTokens").as("bin"))
  }

  /** Fixed-budget token chunking with overlap — the long-document →
    * training-sequence step (and the RAG-chunking shape): each document
    * splits into windows of `budget` whitespace tokens starting every
    * `budget − overlap` tokens, original case preserved, internal
    * whitespace runs normalized to single spaces by the join. The chunk
    * count is `max(ceil((n − overlap) / stride), 1)` for non-empty
    * docs — every chunk after the first contributes at least one new
    * token, the final chunk may be short, token-less docs emit nothing.
    *
    * 100 TB shape: a pure projection + explode — zero shuffles, zero
    * driver state; the array-building projection is materialized before
    * the explode (the repo-wide Generate-collapse lesson). Output:
    * (idCol, chunk_idx, chunk_text, n_tokens).
    */
  def chunkDocuments(docs: DataFrame, idCol: String, textCol: String,
                     budget: Int, overlap: Int = 0): DataFrame = {
    require(budget >= 1, "budget must be >= 1")
    require(overlap >= 0 && overlap < budget,
      s"overlap must be in [0, budget): $overlap vs $budget")
    val stride = budget - overlap
    val toks = filter(split(trim(coalesce(col(textCol), lit(""))),
      "\\s+"), t => t =!= "")
    val base = docs
      .select(col(idCol).cast("long").as("__id"), toks.as("__w"))
      .filter(size(col("__w")) > 0)
      .transform(graft.core.Materialize(_))
    val n = size(col("__w"))
    val nChunks = greatest(ceil((n - lit(overlap)).cast("double") /
      lit(stride.toDouble)).cast("int"), lit(1))
    base
      .select(col("__id"), col("__w"),
        explode(sequence(lit(0), nChunks - 1)).as("__k"))
      .select(col("__id").as(idCol),
        col("__k").cast("long").as("chunk_idx"),
        array_join(slice(col("__w"),
          col("__k") * stride + 1, lit(budget)), " ").as("chunk_text"),
        least(size(col("__w")) - col("__k") * stride, lit(budget))
          .cast("long").as("n_tokens"))
  }

  /** Default tracking-parameter blocklist for [[canonicalizeUrl]]:
    * pure click/campaign trackers only. `ref` is deliberately NOT here
    * (advice r14): unlike `utm_*`/`fbclid` it is load-bearing on many
    * real sites (GitHub refs, forum pagination), so dropping it would
    * collapse distinct pages and canonical-key dedup would delete real
    * content. `utm_[^=]*` is a regex alternative; entries must use
    * only Java∩RE2 shared syntax. */
  val DefaultTrackingParams: Seq[String] =
    Seq("utm_[^=]*", "fbclid", "gclid", "msclkid", "mc_eid", "igshid")

  /** URL canonicalization — the dedup-prep step every crawl pipeline
    * runs before URL-level exact dedup (two fetches of one page must
    * collapse): lowercase scheme+host, drop the scheme's default port,
    * strip the fragment, drop tracking parameters
    * ([[DefaultTrackingParams]] — caller-overridable, since the right
    * blocklist is site-population-specific), sort the remaining query
    * parameters bytewise, normalize an empty path to `/`. Path case is
    * PRESERVED (RFC 3986 — paths are case-sensitive); non-absolute
    * inputs pass through untouched. All built-in codegen'd
    * expressions, regex syntax shared by Java and RE2 — the 100 TB
    * cost is the scan; compose with [[graft.pipeline.Dedup.exact]] on
    * the canonical key for the dedup itself. */
  def canonicalizeUrl(c: Column,
      trackingParams: Seq[String] = DefaultTrackingParams): Column = {
    val u = regexp_replace(trim(coalesce(c, lit(""))), "(?s)#.*$", "")
    val scheme =
      lower(regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val auth =
      lower(regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    // \z, not $, throughout: Java's $ also matches before a final
    // line terminator (\r, U+0085), so a pathological URL ending in
    // one would normalize differently here than in the RE2/DuckDB
    // oracle; \z (Java) and $ (RE2) are both strict end-of-text
    val authNorm = when(scheme === "http",
      regexp_replace(auth, ":80\\z", ""))
      .when(scheme === "https", regexp_replace(auth, ":443\\z", ""))
      .otherwise(auth)
    val path = regexp_extract(u,
      "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    val pathNorm = when(path === "", lit("/")).otherwise(path)
    val tracking = trackingParams.mkString("^(", "|", ")(=|$)")
    val params = filter(split(regexp_extract(u, "\\?(.*)\\z", 1), "&"),
      p => p =!= "" &&
        (if (trackingParams.isEmpty) lit(true) else !p.rlike(tracking)))
    val qNorm = array_join(sort_array(params), "&")
    when(scheme === "", u)
      .otherwise(concat(scheme, lit("://"), authNorm, pathNorm,
        when(qNorm === "", lit(""))
          .otherwise(concat(lit("?"), qNorm))))
  }

  /** URL host-blocklist filter — the UT1-style domain filter every
    * crawl pipeline runs (RefinedWeb §3.1, C4's badword analogue at
    * the domain grain): drop rows whose URL host IS a blocked domain
    * or any SUBDOMAIN of one (label-boundary suffix match —
    * `ads.example.com` blocks `x.ads.example.com` but never
    * `notads.example.com`). Host extraction follows
    * [[canonicalizeUrl]]'s authority grammar: lowercased, userinfo
    * and port stripped; a schemeless value never matches (kept).
    *
    * 100 TB shape: the host's ≤ ~10 label-suffixes explode to one
    * short row each, hash-SEMI-join against the broadcast blocklist
    * table (blocklists are config-grain — UT1 is ~4M lines, still
    * broadcastable), and the blocked ids anti-join back. No
    * blocklist-sized literal ever enters the plan (a 4M-entry CASE
    * chain would kill codegen), and the text columns never shuffle —
    * only (id, suffix) pairs do. */
  def filterBlockedHosts(df: DataFrame, idCol: String, urlCol: String,
                         blockedDomains: Seq[String]): DataFrame = {
    if (blockedDomains.isEmpty) return df
    val spark = df.sparkSession
    import spark.implicits._
    filterBlockedHosts(df, idCol, urlCol,
      blockedDomains.map(_.toLowerCase(java.util.Locale.ROOT))
        .distinct.toDF("domain"))
  }

  /** [[filterBlockedHosts]] with the blocklist as a DataFrame (one
    * `domain` column, already lowercased) — the form a production
    * deployment uses: real blocklists (UT1 is ~4M lines) live in
    * files/tables, not driver Seqs; a Seq would serialize into the
    * plan as a LocalRelation on every run. */
  def filterBlockedHosts(df: DataFrame, idCol: String, urlCol: String,
                         blocked: DataFrame): DataFrame = {
    require(blocked.columns.contains("domain"),
      s"blocklist needs a 'domain' column, got " +
        blocked.columns.mkString(", "))
    val block = broadcast(blocked.select(col("domain").as("__dom")))
    val u = trim(coalesce(col(urlCol), lit("")))
    val auth =
      lower(regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    val host = regexp_replace(regexp_replace(auth, "^[^@]*@", ""),
      ":[0-9]*$", "")
    val labels = filter(split(host, "\\."), l => l =!= "")
    val suffixes = transform(sequence(lit(1), size(labels)),
      i => array_join(slice(labels, i, size(labels)), "."))
    val blockedIds = df
      .select(col(idCol).as("__bid"),
        explode(when(size(labels) > 0, suffixes)
          .otherwise(array().cast("array<string>"))).as("__dom"))
      .join(block, Seq("__dom"), "left_semi")
      .select(col("__bid").as(idCol)).distinct()
    df.join(blockedIds, Seq(idCol), "left_anti")
  }

  /** Deterministic stratified sampling: keep a per-stratum percentage of
    * rows, selected by the same md5-id-hash buckets as
    * [[Corpus.assignSplits]] — so the sample is stable as the corpus
    * grows, reproducible across engines, and consistent with split
    * assignment (a row's bucket never changes). Pure projection + filter:
    * no shuffle, no state; the stratum→rate map is a CASE expression, so
    * the 100 TB cost is the scan itself.
    */
  def stratifiedSample(df: DataFrame, idCol: String, stratumCol: Column,
                       pctByStratum: Map[String, Int],
                       defaultPct: Int = 0): DataFrame = {
    require((defaultPct +: pctByStratum.values.toSeq)
      .forall(p => p >= 0 && p <= 100), "percentages must be in [0,100]")
    val bucket = pmod(conv(substring(
      md5(col(idCol).cast("string")), 1, 15), 16, 10).cast("long"), lit(100))
    val pct = pctByStratum.toSeq.sortBy(_._1)
      .foldLeft(lit(defaultPct)) { case (acc, (s, p)) =>
        when(stratumCol === s, lit(p)).otherwise(acc)
      }
    df.filter(bucket < pct)
  }

  /** Temperature-scaled source mixing — the GPT-3/PaLM data-mixing
    * step: sample each source at a rate making its expected share of a
    * `budgetDocs`-document mix proportional to `n_s^tau` (tau < 1
    * up-weights small high-quality sources, tau = 1 is proportional).
    * Per-source quotas resolve to per-MILLION sampling rates; selection
    * reuses the md5-id buckets of [[Corpus.assignSplits]] /
    * [[stratifiedSample]], so membership is stable as the corpus grows
    * and reproducible across engines.
    *
    * Determinism contract (what lets the p116 oracle hash-replay the
    * selection): the weight normalizer sums `n_s^tau` in SOURCE-NAME
    * order, and every step is an exactly-rounded IEEE-754 op
    * (sqrt for tau = 0.5, +, *, /, floor) — measured bit-identical
    * between the JVM and DuckDB on the real and 30× corpora. tau
    * values other than 0.5/1.0 go through `math.pow`, which carries no
    * cross-engine exactness guarantee — fine for production, excluded
    * from the hash gate.
    *
    * 100 TB shape: one source-grain count aggregate (sources ≪ corpus
    * by definition — the collected table is the mixing config), then a
    * pure filter projection over the scan. */
  def temperatureMix(df: DataFrame, idCol: String, sourceCol: String,
                     budgetDocs: Long, tau: Double = 0.5): DataFrame = {
    require(budgetDocs >= 0, "budgetDocs must be >= 0")
    require(tau > 0 && tau <= 1, s"tau must be in (0, 1]: $tau")
    def w(n: Long): Double =
      if (tau == 0.5) math.sqrt(n.toDouble)
      else if (tau == 1.0) n.toDouble
      else math.pow(n.toDouble, tau)
    // null sources group as "" (advice r14): a bare r.get(0).toString
    // NPE'd on a null group, and even counted, null rows could never
    // match the CASE chain below — silently excluded from the mix
    val src = coalesce(col(sourceCol).cast("string"), lit(""))
    val counts = df.groupBy(src.as("__src"))
      .agg(count(lit(1)).as("__n")).collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .sortBy(_._1)
    // the rates become a per-source CASE chain (pure codegen'd filter,
    // zero joins — right for the dataset-grain mixing the published
    // recipes do, dozens of sources). A DATA-driven stratum count can
    // explode that expression tree (domain-grain: millions) — refuse
    // loudly instead of building a 100k-deep CASE; that use case wants
    // a broadcast-join variant on a rates table, not this operator.
    require(counts.length <= 1000,
      s"temperatureMix: ${counts.length} distinct sources — the " +
        "per-source CASE filter is designed for dataset-grain mixing " +
        "(≤1000 sources); for domain-grain mixing join a rates table " +
        "instead")
    var z = 0.0
    counts.foreach { case (_, n) => z += w(n) }
    val ppm = counts.map { case (s, n) =>
      val share = budgetDocs.toDouble * w(n) / z
      s -> math.min(math.floor(1000000.0 * share / n.toDouble),
        1000000.0).toLong
    }
    val rate = ppm.foldLeft(lit(0L)) { case (acc, (s, p)) =>
      when(src === s, lit(p)).otherwise(acc)
    }
    val bucket = pmod(conv(substring(
      md5(col(idCol).cast("string")), 1, 15), 16, 10).cast("long"),
      lit(1000000L))
    df.filter(bucket < rate)
  }

  /** Duplicate-cluster canonicalization: given near-dup pairs (any of the
    * [[Dedup]] generators), compute the transitive closure — connected
    * components — and assign every document the minimum id of its cluster
    * as the canonical representative. Documents in no pair are their own
    * cluster. This is the step that turns pairwise near-dup evidence into
    * a keep/drop decision (`keep = id == cluster`) without the
    * order-dependence of greedy pair dropping (a-b and b-c collapse to one
    * cluster even though a-c was never directly compared).
    *
    * 100 TB shape: [[GraphAnalytics.connectedComponents]] —
    * DataFrame-native min-label propagation with graph contraction and
    * pointer jumping (replaced GraphX in round 7: ~2× faster at sf1 and
    * the edge set shrinks geometrically per round instead of being
    * re-shuffled in full every Pregel superstep). The pairs frame is
    * near-dup-sized (≪ corpus), the docs side contributes ids only.
    */
  def dupClusters(docs: DataFrame, idCol: String, pairs: DataFrame,
                  aCol: String = "id_a", bCol: String = "id_b"): DataFrame =
    GraphAnalytics.connectedComponents(
      docs.select(col(idCol).cast("long").as("u")),
      pairs.select(col(aCol).cast("long").as("u"),
        col(bCol).cast("long").as("v")))
      .withColumnRenamed("u", idCol)
      .withColumnRenamed("l", "cluster")

  /** Keep one canonical document per duplicate cluster (the minimum id —
    * GraphX's component label). */
  def canonical(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    dupClusters(docs, idCol, pairs)
      .filter(col(idCol) === col("cluster"))
      .select(col(idCol))

  /** [[dupClusters]] with exact-duplicate STAR COLLAPSE: groups of
    * byte-identical documents (same `exactKeyCols` values) contribute
    * one star edge per member (doc → group-min id) plus ONE
    * representative to the near-dup pair generator, instead of all
    * `n·(n−1)/2` within-group pairs plus `n` copies of every cross-group
    * near-dup edge. Connected components are PROVABLY identical to
    * running `pairGen` over the full corpus: any content-based generator
    * links identical-content docs to identical neighbor sets, so
    * replacing a member with its star-linked representative preserves
    * reachability — while the edge count drops from quadratic to linear
    * in group size. On a duplication-heavy corpus this is the difference
    * between the pair graph exploding ~10⁴× and growing ~linearly
    * (measured: sf1 dup_clusters, SCALE.md).
    *
    * `collapsible` guards the equivalence edge case: docs the generator
    * would NOT link even when byte-identical (e.g. texts too short to
    * produce a shingle — Jaccard on empty sets is null, no pair) must
    * not be star-linked either, or collapse would ADD edges the
    * full-corpus run lacks. Pass the generator's own linkability
    * predicate; such docs stay un-collapsed and flow to `pairGen`.
    *
    * 100 TB shape: one map-side-combined groupBy over (key-hash, id) —
    * ids only, not payloads; duplicate GROUPS (count > 1) are usually a
    * small fraction of the corpus, so the back-join is
    * broadcast-eligible and AQE picks that at runtime. `pairGen` then
    * runs on the deduplicated (smaller) frame.
    */
  def dupClustersCollapsed(docs: DataFrame, idCol: String,
                           exactKeyCols: Seq[String],
                           pairGen: DataFrame => DataFrame,
                           collapsible: Column = lit(true),
                           aCol: String = "id_a",
                           bCol: String = "id_b"): DataFrame = {
    // 128-bit content key: at billions of docs a 64-bit key has real
    // birthday-collision mass, and a collision here MERGES unrelated
    // clusters silently.
    val key = when(collapsible,
      md5(to_json(struct(exactKeyCols.map(col): _*))))
    val keyed = docs.withColumn("__ck", key)
    val dupGroups = keyed.filter(col("__ck").isNotNull)
      .groupBy("__ck")
      .agg(min(col(idCol)).as("__rep"), count(lit(1)).as("__n"))
      .filter(col("__n") > 1).drop("__n")
    // left join: only members of multi-doc exact groups get a __rep;
    // everything else (unique content, un-collapsible) passes through.
    // Materialized — both the star-edge and representative branches
    // read it, and the representative branch feeds the whole generator.
    val joined = keyed.join(dupGroups, Seq("__ck"), "left").drop("__ck")
      .transform(graft.core.Materialize(_))
    val star = joined
      .filter(col("__rep").isNotNull && col(idCol) =!= col("__rep"))
      .select(col(idCol).as(aCol), col("__rep").as(bCol))
    val repDocs = joined
      .filter(col("__rep").isNull || col(idCol) === col("__rep"))
      .drop("__rep")
    val near = pairGen(repDocs).select(col(aCol), col(bCol))
    dupClusters(docs, idCol, near.unionByName(star), aCol, bCol)
  }

  /** Deterministic global shuffle for training-shard writing: assign
    * every row a pseudorandom shard and a position within it via the
    * xxhash64 permutation of its id — the standard "shuffle once,
    * stream shards sequentially" layout LLM training jobs consume.
    * Reproducible across runs and engines (no RNG, no
    * partition-dependent state), stable under re-partitioning of the
    * input, and incremental: a row's (shard, sort_key) never changes as
    * the corpus grows, so newly ingested docs interleave into existing
    * shards without reshuffling old ones.
    *
    * `idCol` must be an integral column (byte/short/int/long — checked
    * at plan time): the hash input is the id's 64-bit value, and a
    * string id would either throw at runtime under ANSI casting or
    * collapse every unparsable id into one hash without it (r11
    * advice). Hash a string key into a long (`xxhash64`) before calling
    * if needed.
    *
    * 100 TB shape: the projection is zero-shuffle, and the dense
    * within-shard index is a TWO-JOB prefix sum, never a
    * one-task-per-shard sort (r11 verdict: at small `nShards` a global
    * per-shard window funnels ~corpus/nShards rows through one task —
    * ~6 TB at 16 shards on 100 TB). Each shard subdivides into 256
    * contiguous sort_key ranges (the hash's top byte — arithmetic
    * shift, so bucket order IS signed sort_key order); per-(shard,
    * bucket) counts come to the driver (bounded: ≤ nShards·256 rows of
    * three longs — the `packSequences` prefix-sum discipline), prefix
    * offsets broadcast back, and `row_number` runs per (shard, bucket)
    * — ≥ 256 parallel tasks per shard. Downstream writers that only
    * need the ORDER (not the dense index) can drop `pos` and keep the
    * plan `repartition(shard) + sortWithinPartitions(sort_key)`-shaped.
    */
  def shuffleShards(df: DataFrame, idCol: String,
                    nShards: Int): DataFrame = {
    require(nShards >= 1, "nShards must be >= 1")
    val idType = df.schema(idCol).dataType
    require(Seq(org.apache.spark.sql.types.ByteType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.LongType).contains(idType),
      s"shuffleShards needs an integral id column; $idCol is $idType — " +
        "hash non-numeric keys to a long (e.g. xxhash64) first")
    val spark = df.sparkSession
    val h = xxhash64(col(idCol).cast("long"))
    // Materialized BEFORE the counts collect: the prefix-sum offsets
    // are computed once on the driver, so the final plan MUST read the
    // exact rows the counts job saw — with a nondeterministic input
    // lineage (unseeded sample, a source gaining files between jobs) an
    // un-pinned re-evaluation could silently break pos density. The
    // checkpoint is (id, shard, sort_key, bucket) — ids + three longs,
    // far smaller than the corpus. Note the counts collect makes this
    // operator EAGER at call time (the packSequences precedent): it
    // runs one projection+count job when constructed, not at first
    // action.
    val keyed = df.select(col(idCol),
        pmod(h, lit(nShards.toLong)).as("shard"), h.as("sort_key"))
      .withColumn("__b", shiftright(col("sort_key"), 56))
      .transform(graft.core.Materialize(_))
    val counts = keyed.groupBy("shard", "__b")
      .agg(count(lit(1)).as("__c")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val offsets = counts.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      val sorted = rows.sortBy(_._2)
      sorted.zip(sorted.map(_._3).scanLeft(0L)(_ + _))
        .map { case ((sh, b, _), off) => (sh, b, off) }
    }
    import spark.implicits._
    val w = Window.partitionBy("shard", "__b").orderBy("sort_key", idCol)
    keyed
      .join(broadcast(offsets.toDF("shard", "__b", "__off")),
        Seq("shard", "__b"))
      .withColumn("pos",
        col("__off") + row_number().over(w).cast("long") - 1L)
      .drop("__b", "__off")
  }

  /** Typed empty `array<bigint>` literal (a bare `array()` is
    * `array<null>`). */
  private def emptyPositions: Column =
    filter(array(lit(0L)), _ => lit(false))

  /** Line-level boilerplate removal — the CCNet / RefinedWeb paragraph-
    * dedup shape: a NON-BLANK line that occurs in at least `minDocs`
    * DISTINCT documents corpus-wide (navigation bars, cookie banners,
    * share footers — template text repeated across a site) is cut from
    * every document that carries it. Lines are '\n'-separated and
    * matched EXACTLY (no trimming/normalization — two lines differing
    * in whitespace are different lines); blank/whitespace-only lines
    * are never boilerplate and survive as paragraph separators. Output
    * per surviving document: `clean_text` (surviving lines re-joined
    * with '\n', original bytes untouched), `n_kept`, `n_removed`;
    * documents whose remnant falls below `minKeptLines` lines drop
    * (same floor contract as [[Dedup.removeSpans]], and the same
    * blank-document rule: null or empty text is ZERO lines, so it drops
    * at the default floor rather than surviving as one empty line).
    *
    * 100 TB shape: lines cross the counting shuffle as xxhash64 longs,
    * never strings (hash-grain discipline; a 64-bit collision can only
    * MERGE two line classes — over-removing a line — at the usual
    * negligible 2^-64 per pair, the argument every hashed-gram operator
    * here documents). The boilerplate table is tiny (lines repeated
    * across >= minDocs documents), so the left-semi probe broadcasts
    * under AQE; only the HIT positions — not the text — shuffle back to
    * document grain, and the surviving lines are rebuilt from the
    * already-materialized line arrays by the same O(lines + hits)
    * GAP-SLICE pass [[Dedup.removeSpans]] uses (each hit is a
    * length-one span; an `array_contains` per line would be
    * O(lines x hits) on a boilerplate-heavy document — the exact
    * quadratic family the r12 advice killed in the span fold). The
    * document text itself never crosses a shuffle.
    */
  def removeBoilerplate(df: DataFrame, idCol: String, textCol: String,
                        minDocs: Long,
                        minKeptLines: Long = 1L): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    removeBoilerplateImpl(df, idCol, textCol, None, minDocs,
      minKeptLines)
  }

  /** Corpus-side line table for [[removeBoilerplateAgainst]]: per
    * xxhash64 line hash, the number of DISTINCT corpus documents
    * carrying that non-blank line — (line_hash, n_docs), line-grain,
    * ≪ corpus. Distinct-doc counts are ADDITIVE across disjoint
    * batches (document ids never repeat), so a growing corpus folds an
    * accepted batch's table in by summing — the [[Dedup.spanGramCounts]]
    * persistence discipline, line-grain instead of gram-grain. */
  def boilerplateLineCounts(corpus: DataFrame, idCol: String,
                            textCol: String): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    corpus.select(col(idCol).as("__id"),
        when(length(t) === 0, array().cast("array<string>"))
          .otherwise(split(t, "\n", -1)).as("__ls"))
      .transform(graft.core.Materialize(_))
      .select(col("__id"), explode(col("__ls")).as("__l"))
      .filter(trim(col("__l")) =!= "")
      .select(xxhash64(col("__l")).as("line_hash"), col("__id"))
      .distinct()
      .groupBy("line_hash")
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Incremental boilerplate removal — the daily-ingest twin of
    * [[removeBoilerplate]] (as [[Dedup.removeSpansAgainst]] is of
    * [[Dedup.removeSpans]]): cut from a fresh batch every non-blank
    * line whose distinct-document count across batch ∪ corpus (per the
    * persisted [[boilerplateLineCounts]] table) reaches `minDocs`,
    * without touching corpus text. Same output schema, floors, and
    * exact-match contract as [[removeBoilerplate]]; same
    * corpus-must-not-include-the-batch caveat as [[Dedup.spansAgainst]]
    * (a batch already folded in would double-count its own lines).
    *
    * 100 TB shape: batch lines shuffle once (batch-sized); the corpus
    * side is the pre-aggregated line-count table probed by ONE inner
    * hash join whose other side is the batch's DISTINCT
    * below-threshold line hashes — batch-sized, so AQE broadcasts it
    * and the corpus table is scanned once, never shuffled. */
  def removeBoilerplateAgainst(newBatch: DataFrame,
                               corpusLines: DataFrame, idCol: String,
                               textCol: String, minDocs: Long,
                               minKeptLines: Long = 1L): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    removeBoilerplateImpl(newBatch, idCol, textCol, Some(corpusLines),
      minDocs, minKeptLines)
  }

  private def removeBoilerplateImpl(df: DataFrame, idCol: String,
                                    textCol: String,
                                    corpusLines: Option[DataFrame],
                                    minDocs: Long,
                                    minKeptLines: Long): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    // (id, line array) materialized BEFORE the explode (the minhashLsh
    // lesson: an expression feeding a Generate collapses into it and
    // runs interpreted); both the count side and the hit side re-derive
    // the cheap explode from the pinned arrays.
    val base = df.select(col(idCol).as("__id"),
        when(length(t) === 0, array().cast("array<string>"))
          .otherwise(split(t, "\n", -1)).as("__ls"))
      .transform(graft.core.Materialize(_))
    val lines = base.select(col("__id"),
        posexplode(col("__ls")).as(Seq("__pos", "__l")))
      .select(col("__id"), col("__pos"), xxhash64(col("__l")).as("__h"),
        (trim(col("__l")) === "").as("__blank"))
    // distinct-document frequency at line-hash grain: one map-side-
    // combined (hash, id) distinct, then a hash-grain count
    val batchCounts = lines.filter(!col("__blank"))
      .select("__h", "__id").distinct()
      .groupBy("__h").agg(count(lit(1)).as("__docs"))
    val boiler = corpusLines match {
      case None =>
        batchCounts.filter(col("__docs") >= minDocs).select("__h")
      case Some(cl) =>
        // boilerplate within the batch alone, plus lines the corpus
        // counts push over the threshold — the inner join keeps the
        // batch side broadcastable (the spansAgainst discipline)
        val within =
          batchCounts.filter(col("__docs") >= minDocs).select("__h")
        val assisted = batchCounts.filter(col("__docs") < minDocs)
          .join(cl.select(col("line_hash").as("__h"),
            col("n_docs").cast("long").as("__cd")), "__h")
          .filter(col("__docs") + col("__cd") >= minDocs)
          .select("__h")
        within.unionByName(assisted)
    }
    val removals = lines.join(boiler, Seq("__h"), "left_semi")
      .select("__id", "__pos")
    cutLinePositions(base, removals, idCol, minKeptLines)
  }

  /** Shared tail of the line-cutting family ([[removeBoilerplate]],
    * [[dedupLines]], [[dedupSentenceSpans]]): given `base = (__id,
    * __ls segment-array)` and `removals = (__id, __pos)` rows naming
    * the segments to cut, rebuild each document's text without them
    * (joined with `sep`). Only POSITIONS cross the doc-grain shuffle —
    * the text stays with the document row and is re-sliced in place
    * (the text-never-shuffles discipline). */
  private def cutLinePositions(base: DataFrame, removals: DataFrame,
                               idCol: String,
                               minKeptLines: Long,
                               sep: String = "\n"): DataFrame = {
    val hits = removals.groupBy("__id")
      .agg(sort_array(collect_list(col("__pos").cast("long")))
        .as("__bp"))
    def bp = coalesce(col("__bp"), emptyPositions)
    base.join(hits, Seq("__id"), "left")
      .select(col("__id"), size(col("__ls")).cast("long").as("__n"),
        flatten(transform(sequence(lit(0), size(bp)), i => {
          // gap i sits between hit i-1 and hit i (document edges at the
          // ends); element_at is 1-based, lazily guarded by the
          // conditionals so out-of-range ordinals never evaluate
          val gapStart = when(i === 0, lit(0L))
            .otherwise(element_at(bp, i) + 1L)
          val gapEnd = when(i === size(bp),
            size(col("__ls")).cast("long") - 1L)
            .otherwise(element_at(bp, i + 1) - 1L)
          slice(col("__ls"), (gapStart + 1L).cast("int"),
            greatest(lit(0L), gapEnd - gapStart + 1L).cast("int"))
        })).as("__kept"))
      .select(col("__id").as(idCol),
        concat_ws(sep, col("__kept")).as("clean_text"),
        size(col("__kept")).cast("long").as("n_kept"),
        (col("__n") - size(col("__kept"))).cast("long").as("n_removed"))
      .filter(col("n_kept") >= minKeptLines)
  }

  /** Keep-first cross-document line dedup — the CCNet paragraph
    * deduplication (Wenzek et al. 2020 §3.2: hash every paragraph,
    * keep ONE occurrence corpus-wide, drop the rest). The complement
    * of [[removeBoilerplate]], which drops ALL occurrences of frequent
    * lines: boilerplate removal kills navigation chrome; keep-first
    * dedup keeps exactly one copy of repeated content so the corpus
    * retains it without over-weighting it.
    *
    * A non-blank line's occurrences are ordered by `(document id,
    * line position)` ascending; the first is kept, every other is cut.
    * Within-document repeats dedup too (CCNet's behavior — the hash
    * table is global). Blank lines are structure, never deduped.
    * Output per surviving document: `clean_text`, `n_kept`,
    * `n_removed` (the [[removeBoilerplate]] schema, so the two chain
    * interchangeably); documents with fewer than `minKeptLines` kept
    * lines drop.
    *
    * Lines cross the dedup shuffle as xxhash64 longs, never as text
    * (CCNet itself dedups on a 64-bit paragraph hash — a collision
    * drops a real line, at the published 2^-64-per-pair rate). 100 TB
    * shape: one map-side-combined min-aggregate at line-hash grain
    * (the winner table, ≪ corpus), one line-grain join against it,
    * and the doc-grain position collect; document text never crosses
    * a shuffle. */
  def dedupLines(df: DataFrame, idCol: String, textCol: String,
                 minKeptLines: Long = 1L): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val base = df.select(col(idCol).as("__id"),
        when(length(t) === 0, array().cast("array<string>"))
          .otherwise(split(t, "\n", -1)).as("__ls"))
      .transform(graft.core.Materialize(_))
    val lines = base.select(col("__id"),
        posexplode(col("__ls")).as(Seq("__pos", "__l")))
      .filter(trim(col("__l")) =!= "")
      .select(col("__id"), col("__pos"), xxhash64(col("__l")).as("__h"))
    // the keep-first winner per line hash: min (id, pos) — struct
    // ordering is lexicographic, so this is the first occurrence in
    // (document id, position) order. The id keeps ITS OWN type (long,
    // string — any orderable): a cast-to-long here would null out
    // string ids and the null-propagating removal filter would then
    // silently dedup NOTHING (review r15)
    val winners = lines
      .groupBy("__h")
      .agg(min(struct(col("__id").as("__wid"),
        col("__pos").as("__wpos"))).as("__w"))
    val removals = lines.join(winners, Seq("__h"))
      .filter(col("__id") =!= col("__w")("__wid") ||
        col("__pos") =!= col("__w")("__wpos"))
      .select("__id", "__pos")
    cutLinePositions(base, removals, idCol, minKeptLines)
  }

  /** The sentence-split contract shared with the oracle: a sentence
    * ends at `[.?!]` followed by whitespace (the final fragment needs
    * no terminal mark); segments are trimmed and blanks dropped. The
    * split interposes the U+0001 marker - both regex engines
    * (java.util.regex with `$1`, RE2 with a backslash-1 group ref)
    * can produce it, and lookbehind (which RE2 lacks) is never
    * needed. */
  private def splitSentences(raw: Column): Column =
    filter(transform(
      split(regexp_replace(raw, "([.?!])\\s+", "$1\u0001"), "\u0001"),
      s => trim(s)), s => s =!= "")

  /** Keep-first `k`-sentence-span dedup - C4's final deduplication
    * step (Raffel et al. 2020 section 2.2: "we discarded all but one
    * of any three-sentence span occurring more than once in the data
    * set"). Documents split into sentences (terminal `[.?!]` +
    * whitespace); every k-sentence sliding window is hashed; a span's
    * first occurrence in (document id, start position) order
    * survives, and every other occurrence has its k sentences cut
    * (within-document repeats included - the hash table is global,
    * and overlapping duplicate windows union their positions). Output
    * per surviving document: `clean_text` (kept sentences joined with
    * one space - original inter-sentence whitespace is normalized, as
    * in the reference implementation), `n_kept`, `n_removed`;
    * documents below `minKeptSentences` drop.
    *
    * 100 TB shape: sentences hash once per document; span hashes
    * derive from k-slices of the sentence-hash array (the
    * [[graft.pipeline.Dedup]] hashedGrams discipline - only 8-byte
    * keys cross the wire, a collision can only MERGE two span
    * classes); the winner table is span-hash grain
    * (map-side-combined min aggregate); removal positions are
    * (id, pos) pairs and the text never shuffles - reassembly
    * re-slices the sentence array in place ([[cutLinePositions]]). */
  def dedupSentenceSpans(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 3,
                         minKeptSentences: Long = 1L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val raw = coalesce(col(textCol), lit(""))
    val base = df.select(col(idCol).as("__id"),
        splitSentences(raw).as("__ls"))
      .transform(graft.core.Materialize(_))
    val spans = base
      .select(col("__id"),
        transform(col("__ls"), s => xxhash64(s)).as("__sh"))
      .select(col("__id"),
        when(size(col("__sh")) >= k,
          transform(sequence(lit(0), size(col("__sh")) - k),
            i => xxhash64(slice(col("__sh"), i + 1, lit(k)))))
          .otherwise(array().cast("array<bigint>")).as("__sp"))
      .transform(graft.core.Materialize(_))
      .select(col("__id"), posexplode(col("__sp")).as(Seq("__pos", "__h")))
    // same no-cast winner contract as dedupLines (a cast-to-long
    // nulls string ids and the removal filter silently no-ops)
    val winners = spans.groupBy("__h")
      .agg(min(struct(col("__id").as("__wid"),
        col("__pos").as("__wpos"))).as("__w"))
    val removals = spans.join(winners, Seq("__h"))
      .filter(col("__id") =!= col("__w")("__wid") ||
        col("__pos") =!= col("__w")("__wpos"))
      .select(col("__id"),
        explode(sequence(col("__pos"), col("__pos") + (k - 1)))
          .as("__pos"))
      .distinct()
    cutLinePositions(base, removals, idCol, minKeptSentences, sep = " ")
  }
}
