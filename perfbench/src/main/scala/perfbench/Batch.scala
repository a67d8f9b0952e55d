package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analytics.GraphAnalytics
import graft.pipeline.{Curation, Dedup}
import graft.planner.VarLength
import graft.tpch.TpchGraph

/** One offline curation + graph-analytics job over a `graft.ScaleGen`
  * fixed-width rung, read from Parquet with no cache.
  *
  * The seed permutes the base document ids (`doc_id mod Stride`) within
  * each parity class, so ScaleGen's exact (even) and near (odd)
  * duplicate families keep their members, their member order and their
  * kind: the input differs by seed while the work stays the same.
  *
  * Each step's output is forced (`localCheckpoint`, eager) before the
  * next step runs, so each step's time is its own. After each job,
  * untimed, every step's row count and digest are compared with the
  * values recorded for this input in `expected/batch.json`; document
  * ids are mapped back through the inverse permutation first, so one
  * recorded value holds for every seed. */
object Batch extends Workload {
  val name = "batch"
  /** Per-layer means are per step; the end-to-end latency is the job. */
  val primaryClass = "step"
  val Steps = Seq("exact_dedup", "dup_clusters", "neardup_keepfirst",
    "remove_spans", "pack_sequences", "varlength_paths",
    "connected_components", "pagerank")
  /** Steps of the graph phase; the others are the curation chain. */
  val GraphSteps = Set("varlength_paths", "connected_components", "pagerank")
  val Stride: Long = graft.ScaleGen.Stride

  /** Seeded parity-preserving permutation of 0 until n. */
  def permutation(seed: Long, n: Int): Array[Int] = {
    val r = new scala.util.Random(seed)
    val out = new Array[Int](n)
    Seq(0, 1).foreach { parity =>
      val ids = (parity until n by 2).toArray
      ids.zip(r.shuffle(ids.toSeq)).foreach { case (a, b) => out(a) = b }
    }
    out
  }

  /** The rung's documents with permuted ids, written to the run dir. */
  def permutedDocs(spark: SparkSession, rung: String, out: String,
      perm: Array[Int]): DataFrame = {
    import spark.implicits._
    val map = perm.zipWithIndex.map { case (p, b) => (b.toLong, p.toLong) }
      .toSeq.toDF("__b", "__p")
    spark.read.parquet(s"$rung/documents.parquet")
      .withColumn("__b", pmod(col("doc_id"), lit(Stride)))
      .join(broadcast(map), "__b")
      .select((col("doc_id") - col("__b") + col("__p")).as("id"),
        col("text"))
      .write.mode("overwrite").parquet(out)
    spark.read.parquet(out)
  }

  def run(r: Run): E2E = {
    val spark = r.spark
    val rung = s"${r.args.data}/rung"
    val nBase = spark.read.parquet(s"${r.args.data}/batchbase/documents.parquet")
      .count().toInt
    val perm = permutation(r.args.seed, nBase)
    val docsPath = s"${r.args.work}/documents.parquet"
    permutedDocs(spark, rung, docsPath, perm)
    // canonical id of a permuted id: invert the base permutation
    val inverse = {
      import spark.implicits._
      perm.zipWithIndex.map { case (p, b) => (p.toLong, b.toLong) }.toSeq
        .toDF("__p", "__b")
    }

    r.log("inputs permuted")
    val setups = (1 to 3).map(_ => r.clock {
      val store = TpchGraph.store(spark, rung, cache = false)
      val docs = spark.read.parquet(docsPath).select("id", "text")
      docs.schema; store.edges("next_order", "orders", "orders").schema
      (store, docs)
    })
    val (store, docs) = setups.last._1

    val keep = spark.sparkContext.getPersistentRDDs.keySet
    def release(): Unit = {
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!keep.contains(id)) rdd.unpersist(blocking = true)
      }
    }

    /** One job: its total and graph-phase times (ms) and each step's
      * forced output. */
    def job(j: Long): (Double, Double, Seq[(String, DataFrame)]) = {
      val outs = mutable.ArrayBuffer.empty[(String, DataFrame)]
      var total = 0.0
      var graph = 0.0
      def step(name: String, layer: String)(f: => DataFrame): DataFrame = {
        val res = r.op("step", name, j, 1) {
          val df = r.span(s"$layer.$name", layer)(f)
          r.span("exec.force", "exec")(df.localCheckpoint(eager = true))
        }.getOrElse(throw new IllegalStateException(s"step $name failed"))
        val ms = r.samples.last.ns / 1e6
        total += ms
        if (GraphSteps(name)) graph += ms
        outs += name -> res
        res
      }
      val d1 = step("exact_dedup", "pipeline")(
        Dedup.exact(docs, "id", Seq("text")).select("id", "text"))
      val d2 = step("dup_clusters", "pipeline") {
        val cl = Curation.dupClustersCollapsed(d1, "id", Seq("text"),
          d => Dedup.simhashPairs(d, "id", "text", maxHamming = 10),
          collapsible = col("text").isNotNull)
        d1.join(cl.filter(col("id") === col("cluster")).select("id"), "id")
      }
      val d3 = step("neardup_keepfirst", "pipeline") {
        val nd = Dedup.nearDupKeepFirst(d2, "id", "id", "text")
        d2.join(nd.filter(col("is_dup") === 0).select("id"), "id")
      }
      val d4 = step("remove_spans", "pipeline")(
        Dedup.removeSpans(d3, "id", "text", k = 8))
      step("pack_sequences", "pipeline")(
        Curation.packSequences(d4, "id", "clean_text", budgetTokens = 2048))
      step("varlength_paths", "planner")(VarLength.pairs(
        store.edges("next_order", "orders", "orders"), minHops = 1,
        maxHops = 3))
      step("connected_components", "analytics")(
        GraphAnalytics.connectedComponents(store,
          Seq(("placed", "customer", "orders"))))
      step("pagerank", "analytics")(GraphAnalytics.pageRank(store,
        Seq(("same_nation", "supplier", "supplier")), iters = 5))
      (total, graph, outs.toSeq)
    }

    // An untraced run times one job, as a user runs an offline job: once,
    // in a fresh JVM. A traced run first runs one untimed, unchecked
    // warm-up job, then a traced and an untraced job, so the tracing
    // overhead compares two warm jobs. Either way the jobs timed never
    // depend on how fast they run. Each timed job is checked after it.
    val expected = Expected.load(r.args.expected, inputKey(r.args.data))
    if (r.tracer.tracing) {
      val (n0, a0) = (r.samples.size, r.attempted)
      scala.util.Try(job(-1)).foreach(_._3.foreach(_._2.unpersist()))
      release()
      r.samples.remove(n0, r.samples.size - n0)
      r.attempted = a0
      r.log("warmed up")
    }
    // a failed step has already been counted; its job is not timed
    val jobs = (0L until (if (r.tracer.tracing) 2L else 1L)).flatMap { j =>
      val n1 = r.samples.size
      val done = scala.util.Try(job(j)).toOption
      done.foreach { case (_, _, outs) =>
        check(r, outs, inverse, expected)
        outs.foreach(_._2.unpersist())
      }
      release()
      done.map { case (total, graph, _) =>
        (total, graph, r.samples(n1).traced) }
    }
    r.info("jobs") = jobs.size
    r.info("input") = inputKey(r.args.data)
    val untraced = jobs.filterNot(_._3)
    r.put("batch_s", Stats.median(untraced.map(_._1)) / 1e3, "s",
      untraced.size)
    Steps.foreach { s =>
      val xs = r.samples.filter(x => !x.traced && x.kind == s).map(_.ns / 1e9)
      val metric = s match {
        case "varlength_paths" => "planner.varlength_s"
        case "connected_components" => "analytics.cc_s"
        case "pagerank" => "analytics.pagerank_s"
        case other => s"pipeline.${other}_s"
      }
      r.put(metric, Stats.median(xs.toSeq), "s", xs.size)
    }
    E2E(setups.map(_._2), untraced.map(_._1), untraced.map(_._2))
  }

  /** Identifies the input: base scale, ScaleGen args and a digest of
    * the rung's values. Written by run.py next to the data it generated. */
  def inputKey(data: String): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$data/rung.key")), "UTF-8").trim

  /** Canonical digest of a step output: document ids mapped back to
    * their unpermuted value, values rendered as strings; the pack step's
    * bins depend on document order, so only its token counts are
    * digested; PageRank scores are rounded to 6 decimals. */
  def digest(step: String, df: DataFrame, inverse: DataFrame): DataFrame = {
    val canon = (c: String) => (col(c) - pmod(col(c), lit(Stride)) +
      col("__b")).as(c)
    def unpermute(d: DataFrame): DataFrame =
      d.withColumn("__p", pmod(col("id"), lit(Stride)))
        .join(broadcast(inverse), "__p")
        .select((canon("id") +: d.columns.filter(_ != "id").map(col).toSeq): _*)
    val shaped = step match {
      case "exact_dedup" | "dup_clusters" | "neardup_keepfirst" =>
        unpermute(df.select("id", "text"))
      case "remove_spans" => unpermute(df)
      case "pack_sequences" => unpermute(df.select("id", "n_tokens"))
      case "pagerank" => df.select(col("id"), round(col("rank"), 6))
      case _ => df
    }
    Stats.digestCols(shaped)
  }

  def check(r: Run, outs: Seq[(String, DataFrame)], inverse: DataFrame,
      expected: Map[String, (Long, String)]): Unit = {
    val got = outs.map { case (s, df) =>
      val row = digest(s, df, inverse).collect().head
      s -> (row.getLong(0), row.get(1).toString)
    }
    if (r.args.record)
      println(Json(Map("perfbench_record" -> got.map { case (s, (n, h)) =>
        s -> Map("rows" -> n, "digest" -> h) }.toMap)))
    got.foreach { case (s, (n, h)) =>
      r.put(s"pipeline.$s.rows_out", n.toDouble, "count")
      expected.get(s) match {
        case Some((en, eh)) if en == n && eh == h =>
        case Some((en, eh)) =>
          r.fail(s"$s: rows_out $n digest $h, recorded $en / $eh")
        case None => r.fail(s"$s: no recorded value for this input")
      }
    }
  }
}

/** Recorded batch outputs per input key (`perfbench/expected/batch.json`). */
object Expected {
  def load(path: String, key: String): Map[String, (Long, String)] = {
    val f = new java.io.File(path)
    if (!f.exists) Map.empty
    else {
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
      Option(root.get(key)).map { n =>
        import scala.jdk.CollectionConverters._
        n.propertyStream().iterator().asScala.map { e =>
          e.getKey -> (e.getValue.get("rows").asLong(),
            e.getValue.get("digest").asText())
        }.toMap
      }.getOrElse(Map.empty)
    }
  }
}
