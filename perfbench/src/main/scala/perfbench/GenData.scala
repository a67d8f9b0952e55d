package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic TPC-H-shaped input generator, in the column layout
  * `graft.tpch.TpchGraph.store` reads (one `<table>.parquet` per table).
  *
  * Every value is a pure function of (row key, column salt) through
  * Spark's `xxhash64`, so the tables hold the same values on every host
  * and run (see [[DigestInputs]]), and generation is a projection (no
  * shuffles, no driver RNG).
  * Row counts follow TPC-H at scale factor `sf`:
  * customer 150k·sf, supplier 10k·sf, part 200k·sf, orders 1.5M·sf
  * (only customers whose key is not a multiple of 3 place orders, as in
  * dbgen), 1-7 lineitems per order, documents 50k·sf, events and
  * embeddings as small fixtures (the workloads never read them, but the
  * graph view attaches them).
  *
  * Documents are built for the curation chain: each is a run of
  * 60-160 tokens over a 5000-word vocabulary, so two documents share
  * almost no shingles, and about a third of them carry one of 40
  * boilerplate sentences, which makes duplicated 8-gram spans.
  * Duplicate families come from `graft.ScaleGen`, which the batch
  * workload runs over this output.
  *
  * Usage: GenData <outDir> <sf>
  */
object GenData {
  val Salt = 20260917L

  /** Uniform [0, 1) from (key, salt). */
  def u(key: Column, salt: String): Column =
    pmod(xxhash64(lit(Salt), lit(salt), key), lit(1000000007L))
      .cast("double") / 1000000007.0

  /** Uniform integer in [lo, hi]. */
  def ui(key: Column, salt: String, lo: Long, hi: Long): Column =
    (lit(lo) + floor(u(key, salt) * (hi - lo + 1))).cast("long")

  def money(key: Column, salt: String, lo: Double, hi: Double): Column =
    round(lit(lo) + u(key, salt) * (hi - lo), 2)

  def pick(key: Column, salt: String, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*),
      (ui(key, salt, 0, values.size - 1) + 1).cast("int"))

  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
    "MACHINERY")
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
    "5-LOW")
  val Nations = Seq("ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT",
    "ETHIOPIA", "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ",
    "JAPAN", "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA",
    "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM",
    "UNITED STATES")
  val NationRegion = Seq(0, 1, 1, 1, 4, 0, 3, 3, 2, 2, 4, 4, 2, 4, 0, 0, 0,
    1, 2, 3, 4, 2, 3, 3, 1)
  val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  /** 1992-01-01 in epoch seconds; order dates span 2405 days from it. */
  val DateBase = 694224000L
  val DateDays = 2405L

  def counts(sf: Double): Map[String, Long] = Map(
    "customer" -> math.round(150000 * sf),
    "supplier" -> math.max(25L, math.round(10000 * sf)),
    "part" -> math.round(200000 * sf),
    "orders" -> math.round(1500000 * sf),
    "documents" -> math.round(50000 * sf),
    "events" -> 2000L,
    "embeddings" -> 200L)

  def generate(spark: SparkSession, out: String, sf: Double): Unit = {
    val n = counts(sf)
    def write(t: String, df: DataFrame): Unit =
      df.coalesce(4).write.mode("overwrite").parquet(s"$out/$t.parquet")
    def rows(k: Long) = spark.range(1, k + 1).toDF("k")
    val k = col("k")
    import spark.implicits._

    write("region", Regions.zipWithIndex.map { case (r, i) => (i, r) }
      .toDF("r_regionkey", "r_name"))
    write("nation", Nations.zipWithIndex.map { case (nm, i) =>
      (i, nm, NationRegion(i)) }.toDF("n_nationkey", "n_name", "n_regionkey"))
    write("customer", rows(n("customer")).select(
      k.as("c_custkey"),
      format_string("Customer#%09d", k).as("c_name"),
      ui(k, "c_nation", 0, 24).cast("int").as("c_nationkey"),
      money(k, "c_acctbal", -999.99, 9999.99).as("c_acctbal"),
      pick(k, "c_seg", Segments).as("c_mktsegment")))
    write("supplier", rows(n("supplier")).select(
      k.as("s_suppkey"),
      format_string("Supplier#%09d", k).as("s_name"),
      ui(k, "s_nation", 0, 24).cast("int").as("s_nationkey"),
      money(k, "s_acctbal", -999.99, 9999.99).as("s_acctbal")))
    write("part", rows(n("part")).select(
      k.as("p_partkey"),
      concat_ws(" ", pick(k, "p_n1", Seq("almond", "azure", "blush",
        "coral", "ivory", "khaki", "linen", "navy")),
        pick(k, "p_n2", Seq("brass", "copper", "nickel", "steel", "tin")))
        .as("p_name"),
      format_string("Brand#%d%d", ui(k, "p_b1", 1, 5), ui(k, "p_b2", 1, 5))
        .as("p_brand"),
      concat_ws(" ", pick(k, "p_t1", Seq("ECONOMY", "LARGE", "MEDIUM",
        "PROMO", "SMALL", "STANDARD")), pick(k, "p_t2", Seq("ANODIZED",
        "BRUSHED", "BURNISHED", "PLATED", "POLISHED"))).as("p_type"),
      ui(k, "p_size", 1, 50).cast("int").as("p_size"),
      money(k, "p_price", 900.0, 2100.0).as("p_retailprice")))

    // orders: custkey drawn from customers whose key is not a multiple
    // of 3 (dbgen's rule), orderkeys sparse like dbgen's (8 per 32)
    val nCust = n("customer")
    val pick2of3 = ui(k, "o_cust", 0, (nCust - 1) * 2 / 3)
    val custkey = (pick2of3 / 2 * 3 + pmod(pick2of3, lit(2L)) + 1)
    val orders = rows(n("orders")).select(
      ((k - 1) / 8 * 32 + pmod(k - 1, lit(8L)) + 1).cast("long")
        .as("o_orderkey"),
      least(custkey, lit(nCust)).cast("long").as("o_custkey"),
      pick(k, "o_status", Seq("F", "O", "P")).as("o_orderstatus"),
      money(k, "o_price", 850.0, 450000.0).as("o_totalprice"),
      timestamp_seconds(lit(DateBase) + ui(k, "o_date", 0, DateDays) * 86400L)
        .as("o_orderdate"),
      pick(k, "o_prio", Priorities).as("o_orderpriority"))
    write("orders", orders)

    val ok = col("o_orderkey")
    val lines = spark.read.parquet(s"$out/orders.parquet")
      .select(ok, col("o_orderdate"),
        explode(sequence(lit(1L), ui(ok, "l_count", 1, 7))).as("ln"))
    val lk = xxhash64(ok, col("ln"))
    write("lineitem", lines.select(
      ok.as("l_orderkey"),
      ui(lk, "l_part", 1, n("part")).as("l_partkey"),
      ui(lk, "l_supp", 1, n("supplier")).as("l_suppkey"),
      col("ln").cast("int").as("l_linenumber"),
      ui(lk, "l_qty", 1, 50).cast("double").as("l_quantity"),
      money(lk, "l_ext", 900.0, 100000.0).as("l_extendedprice"),
      round(ui(lk, "l_disc", 0, 10).cast("double") / 100.0, 2)
        .as("l_discount"),
      round(ui(lk, "l_tax", 0, 8).cast("double") / 100.0, 2).as("l_tax"),
      pick(lk, "l_rflag", Seq("A", "N", "R")).as("l_returnflag"),
      pick(lk, "l_lstatus", Seq("F", "O")).as("l_linestatus"),
      (col("o_orderdate") + make_interval(lit(0), lit(0), lit(0),
        ui(lk, "l_ship", 1, 121).cast("int"))).as("l_shipdate")))

    write("events", rows(n("events")).select(
      k.as("event_id"),
      timestamp_seconds(lit(DateBase) + ui(k, "e_ts", 0, 86400L * 30))
        .as("ts"),
      ui(k, "e_user", 1, 200).as("user_id"),
      pick(k, "e_type", Seq("click", "purchase", "signup", "view"))
        .as("event_type"),
      money(k, "e_val", 0.0, 100.0).as("value"),
      format_string("{\"k\":\"%d\"}", ui(k, "e_k", 0, 9)).as("props")))
    write("embeddings", rows(n("embeddings")).select(
      (k - 1).as("vec_id"),
      transform(sequence(lit(1), lit(64)), i =>
        (u(xxhash64(k, i), "emb") - 0.5).cast("float")).as("embedding"),
      ui(k, "emb_label", 0, 3).cast("int").as("label")))

    // documents: ids start at 0 like the testdata corpus
    val boiler = (0 until 40).map(b => (0 until 12)
      .map(t => s"bp${b}x$t").mkString(" "))
    val body = transform(sequence(lit(1), ui(k, "d_len", 60, 160).cast("int")),
      p => concat(lit("w"), pmod(xxhash64(lit(Salt), k, p), lit(5000L))))
    val text = concat_ws(" ", body)
    val withBoiler = when(u(k, "d_bp") < 0.33,
      concat_ws(" ", text, pick(k, "d_bpi", boiler))).otherwise(text)
    write("documents", rows(n("documents")).select(
      (k - 1).as("doc_id"),
      withBoiler.as("text"),
      lit("en").as("lang"),
      format_string("src%d", ui(k, "d_src", 0, 9)).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: GenData <outDir> <sf>")
    val spark = Session.create("perfbench-gen")
    try generate(spark, args(0), args(1).toDouble)
    finally spark.stop()
  }
}

/** Value digests of generated tables: row count and order-insensitive
  * row-hash sum per table, independent of file names, file layout and
  * Parquet writer details. Prints one `name rows sum` line per table.
  *
  * Usage: DigestInputs <dir>... (each holding `<table>.parquet` dirs)
  */
object DigestInputs {
  def main(args: Array[String]): Unit = {
    val spark = Session.create("perfbench-digest")
    try args.foreach { dir =>
      new java.io.File(dir).listFiles().map(_.getName)
        .filter(_.endsWith(".parquet")).sorted.foreach { t =>
          val row = Stats.digestCols(spark.read.parquet(s"$dir/$t"))
            .collect().head
          println(s"${new java.io.File(dir).getName}/$t ${row.get(0)} " +
            s"${row.get(1)}")
        }
    }
    finally spark.stop()
  }
}
