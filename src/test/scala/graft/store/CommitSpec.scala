package graft.store

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.core.{FixedSize, MockClock}

/** Failure switch for a UDF inside a table's plan: local-mode tasks run
  * in this JVM, so flipping it on the driver flips the executors too. */
object CommitSpecFlags {
  val fail = new AtomicBoolean(false)
}

/** `GraphStore.commit` writes its changed tables concurrently and reads
  * them back with their known schema; restore reads with the schema its
  * manifest implies. These specs pin what that must not change: the
  * read schemas equal inferred reads, every write job carries the
  * caller's local properties, and a failed write publishes nothing and
  * leaves nothing running. */
class CommitSpec extends SparkSpec {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def manifest(dir: String): com.fasterxml.jackson.databind.JsonNode = {
    val v = mapper.readTree(Files.readString(Paths.get(s"$dir/manifest.json")))
      .get("version").asInt()
    mapper.readTree(Files.readString(Paths.get(s"$dir/v$v/manifest.json")))
  }

  private def pointerVersion(dir: String): Int =
    mapper.readTree(Files.readString(Paths.get(s"$dir/manifest.json")))
      .get("version").asInt()

  /** Data dir per table key ("n:label" / "e:type__src__dst"). */
  private def dataDirs(dir: String): Map[String, String] = {
    val m = manifest(dir)
    val ns = m.get("labels").elements().asScala.filter(_.has("data"))
      .map(n => s"n:${n.get("label").asText()}" -> n.get("data").asText())
    val es = m.get("edges").elements().asScala.filter(_.has("data"))
      .map(n => s"e:${n.get("name").asText()}__${n.get("src").asText()}__" +
        n.get("dst").asText() -> n.get("data").asText())
    (ns ++ es).toMap
  }

  private def base(s: GraphStore, key: String): DataFrame = {
    val b = key.split(":", 2) match {
      case Array("n", label) => s.baseOf(label)
      case Array(_, e) =>
        val Array(t, src, dst) = e.split("__")
        s.edgeBaseOf(t, src, dst)
    }
    b.getOrElse(fail(s"$key has no base"))
  }

  /** Every table's re-pointed (after commit) and restored base reads
    * its committed files, with exactly the schema an inferred read of
    * those files returns: names, types, nullability, field metadata. */
  private def assertReadsMatchInference(s: GraphStore, dir: String): Unit = {
    val restored = GraphStore.restore(spark, dir)
    val dirs = dataDirs(dir)
    assert(dirs.nonEmpty)
    dirs.foreach { case (key, rel) =>
      val inferred = spark.read.parquet(s"$dir/$rel").schema
      Seq("re-pointed" -> s, "restored" -> restored).foreach { case (tag, st) =>
        val b = base(st, key)
        assert(b.inputFiles.nonEmpty &&
          b.inputFiles.forall(_.contains(s"/$rel/")),
          s"$tag $key does not read $rel: ${b.inputFiles.toSeq}")
        assert(b.schema === inferred, s"$tag $key")
        assert(b.schema.fields.map(_.metadata).toSeq ===
          inferred.fields.map(_.metadata).toSeq, s"$tag $key metadata")
      }
    }
    restored.close()
  }

  test("re-point and restore reads equal an inferred read: versioned " +
      "FixedSize nodes, edges with props, an unversioned store") {
    val clock = new MockClock(1000L)
    val v = new GraphStore(spark, versioningEnabled = true, clock = clock)
    v.createSchemaFields("Sensor", Seq(
      FixedSize.string("tag", 8),
      FixedSize.array("cal", DoubleType, 3),
      StructField("attrs", MapType(StringType, StringType)),
      StructField("name", StringType)))
    v.createEdgeSchema("FEEDS", "Sensor", "Sensor",
      "weight" -> DoubleType, "note" -> StringType)
    val a = v.createNode("Sensor", Map("tag" -> "a", "cal" -> Seq(1.0, 2.0, 3.0),
      "attrs" -> Map("k" -> "v"), "name" -> "first"))
    val b = v.createNode("Sensor", Map("tag" -> "b", "name" -> "second"))
    v.connect("Sensor", a, "FEEDS", "Sensor", b,
      Map("weight" -> 0.5, "note" -> "x"))
    clock.set(2000L)
    v.updateNode("Sensor", a, Map("name" -> "renamed"))
    val vDir = Files.createTempDirectory("graft-commit-schema-v").toString
    v.commit(vDir)
    assertReadsMatchInference(v, vDir)
    // the constraint survives the restore's known-schema read
    val e = intercept[IllegalArgumentException] {
      GraphStore.restore(spark, vDir)
        .createNode("Sensor", Map("tag" -> "way-too-long-tag"))
    }
    assert(e.getMessage.contains("FIXED_STRING(8)"))

    import spark.implicits._
    val u = new GraphStore(spark)
    u.attachNodes("User", Seq((10L, "a", 1L), (42L, "b", 2L))
      .toDF("uid", "name", "age"), "uid")
    u.createSchema("Company", "name" -> StringType)
    u.createNode("Company", Map("name" -> "acme"))
    u.attachEdges("WORKS_AT", "User", "Company",
      Seq((10L, 0L, 2020L)).toDF("src", "dst", "since"))
    val uDir = Files.createTempDirectory("graft-commit-schema-u").toString
    u.commit(uDir)
    assertReadsMatchInference(u, uDir)
    v.close(); u.close()
  }

  test("a SET that widens a column's type records the files' schema; " +
      "restore reads it exactly") {
    val s = new GraphStore(spark)
    s.createSchema("User", "name" -> StringType, "age" -> LongType)
    s.createSchema("Company", "name" -> StringType)
    s.createNode("User", Map("name" -> "a", "age" -> 1L))
    s.createNode("Company", Map("name" -> "acme"))
    // non-versioned updateWhere keeps the SET value's type: age -> double
    s.updateWhere("User", col("name") === "a", Map("age" -> lit(1.5)))
    val dir = Files.createTempDirectory("graft-commit-drift").toString
    s.commit(dir)
    val labels = manifest(dir).get("labels").elements().asScala
      .map(n => n.get("label").asText() -> n).toMap
    assert(labels("User").has("dataSchema"))
    assert(!labels("Company").has("dataSchema"))
    assertReadsMatchInference(s, dir)
    val r = GraphStore.restore(spark, dir)
    assert(rowBag(r.nodes("User")) === Map(Seq(0L, "a", 1.5) -> 1))
    r.close(); s.close()
  }

  test("a multi-table commit runs every write job with the caller's job " +
      "group and local properties") {
    val s = new GraphStore(spark)
    s.createSchema("User", "name" -> StringType)
    s.createSchema("Company", "name" -> StringType)
    val u = s.createNode("User", Map("name" -> "alice"))
    val c = s.createNode("Company", Map("name" -> "acme"))
    s.connect("User", u, "WORKS_AT", "Company", c)
    val dir = Files.createTempDirectory("graft-commit-props").toString
    val starts = mutable.ArrayBuffer.empty[java.util.Properties]
    val ended = mutable.Set.empty[Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.synchronized { starts += e.properties }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        ended.synchronized { ended += e.jobId; () }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("graft-commit-group", "commit under test")
      sc.setLocalProperty("graft.test.tag", "carried")
      try s.commit(dir)
      finally {
        sc.clearJobGroup()
        sc.setLocalProperty("graft.test.tag", null)
      }
      // a marker job after the commit: the listener sees events in
      // posting order, so once its end arrives every commit job's has
      val marker = sc.parallelize(Seq(1), 1).map(identity)
      sc.setLocalProperty("graft.test.marker", "1")
      try marker.count() finally sc.setLocalProperty("graft.test.marker", null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      def markerSeen = starts.synchronized(starts.exists(p =>
        p != null && p.getProperty("graft.test.marker") == "1"))
      while (!(markerSeen && ended.synchronized(ended.size) >=
          starts.synchronized(starts.size)) && System.nanoTime() < deadline)
        Thread.sleep(20)
    } finally sc.removeSparkListener(listener)
    val commitJobs = starts.synchronized(starts.toList)
      .filter(p => p == null || p.getProperty("graft.test.marker") == null)
    // three changed tables: three parquet writes
    assert(commitJobs.size >= 3, s"${commitJobs.size} jobs")
    commitJobs.foreach { p =>
      assert(p != null)
      assert(p.getProperty("spark.jobGroup.id") === "graft-commit-group")
      assert(p.getProperty("graft.test.tag") === "carried")
    }
    assert(GraphStore.restore(spark, dir).nodes("User").count() === 1)
    s.close()
  }

  test("a write failing at execution: nothing published, no write left " +
      "running, the store stays usable and a retry commits") {
    val boom = udf((x: Long) => {
      if (CommitSpecFlags.fail.get()) throw new IllegalStateException("boom")
      x
    })
    val slow = udf((x: Long) => { Thread.sleep(150); x })
    val s = new GraphStore(spark)
    s.createSchema("Bad", "x" -> LongType)
    s.createSchema("Slow", "x" -> LongType)
    s.createSchema("Fine", "name" -> StringType)
    (0 until 4).foreach { i =>
      s.createNode("Bad", Map("x" -> i.toLong))
      s.createNode("Slow", Map("x" -> i.toLong))
      s.createNode("Fine", Map("name" -> s"f$i"))
    }
    val dir = Files.createTempDirectory("graft-commit-fail").toString
    s.commit(dir) // v1
    // dirty every table; Bad's plan throws at execution, Slow's write is
    // still running when Bad's fails
    s.updateWhere("Bad", lit(true), Map("x" -> boom(col("x"))))
    s.updateWhere("Slow", lit(true), Map("x" -> slow(col("x"))))
    s.createNode("Fine", Map("name" -> "f4"))
    CommitSpecFlags.fail.set(true)
    val err = try intercept[Exception](s.commit(dir))
      finally CommitSpecFlags.fail.set(false)
    val chain = Iterator.iterate(err: Throwable)(_.getCause)
      .takeWhile(_ != null).toList
    assert(chain.exists(t => Option(t.getMessage).exists(_.contains("boom"))),
      err.toString)
    // nothing published, and every write job ended before commit threw
    assert(pointerVersion(dir) === 1)
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
    // the store still answers on its old plans
    assert(s.nodes("Fine").count() === 5)
    // serial reference: each table's rows, collected one after another
    val labels = Seq("Bad", "Slow", "Fine")
    val want = labels.map(l => l -> rowBag(s.nodes(l))).toMap
    s.commit(dir) // the retry: v2 is the failed commit's orphan
    assert(pointerVersion(dir) === 3)
    val r = GraphStore.restore(spark, dir)
    labels.foreach(l => assert(rowBag(r.nodes(l)) === want(l), l))
    assert(want("Slow") === (0 until 4).map(i => Seq(i.toLong, i.toLong) -> 1)
      .toMap)
    r.close(); s.close()
  }
}
