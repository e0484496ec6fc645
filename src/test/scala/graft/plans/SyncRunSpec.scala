package graft.plans

import java.time.Instant

import graft.SparkSpec
import graft.sources.FakeServer

class SyncRunSpec extends SparkSpec {

  test("full sync run: upserts in-segment entities, deletes the rest, reports counts") {
    FakeServer.reset()
    val dir = java.nio.file.Files.createTempDirectory("graft_sync_report").toString
    val t0 = Instant.parse("2026-01-01T00:00:00Z")
    val result = SyncRun.run(
      spark, sf(),
      new FakeServer.Fake, new FakeServer.Tokens,
      entityPath = "/entities",
      reportDir = Some(dir),
      now = () => t0)

    val customer = spark.read.parquet(s"${sf()}/customer.parquet")
    val inSegment = customer
      .filter(org.apache.spark.sql.functions.col("c_mktsegment") === EntityAssembly.segment)
      .count()
    assert(result.upserts === inSegment)
    assert(result.deletes === customer.count() - inSegment)
    // server converged to exactly the upserted key set
    assert(FakeServer.store.size() === inSegment)
    // report rendered to disk with injected timestamps
    val files = new java.io.File(dir).listFiles()
    assert(files.length === 1)
    val text = java.nio.file.Files.readString(files(0).toPath)
    assert(text.contains(s"upserts:  $inSegment"))
    assert(text.contains("started:  2026-01-01T00:00:00Z"))
  }

  test("sink failure is recorded in the report, not thrown") {
    val failing = new graft.sources.Http.Transport {
      def send(req: graft.sources.Http.Request) = graft.sources.Http.Response(500, "")
    }
    val result = SyncRun.run(spark, sf(), failing, new FakeServer.Tokens, "/entities")
    assert(result.upserts === 0)
    assert(result.report.errors.exists(_.startsWith("upsert:")))
    assert(result.report.errors.exists(_.startsWith("delete:")))
  }

  test("bad rows quarantine with reasons; their keys are withheld from deletes") {
    import org.apache.spark.sql.functions._
    FakeServer.reset()
    val qdir = java.nio.file.Files.createTempDirectory("graft_quarantine").toString
    val customer = graft.Tables.load(spark, sf(), "customer")
    val keyType = customer.schema("c_custkey").dataType
    // an existing OUT-of-segment key, duplicated as a broken row: its
    // target twin must survive the delete wave because the row quarantined
    val victimKey = customer
      .filter(col("c_mktsegment") =!= EntityAssembly.segment)
      .agg(max("c_custkey")).head().get(0)
    val badNullKey = customer.limit(1)
      .withColumn("c_custkey", lit(null).cast(keyType))
    val badNullName = customer.filter(col("c_custkey") === victimKey)
      .withColumn("c_name", lit(null).cast("string"))
    val wave = customer.union(badNullKey).union(badNullName)

    val result = SyncRun.run(
      spark, sf(), new FakeServer.Fake, new FakeServer.Tokens, "/entities",
      quarantineDir = Some(qdir),
      customerOverride = Some(wave))

    val inSegment = customer
      .filter(col("c_mktsegment") === EntityAssembly.segment).count()
    assert(result.quarantined === 2)
    assert(result.report.quarantineCount === 2)
    assert(result.upserts === inSegment)
    // all-but-one out-of-segment rows deleted: the quarantined victim is withheld
    assert(result.deletes === customer.count() - inSegment - 1)
    assert(result.report.render.contains("quarantined: 2"))
    // quarantine frame carries machine-readable reasons
    val reasons = spark.read.json(qdir).select("errors")
      .collect().map(_.getString(0)).toSet
    assert(reasons.exists(_.contains("c_custkey:required_null")))
    assert(reasons.exists(_.contains("c_name:required_null")))
  }

  test("a throwing quarantine write surfaces and still frees the quarantine pin") {
    FakeServer.reset()
    val sc = spark.sparkContext
    // earlier suites' leftovers are not this run's to account for
    sc.getPersistentRDDs.valuesIterator.foreach(_.unpersist(blocking = true))
    val file = java.nio.file.Files.createTempFile("graft_not_a_dir", ".txt")
    intercept[Exception] {
      SyncRun.run(spark, sf(), new FakeServer.Fake, new FakeServer.Tokens, "/entities",
        quarantineDir = Some(file.resolve("quarantine").toString))
    }
    assert(sc.getPersistentRDDs.isEmpty)
    assert(FakeServer.sent.isEmpty) // the run stopped before any sink sent
  }

  test("entity resolution pre-step: two variant spellings upsert ONE entity") {
    import spark.implicits._
    FakeServer.reset()
    // alicesmith/alicesmyth are edit-distance 1 in the same nation+segment
    // (score 4.0 + 1.5 + 1.0 = 6.5 >= 5.0 → same entity); every other name
    // is far from everything. Key 2 is the richer record (acctbal 500) so
    // its attributes win, but the ENTITY key is the cluster min (1).
    val wave = Seq(
      (1L, "alicesmith", 1L, 100.0, EntityAssembly.segment),
      (2L, "alicesmyth", 1L, 500.0, EntityAssembly.segment),
      (3L, "bobjones", 1L, 50.0, EntityAssembly.segment),
      (4L, "carolwhite", 2L, 10.0, "MACHINERY"))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")

    val result = SyncRun.run(
      spark, sf(), new FakeServer.Fake, new FakeServer.Tokens, "/entities",
      customerOverride = Some(wave),
      resolution = Some(SyncRun.ResolutionConfig()))

    // 3 in-segment rows collapse to 2 entities; carol is out of segment
    assert(result.upserts === 2)
    // entity key = cluster min (1); the variant's own key (2) never POSTs
    assert(FakeServer.store.containsKey("1"))
    assert(!FakeServer.store.containsKey("2"))
    // representative attributes come from the richest cluster row
    assert(FakeServer.store.get("1").contains("alicesmyth"))
    // target keys 1 and 3 survive the delete wave; everything else goes
    val targetN = graft.Tables.load(spark, sf(), "customer").count()
    assert(result.deletes === targetN - 2)
    assert(FakeServer.store.size() === 2)
  }

  test("EM-fitted resolution: representatives collapse planted duplicates, zero hand weights") {
    import spark.implicits._
    // doubled-index names: any two base names differ at >= 2 positions, so
    // the only dist<=1 candidates are the planted ones; exact duplicates
    // carry richer acctbal (their attributes must win while the entity key
    // stays the cluster min), cross-nation name coincidences must NOT merge
    val base = (1L to 30L).map(i =>
      (i, s"alpha${i}beta$i", i % 5, i * 10.0, "BUILDING"))
    val exact = base.filter(_._1 % 3 == 0).map { case (i, n, a, b, s) =>
      (i + 100, n, a, b + 1000.0, s) }
    val coinc = base.filter(_._1 % 5 == 0).map { case (i, n, a, _, _) =>
      (i + 300, n, (a + 1) % 5, 5.0, "ZZ") }
    val wave = (base ++ exact ++ coinc)
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    val got = SyncRun.resolveRepresentativesEm(wave, SyncRun.EmResolutionConfig())
      .collect()
      .map(r => r.getAs[Long]("c_custkey") -> r.getAs[Double]("c_acctbal")).toMap
    base.filter(_._1 % 3 == 0).foreach { case (i, _, _, _, _) =>
      assert(got(i) === i * 10.0 + 1000.0, s"entity $i must keep the richest row")
      assert(!got.contains(i + 100), s"merged key ${i + 100} must not survive")
    }
    base.filter(_._1 % 5 == 0).foreach { case (i, _, _, _, _) =>
      assert(got.contains(i + 300), s"coincidence ${i + 300} stays its own entity")
    }
  }

  test("re-run converges (idempotent): same counts, same server state") {
    FakeServer.reset()
    def once() = SyncRun.run(spark, sf(), new FakeServer.Fake, new FakeServer.Tokens, "/entities")
    val first = once()
    val second = once()
    assert(first.upserts === second.upserts)
    assert(FakeServer.store.size() === first.upserts)
  }
}
