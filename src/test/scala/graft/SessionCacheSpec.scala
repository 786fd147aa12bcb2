package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** r18 memo-hygiene + prebuilt-artifact-memo pins (VERDICT #2/#8):
  * session-object keys, application-end eviction, and fingerprint
  * invalidation — a post-append probe must see the appended rows. */
class SessionCacheSpec extends SparkSpec {
  import spark.implicits._

  test("SessionCache keys by session object and evicts on application end") {
    val cache = new SessionCache[String]
    var builds = 0
    def get() = cache.getOrElseUpdate(spark, "k") { builds += 1; s"v$builds" }
    assert(get() == "v1" && get() == "v1" && builds == 1)
    // a second session over the same context gets its OWN entry (no
    // identity-hash aliasing possible: the key IS the object)
    val s2 = spark.newSession()
    assert(cache.getOrElseUpdate(s2, "k") { builds += 1; s"v$builds" } == "v2")
    assert(cache.entriesForTesting(spark) == 1 &&
      cache.entriesForTesting(s2) == 1)
    // application end (driven directly — stopping the shared test context
    // would kill every other suite) evicts BOTH sessions' entries
    SessionCache.evictAll(spark.sparkContext)
    assert(cache.entriesForTesting(spark) == 0 &&
      cache.entriesForTesting(s2) == 0)
    assert(get() == "v3") // rebuilt after eviction, not served stale
  }

  /** A directory fixture under a fresh prefix + the temp dirs carrying it. */
  private def dirFixture(build: String => Unit) = {
    val prefix = s"graft_fxspec_${java.util.UUID.randomUUID()}_"
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    (Fixture.dir(prefix, "out")((_, _, path) => build(path)),
      () => tmp.listFiles().filter(_.getName.startsWith(prefix)).toSeq)
  }

  test("Fixture: one directory per session, deleted at application end") {
    val (fx, dirs) = dirFixture(path => new java.io.File(path).mkdirs())
    val p1 = fx(spark, "d")
    assert(new java.io.File(p1).isDirectory && fx(spark, "d") == p1)
    val p2 = fx(spark.newSession(), "d")
    assert(p2 != p1 && new java.io.File(p2).isDirectory && dirs().size == 2)
    SessionCache.evictAll(spark.sparkContext)
    assert(dirs().isEmpty, s"evicted fixture directories left: ${dirs()}")
  }

  test("Fixture: a build that throws rethrows and leaves no directory") {
    val (fx, dirs) = dirFixture(_ => throw new IllegalStateException("boom"))
    assert(intercept[IllegalStateException](fx(spark, "d")).getMessage == "boom")
    assert(dirs().isEmpty)
  }

  test("Fixture: two concurrent first accesses leave exactly one directory") {
    val bothIn = new java.util.concurrent.CountDownLatch(2)
    val (fx, dirs) = dirFixture { path =>
      bothIn.countDown()
      bothIn.await(30, java.util.concurrent.TimeUnit.SECONDS)
      new java.io.File(path).mkdirs()
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val got = Seq.fill(2)(pool.submit[String](() => fx(spark, "race"))).map(_.get())
      assert(got.distinct.size == 1 && dirs().size == 1 &&
        new java.io.File(got.head).isDirectory, s"$got ${dirs()}")
    } finally pool.shutdown()
  }

  test("Tables.artifact: a post-append probe sees the appended files") {
    val root = java.nio.file.Files
      .createTempDirectory("graft_artmemo_").resolve("postings").toString
    val half1 = Seq((1L, "alpha beta gamma delta"), (2L, "beta gamma delta eps"))
      .toDF("doc_id", "text")
    val half2 = Seq((3L, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    Dedup.buildShinglePostings(half1, "text", "doc_id", root)
    val dir = operators.IndexLifecycle.resolveDir(spark, root)
    val before = Tables.artifact(spark, dir).count()
    // memo hit: same relation object served for the unchanged dir
    assert(Tables.artifact(spark, dir) eq Tables.artifact(spark, dir))
    Dedup.appendShinglePostings(half2, "text", "doc_id", root)
    val after = Tables.artifact(spark, dir).count()
    assert(after > before,
      s"post-append probe must see appended rows ($before -> $after)")
    // and the prebuilt containment probe (a Tables.artifact consumer)
    // surfaces the appended near-duplicate pair
    val pairs = Dedup.containmentPairsPrebuilt(spark, root,
        minContainment = 0.5, maxDf = 20)
      .select("key_a", "key_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 3L)), s"expected (1,3) in $pairs")
  }
}
