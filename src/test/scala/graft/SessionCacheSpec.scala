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
    assert(Dedup.appendShinglePostingsOnce(half2, "text", "doc_id", root, "run", 0L))
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

  test("Tables.artifact: an IVF probe that hit the memo sees rows an append " +
       "moved into an EXISTING _list= subdirectory") {
    // the fingerprint lists only the version directory's top level, where
    // such an append changes no entry name
    import graft.operators.{IndexLifecycle, Similarity}
    val emb = spark.range(400).select(col("id").as("vec_id"), array((1 to 64)
      .map(j => cos(col("id") * 0.37 + j).cast("float")): _*).as("embedding"))
    val q = Array.tabulate(64)(j => math.cos(j + 1.0).toFloat) // vec_id 0
    def ivf(rows: org.apache.spark.sql.DataFrame): String = {
      val root = java.nio.file.Files.createTempDirectory("graft_ivfmemo_") + "/idx"
      Similarity.ivfBuild(rows, "embedding", "vec_id", root, dim = 64, nlist = 4)
      root
    }
    def probe(root: String) = Similarity.ivfTopKPrebuilt(spark, root, "embedding",
      "vec_id", q, 20, nlist = 4, nprobe = 4).collect().map(_.toString).toSeq
    val root = ivf(emb.filter(col("vec_id") >= 100))
    val dir = IndexLifecycle.resolveDir(spark, root)
    def lists() = new java.io.File(dir).list().filter(_.startsWith("_list=")).sorted.toSeq
    assert(!probe(root).exists(_.startsWith("[0,")))
    assert(Tables.artifact(spark, dir) eq Tables.artifact(spark, dir), "memo hit")
    val before = lists()
    assert(Similarity.appendIvfIndexOnce(emb.filter(col("vec_id") < 100),
      "embedding", "vec_id", root, "memo-run", 0L))
    assert(lists() == before, "every appended row must land in an existing list")
    assert(probe(root) == probe(ivf(emb)), "a memoized IVF probe missed appended rows")
  }

  test("Tables.artifact: a file swapped for a same-size, same-mtime file " +
       "under a hash-colliding name is re-read, not served stale") {
    import java.nio.file.{Files, Path}
    import scala.jdk.CollectionConverters._
    // "Aa" and "BB" share a String.hashCode, so a 32-bit hash of the
    // listing cannot tell "Aa.parquet:<len>:<mtime>" from "BB.parquet:..."
    assert("Aa".hashCode == "BB".hashCode)
    val root = Files.createTempDirectory("graft_fpcollide_")
    val dir = Files.createDirectory(root.resolve("art"))
    def parquetOf(v: Long): Path = {
      val out = root.resolve(s"w$v").toString
      Seq(v).toDF("v").coalesce(1).write.option("compression", "none").parquet(out)
      Files.list(Path.of(out)).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
    }
    val (a, b) = (parquetOf(1L), parquetOf(2L))
    assert(Files.size(a) == Files.size(b), "the swap needs equal file lengths")
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    def place(src: Path, name: String): Unit = {
      val dst = dir.resolve(name)
      Files.move(src, dst)
      fs.setTimes(new org.apache.hadoop.fs.Path(dst.toString), 1600000000000L, -1L)
    }
    place(a, "Aa.parquet")
    assert(Tables.artifact(spark, dir.toString).as[Long].collect().toSeq == Seq(1L))
    Files.delete(dir.resolve("Aa.parquet"))
    place(b, "BB.parquet")
    assert(Tables.artifact(spark, dir.toString).as[Long].collect().toSeq == Seq(2L))
  }

  test("Tables.metadata: one value per (tables, listing, item), reloaded " +
       "after the listing changes; an item overflow clears only its own tables") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_metamemo_")
    Files.write(dir.resolve("f0"), Array[Byte](0))
    var loads = 0
    def get(): Int = Tables.metadata(spark, dir.toString, "x") { loads += 1; loads }
    assert(get() == 1 && get() == 1, "a repeated read must hit the memo")
    Files.write(dir.resolve("f1"), Array[Byte](1)) // an "append"
    assert(get() == 2 && get() == 2, "a changed listing must reload")
    // per-item misses load together, hits are not reloaded
    val terms = Seq(dir.toString, Files.createTempDirectory("graft_metaterms_").toString)
    var asked = Seq.empty[String]
    def each(items: Seq[String]) = Tables.metadataEach[Int](spark, terms, items) { ms =>
      asked = ms; ms.map(_ -> ms.size).toMap
    }
    assert(each(Seq("p", "q")) == Map("p" -> 2, "q" -> 2) && asked == Seq("p", "q"))
    assert(each(Seq("q", "r")) == Map("q" -> 2, "r" -> 1) && asked == Seq("r"))
    // a wide vocabulary: MetadataItems + 1 single-item misses, then one
    // oversized load, stay within the cap and evict nothing of `dir`'s
    // own table set (a codebook or centroid table in serving)
    (0 to Tables.MetadataItems).foreach(i => each(Seq(s"i$i")))
    assert(Tables.metadataItems(terms) <= Tables.MetadataItems)
    each((0 to Tables.MetadataItems).map(i => s"j$i"))
    assert(Tables.metadataItems(terms) <= Tables.MetadataItems)
    assert(get() == 2 && loads == 2, "an item overflow evicted another table's value")
    // the old listing's entry is replaced, not kept beside the new one
    Files.write(dir.resolve("f2"), Array[Byte](2))
    assert(get() == 3 && Tables.metadataItems(Seq(dir.toString)) == 1)
  }
}
