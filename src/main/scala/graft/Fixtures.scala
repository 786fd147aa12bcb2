package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.filters._
import graft.operators._

/**
 * A per-(session, dir) fixture, kept in a [[SessionCache]]: built on first
 * access, at most once per (session, dir), dropped when the application
 * ends — like a Swamp hydrated on access and evicted when idle.
 *
 * A directory fixture builds into a fresh temp directory that it OWNS, so
 * a second session (same or another JVM) never overwrites a directory a
 * concurrent session is probing, and distinct dirs never alias. It is
 * deleted on eviction, when its build throws, and when its build loses
 * the first-access race (`TrieMap.getOrElseUpdate` may run its `op`
 * without adding the result: two concurrent first accesses can both
 * build; one directory is kept).
 */
private[graft] final class Fixture[T] private (
    make: (SparkSession, String) => Fixture.Built[T]) {
  private val cache = new SessionCache[Fixture.Built[T]](_.dir.foreach(Fixture.deleteTree))

  def apply(s: SparkSession, d: String): T = {
    var mine: Fixture.Built[T] = null
    val got = cache.getOrElseUpdate(s, d) { mine = make(s, d); mine }
    if ((mine ne null) && (mine ne got)) mine.dir.foreach(Fixture.deleteTree)
    got.value
  }

  /** Drop every entry of every session, deleting its directory. */
  def clear(): Unit = cache.clear()
}

private[graft] object Fixture {
  private final class Built[T](val value: T, val dir: Option[Path])

  /** A value fixture: `build`'s result, memoized per (session, dir). */
  def value[T](build: (SparkSession, String) => T): Fixture[T] =
    new Fixture((s, d) => new Built(build(s, d), None))

  /** A directory fixture: `build` writes its artifact at `<fresh temp dir
    * named prefix*>/leaf`, and that path is the fixture's value. */
  def dir(prefix: String, leaf: String)(
      build: (SparkSession, String, String) => Unit): Fixture[String] =
    new Fixture({ (s, d) =>
      val base = Files.createTempDirectory(prefix)
      val path = base.resolve(leaf).toString
      try build(s, d, path) catch { case e: Throwable => deleteTree(base); throw e }
      new Built(path, Some(base))
    })

  private def deleteTree(dir: Path): Unit =
    org.apache.hadoop.fs.FileUtil.fullyDelete(dir.toFile)
}

/** Every per-(session, dir) fixture the [[SparkEntry]] queries read. */
private[graft] object Fixtures {

  /** The probe vector (vec_id = 0) — a fixture CONSTANT: 18 queries take
    * it as an input parameter, and each un-memoized call was one whole
    * Spark action (scan + head) before the timed query proper began (r17). */
  val queryVec = Fixture.value((s, d) => Tables(s, d, "embeddings")
    .filter(col("vec_id") === 0).select(col("embedding")).head().getSeq[Float](0).toArray)

  /** The prebuilt-ANN IVF index. */
  val ivfIndexPath = Fixture.dir("graft_ivf_", "index")((s, d, path) =>
    Similarity.ivfBuild(Tables(s, d, "embeddings"), "embedding", "vec_id",
      path, dim = 64))

  /** The prebuilt product-quantization index. */
  val pqIndexPath = Fixture.dir("graft_pq_", "index")((s, d, path) =>
    Similarity.pqBuild(Tables(s, d, "embeddings"), "embedding", "vec_id",
      path, m = 8, ksub = 16, dim = 64))

  /** A two-swamp V1 GOB command-log fixture derived deterministically from
    * `orders` (so the DuckDB oracle can recompute the expected state from
    * the same parquet), migrated by [[operators.Migrate.v1ToV2]] with
    * verify on; the value is the V2 root. A failed migration fails loudly
    * here rather than surfacing as a confusing hash mismatch downstream. */
  val migrateV2Root = Fixture.dir("graft_migrate_", "v2") { (s, d, v2) =>
    import org.apache.spark.sql.types._
    val v1 = Paths.get(v2).resolveSibling("v1").toString
    val o = Tables(s, d, "orders").select(col("o_orderkey").as("key"),
      col("o_orderstatus").as("status"), col("o_totalprice").as("price"))
    val log = o.select(col("key"), lit(1L).as("seq"), lit("U").as("op"),
        graft.functions.Gob.pack(
          struct(col("status"), col("price"))).as("body"))
      .unionByName(o.filter(col("key") % 3 === 0)
        .select(col("key"), lit(2L).as("seq"), lit("U").as("op"),
          graft.functions.Gob.pack(struct(col("status"),
            (col("price") + 1).as("price"))).as("body")))
      .unionByName(o.filter(col("key") % 5 === 0)
        .select(col("key"), lit(3L).as("seq"), lit("D").as("op"),
          lit(null).cast("binary").as("body")))
    log.filter(col("key") % 2 === 0).write.parquet(s"$v1/even")
    log.filter(col("key") % 2 =!= 0).write.parquet(s"$v1/odd")
    val bodySchema = StructType(Seq(
      StructField("status", StringType), StructField("price", DoubleType)))
    val rep = Migrate.v1ToV2(s, v1, v2, bodySchema)
    require(rep.failedSwamps == 0,
      s"migration fixture failed: ${rep.perSwamp.filter(!_.ok)}")
  }

  /** A TRAINED-codebook PQ index: the production build path
    * ([[Similarity.pqTrainCodebook]] → [[Similarity.pqBuildWith]]). */
  val pqTrainedIndexPath = Fixture.dir("graft_pqt_", "index") { (s, d, path) =>
    val emb = Tables(s, d, "embeddings")
    val cb = Similarity.pqTrainCodebook(emb, "embedding", "vec_id",
      m = 8, ksub = 16, iters = 2, dim = 64)
    Similarity.pqBuildWith(emb, "embedding", "vec_id", path, cb, m = 8, dim = 64)
  }

  /** An APPEND-MAINTAINED PQ index: built on the vec_id >= 100 half
    * (codebook frozen from that subset), then extended with the vec_id <
    * 100 half via [[operators.Similarity.appendPqIndexOnce]] — the daily-crawl
    * maintenance path exercised end to end, probed by q_ann_pq_append
    * against an oracle that freezes the codebook the same way. */
  val pqAppendIndexPath = Fixture.dir("graft_pqa_", "index") { (s, d, path) =>
    val emb = Tables(s, d, "embeddings")
    Similarity.pqBuild(emb.filter(col("vec_id") >= 100),
      "embedding", "vec_id", path, m = 8, ksub = 16, dim = 64)
    Similarity.appendPqIndexOnce(emb.filter(col("vec_id") < 100),
      "embedding", "vec_id", path, runId = "fixture", batchId = 0, m = 8,
      dim = 64)
  }

  /** The prebuilt substring-dedup gram index over the "existing corpus"
    * half of the incremental split (doc_id >= 250, matching
    * q_dedup_incremental). */
  val gramIndexPath = Fixture.dir("graft_gram_", "grams")((s, d, path) =>
    Dedup.buildGramIndex(Tables(s, d, "documents").filter(col("doc_id") >= 250),
      "text", "doc_id", path, k = 8))

  /** The prebuilt BM25 inverted text index. */
  val textIndexPath = Fixture.dir("graft_text_", "index")((s, d, path) =>
    TermStats.buildTextIndex(Tables(s, d, "documents"), "text", "doc_id", path))

  /** One backup/restore round trip: export the text index to a write-once
    * bundle, import it to a fresh root, serve from the RESTORED copy
    * (q_bundle_restore's fixture — the hydraidectl backup/restore parity
    * path exercised end-to-end per run). */
  val bundleRestorePath = Fixture.dir("graft_bundle_", "restored") { (s, d, restored) =>
    val bundle = Paths.get(restored).resolveSibling("bundle").toString
    Bundles.exportBundle(s, textIndexPath(s, d), bundle)
    Bundles.importBundle(s, bundle, restored)
  }

  /** The prebuilt positional phrase-search index. */
  val phraseIndexPath = Fixture.dir("graft_phrase_", "index")((s, d, path) =>
    TermStats.buildPhraseIndex(Tables(s, d, "documents"), "text", "doc_id", path))

  /** The routed IVF-PQ index. */
  val pqIvfIndexPath = Fixture.dir("graft_pqivf_", "index")((s, d, path) =>
    Similarity.pqIvfBuild(Tables(s, d, "embeddings"), "embedding", "vec_id",
      path, m = 8, ksub = 16, dim = 64, nlist = 16, seed = 7L))

  /** Page-1 continuation token for the keyset walk (the state a client
    * holds between pagination calls, from its own page-1 response):
    * materialized here, the timed q_index_keyset builder is ONE query. */
  val keysetToken = Fixture.value[(Any, Any)] { (s, d) =>
    val page1 = IndexRead.run(Tables(s, d, "orders"), IndexRead.IndexQuery(
      filter = Some(Cmp(FieldRef("o_orderstatus"), CmpOp.Equal, "O")),
      orderBy = Seq(("o_orderdate", IndexRead.Desc)),
      keyCol = "o_orderkey", limit = Some(20))).collect()
    require(page1.nonEmpty,
      "q_index_keyset: page 1 is empty — no continuation token to walk from")
    val tok = page1.last
    (tok.getAs[Any]("o_orderdate"), tok.getAs[Any]("o_orderkey"))
  }

  /** The materialized MinHash signature table of the prebuilt LSH path. */
  val sigTablePath = Fixture.dir("graft_sig_", "sigs")((s, d, path) =>
    Dedup.buildSignatures(Tables(s, d, "documents"), "text", "doc_id", path,
      shingleN = 3, numHashes = 16))

  /** The materialized shingle postings of the prebuilt containment path. */
  val postingsPath = Fixture.dir("graft_post_", "postings")((s, d, path) =>
    Dedup.buildShinglePostings(Tables(s, d, "documents"), "text", "doc_id",
      path, shingleN = 3))

  /** lineitems re-nested per order (FIXTURES.md §5). In production the
    * nested table would be STORED nested; materializing the re-nest once
    * mirrors that — all five nested queries read the same persisted
    * relation instead of paying the collect_list shuffle each. */
  val nestedOrders: Fixture[DataFrame] = Fixture.value((s, d) =>
    CacheRegistry.track(Tables(s, d, "lineitem").groupBy(col("l_orderkey"))
      .agg(collect_list(struct(col("l_quantity"), col("l_extendedprice"),
        col("l_returnflag"))).as("items"))))
  CacheRegistry.onRelease(() => nestedOrders.clear()) // released ⇒ drop memo too
}
