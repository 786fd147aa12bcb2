package graft

import graft.operators.{Bundles, Dedup, IndexLifecycle, Migrate, TermStats}
import graft.functions.{TextFunctions => TF}
import org.apache.spark.sql.functions._

/**
 * Legacy-artifact migration (Migrate.migrateArtifact / migrateFlagged)
 * and the offline bundle verifier (Bundles.verifyBundle) — the operator
 * sweep that ends the two documented legacy ambiguities: pre-stamp
 * artifacts whose widths cannot be verified (the allowUnverifiedWidth
 * escape hatch), and pre-r16 bundles without a run inventory.
 */
class MigrationSweepSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),
    (3L, "completely unrelated text about spark engines"),
    (4L, "the quick brown fox jumps over the lazy dog"))
    .toDF("doc_id", "text")

  private def flagsOf(root: String): Seq[String] =
    IndexLifecycle.auditArtifacts(spark, root)
      .select("legacy_flags").head().getSeq[String](0)

  test("legacy STRING-shingle signature table: migrate infers shingleN " +
       "from the stored strings, rehashes, and probe results are " +
       "IDENTICAL; appends then need no escape hatch") {
    val root = s"${tmp("graft-mig-sigstr")}/sig"
    // the pre-hashed-verify layout: _sh = raw shingle strings, _sig from
    // the string sets, no _sn — exactly what pre-r13 builds wrote
    docs.select(col("doc_id"),
        array_distinct(TF.shingles(col("text"), 3)).as("_sh"),
        TF.minhashSignature(TF.shingles(col("text"), 3), 16).as("_sig"))
      .write.parquet(s"$root/v=1")
    IndexLifecycle.flipPointer(spark, root, 1L)
    assert(flagsOf(root).exists(_.contains("STRING shingle")), flagsOf(root))

    def probe() = Dedup.minhashLshPrebuilt(spark, root, "doc_id",
        numHashes = 16, bands = 4, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = probe()
    assert(before.nonEmpty, "fixture must produce near-dup pairs")

    // string appends REFUSE against the legacy artifact (the r16 rule)
    intercept[IllegalArgumentException] {
      Dedup.appendSignaturesOnce(
        Seq((9L, "the quick brown fox jumps over a dog")).toDF("doc_id", "text"),
        "text", "doc_id", root, "mig-run", 0L, shingleN = 3, numHashes = 16)
    }

    val m = Migrate.migrateArtifact(spark, root)
    assert(m.toVersion == Some(2L) && m.fromVersion == Some(1L), s"$m")
    assert(m.actions.exists(_.contains("shingleN=3 inferred")), s"$m")
    assert(flagsOf(root).isEmpty,
      s"migrated artifact must carry no legacy flags: ${flagsOf(root)}")
    assert(probe() == before,
      "migration must not change probe results")
    // and the escape hatch is now unnecessary
    assert(Dedup.appendSignaturesOnce(
      Seq((9L, "the quick brown fox jumps over a dog")).toDF("doc_id", "text"),
      "text", "doc_id", root, "mig-run", 0L, shingleN = 3, numHashes = 16))
    // the width guard is LIVE again: a wrong width now refuses
    val e = intercept[IllegalArgumentException] {
      Dedup.appendSignaturesOnce(Seq((10L, "x y z w v u t s"))
        .toDF("doc_id", "text"), "text", "doc_id", root, "mig-run", 1L,
        shingleN = 5, numHashes = 16)
    }
    assert(e.getMessage.contains("shingleN"), s"$e")
  }

  test("pre-_sn HASHED signature table: the width is not inferable — " +
       "migrate REQUIRES declaredShingleN, stamps it, and a declared " +
       "width smaller than the stored strings would refuse") {
    val root = s"${tmp("graft-mig-sighash")}/sig"
    // strip _sn from a modern build = the r13–r15 layout
    val modern = s"${tmp("graft-mig-sighash-src")}/sig"
    Dedup.buildSignatures(docs, "text", "doc_id", modern,
      shingleN = 3, numHashes = 16)
    spark.read.parquet(IndexLifecycle.resolveDir(spark, modern))
      .drop("_sn").write.parquet(s"$root/v=1")
    IndexLifecycle.flipPointer(spark, root, 1L)
    assert(flagsOf(root).exists(_.contains("pre-_sn")), flagsOf(root))

    val e = intercept[IllegalArgumentException] {
      Migrate.migrateArtifact(spark, root)
    }
    assert(e.getMessage.contains("declaredShingleN"), s"$e")

    val m = Migrate.migrateArtifact(spark, root, declaredShingleN = Some(3))
    assert(m.actions.exists(_.contains("_sn=3 stamped")), s"$m")
    assert(flagsOf(root).isEmpty, flagsOf(root))
    // identical to the modern build on the band+verify probe
    def probe(p: String) = Dedup.minhashLshPrebuilt(spark, p, "doc_id",
        numHashes = 16, bands = 4, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probe(root) == probe(modern))
    assert(Dedup.appendSignaturesOnce(
      Seq((9L, "more quick brown fox text here")).toDF("doc_id", "text"),
      "text", "doc_id", root, "mig-run", 0L, shingleN = 3,
      numHashes = 16)) // no escape hatch needed
  }

  test("pre-_gk gram index: migrate stamps the declared width; " +
       "substringDedupPrebuilt results are identical and appends need " +
       "no escape hatch") {
    val root = s"${tmp("graft-mig-gram")}/grams"
    val modern = s"${tmp("graft-mig-gram-src")}/grams"
    Dedup.buildGramIndex(docs, "text", "doc_id", modern, k = 8)
    spark.read.parquet(IndexLifecycle.resolveDir(spark, modern))
      .drop("_gk").write.parquet(s"$root/v=1")
    IndexLifecycle.flipPointer(spark, root, 1L)
    assert(flagsOf(root).exists(_.contains("pre-_gk")), flagsOf(root))

    intercept[IllegalArgumentException] { Migrate.migrateArtifact(spark, root) }
    val m = Migrate.migrateArtifact(spark, root, declaredGramK = Some(8))
    assert(m.actions.exists(_.contains("_gk=8 stamped")), s"$m")
    assert(flagsOf(root).isEmpty, flagsOf(root))

    val incoming = Seq(
      (50L, "intro words then the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    def strip(p: String) = Dedup
      .substringDedupPrebuilt(spark, p, incoming, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getString(3))).toSeq
    assert(strip(root) == strip(modern))
    assert(Dedup.appendGramIndexOnce(incoming, "text", "doc_id", root, "mig-run", 0L, k = 8))
    // the width guard is live again
    val e = intercept[IllegalArgumentException] {
      Dedup.appendGramIndexOnce(incoming, "text", "doc_id", root, "mig-run", 1L, k = 4)
    }
    assert(e.getMessage.contains("was built with k=8"), s"$e")
  }

  test("pre-dl text index without a terms dictionary: migrate " +
       "denormalizes dl from lengths/, materializes terms/, and BM25 " +
       "results are identical to a modern build") {
    val root = s"${tmp("graft-mig-text")}/idx"
    val modern = s"${tmp("graft-mig-text-src")}/idx"
    TermStats.buildTextIndex(docs, "text", "doc_id", modern)
    val mdir = IndexLifecycle.resolveDir(spark, modern)
    // legacy layout: postings without dl, no terms/
    spark.read.parquet(s"$mdir/postings").drop("dl")
      .write.parquet(s"$root/v=1/postings")
    spark.read.parquet(s"$mdir/lengths").write.parquet(s"$root/v=1/lengths")
    spark.read.parquet(s"$mdir/stats").write.parquet(s"$root/v=1/stats")
    IndexLifecycle.flipPointer(spark, root, 1L)
    val fl = flagsOf(root)
    assert(fl.exists(_.contains("pre-dl")) &&
      fl.exists(_.contains("terms dictionary")), fl)

    val m = Migrate.migrateArtifact(spark, root)
    assert(m.actions.exists(_.contains("lengths/")), s"$m")
    assert(m.actions.exists(_.contains("terms/ dictionary")), s"$m")
    assert(flagsOf(root).isEmpty, flagsOf(root))
    def bm25(p: String) = TermStats
      .bm25TopKPrebuilt(spark, p, "doc_id", Seq("quick", "fox"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(bm25(root) == bm25(modern))
    // appends work against the migrated index (pre-dl used to refuse)
    assert(TermStats.appendTextIndexOnce(
      Seq((9L, "another quick document")).toDF("doc_id", "text"),
      "text", "doc_id", root, "mig-run", 0L))
  }

  test("migrateFlagged sweeps a fleet root: flagged artifacts migrate, " +
       "blockers are REPORTED (not thrown), clean artifacts untouched") {
    val fleet = tmp("graft-mig-fleet")
    // clean artifact
    Dedup.buildSignatures(docs, "text", "doc_id", s"$fleet/clean",
      shingleN = 3, numHashes = 16)
    // migratable: string-shingle signatures (width inferable)
    docs.select(col("doc_id"),
        array_distinct(TF.shingles(col("text"), 3)).as("_sh"),
        TF.minhashSignature(TF.shingles(col("text"), 3), 16).as("_sig"))
      .write.parquet(s"$fleet/strsig/v=1")
    IndexLifecycle.flipPointer(spark, s"$fleet/strsig", 1L)
    // blocked: hashed pre-_sn without a declared width
    spark.read.parquet(
        IndexLifecycle.resolveDir(spark, s"$fleet/clean")).drop("_sn")
      .write.parquet(s"$fleet/hashsig/v=1")
    IndexLifecycle.flipPointer(spark, s"$fleet/hashsig", 1L)

    val report = Migrate.migrateFlagged(spark, fleet)
    assert(report.size == 2, s"only the two flagged artifacts migrate: $report")
    val byArtifact = report.map(r => r.artifact.split('/').last -> r).toMap
    assert(byArtifact("strsig").toVersion == Some(2L))
    assert(byArtifact("hashsig").actions.exists(_.startsWith("refused:")),
      s"${byArtifact("hashsig")}")
    assert(flagsOf(s"$fleet/strsig").isEmpty)
    assert(flagsOf(s"$fleet/hashsig").nonEmpty, "blocked artifact stays flagged")
  }

  test("a declared shingleN CONTRADICTED by the stored shingle strings " +
       "refuses (evidence beats declaration); it is accepted only when " +
       "every document was shorter than the declared width") {
    // docs produced multiple 3-token shingles ⇒ the build width is
    // provably 3; declaring 5 must refuse, not stamp the lie
    val root = s"${tmp("graft-mig-contradict")}/sig"
    docs.select(col("doc_id"),
        array_distinct(TF.shingles(col("text"), 3)).as("_sh"),
        TF.minhashSignature(TF.shingles(col("text"), 3), 16).as("_sig"))
      .write.parquet(s"$root/v=1")
    IndexLifecycle.flipPointer(spark, root, 1L)
    val e = intercept[IllegalArgumentException] {
      Migrate.migrateArtifact(spark, root, declaredShingleN = Some(5))
    }
    assert(e.getMessage.contains("contradicts"), s"$e")
    // all-short corpus: every doc < n tokens ⇒ single under-width
    // shingle per doc ⇒ a larger declaration is legitimate
    val short = Seq((1L, "alpha beta"), (2L, "gamma")).toDF("doc_id", "text")
    val root2 = s"${tmp("graft-mig-short")}/sig"
    short.select(col("doc_id"),
        array_distinct(TF.shingles(col("text"), 5)).as("_sh"),
        TF.minhashSignature(TF.shingles(col("text"), 5), 16).as("_sig"))
      .write.parquet(s"$root2/v=1")
    IndexLifecycle.flipPointer(spark, root2, 1L)
    val m = Migrate.migrateArtifact(spark, root2, declaredShingleN = Some(5))
    assert(m.actions.exists(_.contains("shingleN=5 declared")), s"$m")
  }

  test("inconclusive string-shingle evidence (all docs under-width, or " +
       "empty) REFUSES inference without a declaration, and a fleet " +
       "default never reaches such tables — no silent under-width stamp") {
    // all-short corpus, NO declaration: inference would undershoot —
    // must refuse, not stamp max-token-count as the width
    val short = Seq((1L, "alpha beta"), (2L, "gamma")).toDF("doc_id", "text")
    val root = s"${tmp("graft-mig-inconclusive")}/sig"
    short.select(col("doc_id"),
        array_distinct(TF.shingles(col("text"), 5)).as("_sh"),
        TF.minhashSignature(TF.shingles(col("text"), 5), 16).as("_sig"))
      .write.parquet(s"$root/v=1")
    IndexLifecycle.flipPointer(spark, root, 1L)
    val e = intercept[IllegalArgumentException] {
      Migrate.migrateArtifact(spark, root)
    }
    assert(e.getMessage.contains("inconclusive"), s"$e")
    // the fleet sweep with a declared width must NOT stamp it onto the
    // inconclusive string table — reported for an individual call
    val fleet = tmp("graft-mig-fleet-inconclusive")
    short.select(col("doc_id"),
        array_distinct(TF.shingles(col("text"), 5)).as("_sh"),
        TF.minhashSignature(TF.shingles(col("text"), 5), 16).as("_sig"))
      .write.parquet(s"$fleet/strsig/v=1")
    IndexLifecycle.flipPointer(spark, s"$fleet/strsig", 1L)
    val report = Migrate.migrateFlagged(spark, fleet,
      declaredShingleN = Some(5))
    assert(report.size == 1, s"$report")
    assert(report.head.actions.exists(a => a.startsWith("refused:") &&
      a.contains("deliberately not applied")), s"$report")
    assert(flagsOf(s"$fleet/strsig").nonEmpty, "nothing may be stamped")
    // the per-artifact call WITH the operator's confirmed width migrates
    val m = Migrate.migrateArtifact(spark, s"$fleet/strsig",
      declaredShingleN = Some(5))
    assert(m.actions.exists(_.contains("shingleN=5 declared")), s"$m")
    assert(flagsOf(s"$fleet/strsig").isEmpty)
  }

  test("text-index migration must not DROP postings of keys missing from " +
       "lengths/ — they fall back to the derived sum(tf) doc length") {
    val root = s"${tmp("graft-mig-holey")}/idx"
    val modern = s"${tmp("graft-mig-holey-src")}/idx"
    TermStats.buildTextIndex(docs, "text", "doc_id", modern)
    val mdir = IndexLifecycle.resolveDir(spark, modern)
    spark.read.parquet(s"$mdir/postings").drop("dl")
      .write.parquet(s"$root/v=1/postings")
    // the unhygienic artifact: lengths/ lost doc 3
    spark.read.parquet(s"$mdir/lengths").filter(col("doc_id") =!= 3L)
      .write.parquet(s"$root/v=1/lengths")
    spark.read.parquet(s"$mdir/stats").write.parquet(s"$root/v=1/stats")
    IndexLifecycle.flipPointer(spark, root, 1L)
    val before = spark.read.parquet(s"$root/v=1/postings").count()
    Migrate.migrateArtifact(spark, root)
    val after = spark.read.parquet(
      s"${IndexLifecycle.resolveDir(spark, root)}/postings")
    assert(after.count() == before,
      "no postings row may vanish in migration")
    // doc 3's dl fell back to sum(tf) — which IS its token count, so the
    // migrated index still scores identically to the modern build
    def bm25(p: String) = TermStats
      .bm25TopKPrebuilt(spark, p, "doc_id", Seq("quick", "fox"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(bm25(root) == bm25(modern))
  }

  test("migrateFlagged refuses to stamp ONE fleet-wide declared width " +
       "onto MULTIPLE unverifiable artifacts (a heterogeneous fleet " +
       "would get wrong widths certified)") {
    val fleet = tmp("graft-mig-hetero")
    // two hashed pre-_sn artifacts, built with DIFFERENT widths
    Seq(3, 5).foreach { n =>
      val modern = s"${tmp(s"graft-mig-hetero-src$n")}/sig"
      Dedup.buildSignatures(docs, "text", "doc_id", modern,
        shingleN = n, numHashes = 16)
      spark.read.parquet(IndexLifecycle.resolveDir(spark, modern))
        .drop("_sn").write.parquet(s"$fleet/sig$n/v=1")
      IndexLifecycle.flipPointer(spark, s"$fleet/sig$n", 1L)
    }
    val report = Migrate.migrateFlagged(spark, fleet,
      declaredShingleN = Some(5))
    assert(report.size == 2, s"$report")
    assert(report.forall(_.actions.exists(_.contains("own confirmed width"))),
      s"both must be refused with the per-artifact instruction: $report")
    assert(flagsOf(s"$fleet/sig3").nonEmpty && flagsOf(s"$fleet/sig5").nonEmpty,
      "neither may have been stamped")
    // a SINGLE unverifiable artifact still accepts the fleet-wide width
    val fleet2 = tmp("graft-mig-single")
    val modern2 = s"${tmp("graft-mig-single-src")}/sig"
    Dedup.buildSignatures(docs, "text", "doc_id", modern2,
      shingleN = 3, numHashes = 16)
    spark.read.parquet(IndexLifecycle.resolveDir(spark, modern2))
      .drop("_sn").write.parquet(s"$fleet2/sig/v=1")
    IndexLifecycle.flipPointer(spark, s"$fleet2/sig", 1L)
    val r2 = Migrate.migrateFlagged(spark, fleet2, declaredShingleN = Some(3))
    assert(r2.size == 1 && r2.head.toVersion == Some(2L), s"$r2")
  }

  test("verifyBundle: a clean bundle passes every check; truncated and " +
       "missing files are REPORTED, not thrown; a manifest-less " +
       "directory and a pre-r16 inventory-less manifest are called out") {
    val dir = tmp("graft-verify-bundle")
    val idx = s"$dir/idx"
    TermStats.buildTextIndex(docs, "text", "doc_id", idx)
    val bundle = s"$dir/bundle"
    Bundles.exportBundle(spark, idx, bundle)

    def checks(p: String): Map[String, (Boolean, String)] =
      Bundles.verifyBundle(spark, p).collect()
        .map(r => r.getString(0) -> (r.getBoolean(1), r.getString(2))).toMap

    val clean = checks(bundle)
    assert(clean.values.forall(_._1), s"clean bundle must pass: $clean")
    assert(clean("run-inventory")._2.contains("complete"))

    // truncated file: report, don't throw
    val someFile = java.nio.file.Files.walk(java.nio.file.Paths.get(bundle))
      .toArray.map(_.toString)
      .filter(p => p.contains("/postings/") && p.endsWith(".parquet")).head
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(someFile))
    java.nio.file.Files.write(java.nio.file.Paths.get(someFile),
      bytes.take(bytes.length / 2))
    val truncated = checks(bundle)
    assert(!truncated.getOrElse("file-size", (true, ""))._1,
      s"truncation must be reported: $truncated")
    assert(!truncated.contains("file-sizes"),
      "the all-sizes-ok summary row must not appear alongside a mismatch")

    // missing file: report, don't throw
    java.nio.file.Files.delete(java.nio.file.Paths.get(someFile))
    val missing = checks(bundle)
    assert(!missing.getOrElse("file-missing", (true, ""))._1,
      s"missing file must be reported: $missing")

    // pre-r16 manifest (runs lines stripped) → run-inventory not ok
    val mf = java.nio.file.Paths.get(bundle, "_manifest")
    val lines = java.nio.file.Files.readAllLines(mf).toArray.map(_.toString)
    java.nio.file.Files.write(mf,
      lines.filterNot(l => l.startsWith("runs=") || l.startsWith("run="))
        .mkString("\n").getBytes("UTF-8"))
    // the local Hadoop FS checksums reads: editing the manifest behind its
    // back must drop the stale .crc or the verifier reads a torn manifest
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(bundle, "._manifest.crc"))
    val legacy = checks(bundle)
    assert(!legacy("run-inventory")._1 &&
      legacy("run-inventory")._2.contains("pre-r16"), s"$legacy")

    // manifest-less directory: one loud row, nothing thrown
    val torn = s"$dir/torn"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(torn))
    val t = checks(torn)
    assert(t.size == 1 && !t("manifest")._1, s"$t")
  }
}
