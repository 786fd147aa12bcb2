package graft

import graft.operators.Bpe
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** BPE vocabulary induction: merge selection, greedy left-to-right
  * application, boundary safety, scope filter. Cross-engine parity is the
  * q_bpe_train oracle row. */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  private def docs(texts: String*) = texts.toDF("text")

  test("bpe: most frequent pair wins; overlapping pairs merge greedily") {
    // corpus: aaa x2, abab x1; 'Z9' is out of scope
    val d = docs("aaa aaa abab Z9")
    val (ms, vocab) = Bpe.train(d, "text", 1)
    assert(ms == Seq(Bpe.Merge("a", "a", 4))) // 2 overlapping pairs x f=2
    val v = vocab.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // 'aaa' -> [aa, a] (greedy left-to-right, no triple merge)
    assert(v == Map("aa" -> 2L, "a" -> 4L, "b" -> 2L))
  }

  test("bpe: ties break lexicographically on (t1, t2)") {
    val d = docs("aaa aaa abab Z9")
    val (ms, vocab) = Bpe.train(d, "text", 2)
    // after (a,a): candidates (aa,a)=2 and (a,b)=2 tie on count;
    // t1 'a' < 'aa' so (a,b) wins
    assert(ms(1) == Bpe.Merge("a", "b", 2))
    val v = vocab.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(v == Map("aa" -> 2L, "a" -> 2L, "ab" -> 2L))
  }

  test("bpe: merged tokens never match inside other tokens") {
    // token 'xab' contains 'ab' as a substring; merging (a,b) must not
    // touch it (it is a single token 'x','a','b' -> pairs (x,a),(a,b))
    val d = docs("ab ab ab xb xb")
    val (ms, vocab) = Bpe.train(d, "text", 1)
    assert(ms == Seq(Bpe.Merge("a", "b", 3)))
    val v = vocab.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(v == Map("ab" -> 3L, "x" -> 2L, "b" -> 2L))
  }

  test("bpe: runs out of pairs cleanly when words are fully merged") {
    val d = docs("ab ab")
    val (ms, vocab) = Bpe.train(d, "text", 10) // asks for more than exist
    assert(ms.head == Bpe.Merge("a", "b", 2))
    assert(ms.length < 10) // stopped when no pairs remained
    val v = vocab.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(v == Map("ab" -> 2L))
  }

  test("bpe apply: segmentation matches training; OOV words pass through") {
    val d = docs("abab xy Z9 abab")
    val (ms, _) = Bpe.train(d, "text", 2) // learns (a,b) then (ab,ab)
    val out = Bpe.applyMerges(d.withColumn("doc_id", lit(1L)), "text", "doc_id", ms)
      .collect().map(r => (r.getInt(1), r.getInt(2), r.getString(3))).sorted
    // "abab xy Z9 abab": abab → [abab]; xy → [x, y]; Z9 (OOV) → [Z9]
    assert(out.toSeq == Seq((0, 0, "abab"), (1, 0, "x"), (1, 1, "y"),
      (2, 0, "Z9"), (3, 0, "abab")))
  }

  test("bpe apply: concatenating tokens reconstructs every word (lossless)") {
    val d = Tables(spark, "/root/testdata/sf0.001", "documents")
      .withColumn("doc_id", col("doc_id"))
    val ms = Bpe.train(d, "text", 3)._1
    val rebuilt = Bpe.applyMerges(d, "text", "doc_id", ms)
      .groupBy("doc_id", "pos")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("subpos"), col("token")))),
        x => x("token")), "").as("w2"))
    val orig = d.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "w1")))
    val mismatches = rebuilt.join(orig, Seq("doc_id", "pos"))
      .filter(col("w1") =!= col("w2")).count()
    assert(mismatches == 0)
  }

  test("bpe: batched selection learns the IDENTICAL merge sequence as the " +
       "sequential loop, in fewer Spark actions") {
    // disjoint-alphabet word families so batches can accept several
    // merges, plus shared-letter families that force the disjointness and
    // interference rules to fire (partial batches) — and a product
    // collision: 'ab' exists as a 2-char word while (a,b) merges
    val d = docs(
      "aa aa aa aa cc cc cc dd dd ee",
      "ab ab ab a b a b a b",
      "xy xy xz zx yx",
      "pq pq qr rs st")
    val many = 12
    // count jobs in a DEDICATED job group, not by differencing the default
    // group's retained-job list: the status store evicts old entries, so
    // late in a long suite the "after" count can be SMALLER than the
    // "before" count (observed: sequential=-74) — eviction, not physics
    def trainCounted(group: String, batchSize: Int) = {
      graft.CacheRegistry.releaseAll()
      spark.sparkContext.setJobGroup(group, group)
      val r = try Bpe.train(d, "text", many, batchSize = batchSize, driverWords = 0)
      finally spark.sparkContext.clearJobGroup()
      (r, spark.sparkContext.statusTracker.getJobIdsForGroup(group).length)
    }
    val ((seqMs, seqVocab), seqJobs) = trainCounted("bpe_seq", 1)
    val ((batMs, batVocab), batJobs) = trainCounted("bpe_bat", 16)
    assert(batMs == seqMs,
      s"batched selection diverged from sequential:\n$batMs\n$seqMs")
    val sv = seqVocab.collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    val bv = batVocab.collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
    assert(bv == sv)
    assert(batJobs < seqJobs,
      s"batching must cut the action count: batched=$batJobs sequential=$seqJobs")
  }

  test("bpe: lineage-cut interval does not change results (regime equivalence)") {
    val d = Tables(spark, "/root/testdata/sf0.001", "documents")
    val (mA, vA) = Bpe.train(d, "text", 5, checkpointEvery = 2, driverWords = 0)
    val (mB, vB) = Bpe.train(d, "text", 5, checkpointEvery = 100, driverWords = 0)
    assert(mA == mB)
    val a = vA.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = vB.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a == b)
    // apply under a tight cut interval still reconstructs losslessly
    val out = Bpe.applyMerges(d, "text", "doc_id", mA, checkpointEvery = 2)
    assert(out.count() > 0)
  }

  test("bpe: deterministic across runs on real data") {
    val d = Tables(spark, "/root/testdata/sf0.001", "documents")
    val a = Bpe.train(d, "text", 3)._1
    val b = Bpe.train(d, "text", 3)._1
    assert(a == b)
    assert(a.length == 3)
  }

  test("bpe merge artifact: save -> load preserves order and applies identically") {
    import graft.operators.Bpe
    import spark.implicits._
    val docs = Seq((1L, "low lower lowest newest"), (2L, "low lowest new new"))
      .toDF("doc_id", "text")
    val (merges, _) = Bpe.train(docs, "text", merges = 6)
    val path = java.nio.file.Files.createTempDirectory("graft-bpe").toString + "/merges"
    Bpe.saveMerges(spark, merges, path)
    val loaded = Bpe.loadMerges(spark, path)
    assert(loaded == merges, "artifact round-trip must preserve the ordered list")
    val direct = Bpe.applyMerges(docs, "text", "doc_id", merges)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3))).sorted.toSeq
    val viaArtifact = Bpe.applyMerges(docs, "text", "doc_id", loaded)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3))).sorted.toSeq
    assert(direct == viaArtifact)
  }

  test("trainEncode == applyMerges(train(..)._1) — the dictionary-reuse " +
    "fast path is result-identical, incl. OOV passthrough") {
    import spark.implicits._
    // OOV tokens (digits, mixed case) + short docs + repeated words cover
    // the passthrough, empty-merge-effect and multi-position paths
    val docs = Seq((1L, "low lower lowest newest 42 Mixed"),
      (2L, "low lowest new new"), (3L, ""), (4L, "zz")).toDF("doc_id", "text")
    for (m <- Seq(0, 2, 6)) {
      val slow = Bpe.applyMerges(docs, "text", "doc_id",
          Bpe.train(docs, "text", m)._1)
        .collect().map(_.toString).sorted.toSeq
      val fast = Bpe.trainEncode(docs, "text", "doc_id", m)
        .collect().map(_.toString).sorted.toSeq
      assert(fast == slow, s"divergence at merges=$m")
    }
    // and on real fixture data at sf0.001
    val real = Tables(spark, "/root/testdata/sf0.001", "documents")
    val slow = Bpe.applyMerges(real, "text", "doc_id",
        Bpe.train(real, "text", 4)._1)
      .collect().map(_.toString).sorted.toSeq
    val fast = Bpe.trainEncode(real, "text", "doc_id", 4)
      .collect().map(_.toString).sorted.toSeq
    assert(fast == slow)
  }

  /** The job descriptions of the Spark jobs `body` starts on this thread,
    * in start order, and the description in force when `body` returns. */
  private def jobLabels[T](body: => T): (T, Seq[String], String) = {
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val group = s"bpe-labels-${java.util.UUID.randomUUID()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add((j.properties.getProperty("spark.jobGroup.id"),
          j.properties.getProperty("spark.job.description")))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "caller")
      val out = body
      val after = sc.getLocalProperty("spark.job.description")
      sc.setJobGroup(s"$group-marker", "marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.asScala.exists(_._1 == s"$group-marker") && System.nanoTime() < deadline)
        Thread.sleep(10)
      (out, seen.asScala.filter(_._1 == group).map(_._2).toSeq, after)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** Trains `d` (doc_id, text) on the driver and distributed, asserts that
    * the two agree on merges, vocabulary and encoding, and returns the
    * merges, the vocabulary and the encoding. */
  private def bothPaths(d: DataFrame, merges: Int,
                        clue: String): (Seq[Bpe.Merge], Seq[String], Seq[String]) = {
    val (dm, dv) = Bpe.train(d, "text", merges)
    val (xm, xv) = Bpe.train(d, "text", merges, driverWords = 0)
    assert(dm == xm, s"$clue: merges differ")
    val vocab = rows(dv)
    assert(vocab == rows(xv), s"$clue: vocabularies differ")
    val enc = rows(Bpe.trainEncode(d, "text", "doc_id", merges))
    assert(enc == rows(Bpe.trainEncode(d, "text", "doc_id", merges, driverWords = 0)),
      s"$clue: encodings differ")
    graft.CacheRegistry.releaseAll()
    (dm, vocab, enc)
  }

  test("bpe: the driver path and the distributed path learn the same merges, " +
       "vocabulary and encoding") {
    import spark.implicits._
    // two words tying at count 2, each merging down to one token; NULL and
    // empty text, a doubled space, and out-of-scope tokens
    val edge = Seq[(Long, String)]((1L, "ab cd Foo x1"), (2L, null), (3L, ""),
      (4L, "cd  ab")).toDF("doc_id", "text")
    val (none, noneVocab, noneEnc) = bothPaths(edge, 0, "merges = 0")
    assert(none.isEmpty)
    assert(noneVocab == Seq("[a,2]", "[b,2]", "[c,2]", "[d,2]"))
    val (ms, vocab, enc) = bothPaths(edge, 10, "more merges than exist")
    assert(ms == Seq(Bpe.Merge("a", "b", 2), Bpe.Merge("c", "d", 2)))
    assert(vocab == Seq("[ab,2]", "[cd,2]"))
    assert(enc == Seq("[1,0,0,ab]", "[1,1,0,cd]", "[1,2,0,Foo]", "[1,3,0,x1]",
      "[3,0,0,]", "[4,0,0,cd]", "[4,1,0,]", "[4,2,0,ab]"))
    assert(noneEnc.contains("[1,0,1,b]") && noneEnc.contains("[1,2,0,Foo]"))
    // a word that merges down to one token while others stay split
    val (oneMs, oneVocab, _) = bothPaths(
      Seq((1L, "abc abc abd")).toDF("doc_id", "text"), 2, "one token")
    assert(oneMs == Seq(Bpe.Merge("a", "b", 3), Bpe.Merge("ab", "c", 2)))
    assert(oneVocab == Seq("[ab,1]", "[abc,2]", "[d,1]"))
    // generated corpora: small alphabets make equal-count ties and shared
    // letters common; out-of-scope tokens ride along
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      def word(): String = rnd.nextInt(12) match {
        case 0 => "Foo"
        case 1 => s"x${rnd.nextInt(9)}"
        case _ => Seq.fill(rnd.nextInt(6) + 1)(('a' + rnd.nextInt(2 + seed)).toChar).mkString
      }
      val d = (1L to 40L).map(k => (k, Seq.fill(rnd.nextInt(8))(word()).mkString(" ")))
        .toDF("doc_id", "text")
      val (gm, _, _) = bothPaths(d, 12, s"seed $seed")
      assert(gm.nonEmpty)
    }
  }

  test("bpe: the word collect and the loop run under job descriptions that " +
       "name the path; the caller's description is restored") {
    val d = docs("aaa aaa abab Z9")
    val ((dm, _), driverJobs, afterDriver) = jobLabels(Bpe.train(d, "text", 2))
    assert(driverJobs.nonEmpty && driverJobs.forall(_ == Bpe.DriverLabel), driverJobs)
    assert(afterDriver == "caller")
    val ((xm, _), distJobs, afterDist) = jobLabels(Bpe.train(d, "text", 2, driverWords = 0))
    assert(dm == xm)
    // the collect runs as the driver path's, then the loop as distributed
    val (collect, loop) = distJobs.span(_ == Bpe.DriverLabel)
    assert(collect.nonEmpty && loop.nonEmpty &&
      loop.forall(_ == Bpe.DistributedLabel), distJobs)
    assert(afterDist == "caller")
    graft.CacheRegistry.releaseAll()
  }

  test("bpe: a vocabulary of DriverWords + 1 words trains distributed; the " +
       "driver collects at most bound + 1 rows") {
    val bound = Bpe.DriverWords
    // bound + 1 distinct four-letter words, one per document
    val letter = (k: Long) => expr(s"char(97 + pmod(floor(id / $k), 26))")
    val d = spark.range(bound + 1L)
      .select(concat(letter(1), letter(26), letter(676), letter(17576)).as("text"))
    val words = Bpe.wordCounts(d, "text")
    assert(Bpe.collectWords(words, bound).length == bound + 1)
    assert(Bpe.collectWords(words, 10).length == 11)
    // the corpus is aggregated ONCE: the bounded collect and the
    // distributed loop read the same word table, so a tap on the corpus
    // counts each document once over the whole training
    val read = spark.sparkContext.longAccumulator("bpe corpus rows")
    val tap = udf { (t: String) => read.add(1); t }.asNondeterministic()
    val ((ms, vocab), labels, _) =
      jobLabels(Bpe.train(d.select(tap(col("text")).as("text")), "text", 2))
    assert(labels.contains(Bpe.DistributedLabel), labels)
    assert(read.sum == bound + 1L,
      s"distributed training read ${read.sum} corpus rows, not ${bound + 1}")
    val (driverMs, driverVocab) = Bpe.train(d, "text", 2, driverWords = bound + 1)
    assert(ms == driverMs)
    assert(rows(vocab) == rows(driverVocab))
    graft.CacheRegistry.releaseAll()
  }
}
