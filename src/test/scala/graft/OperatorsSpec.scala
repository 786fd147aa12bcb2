package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators._
import graft.functions.{VectorFunctions => VF}

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  // --- Set matrix (proto:874-1040) -----------------------------------------

  private lazy val base = Seq(("k1", 10.0), ("k2", 20.0)).toDF("key", "v")
  private lazy val delta = Seq(("k2", 20.0), ("k3", 30.0), ("k4", 40.0)).toDF("key", "v")

  private def statuses(mode: Mutations.WriteMode) =
    Mutations.set(base, delta, "key", mode).collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap

  test("set upsert: NEW / UPDATED / NOTHING_CHANGED per key") {
    val m = statuses(Mutations.Upsert)
    assert(m == Map("k1" -> "NOTHING_CHANGED", "k2" -> "NOTHING_CHANGED",
      "k3" -> "NEW", "k4" -> "NEW"))
    val upd = Mutations.set(base, Seq(("k1", 99.0)).toDF("key", "v"), "key")
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getString(2))).toMap
    assert(upd("k1") == (99.0, "UPDATED"))
  }
  test("set insert-only never touches existing rows") {
    val out = Mutations.set(base, Seq(("k1", 99.0), ("k5", 5.0)).toDF("key", "v"),
      "key", Mutations.InsertOnly).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getString(2))).toMap
    assert(out("k1") == (10.0, "NOTHING_CHANGED"))
    assert(out("k5") == (5.0, "NEW"))
  }
  test("set update-only drops unknown keys") {
    val m = statuses(Mutations.UpdateOnly)
    assert(m.keySet == Set("k1", "k2"))
  }
  test("set: key-only base, null-key delta, and null-key base survival") {
    // key-only base (a membership set): no value columns — the changed
    // disjunction must fold from false, not throw on an empty reduce
    val keyOnly = Seq(Tuple1("k1")).toDF("key")
    val ko = Mutations.set(keyOnly, Seq(Tuple1("k2")).toDF("key"), "key")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(ko == Map("k1" -> "NOTHING_CHANGED", "k2" -> "NEW"))
    // a null-key DELTA row is unaddressable: stripped, not emitted as a
    // phantom all-NULL row
    val withNullDelta = Mutations.set(base,
      Seq((Option("k1"), 99.0), (None: Option[String], 7.0)).toDF("key", "v"), "key")
      .collect().map(r => Option(r.getString(0))).toSet
    assert(!withNullDelta.contains(None), "null-key delta row must not surface")
    // a null-key BASE row passes through every mode — DryRun's contract is
    // output == base EXACTLY (presence flags, not key nullness)
    val nullBase = Seq((Option("k1"), 1.0), (None: Option[String], 2.0)).toDF("key", "v")
    val dr = Mutations.set(nullBase, Seq(("k1", 9.0)).toDF("key", "v"), "key",
      Mutations.DryRun).collect().map(r => Option(r.getString(0)) -> r.getDouble(1)).toMap
    assert(dr == Map(Some("k1") -> 1.0, None -> 2.0),
      s"DryRun must preserve the null-key base row: $dr")
  }
  test("set dry-run writes nothing: data == base, statuses populated") {
    val out = Mutations.set(base, Seq(("k1", 99.0), ("k5", 5.0)).toDF("key", "v"),
      "key", Mutations.DryRun).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getString(2))).toMap
    assert(out == Map("k1" -> (10.0, "NOTHING_CHANGED"), "k2" -> (20.0, "NOTHING_CHANGED")))
  }
  test("setStatuses: per-delta-key outcomes include NOT_FOUND") {
    val d = Seq(("k1", 99.0), ("k2", 20.0), ("k5", 5.0)).toDF("key", "v")
    def m(mode: Mutations.WriteMode) =
      Mutations.setStatuses(base, d, "key", mode).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m(Mutations.Upsert) ==
      Map("k1" -> "UPDATED", "k2" -> "NOTHING_CHANGED", "k5" -> "NEW"))
    assert(m(Mutations.UpdateOnly) ==
      Map("k1" -> "UPDATED", "k2" -> "NOTHING_CHANGED", "k5" -> "NOT_FOUND"))
    assert(m(Mutations.DryRun) ==
      Map("k1" -> "NOTHING_CHANGED", "k2" -> "NOTHING_CHANGED", "k5" -> "NOT_FOUND"))
  }

  // --- increment / slices ---------------------------------------------------

  test("conditional increment applies only where condition holds on current value") {
    val out = Mutations.incrementWhere(base, "v", lit(5.0), col("v") < 15.0)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getBoolean(2))).toMap
    assert(out("k1") == (15.0, true) && out("k2") == (20.0, false))
  }

  test("incrementWhere preserves the column's exact numeric type per width") {
    // proto:1607-2149: one typed RPC per width; the value's type must
    // survive the read-modify-write even when the delta is wider
    val df = Seq((1L, 10.toByte, 10.toShort, 10, 10L, 1.5f))
      .toDF("k", "i8", "i16", "i32", "i64", "f32")
    Seq("i8" -> ByteType, "i16" -> ShortType, "i32" -> IntegerType,
        "i64" -> LongType, "f32" -> FloatType).foreach { case (c, dt) =>
      val out = Mutations.incrementWhere(df, c, lit(5.0), lit(true))
      assert(out.schema(c).dataType == dt, s"$c widened to ${out.schema(c).dataType}")
    }
    val r = Mutations.incrementWhere(df, "i8", lit(5), lit(true)).head()
    assert(r.getByte(r.fieldIndex("i8")) == 15.toByte)
  }

  test("slice push/delete keep set semantics, sorted") {
    val df = Seq(("k", Seq(3L, 1L))).toDF("key", "ids")
    val out = df.select(
      Mutations.slicePush(col("ids"), Seq(2L, 3L)).as("pushed"),
      Mutations.sliceDelete(col("ids"), Seq(1L, 9L)).as("deleted")).head()
    assert(out.getSeq[Long](0) == Seq(1L, 2L, 3L))
    assert(out.getSeq[Long](1) == Seq(3L))
  }

  // --- patch (proto:2988-3255) ----------------------------------------------

  test("patch: SET/INC/APPEND under condition; INC preserves numeric type") {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row("a", org.apache.spark.sql.Row(1.toByte, Seq("t1")), true),
        org.apache.spark.sql.Row("b", org.apache.spark.sql.Row(2.toByte, Seq("t2")), false))),
      StructType(Seq(
        StructField("k", StringType),
        StructField("body", StructType(Seq(
          StructField("n", ByteType), StructField("tags", ArrayType(StringType))))),
        StructField("cond", BooleanType))))
    val out = Patch.applyPatch(df, "body",
      Seq(Patch.IncField("n", lit(1)), Patch.Append("tags", array(lit("x")))),
      condition = col("cond"))
    // type preserved: ByteType + 1 stays ByteType (msgpackpatch/numeric.go)
    assert(out.schema("body").dataType.asInstanceOf[StructType]("n").dataType == ByteType)
    val rows = out.collect().map(r => r.getString(0) ->
      (r.getStruct(1).getByte(0), r.getStruct(1).getSeq[String](1))).toMap
    assert(rows("a") == (2.toByte, Seq("t1", "x")))
    assert(rows("b") == (2.toByte, Seq("t2"))) // condition unmet: untouched
  }

  test("patch: RemoveAt / RemoveVal / Delete / Prepend") {
    val df = Seq(("a", (Seq(10, 20, 30), "keep"))).toDF("k", "body")
    val out = Patch.applyPatch(df, "body", Seq(
      Patch.RemoveAt("_1", 1),
      Patch.Prepend("_1", array(lit(5)))))
      .select(col("body._1")).head().getSeq[Int](0)
    assert(out == Seq(5, 10, 30))
  }

  test("patch: schema-changing ops work unconditionally, are refused with " +
       "a per-row condition; null operands are no-ops, not field wipes") {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row("a",
          org.apache.spark.sql.Row("s1", 1.0, Seq("t1"), Map("m" -> 1)), true))),
      StructType(Seq(
        StructField("k", StringType),
        StructField("body", StructType(Seq(
          StructField("status", StringType), StructField("price", DoubleType),
          StructField("tags", ArrayType(StringType)),
          StructField("attrs", MapType(StringType, IntegerType))))),
        StructField("cond", BooleanType))))
    // unconditional DeleteField (schema-changing): must analyze and run
    val dropped = Patch.applyPatch(df, "body", Seq(Patch.DeleteField("status")))
    assert(!dropped.schema("body").dataType.asInstanceOf[StructType]
      .fieldNames.contains("status"))
    // unconditional SetField of a NEW field: also schema-changing, works
    val added = Patch.applyPatch(df, "body", Seq(Patch.SetField("newf", lit(7))))
    assert(added.select(col("body.newf")).head().getInt(0) == 7)
    // the same ops under a REAL condition: loud refusal, not AnalysisException
    val e = intercept[IllegalArgumentException] {
      Patch.applyPatch(df, "body", Seq(Patch.DeleteField("status")),
        condition = col("cond"))
    }
    assert(e.getMessage.contains("SCHEMA"), e.getMessage)
    // null operands: Inc/Append/MergeMap leave the field IDENTICAL
    val out = Patch.applyPatch(df, "body", Seq(
      Patch.IncField("price", lit(null).cast("double")),
      Patch.Append("tags", lit(null).cast("array<string>")),
      Patch.MergeMap("attrs", lit(null).cast("map<string,int>"))))
      .select("body.price", "body.tags", "body.attrs").head()
    assert(out.getDouble(0) == 1.0 && out.getSeq[String](1) == Seq("t1") &&
      out.getMap[String, Int](2) == Map("m" -> 1),
      s"null operand wiped a field: $out")
    // negative RemoveAt: driver-side fail-fast
    intercept[IllegalArgumentException] {
      Patch.applyPatch(df, "body", Seq(Patch.RemoveAt("tags", -1)))
    }
  }

  // --- shift / cap -----------------------------------------------------------

  test("shift claims oldest-first, claimed and remaining are disjoint and complete") {
    val df = Seq(
      ("e1", java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      ("e2", java.sql.Timestamp.valueOf("2024-01-02 00:00:00")),
      ("e3", java.sql.Timestamp.valueOf("2024-01-03 00:00:00")),
      ("e4", java.sql.Timestamp.valueOf("2024-02-01 00:00:00"))
    ).toDF("key", "exp")
    val r = Shift.shiftExpired(df, "exp", "key",
      java.sql.Timestamp.valueOf("2024-01-15 00:00:00"), 2)
    assert(r.claimed.select("key").as[String].collect().toSeq == Seq("e1", "e2"))
    assert(r.remaining.select("key").as[String].collect().toSet == Set("e3", "e4"))
  }

  test("cap gate flags when post-state exceeds quota") {
    val df = Seq.tabulate(10)(i => (s"k$i", i)).toDF("key", "v")
    val flagged = Shift.capGate(df, col("v") >= 5, maxMatching = 3)
    assert(flagged.select("_cap_reached").distinct().as[Boolean].head())
    val ok = Shift.capGate(df, col("v") >= 8, maxMatching = 3)
    assert(!ok.select("_cap_reached").distinct().as[Boolean].head())
  }

  // --- vector expression cross-check ----------------------------------------

  test("custom DotProductConst == HOF formulation, handles dim mismatch") {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(Seq(0.5f, 0.5f, 0.7f)),
        org.apache.spark.sql.Row(Seq(0.1f, 0.2f)))),
      StructType(Seq(StructField("v", ArrayType(FloatType)))))
    val q = Array(0.3f, 0.4f, 0.5f)
    val both = df.filter(size(col("v")) === 3)
      .select(VF.cosine(col("v"), q).as("fast"), VF.cosineHof(col("v"), q).as("ref"))
      .head()
    assert(math.abs(both.getDouble(0) - both.getDouble(1)) < 1e-12)
    // mismatch => 0.0 (guarded by size() in filters)
    val mm = df.filter(size(col("v")) === 2).select(VF.cosine(col("v"), q)).head().getDouble(0)
    assert(mm == 0.0)
  }

  test("custom two-child DotProduct == HOF formulation, mixed element types") {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(Seq(0.5f, 0.5f, 0.7f), Seq(0.3, 0.4, 0.5)),
        org.apache.spark.sql.Row(Seq(0.1f, 0.2f, 0.3f), Seq(1.0, 2.0, 3.0)))),
      StructType(Seq(StructField("a", ArrayType(FloatType)),
        StructField("b", ArrayType(DoubleType)))))
    df.select(VF.dot(col("a"), col("b")).as("fast"),
        VF.dotHof(col("a"), col("b")).as("ref"))
      .collect().foreach { r =>
        assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12)
      }
    // dim mismatch => 0.0; NULL side => NULL
    val mm = df.select(VF.dot(col("a"), slice(col("b"), 1, 2))).head().getDouble(0)
    assert(mm == 0.0)
    val nl = df.select(VF.dot(col("a"), lit(null).cast(ArrayType(DoubleType)))).head()
    assert(nl.isNullAt(0))
  }

  // --- dedup / similarity -----------------------------------------------------

  test("exact dedup keeps min-key winner per digest") {
    val df = Seq((3L, "same text"), (1L, "same text"), (2L, "other")).toDF("id", "text")
    val kept = Dedup.exact(df, "text", "id").select("id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L))
  }

  test("exact dedup: null-text rows form ONE group and keep their winner") {
    // md5(NULL) is NULL and a null-hostile semi-join would drop the whole
    // group — including its elected winner — silently shrinking the corpus
    val df = Seq((5L, null), (4L, null), (2L, "kept"))
      .toDF("id", "text")
    val kept = Dedup.exact(df, "text", "id").select("id").as[Long].collect().toSet
    assert(kept == Set(4L, 2L), s"null-text group must keep min-key winner: $kept")
  }

  test("index read: excludeKeys is null-safe on both sides") {
    import graft.operators.IndexRead
    val df = Seq(Tuple1(Option("k1")), Tuple1(Option("k2")),
      Tuple1(None: Option[String])).toDF("key")
    // a null-keyed ROW can never be named by an exclude list => it stays
    val r1 = IndexRead.run(df, IndexRead.IndexQuery(excludeKeys = Seq("k1")))
      .select("key").collect().map(r => Option(r.getString(0))).toSet
    assert(r1 == Set(Some("k2"), None), s"null-keyed row must survive exclude: $r1")
    // a null PROBE key poisons the three-valued isin => stripped, not fatal
    val r2 = IndexRead.run(df, IndexRead.IndexQuery(excludeKeys = Seq("k1", null)))
      .select("key").collect().map(r => Option(r.getString(0))).toSet
    assert(r2 == Set(Some("k2"), None), s"null probe key must be stripped: $r2")
    // includeKeys: null probes stripped; an all-null include matches nothing
    val r3 = IndexRead.run(df, IndexRead.IndexQuery(includeKeys = Seq(null)))
      .count()
    assert(r3 == 0L)
  }

  test("minhash LSH finds the planted near-duplicate") {
    val a = (1 to 40).map(i => s"w$i").mkString(" ")
    val b = (1 to 40).map(i => if (i == 40) "CHANGED" else s"w$i").mkString(" ")
    val c = (100 to 140).map(i => s"z$i").mkString(" ")
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("id", "text")
    val pairs = Dedup.minhashLsh(df, "text", "id", shingleN = 3,
      numHashes = 16, bands = 4, threshold = 0.5)
      .select("key_a", "key_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("brute-force topK is ordered and bounded") {
    val rows = (0 until 50).map { i =>
      val x = i / 50.0
      org.apache.spark.sql.Row(i.toLong, Seq(x.toFloat, math.sqrt(1 - x * x).toFloat))
    }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows),
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
    val top = Similarity.bruteForceTopK(df, "embedding", "vec_id", Array(1.0f, 0.0f), 5)
      .select("vec_id").as[Long].collect().toSeq
    assert(top == Seq(49L, 48L, 47L, 46L, 45L))
  }

  // --- multimodal plumbing ----------------------------------------------------

  test("prebuilt IVF: partition-pruned scan, same results as per-query form") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    val rnd = new scala.util.Random(5)
    def vec() = {
      val v = Array.fill(8)((rnd.nextDouble() * 2 - 1).toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n).toSeq
    }
    val df = (0L until 200L).map(i => i -> vec()).toDF("vec_id", "embedding")
    Similarity.ivfBuild(df, "embedding", "vec_id", s"$tmp/idx", dim = 8, nlist = 8)
    val q = df.filter(col("vec_id") === 0).head().getSeq[Float](1).toArray

    val pre = Similarity.ivfTopKPrebuilt(spark, s"$tmp/idx", "embedding", "vec_id",
      q, 5, nlist = 8, nprobe = 2)
    val direct = Similarity.ivfTopK(df, "embedding", "vec_id", q, 5,
      nlist = 8, nprobe = 2)
    assert(pre.collect().toSeq.map(r => (r.getLong(0), r.getDouble(1))) ==
      direct.collect().toSeq.map(r => (r.getLong(0), r.getDouble(1))))
    // the probe must reach the scan as a PARTITION filter (pruned read),
    // not a post-scan predicate
    val plan = pre.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("_list"))
  }

  test("bucketed join: co-partitioned tables join with no Exchange") {
    def reset(t: String): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      // a crashed prior JVM can leave the managed location without the
      // catalog entry; saveAsTable then refuses LOCATION_ALREADY_EXISTS
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
        }
        rm(loc)
      }
    }
    reset("bkt_a"); reset("bkt_b")
    Bucketing.writeBucketed(
      (1L to 1000L).map(i => (i, s"a$i")).toDF("k", "va"), "bkt_a", "k", 4)
    Bucketing.writeBucketed(
      (500L to 1500L).map(i => (i, s"b$i")).toDF("k", "vb"), "bkt_b", "k", 4)
    // disable broadcast so the planner must pick sort-merge — the big-big
    // join shape bucketing exists for; small inputs would otherwise take
    // a BroadcastHashJoin and never exercise the bucketed path
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = Bucketing.bucketedJoin(spark, "bkt_a", "bkt_b", "k")
      assert(joined.count() == 501)
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
      assert(plan.contains("SortMergeJoin") && plan.contains("Bucketed: true"),
        s"expected a bucketed sort-merge join:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // spec-mismatch refusals: a silent shuffle is the failure bucketing
    // exists to remove, so it must be loud
    spark.sql("DROP TABLE IF EXISTS bkt_c")
    Bucketing.writeBucketed(
      (1L to 100L).map(i => (i, s"c$i")).toDF("k", "vc"), "bkt_c", "k", 8)
    val cntErr = intercept[IllegalArgumentException] {
      Bucketing.bucketedJoin(spark, "bkt_a", "bkt_c", "k")
    }
    assert(cntErr.getMessage.contains("bucket counts differ"), s"$cntErr")
    spark.sql("DROP TABLE IF EXISTS bkt_plain")
    (1L to 10L).map(i => (i, i)).toDF("k", "vp")
      .write.mode("overwrite").saveAsTable("bkt_plain")
    val specErr = intercept[IllegalArgumentException] {
      Bucketing.bucketedJoin(spark, "bkt_a", "bkt_plain", "k")
    }
    assert(specErr.getMessage.contains("not bucketed on 'k'"), s"$specErr")
    Seq("bkt_c", "bkt_plain").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("deleteStatuses: DELETED for existing keys, NOT_FOUND otherwise") {
    val keys = Seq("k1", "k9").toDF("key")
    val m = Mutations.deleteStatuses(base, keys, "key")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m == Map("k1" -> "DELETED", "k9" -> "NOT_FOUND"))
  }

  test("SQL surface: graft_phrase / graft_dot / graft_cosine resolve and agree with the typed API") {
    GraftExtensions.register(spark)
    Seq((1L, "the quick brown fox", Seq(0.5f, 0.5f)),
        (2L, "fox brown quick the", Seq(1.0f, 0.0f)))
      .toDF("id", "text", "v")
      .withColumn("toks", split(col("text"), " "))
      .createOrReplaceTempView("sqlext_t")
    val phrase = spark.sql(
      "SELECT id FROM sqlext_t WHERE graft_phrase(toks, 'quick', 'brown')")
      .collect().map(_.getLong(0)).toSet
    assert(phrase == Set(1L))
    val dots = spark.sql(
      "SELECT round(graft_dot(v, v), 6) AS d, round(graft_cosine(v, array(1.0D, 0.0D)), 6) AS c FROM sqlext_t ORDER BY id")
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    assert(dots(0) == (0.5, 0.5) && dots(1) == (1.0, 1.0))
    // dimension mismatch in graft_cosine => 0.0
    assert(spark.sql("SELECT graft_cosine(v, array(1.0D)) FROM sqlext_t LIMIT 1")
      .head().getDouble(0) == 0.0)
  }

  test("snapshot version diff: NEW/MODIFIED/DELETED between two versions") {
    val dir = java.nio.file.Files.createTempDirectory("graft_snapdiff").toString + "/t"
    Snapshots.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"), dir)
    Snapshots.commit(Seq((1L, "a"), (2L, "B"), (4L, "d")).toDF("k", "v"), dir)
    val d = Snapshots.diff(spark, dir, 0L, 1L, "k")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // 1 unchanged (absent), 2 modified, 3 deleted, 4 new
    assert(d == Set((2L, "MODIFIED"), (3L, "DELETED"), (4L, "NEW")))
    // replaying the same immutable versions is repeatable
    assert(Snapshots.diff(spark, dir, 0L, 1L, "k").count() == 3)
  }

  test("snapshot commit/read/time-travel/vacuum with atomic pointer swap") {
    val dir = java.nio.file.Files.createTempDirectory("graft_snap").toString + "/t"
    assert(Snapshots.currentVersion(spark, dir).isEmpty)
    val v0 = Snapshots.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir)
    assert(v0 == 0L)
    // shift-style rewrite: claim key 1, commit survivors as the next version
    val survivors = Snapshots.read(spark, dir).filter(col("k") =!= 1L)
    val v1 = Snapshots.commit(survivors, dir)
    assert(v1 == 1L && Snapshots.currentVersion(spark, dir).contains(1L))
    assert(Snapshots.read(spark, dir).count() == 1)
    assert(Snapshots.read(spark, dir, Some(0L)).count() == 2) // time travel
    Snapshots.vacuum(spark, dir, keepFrom = 1L)
    assertThrows[Exception](Snapshots.read(spark, dir, Some(0L)).collect())
    assert(Snapshots.read(spark, dir).count() == 1) // latest untouched
  }

  test("maintain: fragmentation-triggered compaction reclaims bytes, keeps results and meta") {
    val dir = java.nio.file.Files.createTempDirectory("graft_maint").toString + "/t"
    // churn: 5 commits of the same keys → 4 superseded versions = dead bytes
    (0 until 5).foreach { i =>
      Snapshots.commit(
        (1L to 50L).map(k => (k, s"v$i-$k")).toDF("k", "v").repartition(8),
        dir, meta = Map("stream.runId" -> "run-A", "stream.batchId" -> i.toString))
    }
    val before = Snapshots.read(spark, dir).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytesBefore = f.getContentSummary(new org.apache.hadoop.fs.Path(dir)).getLength
    // below both thresholds → no-op (frag ≈ 0.8 needs ≥0.9; 5 versions ≤ 8)
    val skip = Snapshots.maintain(spark, dir, maxVersions = 8, fragmentationThreshold = 0.9)
    assert(!skip.compacted && skip.versionsBefore == 5 && skip.fragmentation > 0.5)
    // default thresholds: 5 versions > 4 and frag ≈ 0.8 ≥ 0.5 → compacts
    val r = Snapshots.maintain(spark, dir)
    assert(r.compacted && r.compactedVersion.contains(5L) && r.reclaimedBytes > 0)
    val bytesAfter = f.getContentSummary(new org.apache.hadoop.fs.Path(dir)).getLength
    assert(bytesAfter < bytesBefore)
    // results unchanged, history gone, 8 part-files coalesced to 1
    val after = Snapshots.read(spark, dir).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(after == before)
    assertThrows[Exception](Snapshots.read(spark, dir, Some(4L)).collect())
    assert(Snapshots.read(spark, dir).rdd.getNumPartitions == 1)
    // the replay high-water mark survived the vacuum of the versions that carried it
    assert(Snapshots.latestMetaValues(spark, dir, Seq("stream.runId", "stream.batchId"))
      .contains(Map("stream.runId" -> "run-A", "stream.batchId" -> "4")))
    // immediately after compaction nothing is due
    assert(!Snapshots.maintain(spark, dir).compacted)
  }

  test("maintain carries meta as ATOMIC per-version groups: a partial " +
       "commit's key never stitches with an older commit's other half") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mstitch").toString + "/t"
    // v0+v1: full (runId, batchId) groups; v2: a PARTIAL commit carrying
    // only runId (the manual-maintenance shape latestMetaValues guards
    // against) plus an unrelated disjoint subsystem key
    Snapshots.commit(Seq((1L, "a")).toDF("k", "v"), dir,
      meta = Map("stream.runId" -> "run-A", "stream.batchId" -> "0"))
    Snapshots.commit(Seq((1L, "b")).toDF("k", "v"), dir,
      meta = Map("stream.runId" -> "run-A", "stream.batchId" -> "1"))
    Snapshots.commit(Seq((1L, "c")).toDF("k", "v"), dir,
      meta = Map("stream.runId" -> "run-B", "compactor.note" -> "manual"))
    // pre-compaction truth: the GROUP answer comes from v1 (the newest
    // version carrying both keys)
    assert(Snapshots.latestMetaValues(spark, dir,
        Seq("stream.runId", "stream.batchId"))
      .contains(Map("stream.runId" -> "run-A", "stream.batchId" -> "1")))
    val r = Snapshots.maintain(spark, dir, maxVersions = 1,
      fragmentationThreshold = 0.0)
    assert(r.compacted)
    // post-vacuum: the partial v2 group must NOT have stitched run-B with
    // v1's batchId=1 (that would make a resumed run-B SKIP batches 0-1 it
    // never committed). The safe direction is an ABSENT group -> re-merge.
    val group = Snapshots.latestMetaValues(spark, dir,
      Seq("stream.runId", "stream.batchId"))
    assert(!group.contains(Map("stream.runId" -> "run-B", "stream.batchId" -> "1")),
      s"stitched high-water mark survived compaction: $group")
    // single-key and disjoint-group reads still serve from the carried meta
    assert(Snapshots.latestMetaValue(spark, dir, "stream.runId").contains("run-B"))
    assert(Snapshots.latestMetaValue(spark, dir, "compactor.note").contains("manual"))
  }

  test("snapshot edge guards: vacuum on a missing table is a no-op; " +
       "mergeCommit refuses a delta carrying the _mc_rn scratch name") {
    val missing = java.nio.file.Files.createTempDirectory("graft_none").toString + "/never"
    Snapshots.vacuum(spark, missing, keepFrom = 5L) // must not throw
    val dir = java.nio.file.Files.createTempDirectory("graft_mcrn").toString + "/t"
    val e = intercept[IllegalArgumentException] {
      Snapshots.mergeCommit(spark, dir,
        Seq(("k1", 1.0, 7L)).toDF("key", "v", "_mc_rn"), "key",
        dedupSeqCol = Some("v"))
    }
    assert(e.getMessage.contains("_mc_rn"))
  }

  test("mergeCommit: durable Set loop over snapshot versions") {
    val dir = java.nio.file.Files.createTempDirectory("graft_merge").toString + "/t"
    Snapshots.mergeCommit(spark, dir, Seq(("k1", 1.0), ("k2", 2.0)).toDF("key", "v"), "key")
    Snapshots.mergeCommit(spark, dir, Seq(("k2", 9.0), ("k3", 3.0)).toDF("key", "v"), "key")
    val got = Snapshots.read(spark, dir).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == Map("k1" -> 1.0, "k2" -> 9.0, "k3" -> 3.0))
    // update-only merge cannot add keys; k2 reverts, k9 dropped
    Snapshots.mergeCommit(spark, dir, Seq(("k2", 2.0), ("k9", 9.9)).toDF("key", "v"),
      "key", Mutations.UpdateOnly)
    val got2 = Snapshots.read(spark, dir).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got2 == Map("k1" -> 1.0, "k2" -> 2.0, "k3" -> 3.0))
    assert(Snapshots.currentVersion(spark, dir).contains(2L)) // 3 commits: v0..v2
  }

  test("mergeCommit: dup-key deltas resolve LWW by seq; DryRun is rejected") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mdup").toString + "/t"
    // first commit: insert then update of k1 inside ONE delta — the seq
    // reduction must keep only the latest row, or the table would store
    // both and every later merge would multiply them
    val b0 = Seq(("k1", 1.0, 1L), ("k1", 5.0, 2L), ("k2", 2.0, 1L))
      .toDF("key", "v", "seq")
    Snapshots.mergeCommit(spark, dir, b0, "key", dedupSeqCol = Some("seq"))
    val got0 = Snapshots.read(spark, dir).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got0 == Map("k1" -> 5.0, "k2" -> 2.0))
    assert(Snapshots.read(spark, dir).columns.toSeq == Seq("key", "v")) // seq dropped
    // merge path: dup keys again, latest wins against the existing base
    val b1 = Seq(("k2", 7.0, 3L), ("k2", 9.0, 4L)).toDF("key", "v", "seq")
    Snapshots.mergeCommit(spark, dir, b1, "key", dedupSeqCol = Some("seq"))
    val got1 = Snapshots.read(spark, dir).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got1 == Map("k1" -> 5.0, "k2" -> 9.0))
    assert(Snapshots.read(spark, dir).count() == 2) // no row multiplication
    // DryRun's contract is "nothing is ever written" — a durable commit
    // of the unchanged base (full rewrite + pointer bump) must be refused
    assertThrows[IllegalArgumentException] {
      Snapshots.mergeCommit(spark, dir, b1.drop("seq"), "key", Mutations.DryRun)
    }
    assert(Snapshots.currentVersion(spark, dir).contains(1L)) // untouched
    // dedupSeqCol == keyCol would drop the KEY column after the window
    // (committing a keyless version); must fail fast, not poison the table
    assertThrows[IllegalArgumentException] {
      Snapshots.mergeCommit(spark, dir, b1, "key", dedupSeqCol = Some("key"))
    }
    assert(Snapshots.currentVersion(spark, dir).contains(1L)) // untouched
  }

  test("snapshot listings survive foreign files; recoverOrphans clears pointer temps") {
    val dir = java.nio.file.Files.createTempDirectory("graft_debris").toString + "/t"
    Snapshots.commit(Seq((1L, "a")).toDF("k", "v"), dir,
      meta = Map("hw" -> "1"))
    // a manual `cp -r v=0 v=0.bak` and a crashed pointer flip's temp file
    val p = new java.io.File(dir)
    val bak = new java.io.File(p, "v=0.bak"); bak.mkdirs()
    java.nio.file.Files.writeString(new java.io.File(p, "_latest.tmp.dead").toPath, "9")
    // every listing-based API must skip the non-numeric entry, not crash
    assert(Snapshots.latestMetaValue(spark, dir, "hw").contains("1"))
    assert(Snapshots.maintain(spark, dir, maxVersions = 8,
      fragmentationThreshold = 0.99).compacted == false)
    Snapshots.vacuum(spark, dir, keepFrom = 0L) // must not parse v=0.bak
    assert(bak.exists())
    // recoverOrphans clears the stranded pointer temp (and leaves v=0)
    Snapshots.recoverOrphans(spark, dir)
    assert(!new java.io.File(p, "_latest.tmp.dead").exists())
    assert(Snapshots.read(spark, dir).count() == 1)
  }

  test("a corrupt snapshot pointer throws, naming the pointer path") {
    val dir = java.nio.file.Files.createTempDirectory("graft_badptr").toString + "/t"
    Snapshots.commit(Seq((1L, "a")).toDF("k", "v"), dir)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "_latest"), "v1?")
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "._latest.crc")) // stale now
    val e = intercept[IllegalStateException](Snapshots.currentVersion(spark, dir))
    assert(e.getMessage.contains(s"$dir/_latest") && e.getMessage.contains("v1?"), e.getMessage)
  }

  test("a pointer read tolerates a stale checksum: a flip renames the " +
       ".crc sidecar apart from the pointer") {
    val root = java.nio.file.Files.createTempDirectory("graft_crcptr").toString + "/idx"
    IndexLifecycle.flipPointer(spark, root, 1L)
    assert(IndexLifecycle.currentVersion(spark, root).contains(1L))
    // the window a concurrent reader can land in: the next version's bytes
    // beside the previous flip's checksum (written past the checksum
    // layer, so `._current.crc` still describes "1")
    val local = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .asInstanceOf[org.apache.hadoop.fs.ChecksumFileSystem]
    val out = local.getRawFileSystem.create(
      new org.apache.hadoop.fs.Path(s"$root/_current"), true)
    try out.write("2".getBytes("UTF-8")) finally out.close()
    assert(new java.io.File(root, "._current.crc").exists)
    assert(IndexLifecycle.currentVersion(spark, root).contains(2L))
  }

  test("lock names are validated; sweepDebris removes only lapsed tombs") {
    val dir = java.nio.file.Files.createTempDirectory("graft_locks2").toString
    // names that would alias tomb/temp files or walk the path are refused
    for (bad <- Seq("a.tomb.x", "a.tmp.y", "a/b", "")) {
      assertThrows[IllegalArgumentException](
        Locks.tryAcquire(spark, dir, bad, ttlMs = 5000L))
    }
    val lease = Locks.tryAcquire(spark, dir, "job", ttlMs = 60000L).get
    // plant debris: one lapsed tomb, one fresh tomb (a displaced holder's
    // live record — must survive), one lapsed renew temp. Stranded files
    // are aged past the grace window (setLastModified); the sweeper must
    // refuse anything younger — see the in-flight assertions below.
    def plant(fn: String, body: String, aged: Boolean = true): java.io.File = {
      val f = new java.io.File(dir, fn)
      java.nio.file.Files.writeString(f.toPath, body)
      if (aged) f.setLastModified(System.currentTimeMillis() - Locks.DebrisGraceMs - 5000)
      f
    }
    val dead = plant("_lock_old.tomb.u1", s"x,${System.currentTimeMillis() - 1000}")
    val live = plant("_lock_cur.tomb.u2", s"y,${System.currentTimeMillis() + 60000}")
    val tmp = plant("_lock_old.tmp.u3", s"z,${System.currentTimeMillis() - 1000}")
    // a renew's in-flight tmp: created empty (parses as lapsed garbage)
    // but mtime-now — the age gate must keep the janitor off it, or the
    // holder's rename loses its file mid-renew
    val inflight = plant("_lock_job.tmp.u4", "", aged = false)
    assert(Locks.sweepDebris(spark, dir) == 2)
    assert(!dead.exists() && live.exists() && !tmp.exists())
    assert(inflight.exists(), "fresh in-flight tmp must survive the sweep")
    inflight.delete()
    // the held lock itself is untouched and still releasable
    assert(Locks.holder(spark, dir, "job").map(_.lockId).contains(lease.lockId))
    assert(Locks.release(spark, dir, lease))
  }

  test("salted aggregation equals plain aggregation on a skewed dataset") {
    // 10k rows of one hot key + a long tail
    val skewed = ((1 to 10000).map(i => ("hot", i.toDouble)) ++
      (1 to 100).map(i => (s"k$i", i.toDouble))).toDF("key", "v")
    val want = skewed.groupBy("key").agg(sum("v").as("v"), count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val gotSum = SkewAgg.saltedSum(skewed, "key", Seq("v"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val gotCnt = SkewAgg.saltedCount(skewed, "key")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gotSum == want.map { case (k, (s, _)) => k -> s })
    assert(gotCnt == want.map { case (k, (_, c)) => k -> c })
    // the LIBRARY's salt spreads the hot key over many partial groups —
    // including on the saltedCount path, whose aggregated value is a
    // constant (a (key, value)-only salt silently collapsed it to 1 bucket)
    val spreadSum = skewed.withColumn("_salt", SkewAgg.rowSalt(skewed, 16))
      .filter(col("key") === "hot").select("_salt").distinct().count()
    assert(spreadSum > 8, s"saltedSum salt collapsed: $spreadSum buckets")
    val counted = skewed.withColumn("_one", lit(1L))
    val spreadCnt = counted.withColumn("_salt", SkewAgg.rowSalt(counted, 16))
      .filter(col("key") === "hot").select("_salt").distinct().count()
    assert(spreadCnt > 8, s"saltedCount salt collapsed: $spreadCnt buckets")
  }

  test("telemetry: history/stats/errors record actions via QueryExecutionListener") {
    Telemetry.clear()
    Telemetry.install(spark)
    val live = new java.util.concurrent.atomic.AtomicInteger(0)
    Telemetry.subscribe(_ => live.incrementAndGet())
    Seq((1L, "x"), (2L, "y")).toDF("id", "v").count()
    Seq((3L, "z")).toDF("id", "v").collect()
    // listener delivery is async: poll until both actions arrive
    val deadline = System.currentTimeMillis() + 15000
    while (Telemetry.history(spark).count() < 2 &&
           System.currentTimeMillis() < deadline) Thread.sleep(100)
    val hist = Telemetry.history(spark)
    assert(hist.count() >= 2)
    assert(hist.filter("durationMs >= 0 AND error IS NULL").count() >= 2)
    val stats = Telemetry.stats(spark).collect()
    assert(stats.nonEmpty && stats.map(_.getLong(1)).sum >= 2)
    assert(Telemetry.errors(spark).count() == 0)
    assert(live.get() >= 2) // SubscribeToTelemetry callback fired
    Telemetry.subscribe(_ => ())
  }

  test("telemetry install is per session object: a second live session " +
       "records too (no identityHashCode collisions / stale skips)") {
    Telemetry.clear()
    Telemetry.install(spark)
    val other = spark.newSession()
    Telemetry.install(other) // must register, not silently no-op
    import other.implicits._
    Seq((1L, "x")).toDF("id", "v").count()
    val deadline = System.currentTimeMillis() + 15000
    while (Telemetry.history(spark).count() < 1 &&
           System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(Telemetry.history(spark).count() >= 1,
      "second session's actions must be recorded")
    Telemetry.clear()
  }

  test("telemetry flushHistory persists the ring to parquet and clears it") {
    Telemetry.clear()
    Telemetry.install(spark)
    Seq((1L, "x")).toDF("id", "v").count()
    val deadline = System.currentTimeMillis() + 15000
    while (Telemetry.history(spark).count() < 1 &&
           System.currentTimeMillis() < deadline) Thread.sleep(100)
    val dir = java.nio.file.Files.createTempDirectory("graft_tele").toString + "/hist"
    val flushed = Telemetry.flushHistory(spark, dir)
    assert(flushed >= 1)
    assert(spark.read.parquet(dir).count() == flushed) // durable
    // the drained records are gone from the ring (the flush's OWN actions
    // may appear afterwards — that's correct, they're new history)
    // appends accumulate: second flush adds rows instead of overwriting
    Seq((2L, "y")).toDF("id", "v").count()
    while (!Telemetry.history(spark).collect().exists(_.getString(3) == null) &&
           System.currentTimeMillis() < deadline) Thread.sleep(100)
    val flushed2 = Telemetry.flushHistory(spark, dir)
    assert(flushed2 >= 1)
    assert(spark.read.parquet(dir).count() == flushed + flushed2)
  }

  test("media features: schema, determinism, null payload") {
    val df = Seq((1L, "abc"), (2L, null.asInstanceOf[String])).toDF("id", "payload")
    val media = Multimodal.asMedia(df, "id", col("payload"), "text/plain")
    val feats = Multimodal.extractFeatures(media)
    assert(feats.schema.fieldNames.toSet == Set("media_id", "meta", "features"))
    val out = feats.select(col("media_id"), col("features.n_bytes")).as[(Long, Long)]
      .collect().toMap
    assert(out(1L) == 3L && out(2L) == 0L)
  }

  test("media features: real ImageIO decode for PNG and BMP, stub for non-images") {
    // 4x2 image, left half white, right half black => mean luminance 0.5
    def imageBytes(format: String): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(4, 2,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 2; x <- 0 until 4)
        img.setRGB(x, y, if (x < 2) 0xFFFFFF else 0x000000)
      val o = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, format, o), s"no $format writer")
      o.toByteArray
    }
    val rows = Seq(
      (1L, imageBytes("png"), "image/png"),
      (2L, imageBytes("bmp"), "image/bmp"),
      (3L, "just text".getBytes("UTF-8"), "text/plain"))
    val df = rows.toDF("id", "payload", "mime")
    val full = Multimodal.extractFeatures(
      df.select(col("id").as("media_id"), col("payload").as("content"),
        struct(col("mime"), lit(null).cast("int").as("width"),
          lit(null).cast("int").as("height"),
          lit(null).cast("long").as("duration_ms")).as("meta")))
    val feats = full
      .select(col("media_id"), col("meta.width"), col("meta.height"),
        col("features.fake_brightness"), col("features.n_bytes"),
        col("features.decoder"))
      .collect().map(r => r.getLong(0) -> r).toMap
    for (id <- Seq(1L, 2L)) {
      val r = feats(id)
      assert(r.getInt(1) == 4 && r.getInt(2) == 2,
        s"real decode must fill meta dims: $r")
      assert(math.abs(r.getDouble(3) - 0.5) < 0.01,
        s"brightness must be the real mean luminance: $r")
      assert(r.getString(5) == "imageio",
        s"real decode must be labeled by the decoder field: $r")
    }
    val txt = feats(3L)
    assert(txt.isNullAt(1) && txt.isNullAt(2), "non-image keeps null dims")
    assert(txt.getLong(4) == 9L)
    assert(txt.getString(5) == "stub",
      s"stub kernel must be labeled so consumers can filter it out: $txt")
    // the downstream contract the field exists for: keep only real decodes
    assert(full.filter(col("features.decoder") =!= "stub")
      .select("media_id").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("range join: half-open boundaries, multi-bin intervals, no nested loop") {
    import graft.operators.RangeJoin
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val points = Seq(
      (1L, ts("2024-01-01 10:00:00")), // == start: IN
      (2L, ts("2024-01-01 11:59:59")), // inside
      (3L, ts("2024-01-01 12:00:00")), // == end: OUT (half-open)
      (4L, ts("2024-01-02 05:30:00")), // inside the 7h interval, 3 bins away
      (5L, ts("2024-01-03 00:00:00"))  // in no interval
    ).toDF("pid", "ts")
    val intervals = Seq(
      (10L, ts("2024-01-01 10:00:00"), ts("2024-01-01 12:00:00")), // 2h
      (20L, ts("2024-01-02 01:00:00"), ts("2024-01-02 08:00:00")), // 7h, spans bins
      (30L, ts("2024-01-04 00:00:00"), ts("2024-01-04 00:00:00"))  // empty
    ).toDF("iv_id", "s", "e")
    val joined = RangeJoin.pointInInterval(points, intervals, "ts", "s", "e", "2 hours")
    val got = joined.select("pid", "iv_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 10L), (2L, 10L), (4L, 20L)))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"range join must stay an equi-join:\n$plan")
  }

  test("interval overlap: touching edges excluded, multi-bin pairs appear once") {
    import graft.operators.RangeJoin
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq(
      (1L, ts("2024-01-01 00:00:00"), ts("2024-01-01 10:00:00")), // 10h: spans 5 bins
      (2L, ts("2024-01-01 12:00:00"), ts("2024-01-01 13:00:00"))
    ).toDF("l_id", "ls", "le")
    val right = Seq(
      (10L, ts("2024-01-01 01:00:00"), ts("2024-01-01 09:00:00")), // 8h inside l1
      (20L, ts("2024-01-01 10:00:00"), ts("2024-01-01 11:00:00")), // touches l1 end: OUT
      (30L, ts("2024-01-01 12:30:00"), ts("2024-01-01 14:00:00"))  // overlaps l2
    ).toDF("r_id", "rs", "re")
    val got = RangeJoin.intervalOverlap(left, right, "ls", "le", "rs", "re", "2 hours")
      .select("l_id", "r_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // (1,10) share FOUR bins — must appear exactly once (no distinct in the plan)
    assert(got.sorted == Seq((1L, 10L), (2L, 30L)),
      s"expected one row per overlapping pair, got $got")
  }

  test("media features: decompression-bomb dims are rejected before decode; narrow meta survives") {
    // take a real tiny PNG and rewrite its IHDR to DECLARE 1M x 1M pixels
    // (with a recomputed CRC so the header parses) — the header-only dim
    // check must reject it before any pixel allocation, falling back to
    // the stub instead of attempting a ~4 TB decode
    val img = new java.awt.image.BufferedImage(4, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val o = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", o)
    val b = o.toByteArray
    def putInt(off: Int, v: Int): Unit = {
      b(off) = (v >> 24).toByte; b(off + 1) = (v >> 16).toByte
      b(off + 2) = (v >> 8).toByte; b(off + 3) = v.toByte
    }
    putInt(16, 1000000); putInt(20, 1000000) // IHDR width, height
    val crc = new java.util.zip.CRC32()
    crc.update(b, 12, 17) // chunk type + 13-byte IHDR data
    putInt(29, crc.getValue.toInt)
    val df = Seq((1L, b)).toDF("id", "payload")
    val r = Multimodal.extractFeatures(
      Multimodal.asMedia(df, "id", col("payload"), "image/png"))
      .select(col("meta.width"), col("features.n_bytes")).collect().head
    assert(r.isNullAt(0), "bomb-sized image must not be decoded (stub path)")
    assert(r.getLong(1) == b.length.toLong)

    // a caller's meta struct narrower than the canonical layout must not
    // break the by-name patch (only the fields it carries are written)
    val narrow = Seq((1L, o.toByteArray)).toDF("id", "payload")
      .select(col("id").as("media_id"), col("payload").as("content"),
        struct(lit("image/png").as("mime"),
          lit(null).cast("int").as("width")).as("meta"))
    val nr = Multimodal.extractFeatures(narrow)
      .select(col("meta.width"), col("features.fake_brightness")).collect().head
    assert(nr.getInt(0) == 4, "width patched by name in the narrow meta")
    assert(nr.getDouble(1) < 0.01, "all-black 4x2 image decoded for real")
  }

  test("media features: real WAV decode — true duration in meta, real RMS loudness") {
    // 0.25 s sine at 8 kHz mono 16-bit, amplitude 0.5 => RMS = 0.5/sqrt(2)
    val sampleRate = 8000; val nSamples = 2000
    val pcm = new Array[Byte](nSamples * 2)
    for (i <- 0 until nSamples) {
      val v = (0.5 * math.sin(2 * math.Pi * 440 * i / sampleRate) * 32767).toInt
      pcm(2 * i) = (v & 0xff).toByte; pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(sampleRate.toFloat, 16, 1, true, false)
    val o = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, nSamples.toLong),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, o)
    val df = Seq((1L, o.toByteArray, "audio/wav")).toDF("id", "payload", "mime")
    val r = Multimodal.extractFeatures(
      Multimodal.asMedia(df, "id", col("payload"), "audio/wav"))
      .select(col("meta.duration_ms"), col("features.fake_brightness"),
        col("features.decoder")).collect().head
    assert(r.getLong(0) == 250L, s"true duration must land in meta: $r")
    assert(math.abs(r.getDouble(1) - 0.5 / math.sqrt(2)) < 0.01,
      s"feature must be the real RMS: $r")
    assert(r.getString(2) == "wav", s"real WAV decode labeled: $r")
  }

  test("frame features: real animated-GIF frames, stub rows for non-GIF") {
    // 4-frame GIF: luminance ramp black -> white; sampling 2 of 4 must pick
    // frames 0 and 2 with their REAL luminance
    def gifBytes(frames: Int): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(o)
      val wr = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
      wr.setOutput(ios)
      wr.prepareWriteSequence(null)
      for (f <- 0 until frames) {
        val img = new java.awt.image.BufferedImage(3, 3,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        val v = (f * 255) / (frames - 1)
        for (y <- 0 until 3; x <- 0 until 3) img.setRGB(x, y, (v << 16) | (v << 8) | v)
        wr.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
      }
      wr.endWriteSequence(); wr.dispose(); ios.close()
      o.toByteArray
    }
    val df = Seq((1L, gifBytes(4)), (2L, "not a gif".getBytes("UTF-8")))
      .toDF("id", "payload")
    val got = Multimodal.sampleFrameFeatures(
      Multimodal.asMedia(df, "id", col("payload"), "image/gif"), 2)
      .select(col("media_id"), col("frame_no"), col("frame.frame_index"),
        col("frame.luminance"))
      .collect().groupBy(_.getLong(0))
    val gif = got(1L).sortBy(_.getInt(1))
    assert(gif.map(_.getInt(2)).toSeq == Seq(0, 2), "evenly spaced source frames")
    assert(math.abs(gif(0).getDouble(3) - 0.0) < 0.02 &&
      math.abs(gif(1).getDouble(3) - 2.0 / 3) < 0.04,
      s"real per-frame luminance expected: ${gif.toSeq}")
    val txt = got(2L)
    assert(txt.length == 2 && txt.forall(_.isNullAt(2)), "non-GIF gets stub rows")
  }

  test("frame sampling emits n evenly spaced stubs") {
    val df = Seq((1L, "x")).toDF("id", "payload")
    val frames = Multimodal.sampleFrames(
      Multimodal.asMedia(df, "id", col("payload"), "video/fake"), 4)
    assert(frames.select("frame_offset_ms").as[Long].collect().toSeq == Seq(0L, 250L, 500L, 750L))
  }

  // --- round-2 operators -------------------------------------------------------

  test("ngram Jaccard via LSH candidates finds the planted near-dup, skips the rest") {
    val a = (1 to 40).map(i => s"w$i").mkString(" ")
    val b = (1 to 40).map(i => if (i == 40) "CHANGED" else s"w$i").mkString(" ")
    val c = (100 to 140).map(i => s"z$i").mkString(" ")
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("id", "text")
    val pairs = Dedup.ngramJaccardJoin(df, "text", "id", shingleN = 3, minJaccard = 0.5)
      .select("key_a", "key_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("embedding near-dup: multi-probe catches boundary pair; salting keeps all pairs under skew") {
    val planes = 3; val dim = 4
    val hyps = Dedup.hyperplanes(planes, dim, 42L)
    // construct v1/v2 straddling exactly hyperplane 0: project a base vector
    // onto h0's orthogonal complement, then nudge +/- along h0
    val u = { val h = hyps(0).map(_.toDouble); val n = math.sqrt(h.map(x => x * x).sum); h.map(_ / n) }
    val x = Array(1.0, 0.5, -0.25, 0.8)
    val proj = x.zip(u).map { case (a, b) => a * b }.sum
    val w = x.zip(u).map { case (a, b) => a - proj * b }
    def nudge(s: Double) = w.zip(u).map { case (p, q) => (p + s * q).toFloat }
    val v1 = nudge(-0.001); val v2 = nudge(0.001)
    def bkt(v: Array[Float]) = (0 until planes).map { p =>
      val d = v.zip(hyps(p)).map { case (a, b) => a.toDouble * b.toDouble }.sum
      if (d >= 0) 1L << p else 0L
    }.sum
    assert(java.lang.Long.bitCount(bkt(v1) ^ bkt(v2)) == 1) // fixture sanity

    val hot = Seq(0.5f, 0.5f, 0.5f, 0.5f) // 30 identical rows => skewed bucket
    val df = (Seq(1L -> v1.toSeq, 2L -> v2.toSeq) ++ (10L until 40L).map(_ -> hot))
      .toDF("vec_id", "embedding")
    val keys = Dedup.embeddingNearDup(df, "embedding", "vec_id", minCosine = 0.5,
        planes = planes, dim = dim, seed = 42L, maxBucket = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(keys.contains((1L, 2L)), "hamming-1 boundary pair missed")
    assert(keys.length == keys.distinct.length, "pair generated more than once")
    assert(keys.count { case (a, b) => a >= 10 && b >= 10 } == 30 * 29 / 2,
      "salting dropped pairs from the oversized bucket")
  }

  test("train/val split is complementary and deterministic") {
    val df = (1L to 1000L).map(i => (i, s"doc$i")).toDF("id", "text")
    val (train, valid) = Sampling.trainValSplit(df, "id", valPercent = 10)
    val t = train.select("id").as[Long].collect().toSet
    val v = valid.select("id").as[Long].collect().toSet
    assert((t & v).isEmpty && (t | v).size == 1000)
    assert(v.size > 30 && v.size < 250) // ~10% with hash noise
    // deterministic: re-evaluation yields the identical membership
    val v2 = Sampling.trainValSplit(df.repartition(7), "id", 10)._2
      .select("id").as[Long].collect().toSet
    assert(v2 == v)
  }

  test("contamination overlap counts shared distinct shingles vs the benchmark") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "quick brown fox is here"), // shares shingle "quick brown fox"
      (3L, "completely different words entirely now")
    ).toDF("id", "text")
    val bench = Seq((99L, "the quick brown fox runs")).toDF("id", "text")
    val got = Dedup.contaminationOverlap(docs, bench, "text", "id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc1 shares "the quick brown" + "quick brown fox"; doc2 shares one
    assert(got == Map(1L -> 2L, 2L -> 1L)) // doc3 absent: zero overlap
  }

  test("simhash pairs find the planted near-dup with small hamming") {
    val a = (1 to 60).map(i => s"w$i").mkString(" ")
    val b = (1 to 60).map(i => if (i == 60) "CHANGED" else s"w$i").mkString(" ")
    val c = (100 to 160).map(i => s"z$i").mkString(" ")
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("id", "text")
    val pairs = Dedup.simhashPairs(df, "text", "id", maxHamming = 8)
      .select("key_a", "key_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) && !pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("profile pivot: one wide row per entity, missing field => NULL") {
    val long = Seq(
      (1L, "name", "alice"), (1L, "city", "berlin"),
      (2L, "name", "bob")
    ).toDF("entity", "field", "value")
    val wide = Profile.getStream(long, "entity", "field", "value", Seq("name", "city"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), Option(r.getString(2)))).toMap
    assert(wide(1L) == ("alice", Some("berlin")))
    assert(wide(2L) == ("bob", None))
  }

  test("profile filtered: TreasureKey predicate applies post-pivot") {
    val long = Seq(
      (1L, "status", "active"), (2L, "status", "inactive"), (3L, "other", "x")
    ).toDF("entity", "field", "value")
    val got = Profile.getStreamFiltered(long, "entity", "field", "value", Seq("status"),
      graft.filters.Cmp(graft.filters.FieldRef("status"), graft.filters.CmpOp.Equal, "active"))
      .select("entity").as[Long].collect().toSet
    assert(got == Set(1L)) // entity 3 has NULL status => no match
  }

  test("chronicle LWW: latest seq wins, delete tombstones remove the key") {
    val log = Seq(
      ("k1", 1.0, 1L, "U"), ("k1", 2.0, 2L, "U"),
      ("k2", 9.0, 1L, "U"), ("k2", 0.0, 2L, "D"),
      ("k3", 5.0, 1L, "U")
    ).toDF("key", "v", "seq", "op")
    val state = Chronicle.lastWriteWins(log, "key", "seq", "op")
      .select("key", "v").as[(String, Double)].collect().toMap
    assert(state == Map("k1" -> 2.0, "k3" -> 5.0))
    // a NULL op is NOT a delete: `=!=` would NULL out the filter and erase
    // the key exactly like a tombstone (and compact() makes it permanent)
    val nullOp = Seq(("k4", 7.0, 1L, Option("U")), ("k4", 8.0, 2L, None: Option[String]))
      .toDF("key", "v", "seq", "op")
    val s2 = Chronicle.lastWriteWins(nullOp, "key", "seq", "op")
      .select("key", "v").as[(String, Double)].collect().toMap
    assert(s2 == Map("k4" -> 8.0), s"null op must not tombstone: $s2")
  }

  test("existence probes") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val got = Existence.areKeysExist(df, "id", Seq(1L, 9L))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got == Map(1L -> true, 9L -> false))
    assert(Existence.isKeyExist(df, "id", 2L))
    assert(!Existence.isKeyExist(df, "id", 42L))
  }

  test("swamp catalog register / load / deregister") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cat").toString
    Seq((1L, "x")).toDF("id", "v").write.mode("overwrite").parquet(s"$tmp/t.parquet")
    Catalog.register(spark, Catalog.SwampSpec("cat_t", s"$tmp/t.parquet"))
    assert(Catalog.isRegistered("cat_t"))
    assert(spark.sql("SELECT count(*) FROM cat_t").head().getLong(0) == 1L)
    assert(Catalog.load(spark, "cat_t").count() == 1L)
    Catalog.deregister(spark, "cat_t")
    assert(!Catalog.isRegistered("cat_t"))
  }

  test("catalog supports non-parquet formats (csv with header, json)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_fmt").toString
    val df = Seq((1L, "x"), (2L, "y")).toDF("id", "v")
    df.write.option("header", "true").csv(s"$tmp/c")
    df.write.json(s"$tmp/j")
    Catalog.register(spark, Catalog.SwampSpec("fmt_csv", s"$tmp/c", "csv",
      Map("header" -> "true", "inferSchema" -> "true")))
    Catalog.register(spark, Catalog.SwampSpec("fmt_json", s"$tmp/j", "json"))
    df.write.orc(s"$tmp/o")
    Catalog.register(spark, Catalog.SwampSpec("fmt_orc", s"$tmp/o", "orc"))
    assert(Catalog.load(spark, "fmt_csv").count() == 2)
    assert(spark.sql("SELECT sum(id) FROM fmt_json").head().getLong(0) == 3L)
    assert(spark.sql("SELECT sum(id) FROM fmt_orc").head().getLong(0) == 3L)
    Seq("fmt_csv", "fmt_json", "fmt_orc").foreach(Catalog.deregister(spark, _))
  }

  test("explorer: hierarchical listing, filters, rollup, row counts") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_explore").toString
    val df = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("id", "v")
    df.write.mode("overwrite").parquet(s"$tmp/u_p")
    df.limit(1).write.mode("overwrite").parquet(s"$tmp/u_c")
    df.write.mode("overwrite").parquet(s"$tmp/o_s")
    Catalog.register(spark, Catalog.SwampSpec("users/profiles/alpha", s"$tmp/u_p"))
    Catalog.register(spark, Catalog.SwampSpec("users/credits/beta", s"$tmp/u_c"))
    Catalog.register(spark, Catalog.SwampSpec("orders/status/alpha", s"$tmp/o_s"))
    Catalog.register(spark, Catalog.SwampSpec("flatname", s"$tmp/missing"))
    try {
      // hierarchical name still resolves in SQL via the sanitized view
      assert(spark.sql("SELECT count(*) FROM users_profiles_alpha")
        .head().getLong(0) == 3L)
      val all = Catalog.explore(spark)
      assert(all.count() >= 4)
      // per-swamp detail: segments split, file stats real, missing path = 0
      val up = all.filter(col("name") === "users/profiles/alpha").head()
      assert(up.getString(0) == "users" && up.getString(1) == "profiles" &&
        up.getString(2) == "alpha")
      assert(up.getLong(6) > 0 && up.getLong(7) > 0 && !up.isNullAt(8))
      val flat = all.filter(col("name") === "flatname").head()
      assert(flat.isNullAt(0) && flat.getString(2) == "flatname" &&
        flat.getLong(6) == 0L && flat.isNullAt(8))
      // filters: sanctuary narrows; prefix narrows within it
      assert(Catalog.explore(spark, sanctuary = Some("users")).count() == 2)
      assert(Catalog.explore(spark, sanctuary = Some("users"),
        swampPrefix = Some("al")).count() == 1)
      // ListRealms-equivalent rollup is one groupBy away
      val realms = Catalog.explore(spark, sanctuary = Some("users"))
        .groupBy("sanctuary", "realm")
        .agg(count(lit(1)).as("swamps"), sum("total_bytes").as("bytes"))
        .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
      assert(realms == Map("profiles" -> 1L, "credits" -> 1L))
      // opt-in metadata row counts
      val rc = Catalog.explore(spark, sanctuary = Some("users"),
        withRowCounts = true)
        .collect().map(r => r.getString(2) -> r.getLong(9)).toMap
      assert(rc == Map("alpha" -> 3L, "beta" -> 1L))
    } finally Seq("users/profiles/alpha", "users/credits/beta",
      "orders/status/alpha", "flatname").foreach(Catalog.deregister(spark, _))
  }

  test("register before data exists; load sees files written after registration") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_lazy").toString
    Catalog.register(spark, Catalog.SwampSpec("lazy_t", s"$tmp/t.parquet"))
    assert(Catalog.isRegistered("lazy_t")) // no throw, binding stored
    Seq((1L, "x"), (2L, "y")).toDF("id", "v").write.parquet(s"$tmp/t.parquet")
    assert(Catalog.load(spark, "lazy_t").count() == 2L)
    assert(spark.sql("SELECT count(*) FROM lazy_t").head().getLong(0) == 2L)
    Catalog.deregister(spark, "lazy_t")
  }

  test("destroy deletes storage through the Hadoop filesystem; isSwampExist probes it") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_destroy").toString
    Seq((1L, "x")).toDF("id", "v").write.parquet(s"$tmp/d.parquet")
    // file:-scheme path exercises the FileSystem (not java.io.File) probe
    assert(Existence.isSwampExist(spark, s"file://$tmp", "d"))
    assert(!Existence.isSwampExist(spark, s"file://$tmp", "nope"))
    Catalog.register(spark, Catalog.SwampSpec("destroy_t", s"$tmp/d.parquet"))
    assert(Catalog.destroy(spark, "destroy_t"))
    assert(!Catalog.isRegistered("destroy_t"))
    assert(!Existence.isSwampExist(spark, tmp, "d"))
    assert(!new java.io.File(s"$tmp/d.parquet").exists())
  }

  test("isSwampExist: registered-but-no-data swamp answers true for every " +
       "spelling of its dir (qualified-path compare, not raw string)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_exist_q").toString
    Catalog.register(spark, Catalog.SwampSpec("exist_q", s"$tmp/exist_q.parquet"))
    try {
      // no data on disk yet — only the registry can answer true, and it
      // must do so for bare, scheme-qualified, and trailing-slash forms
      assert(Existence.isSwampExist(spark, tmp, "exist_q"), "bare dir")
      assert(Existence.isSwampExist(spark, s"file:$tmp", "exist_q"), "file: dir")
      assert(Existence.isSwampExist(spark, s"file://$tmp", "exist_q"), "file:// dir")
      assert(Existence.isSwampExist(spark, s"$tmp/", "exist_q"), "trailing slash")
      // a different root must still answer false (dir is not bypassed)
      assert(!Existence.isSwampExist(spark, s"$tmp/elsewhere", "exist_q"))
    } finally Catalog.deregister(spark, "exist_q")
  }

  test("compaction round-trip: fewer files, state equivalent to LWW") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val log = (1L to 50L).flatMap(k => Seq(
      (s"k$k", k * 1.0, 1L, "U"),
      (s"k$k", k * 2.0, 2L, "U")) ++
      (if (k % 5 == 0) Seq((s"k$k", 0.0, 3L, "D")) else Nil))
      .toDF("key", "v", "seq", "op")
    log.repartition(8).write.parquet(s"$tmp/log") // fragmented: 8 files
    val fragmented = spark.read.parquet(s"$tmp/log")
    Chronicle.compact(fragmented.coalesce(1), "key", "seq", "op", s"$tmp/compacted")
    val re = spark.read.parquet(s"$tmp/compacted")
    val want = Chronicle.lastWriteWins(fragmented, "key", "seq", "op")
      .select("key", "v").as[(String, Double)].collect().toMap
    val got = re.select("key", "v").as[(String, Double)].collect().toMap
    assert(got == want && got.size == 40 && got("k1") == 2.0 && !got.contains("k5"))
    def parquetFiles(p: String) = new java.io.File(p).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(parquetFiles(s"$tmp/compacted") < parquetFiles(s"$tmp/log"))
  }

  test("patch MERGE: incoming keys override, existing keys survive, null map replaced") {
    val df = Seq((1L, Map("a" -> "1", "b" -> "2")), (2L, null.asInstanceOf[Map[String, String]]))
      .toDF("id", "m").withColumn("body", struct(col("m").as("attrs")))
    val out = Patch.applyPatch(df, "body",
        Seq(Patch.MergeMap("attrs", map(lit("b"), lit("X"), lit("c"), lit("3")))))
      .select(col("id"), col("body.attrs")).as[(Long, Map[String, String])]
      .collect().toMap
    assert(out(1L) == Map("a" -> "1", "b" -> "X", "c" -> "3"))
    assert(out(2L) == Map("b" -> "X", "c" -> "3"))
  }

  test("patchExpired claims oldest-expired up to N; the rest untouched") {
    val rows = (1 to 10).map(i =>
      (i.toLong, java.sql.Timestamp.valueOf(f"2024-01-${i}%02d 00:00:00"), "live"))
    val df = rows.toDF("id", "exp", "st").withColumn("body", struct(col("st").as("status")))
    val out = Patch.patchExpired(df, "body", Seq(Patch.SetField("status", lit("claimed"))),
        expiryCol = "exp", keyCol = "id",
        now = java.sql.Timestamp.valueOf("2024-01-08 00:00:00"), howMany = 3)
      .select(col("id"), col("body.status"), col("_patched"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getBoolean(2))).toMap
    // expired = ids 1..7; oldest three claimed
    assert((1L to 3L).forall(i => out(i) == ("claimed", true)))
    assert((4L to 10L).forall(i => out(i) == ("live", false)))
  }

  test("fan-out write partitions by tag and prunes on read") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_fan").toString
    val df = Seq((1L, Seq("a", "b")), (2L, Seq("b"))).toDF("id", "tags")
    FanOut.writeTagPartitions(df, "tags", s"$tmp/out")
    val back = spark.read.parquet(s"$tmp/out")
    assert(back.filter(col("tag") === "b").select("id").as[Long].collect().toSet == Set(1L, 2L))
    assert(back.filter(col("tag") === "a").count() == 1L)
  }

  // --- CAS commits / cache lifecycle / salt determinism / indexed patch --------

  test("commitIf: racing committers get one winner and one detected conflict") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cas").toString + "/t"
    val a = Seq((1L, "a")).toDF("k", "v")
    assert(Snapshots.commitIf(a, dir, None).contains(0L))
    // both committers read version 0; the first wins...
    assert(Snapshots.commitIf(Seq((2L, "b")).toDF("k", "v"), dir, Some(0L)).contains(1L))
    // ...the second still expects 0 => conflict detected, nothing clobbered
    assert(Snapshots.commitIf(Seq((3L, "c")).toDF("k", "v"), dir, Some(0L)).isEmpty)
    assert(Snapshots.currentVersion(spark, dir).contains(1L))
    assert(Snapshots.read(spark, dir).collect().map(_.getString(1)).toSeq == Seq("b"))
    // retry against the fresh version succeeds; None on a non-empty table fails
    assert(Snapshots.commitIf(Seq((3L, "c")).toDF("k", "v"), dir, Some(1L)).contains(2L))
    assert(Snapshots.commitIf(a, dir, None).isEmpty)
  }

  test("commitIf: unflipped racer dir loses the rename race; recoverOrphans unbricks") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cas2").toString + "/t"
    Snapshots.commitIf(Seq((1L, "a")).toDF("k", "v"), dir, None)
    // a racer renamed its staging dir to v=1 and then died before the
    // pointer flip — our rename must refuse the existing destination
    Seq((9L, "x")).toDF("k", "v").write.parquet(s"$dir/v=1")
    assert(Snapshots.commitIf(Seq((2L, "b")).toDF("k", "v"), dir, Some(0L)).isEmpty)
    // bounded-retry commit reports the brick instead of looping forever
    assertThrows[IllegalStateException](
      Snapshots.commit(Seq((2L, "b")).toDF("k", "v"), dir, maxRetries = 2))
    // recovery: the orphan above the pointer is deleted, commits flow again
    assert(Snapshots.recoverOrphans(spark, dir) == Seq(1L))
    assert(Snapshots.commitIf(Seq((2L, "b")).toDF("k", "v"), dir, Some(0L)).contains(1L))
    assert(Snapshots.read(spark, dir).collect().map(_.getString(1)).toSeq == Seq("b"))
    // no staging debris left behind by the conceding committers
    val names = new java.io.File(dir).list().toSeq
    assert(!names.exists(_.startsWith(".staging-")), s"staging debris: $names")
  }

  test("CacheRegistry: releaseAll unpersists every tracked cache and runs hooks") {
    import org.apache.spark.storage.StorageLevel
    val df = CacheRegistry.track(Seq((1, 2)).toDF("a", "b"))
    df.count()
    assert(df.storageLevel != StorageLevel.NONE)
    var hookRan = false
    CacheRegistry.onRelease(() => hookRan = true)
    CacheRegistry.releaseAll()
    assert(df.storageLevel == StorageLevel.NONE)
    assert(CacheRegistry.trackedCount == 0)
    assert(hookRan)
  }

  test("salted sum is retry-deterministic: pure row-hash salt, bit-identical reruns") {
    val df = (1 to 2000).map(i => ("hot", i * 0.1)).toDF("key", "v")
    def run() = SkewAgg.saltedSum(df, "key", Seq("v")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(run() == run()) // exact double equality: same partial grouping
    // and no nondeterministic expression anywhere in the plan
    val plan = SkewAgg.saltedSum(df, "key", Seq("v")).queryExecution.analyzed
    val nondet = plan.collect { case p => p.expressions }.flatten.filterNot(_.deterministic)
    assert(nondet.isEmpty, s"nondeterministic exprs in salted plan: $nondet")
  }

  test("indexed patch paths: element-level set/inc/remove; per-element field drop rejected") {
    val df = Seq((1L, 10.0)).toDF("k", "p")
      .withColumn("body", struct(array(
        struct(col("p").as("price"), lit(1).as("qty")),
        struct((col("p") + 1).as("price"), lit(2).as("qty"))).as("items")))
      .drop("p")
    val out = Patch.applyPatch(df, "body", Seq(
        Patch.SetField("items[1].qty", lit(7)),
        Patch.IncField("items[0].price", lit(1)))) // int delta: double preserved
      .select(col("body.items").getItem(0).getField("price"),
        col("body.items").getItem(0).getField("qty"),
        col("body.items").getItem(1).getField("price"),
        col("body.items").getItem(1).getField("qty"))
      .head()
    assert(out.getDouble(0) == 11.0 && out.getInt(1) == 1)
    assert(out.getDouble(2) == 11.0 && out.getInt(3) == 7)
    // whole-element removal keeps the array type
    val removed = Patch.applyPatch(df, "body", Seq(Patch.DeleteField("items[0]")))
      .select(size(col("body.items")), col("body.items").getItem(0).getField("qty")).head()
    assert(removed.getInt(0) == 1 && removed.getInt(1) == 2)
    // heterogeneous per-element drop is a loud error, not silent corruption
    val e = intercept[IllegalArgumentException] {
      Patch.applyPatch(df, "body", Seq(Patch.DeleteField("items[0].qty")))
    }
    assert(e.getMessage.contains("homogeneous"))
  }

  test("indexed patch paths: nested indices and leaf array ops") {
    // a.items[1].tags: array leaf under an indexed struct element —
    // RemoveVal/Append route through the same element-targeted rebuild
    val df = Seq((1L, "x")).toDF("k", "s")
      .withColumn("body", struct(array(
        struct(lit("a").as("id"), array(lit(1), lit(2)).as("tags")),
        struct(lit("b").as("id"), array(lit(2), lit(3)).as("tags"))).as("items")))
      .drop("s")
    val out = Patch.applyPatch(df, "body", Seq(
        Patch.RemoveVal("items[1].tags", lit(2)),
        Patch.Append("items[0].tags", array(lit(9)))))
      .select(col("body.items").getItem(0).getField("tags"),
        col("body.items").getItem(1).getField("tags"))
      .head()
    assert(out.getSeq[Int](0) == Seq(1, 2, 9)) // element 0: appended
    assert(out.getSeq[Int](1) == Seq(3))       // element 1: value removed
    // out-of-range index: transform matches no position => row unchanged
    val oob = Patch.applyPatch(df, "body", Seq(Patch.SetField("items[7].id", lit("z"))))
      .select(col("body.items").getItem(0).getField("id")).head().getString(0)
    assert(oob == "a")
    // malformed segments are loud errors
    assertThrows[IllegalArgumentException](
      Patch.applyPatch(df, "body", Seq(Patch.DeleteField("items[x]"))).collect())
    assertThrows[IllegalArgumentException](
      Patch.applyPatch(df, "body", Seq(Patch.SetField("items[", lit(1)))).collect())
  }

  test("commitIf: concurrent threads racing the same expected version yield one winner") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cas3").toString + "/t"
    Snapshots.commitIf(Seq((0L, "base")).toDF("k", "v"), dir, None)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Option[Long]]
    val threads = (1 to 4).map(i => new Thread(() =>
      results.add(Snapshots.commitIf(
        Seq((i.toLong, s"w$i")).toDF("k", "v"), dir, Some(0L)))))
    threads.foreach(_.start()); threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    val wins = results.asScala.flatten.toSeq
    assert(wins == Seq(1L), s"expected exactly one winner at v1, got $wins")
    assert(Snapshots.currentVersion(spark, dir).contains(1L))
    // the committed version is exactly ONE writer's data, never a mix
    val rows = Snapshots.read(spark, dir).collect().map(_.getString(1)).toSeq
    assert(rows.length == 1 && rows.head.startsWith("w"), s"mixed commit: $rows")
    // losers' staging dirs are gone
    val names = new java.io.File(dir).list().toSeq
    assert(!names.exists(_.startsWith(".staging-")), s"staging debris: $names")
  }

  test("asof join: greatest at-or-before match, equality included, NULLs before first") {
    val fact = Seq((1L, "u1", 5, 50.0), (2L, "u1", 2, 20.0), (3L, "u1", 1, 10.0),
      (4L, "u2", 9, 90.0)).toDF("id", "k", "t", "fv")
    val dim = Seq(("u1", 2, "a"), ("u1", 4, "b"), ("u3", 1, "z")).toDF("k", "t", "dv")
    val out = AsofJoin.asofJoin(fact, dim, Seq("k"), "t", "t")
      .collect().map(r => r.getAs[Long]("id") -> Option(r.getAs[String]("dv"))).toMap
    assert(out == Map(
      1L -> Some("b"), // t=5: latest dim at t=4
      2L -> Some("a"), // t=2: EQUAL timestamp included (>=)
      3L -> None,      // t=1: before any dim row
      4L -> None))     // u2: no dim rows for the key (u3's never leak)
    // clashing value column names are a loud error, not silent overwrite
    assertThrows[IllegalArgumentException](
      AsofJoin.asofJoin(fact, dim.withColumnRenamed("dv", "fv"), Seq("k"), "t", "t"))
  }

  test("asof join: the matched right row is carried WHOLE, NULL fields included") {
    // per-column ignoreNulls carrying would resurrect price=10 from t=1
    // onto the t=2 match whose price is genuinely NULL — emitting a row
    // that never existed; the struct carry keeps all columns in one row
    val fact = Seq((1L, "k", 3)).toDF("id", "k", "t")
    val dim = Seq(("k", 1, Some(10.0), None: Option[Long]),
      ("k", 2, None: Option[Double], Some(5L))).toDF("k", "t", "price", "qty")
    val out = AsofJoin.asofJoin(fact, dim, Seq("k"), "t", "t").collect().head
    assert(Option(out.getAs[Any]("price")).isEmpty,
      "price must be the matched row's NULL, not a stale earlier value")
    assert(out.getAs[Long]("qty") == 5L)
  }

  test("asof join: NULL timestamps never fabricate matches, either direction") {
    val dimWithNull = Seq(("k", Some(2), "real"), ("k", None: Option[Int], "phantom"))
      .toDF("k", "t", "dv")
    // a NULL-time right row must match nothing (backward: it used to sort
    // FIRST and get carried onto every pre-first-real-row left row)
    val factEarly = Seq((1L, "k", 1)).toDF("id", "k", "t")
    val b = AsofJoin.asofJoin(factEarly, dimWithNull, Seq("k"), "t", "t")
      .collect().head
    assert(Option(b.getAs[String]("dv")).isEmpty,
      "null-time right row must not match a pre-first left row")
    // a NULL-time left row gets no match in FORWARD mode (it used to sort
    // last in the desc walk and inherit the earliest right row)
    val factNull = Seq((1L, "k", None: Option[Int])).toDF("id", "k", "t")
    val dim = Seq(("k", 2, "real")).toDF("k", "t", "dv")
    val f = AsofJoin.asofJoin(factNull, dim, Seq("k"), "t", "t", forward = true)
      .collect().head
    assert(Option(f.getAs[String]("dv")).isEmpty,
      "null-time left row must emit NULL right values, not a confident match")
  }

  test("forward asof join: smallest at-or-after match, equality included, NULLs after last") {
    val fact = Seq((1L, "u1", 5, 50.0), (2L, "u1", 2, 20.0), (3L, "u1", 1, 10.0),
      (4L, "u2", 9, 90.0)).toDF("id", "k", "t", "fv")
    val dim = Seq(("u1", 2, "a"), ("u1", 4, "b"), ("u3", 1, "z")).toDF("k", "t", "dv")
    val out = AsofJoin.asofJoin(fact, dim, Seq("k"), "t", "t", forward = true)
      .collect().map(r => r.getAs[Long]("id") -> Option(r.getAs[String]("dv"))).toMap
    assert(out == Map(
      1L -> None,      // t=5: no dim row at-or-after
      2L -> Some("a"), // t=2: EQUAL timestamp included (<=)
      3L -> Some("a"), // t=1: next dim at t=2
      4L -> None))     // u2: no dim rows for the key
  }

  test("batch ANN equals the single-query prebuilt probe for each query") {
    val dir = "/root/testdata/sf0.001"
    val emb = Tables(spark, dir, "embeddings")
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivfb").toString + "/ix"
    Similarity.ivfBuild(emb, "embedding", "vec_id", tmp, dim = 64)
    val batch = Similarity.ivfTopKBatchPrebuilt(spark, tmp,
        emb.filter(col("vec_id") < 3), "vec_id", "embedding", "embedding", "vec_id",
        k = 5, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).map { case (q, rows) => q -> rows.map(t => (t._2, t._3)).toSeq.sorted }
    (0L until 3L).foreach { qid =>
      val qv = emb.filter(col("vec_id") === qid)
        .select("embedding").head().getSeq[Float](0).toArray
      val single = Similarity.ivfTopKPrebuilt(spark, tmp, "embedding", "vec_id", qv, 5)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq.sorted
      assert(batch(qid) == single, s"qid=$qid")
    }
  }

  test("incremental dedup drops corpus matches, keeps incoming-internal dups") {
    val text = "the quick brown fox jumps over the lazy dog again and again today"
    val corpus = Seq((100L, text), (101L, "completely unrelated corpus text here"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (1L, text),                                   // near-dups corpus 100 => dropped
      (2L, "fresh new document with novel content"),// survives
      (3L, "fresh new document with novel content") // in-in duplicate: NOT this pass's job
    ).toDF("doc_id", "text")
    val out = Dedup.dedupAgainstCorpus(corpus, incoming, "text", "doc_id",
        threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(out == Set(2L, 3L))
    CacheRegistry.releaseAll()
  }

  test("materialized signature table: prebuilt LSH matches fresh, never rescans text") {
    val a = (1 to 40).map(i => s"w$i").mkString(" ")
    val b = (1 to 40).map(i => if (i == 40) "CHANGED" else s"w$i").mkString(" ")
    val c = (100 to 140).map(i => s"z$i").mkString(" ")
    val tmp = java.nio.file.Files.createTempDirectory("graft_sig").toString
    val docsPath = s"$tmp/docs"; val sigPath = s"$tmp/sigs"
    Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
      .write.parquet(docsPath)
    val docs = spark.read.parquet(docsPath)

    // ONE signature computation: the build pass
    Dedup.buildSignatures(docs, "text", "doc_id", sigPath,
      shingleN = 3, numHashes = 16)

    val prebuilt = Dedup.minhashLshPrebuilt(spark, sigPath, "doc_id",
      numHashes = 16, bands = 4, threshold = 0.5)
    // scan-count proof that consumers cannot recompute signatures: the
    // prebuilt plan reads ONLY the signature table — the documents path
    // (the only place text lives) appears in no scan
    val plan = prebuilt.queryExecution.executedPlan.toString
    assert(!plan.contains(docsPath), s"prebuilt LSH rescans the documents:\n$plan")
    assert(plan.contains("sigs"), s"prebuilt LSH does not read the signature table:\n$plan")

    val fresh = Dedup.minhashLsh(docs, "text", "doc_id", shingleN = 3,
      numHashes = 16, bands = 4, threshold = 0.5)
      .select("key_a", "key_b").as[(Long, Long)].collect().toSet
    val got = prebuilt.select("key_a", "key_b").as[(Long, Long)].collect().toSet
    assert(got == fresh && got == Set((1L, 2L)))

    // incremental dedup against the SAME persisted artifact: corpus text
    // is never rescanned either — only the incoming side's path may scan
    val incoming = Seq((10L, a), (11L, "novel fresh content entirely new"))
      .toDF("doc_id", "text")
    val surv = Dedup.dedupAgainstCorpusPrebuilt(spark, sigPath, incoming,
      "text", "doc_id", shingleN = 3, numHashes = 16, bands = 4, threshold = 0.5)
    val sPlan = surv.queryExecution.executedPlan.toString
    assert(!sPlan.contains(docsPath), s"incremental dedup rescans the corpus:\n$sPlan")
    assert(surv.select("doc_id").as[Long].collect().toSet == Set(11L))
    CacheRegistry.releaseAll()
  }

  test("legacy STRING-shingle signature artifacts refuse append and " +
       "prebuilt incremental dedup with a rebuild hint") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_sigleg").toString
    // hand-built legacy artifact: _sh as shingle STRINGS (pre-hashed-set
    // schema), _sig/_sn shaped like a real build
    Seq((1L, Seq("a b c", "b c d"), (1L to 16L).toSeq, 3))
      .toDF("doc_id", "_sh", "_sig", "_sn")
      .write.parquet(s"$tmp/legacy")
    val docs = Seq((9L, "a b c d e")).toDF("doc_id", "text")
    val appendErr = intercept[IllegalArgumentException] {
      Dedup.appendSignatures(docs, "text", "doc_id", s"$tmp/legacy",
        shingleN = 3, numHashes = 16)
    }
    assert(appendErr.getMessage.contains("rebuild"), s"$appendErr")
    val dedupErr = intercept[IllegalArgumentException] {
      Dedup.dedupAgainstCorpusPrebuilt(spark, s"$tmp/legacy", docs,
        "text", "doc_id", shingleN = 3, numHashes = 16, bands = 4,
        threshold = 0.5).collect()
    }
    assert(dedupErr.getMessage.contains("rebuild"), s"$dedupErr")
    CacheRegistry.releaseAll()
  }

  test("signature table rebuild never tears a live reader (CAS versions)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_sigv").toString
    val docs = Seq((1L, "a b c d e f g"), (2L, "a b c d e f h"))
      .toDF("doc_id", "text")
    Dedup.buildSignatures(docs, "text", "doc_id", s"$tmp/s",
      shingleN = 3, numHashes = 16)
    // a reader resolves v=1 and holds its file list
    val held = graft.operators.IndexLifecycle.resolveDir(spark, s"$tmp/s")
    val before = spark.read.parquet(held).count()
    // REBUILD over the live artifact (bigger corpus) — stages v=2, flips
    Dedup.buildSignatures(docs.union(
        Seq((3L, "x y z w v u t")).toDF("doc_id", "text")),
      "text", "doc_id", s"$tmp/s", shingleN = 3, numHashes = 16)
    // the held version's files are untouched; new resolutions see v=2
    assert(spark.read.parquet(held).count() == before,
      "rebuild disturbed the version a live reader holds")
    assert(graft.operators.IndexLifecycle.resolveDir(spark, s"$tmp/s") != held)
    assert(spark.read.parquet(
      graft.operators.IndexLifecycle.resolveDir(spark, s"$tmp/s"))
      .count() == before + 1)
    CacheRegistry.releaseAll()
  }

  test("connected components: star-contraction fallback converges past the iteration budget") {
    // chain 1-2-3-...-40: diameter 39 >> maxIter 2 — the in-loop rounds
    // cannot finish, so the quotient recursion must close the cluster.
    // driverThreshold = 0 forces the DISTRIBUTED kernel (the default
    // regime probe would resolve this bounded graph on the driver)
    val chain = (1L until 40L).map(i => (i, i + 1)).toDF("key_a", "key_b")
    val cc = Clustering.connectedComponents(chain, "key_a", "key_b", maxIter = 2,
        driverThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.keySet == (1L to 40L).toSet)
    assert(cc.values.toSet == Set(1L), s"chain did not close: ${cc.values.toSet}")

    // reliable-checkpoint variant: same result, lineage cut to storage
    val dir = java.nio.file.Files.createTempDirectory("graft_ccckpt").toString
    val ccRDf = Clustering.connectedComponents(chain, "key_a", "key_b",
      maxIter = 2, checkpointDir = Some(dir), driverThreshold = 0L)
    val ccR = ccRDf.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ccR == cc)
    // superseded rounds' checkpoint files are deleted as the algorithm
    // advances (a long job must not accumulate O(iterations) of durable
    // storage) — only the files backing the returned frame (one per
    // recursion level) survive, and the result stays readable off them
    val ctxDir = spark.sparkContext.getCheckpointDir.get
    val rddDirs = new java.io.File(new java.net.URI(ctxDir).getPath).listFiles()
      .count(_.getName.startsWith("rdd-"))
    assert(rddDirs > 0 && rddDirs <= 8,
      s"expected only per-level finals to survive cleanup, found $rddDirs rdd dirs")
    assert(ccRDf.collect().length == 40, "result must remain readable after cleanup")
  }

  test("connected components: chains close transitively, min key labels the cluster") {
    // chain 1-2, 2-3, 3-4 (diameter 3) + separate pair 10-11 + crossing 4-2
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (4L, 2L))
      .toDF("key_a", "key_b")
    val cc = Clustering.connectedComponents(pairs, "key_a", "key_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
    val winners = Clustering.clusterWinners(
      Clustering.connectedComponents(pairs, "key_a", "key_b"), "key")
      .collect().map(_.getLong(0)).toSet
    assert(winners == Set(1L, 10L))
    CacheRegistry.releaseAll()
  }

  test("connected components: driver and distributed regimes agree on random graphs") {
    val rnd = new scala.util.Random(0xC0FFEE)
    for (trial <- 1 to 3) {
      val n = 30 + rnd.nextInt(40)
      val pairs = Seq.fill(n)((rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
        .filter(p => p._1 != p._2).toDF("key_a", "key_b")
      def run(threshold: Long) =
        Clustering.connectedComponents(pairs, "key_a", "key_b",
            driverThreshold = threshold)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val driver = run(Long.MaxValue)
      val distributed = run(0L)
      assert(driver == distributed,
        s"trial $trial: regimes diverged\n driver      $driver\n distributed $distributed")
    }
    // non-numeric keys: min-label = lexicographic min, same in both regimes
    val sPairs = Seq(("doc-b", "doc-a"), ("doc-b", "doc-c"), ("x", "y"))
      .toDF("key_a", "key_b")
    def runS(threshold: Long) =
      Clustering.connectedComponents(sPairs, "key_a", "key_b",
          driverThreshold = threshold)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val want = Map("doc-a" -> "doc-a", "doc-b" -> "doc-a", "doc-c" -> "doc-a",
      "x" -> "x", "y" -> "x")
    assert(runS(Long.MaxValue) == want && runS(0L) == want)

    // non-BMP vs private-use-area keys: UTF-16 code-unit order (Java
    // String.compareTo) says U+1F680 (surrogates D83D DE80) < U+F8FF, but
    // the distributed kernel's min() compares UTF-8 BYTES, where U+1F680
    // (F0 9F 9A 80) > U+F8FF (EF A3 BF) — a cluster of exactly these two
    // keys elects a DIFFERENT canonical label per order, so the driver
    // regime must compare like UTF8String or the regimes diverge
    val rocket = "\uD83D\uDE80"; val pua = "\uF8FF"
    val uPairs = Seq((rocket, pua), ("b", "a")).toDF("key_a", "key_b")
    def runU(threshold: Long) =
      Clustering.connectedComponents(uPairs, "key_a", "key_b",
          driverThreshold = threshold)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val wantU = Map(rocket -> pua, pua -> pua, "a" -> "a", "b" -> "a")
    assert(runU(0L) == wantU, "distributed regime: UTF-8 byte-order min")
    assert(runU(Long.MaxValue) == wantU,
      "driver regime must min-label in UTF8String byte order, not UTF-16")

    // null-keyed pairs are stripped identically in both regimes
    val nPairs = Seq((Some("p"), Some("q")), (None, Some("r")), (Some("s"), None))
      .toDF("key_a", "key_b")
    def runN(threshold: Long) =
      Clustering.connectedComponents(nPairs, "key_a", "key_b",
          driverThreshold = threshold)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val wantN = Map("p" -> "p", "q" -> "p")
    assert(runN(Long.MaxValue) == wantN && runN(0L) == wantN)
  }

  test("connected components: regimes cross over cleanly at exactly driverThreshold") {
    // 25 distinct undirected pairs = 50 directed edges after the
    // symmetrize+distinct. The probe takes the driver path iff
    // edgeCount <= 2 * driverThreshold, so threshold 25 lands EXACTLY on
    // the driver side of the boundary and 24 exactly on the distributed
    // side — both must label identically (two chains sharing min key 0)
    val pairs = ((0L until 20L).map(i => (i, i + 1)) ++
      (100L until 105L).map(i => (i, i + 1))).toDF("key_a", "key_b")
    def run(threshold: Long) =
      Clustering.connectedComponents(pairs, "key_a", "key_b",
          driverThreshold = threshold)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val atThreshold = run(25L)    // 50 <= 50: driver union-find
    val belowThreshold = run(24L) // 50 > 48: distributed kernel
    val want = ((0L to 20L).map(_ -> 0L) ++ (100L to 105L).map(_ -> 100L)).toMap
    assert(atThreshold == want, "driver regime at the exact boundary")
    assert(belowThreshold == want, "distributed regime one edge past the boundary")
  }

  test("sequence packing: bins are budget-sized spans of the key-ordered corpus") {
    val df = Seq((1L, 100), (2L, 900), (3L, 200), (4L, 1000), (5L, 50))
      .toDF("doc_id", "n")
    val bins = Sampling.packSequences(df, "doc_id", "n", budget = 1000)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // running-before: 0,100,1000,1200,2200 => bins 0,0,1,1,2
    assert(bins == Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L, 5L -> 2L))
  }

  test("chunk windows: overlap, truncated tail, short doc => single chunk") {
    val df = Seq(
      ("a", (1 to 7).map("t" + _).mkString(" ")), // 7 tokens
      ("b", "only three tokens")).toDF("k", "text")
    val out = df.select(col("k"),
        graft.functions.TextFunctions.chunkWindows(col("text"), 4, 2).as("c"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    // n=7, size=4, stride=2 => ceil(3/2)+1 = 3 chunks: [1..4],[3..6],[5..7]
    assert(out("a") == Seq("t1 t2 t3 t4", "t3 t4 t5 t6", "t5 t6 t7"))
    assert(out("b") == Seq("only three tokens"))
  }

  test("a renew landing inside the steal window is RESTORED, not deleted: " +
       "same lockId + fresh expiry is a different lease (two-holder guard)") {
    // the stealer re-reads, then renames away; a holder's renew (same
    // lockId, new expiry) landing between the two used to fall through a
    // lockId-only restore guard into delete+create — two seated holders.
    val dir = java.nio.file.Files.createTempDirectory("graft_lock_rn").toString
    val p = java.nio.file.Paths.get(dir, "_lock_job")
    val holderId = "holder-1"
    val renewed = s"$holderId,${System.currentTimeMillis() + 600000}"
    // plant an EXPIRED lease, then simulate the renew landing in the gap
    java.nio.file.Files.write(p,
      s"$holderId,${System.currentTimeMillis() - 1000}".getBytes("UTF-8"))
    val stolen = Locks.tryAcquireImpl(spark, dir, "job", 60000L, () =>
      java.nio.file.Files.write(p, renewed.getBytes("UTF-8")))
    assert(stolen.isEmpty, "the steal must abort when it moved a fresh lease")
    assert(new String(java.nio.file.Files.readAllBytes(p), "UTF-8") == renewed,
      "the renewed lease must be restored verbatim")
    assert(!java.nio.file.Files.list(java.nio.file.Paths.get(dir)).toArray
      .map(_.toString).exists(_.contains(".tomb.")), "no tomb debris")
    // control: with no interleaving renew, the expired lease IS stolen
    java.nio.file.Files.write(p,
      s"$holderId,${System.currentTimeMillis() - 1000}".getBytes("UTF-8"))
    assert(Locks.tryAcquire(spark, dir, "job", 60000L).isDefined)
  }

  test("withLock: a release failure does not mask the body's exception") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lock_wm").toString
    val boom = intercept[RuntimeException] {
      Locks.withLock(spark, dir, "job", ttlMs = 60000L) {
        // sabotage release: replace the lease so release() sees a foreign
        // holder and returns false — and even a throwing release path
        // must surface THIS exception, not its own
        java.nio.file.Files.write(
          java.nio.file.Paths.get(dir, "_lock_job"),
          s"other,${System.currentTimeMillis() + 60000}".getBytes("UTF-8"))
        throw new RuntimeException("business failure")
      }
    }
    assert(boom.getMessage == "business failure")
  }

  test("patchExpired with duplicate keys claims KEYS (howMany bounds " +
       "distinct keys) and never fans out the frame") {
    import java.sql.Timestamp
    val now = new Timestamp(100000L)
    val df = Seq(
      (1L, Timestamp.valueOf("2020-01-01 00:00:00"), "a"),
      (1L, Timestamp.valueOf("2020-01-01 00:00:00"), "b"), // dup key, expired
      (2L, Timestamp.valueOf("2020-01-02 00:00:00"), "c"),
      (3L, Timestamp.valueOf("2099-01-01 00:00:00"), "d"))
      .toDF("id", "exp", "v")
      .withColumn("s", struct(col("v").as("v")))
    val out = Patch.patchExpired(df, "s",
      Seq(Patch.SetField("v", lit("patched"))),
      expiryCol = "exp", keyCol = "id",
      now = Timestamp.valueOf("2021-01-01 00:00:00"), howMany = 2)
    assert(out.count() == 4, "output must have exactly the input's rows")
    val patched = out.filter(col("_patched")).select("id")
      .collect().map(_.getLong(0)).toSeq.sorted
    // 2 claimed KEYS = key 1 (both rows) + key 2: 3 patched rows
    assert(patched == Seq(1L, 1L, 2L), s"claimed rows: $patched")
    assert(out.filter(col("_patched") && col("s.v") =!= "patched").count() == 0)
  }

  test("writeShards is byte-identical across upstream partition layouts " +
       "even with duplicate keys (orderable-column tiebreak)") {
    val rows = Seq((1L, "alpha"), (1L, "beta"), (2L, "gamma"), (2L, "delta"),
      (3L, "epsilon"), (3L, "zeta"), (4L, "eta"))
    def bytes(parts: Int, out: String): Map[String, Seq[Byte]] = {
      Export.writeShards(rows.toDF("doc_id", "text").repartition(parts),
        "doc_id", 4, out, seed = "tb", format = "json")
      val root = java.nio.file.Paths.get(out)
      java.nio.file.Files.walk(root).toArray.map(_.toString)
        .filter(_.endsWith(".json")).sorted.zipWithIndex.map { case (f, i) =>
          s"shard-$i" -> java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(f)).toSeq
        }.toMap
    }
    val d = java.nio.file.Files.createTempDirectory("graft_shard_tb").toString
    val a = bytes(7, s"$d/a")
    val b = bytes(3, s"$d/b")
    assert(a == b, "shard bytes must not depend on upstream layout")
  }

  test("telemetry records the query's START time, not its completion time") {
    Telemetry.clear()
    Telemetry.install(spark)
    val t0 = System.currentTimeMillis()
    spark.range(0, 3000000L, 1, 4)
      .selectExpr("bit_xor(xxhash64(cast(id as string), 'pad'))").collect()
    val deadline = System.currentTimeMillis() + 15000
    while (Telemetry.history(spark).count() < 1 &&
           System.currentTimeMillis() < deadline) Thread.sleep(100)
    val tAfter = System.currentTimeMillis()
    // pick the HEAVIEST record (the range query above — the polling
    // count()s also get recorded and their tiny durations can't
    // distinguish start-stamped-at-completion from the fix)
    val r = Telemetry.history(spark).orderBy(col("durationMs").desc)
      .collect().head
    val started = r.getLong(1); val dur = r.getDouble(2)
    assert(started >= t0 - 5, s"start $started before the action began $t0")
    assert(started + dur <= tAfter + 5,
      s"startedAtMs + durationMs ($started + $dur) must not exceed " +
        s"completion ($tAfter): started is stamped at completion")
  }

  test("business locks: exclusive acquire, TTL steal, safe release/renew") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lock").toString
    val a = Locks.tryAcquire(spark, dir, "job", ttlMs = 60000)
    assert(a.isDefined)
    assert(Locks.tryAcquire(spark, dir, "job", 60000).isEmpty) // validly held
    assert(Locks.release(spark, dir, a.get))
    assert(!Locks.release(spark, dir, a.get)) // double release: no-op
    // sub-margin TTLs are rejected up front (they could never be released)
    assertThrows[IllegalArgumentException](
      Locks.tryAcquire(spark, dir, "jobX", ttlMs = Locks.ExpiryMarginMs))
    // TTL steal: an expired lease is claimable, the stale holder is inert
    val s = Locks.tryAcquire(spark, dir, "job2", ttlMs = Locks.ExpiryMarginMs + 100).get
    Thread.sleep(Locks.ExpiryMarginMs + 200)
    val thief = Locks.tryAcquire(spark, dir, "job2", 60000)
    assert(thief.isDefined && thief.get.lockId != s.lockId)
    assert(!Locks.release(spark, dir, s))      // stale lease can't free it
    assert(Locks.renew(spark, dir, s, 1000).isEmpty) // nor renew it
    val r = Locks.renew(spark, dir, thief.get, 120000)
    assert(r.exists(_.expiresAtMs >= thief.get.expiresAtMs))
    // withLock: runs the body, always releases
    assert(Locks.withLock(spark, dir, "job3", 60000) { 42 } == 42)
    assert(Locks.holder(spark, dir, "job3").isEmpty)
    // racing acquirers. On HDFS the exclusive create arbitrates exactly one
    // winner; the local checksum FS is weaker (torn files possible), so the
    // portable invariants are: never TWO confirmed holders, and the lock
    // stays usable whatever the interleaving (garbage is claimable).
    val granted = new java.util.concurrent.ConcurrentLinkedQueue[Locks.Lease]
    val threads = (1 to 8).map(_ => new Thread(() =>
      Locks.tryAcquire(spark, dir, "race", ttlMs = 5000).foreach(granted.add)))
    threads.foreach(_.start()); threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    val h = Locks.holder(spark, dir, "race")
    assert(h.isEmpty || granted.asScala.count(_.lockId == h.get.lockId) <= 1)
    granted.asScala.foreach(l => Locks.release(spark, dir, l))
    // whoever held it released — or the lease lapses within its 5s TTL, or
    // the file is torn garbage (immediately claimable): reacquirable soon
    val after = Locks.acquire(spark, dir, "race", 60000, waitMs = 10000)
    assert(after.isDefined)
    assert(Locks.release(spark, dir, after.get))
  }

  // --- corpus analytics --------------------------------------------------------

  test("wordFreq: counts with alphabetical tie-break, top-k cut") {
    val docs = Seq("b a a", "c b", "c").toDF("text")
    val out = TermStats.wordFreq(docs, "text", 2).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // a=2, b=2, c=2 — all tied; alphabetical order decides the top-2 cut
    assert(out.toSeq == Seq(("a", 2L), ("b", 2L)))
  }

  test("corpusOverlap: exact Jaccard of distinct shingle sets") {
    // one-token docs shingle to themselves: sets {x,y,z} vs {y,z,w}
    val a = Seq("x", "y", "z", "y").toDF("text") // dup y — distinct collapses
    val b = Seq("y", "z", "w").toDF("text")
    val r = TermStats.corpusOverlap(a, b, "text", 3).collect().head
    assert(r.getLong(0) == 2L && r.getLong(1) == 4L) // inter={y,z}, uni={x,y,z,w}
    assert(r.getDouble(2) == 0.5)
  }

  test("corpusOverlapSketch: exact when k covers the union; close at small k") {
    // k >= |union|: the sketch degenerates to the exact computation
    val a = Seq("x", "y", "z", "y").toDF("text")
    val b = Seq("y", "z", "w").toDF("text")
    val r = TermStats.corpusOverlapSketch(a, b, "text", 3, k = 64).collect().head
    assert(r.getLong(0) == 4L && r.getLong(1) == 2L) // k_eff=|uni|=4, inter=2
    assert(r.getDouble(2) == 0.5)

    // real corpus, k = 256: estimate within ~4 stderr of the exact Jaccard
    val docs = Tables(spark, "/root/testdata/sf0.01", "documents")
    val s0 = docs.filter(col("source") === "src0")
    val s1 = docs.filter(col("source") === "src1")
    val exact = TermStats.corpusOverlap(s0, s1, "text", 3)
      .collect().head.getDouble(2)
    val est = TermStats.corpusOverlapSketch(s0, s1, "text", 3, k = 256)
      .collect().head.getDouble(2)
    val tol = 4 * math.sqrt(exact * (1 - exact) / 256) + 1e-6
    assert(math.abs(est - exact) <= tol, s"est $est vs exact $exact (tol $tol)")
  }

  test("fuzzy pairs: blocked levenshtein, canonical order, no cross-block pairs") {
    val df = Seq("red widget", "rad widget", "red bolt", "rod widget", "red widget")
      .toDF("p_name")
    val out = Fuzzy.pairs(df, "p_name", v => element_at(split(v, " "), 2), 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    // "red bolt" blocks alone (bolt) — never pairs despite dist 4 to others;
    // widget block: all three pairwise within dist 2, pairs canonical (a < b)
    assert(out == Set(
      ("rad widget", "red widget", 1),
      ("rad widget", "rod widget", 1),
      ("red widget", "rod widget", 1)))
  }

  test("fuzzy pairs: bounded levenshtein == unbounded filtered (threshold edge kept)") {
    // dist("abcd","abXY") = 2 == maxDist — the threshold form must return
    // the exact distance AT the bound, not -1 (off-by-one would drop it)
    val df = Seq("abcd z", "abXY z", "QRSTU z").toDF("p_name")
    val out = Fuzzy.pairs(df, "p_name", v => element_at(split(v, " "), 2), 2)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toSet
    assert(out == Set(("abXY z", "abcd z", 2))) // QRSTU: dist 5 and 4 — both cut
  }

  test("profile pivot refuses duplicate fields") {
    val long = Seq((1L, "name", "alice")).toDF("entity", "field", "value")
    val e = intercept[IllegalArgumentException] {
      Profile.getStream(long, "entity", "field", "value", Seq("name", "name"))
    }
    assert(e.getMessage.contains("duplicate profile fields"))
  }

  test("deterministicShuffle: reproducible permutation, engine-portable key") {
    val df = (1 to 100).toDF("id")
    val s1 = Sampling.deterministicShuffle(df, "id", "seed7").collect()
    val s2 = Sampling.deterministicShuffle(df, "id", "seed7").collect()
    assert(s1.map(_.getInt(0)).toSeq == s2.map(_.getInt(0)).toSeq) // same run order
    assert(s1.map(_.getInt(0)).toSet == (1 to 100).toSet)          // a permutation
    assert(s1.map(_.getInt(0)).toSeq != (1 to 100).toSeq)          // actually shuffled
    // a different seed produces a different order
    val s3 = Sampling.deterministicShuffle(df, "id", "seed8").collect()
    assert(s3.map(_.getInt(0)).toSeq != s1.map(_.getInt(0)).toSeq)
  }

  test("shard export: deterministic assignment, balanced, ordered within shard") {
    val dir = java.nio.file.Files.createTempDirectory("graft_shards").toString
    val df = (1 to 2000).map(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
    Export.writeShards(df, "doc_id", 8, dir, seed = "e1")
    val back = spark.read.parquet(dir)
    assert(back.count() == 2000)
    // every shard present, sizes balanced (uniform hash: 250 expected/shard)
    val sizes = back.groupBy("shard").count().collect()
      .map(r => r.getAs[Number]("shard").intValue() -> r.getLong(1)).toMap
    assert(sizes.keySet == (0 until 8).toSet)
    assert(sizes.values.forall(c => c > 150 && c < 350), s"skewed shards: $sizes")
    // assignment is a pure key function: recomputing matches what was written
    val expect = Export.withShard(df, "doc_id", 8, "e1")
      .select(col("doc_id"), col("shard")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    back.select("doc_id", "shard").collect().foreach { r =>
      assert(expect(r.getLong(0)) == r.getAs[Number]("shard").intValue())
    }
    // within a shard file, rows follow the portable order key
    val shard0 = spark.read.parquet(s"$dir/shard=0").select("ord_key")
      .collect().map(_.getString(0)).toSeq
    assert(shard0 == shard0.sorted)
    // a different seed reshuffles: some key changes shard
    Export.writeShards(df, "doc_id", 8, dir + "2", seed = "e2")
    val two = spark.read.parquet(dir + "2").select("doc_id", "shard").collect()
      .map(r => r.getLong(0) -> r.getAs[Number]("shard").intValue()).toMap
    assert((1 to 2000).exists(i => two(i.toLong) != expect(i.toLong)))
  }

  test("shard export edge rules: null keys land in a real shard (both " +
       "assignment paths agree rows survive); re-sharding a sharded frame " +
       "is refused") {
    val df = Seq((java.lang.Long.valueOf(1L), "a b"),
      (null.asInstanceOf[java.lang.Long], "c d e"),
      (java.lang.Long.valueOf(3L), "f")).toDF("doc_id", "text")
    val shards = Export.withShard(df, "doc_id", 4, "e1").collect()
    assert(shards.length == 3, "withShard dropped a row")
    assert(shards.forall(r => !r.isNullAt(r.fieldIndex("shard"))),
      "null key produced a NULL shard (the Hive default-partition trap)")
    val tb = Export.tokenBalancedShards(df, "text", "doc_id", 2,
      bucketsPerShard = 4).collect()
    assert(tb.length == 3, "tokenBalancedShards dropped the null-key row")
    assert(tb.forall(r => !r.isNullAt(r.fieldIndex("shard"))))
    // clobber guard: a frame that already carries shard/ord_key (the shape
    // writeShards itself persists) is refused, not silently re-assigned
    val e = intercept[IllegalArgumentException] {
      Export.withShard(
        Export.withShard(df, "doc_id", 4, "e1"), "doc_id", 8, "e2")
    }
    assert(e.getMessage.contains("shard"), e.getMessage)
  }

  test("shard manifest: layout-independent, detects dropped/altered rows, " +
       "diff empty on a faithful copy") {
    val dir = java.nio.file.Files.createTempDirectory("graft_manifest").toString
    val df = (1 to 500).map(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
    Export.writeShards(df, "doc_id", 4, dir, seed = "m1")
    val exported = spark.read.parquet(dir)
    val m1 = Export.shardManifest(exported)
    // partition layout must not matter: a repartitioned re-read hashes equal
    val m2 = Export.shardManifest(exported.repartition(13))
    assert(Export.manifestDiff(m1, m2).isEmpty, "layout changed the manifest")
    // a faithful copy passes
    val dir2 = java.nio.file.Files.createTempDirectory("graft_manifest2").toString
    exported.write.mode("overwrite").partitionBy("shard").parquet(dir2)
    assert(Export.manifestDiff(m1,
      Export.shardManifest(spark.read.parquet(dir2))).isEmpty)
    // a dropped row and an altered row both surface, on the right shards
    val tampered = exported.filter(col("doc_id") =!= 7L)
      .union(exported.filter(col("doc_id") === 9L)
        .withColumn("text", lit("evil")))
      .filter(col("doc_id") =!= 9L || col("text") === "evil")
    val bad = Export.manifestDiff(m1, Export.shardManifest(tampered))
      .collect().map(_.getAs[Number]("shard").intValue()).toSet
    val shardOf = exported.filter(col("doc_id").isin(7L, 9L))
      .select("doc_id", "shard").collect()
      .map(r => r.getLong(0) -> r.getAs[Number]("shard").intValue()).toMap
    assert(bad == Set(shardOf(7L), shardOf(9L)), s"wrong shards flagged: $bad")
  }

  // --- segment dedup / boilerplate ---------------------------------------------

  test("segmentDedup: first occurrence wins, reassembly in order, empty doc drops") {
    // 3-token segments; doc 1 = A B, doc 2 = B C (B dup), doc 3 = A (all dup)
    val a = "a1 a2 a3"; val b = "b1 b2 b3"; val c = "c1 c2 c3"
    val docs = Seq((1L, s"$a $b"), (2L, s"$b $c"), (3L, a))
      .toDF("doc_id", "text")
    val out = Dedup.segmentDedup(docs, "text", "doc_id", segTokens = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> s"$a $b", 2L -> c)) // doc 3 vanished entirely
  }

  test("segmentDedup: within-doc repeats collapse; short tail segment kept") {
    val docs = Seq((1L, "x y z x y z w")).toDF("doc_id", "text") // seg3: xyz|xyz|w
    val out = Dedup.segmentDedup(docs, "text", "doc_id", segTokens = 3)
      .collect().map(_.getString(1))
    assert(out.toSeq == Seq("x y z w"))
  }

  test("stripBoilerplate: > maxDocs segments drop everywhere, rest keep all copies") {
    val nav = "home about contact"
    val docs = Seq(
      (1L, s"$nav u1 u2 u3"), (2L, s"$nav v1 v2 v3"),
      (3L, s"$nav w1 w2 w3"), (4L, "x1 x2 x3")).toDF("doc_id", "text")
    val out = Dedup.stripBoilerplate(docs, "text", "doc_id",
        maxDocs = 2, segTokens = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // nav appears in 3 docs > 2 => stripped from all three; unique bodies stay
    assert(out == Map(1L -> "u1 u2 u3", 2L -> "v1 v2 v3",
      3L -> "w1 w2 w3", 4L -> "x1 x2 x3"))
  }

  // --- substring dedup (repeated k-gram span removal) --------------------------

  test("substringDedup: cross-doc duplicated span removed from both docs, " +
       "unique context survives") {
    // shared 4-token passage inside different contexts, k=3: every token of
    // the passage is covered by some duplicated 3-gram in BOTH docs
    val docs = Seq(
      (1L, "u1 u2 p1 p2 p3 p4 u3 u4"),
      (2L, "v1 p1 p2 p3 p4 v2 v3 v4")).toDF("doc_id", "text")
    val out = Dedup.substringDedup(docs, "text", "doc_id", k = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[Int]("n_tokens"), r.getAs[Int]("n_removed"),
          r.getAs[String]("clean_text")))).toMap
    assert(out == Map(
      1L -> ((8, 4, "u1 u2 u3 u4")),
      2L -> ((8, 4, "v1 v2 v3 v4"))))
  }

  test("substringDedup: within-doc repetition counts as duplication") {
    // "p1 p2 p3" appears twice in ONE doc — both copies' tokens are covered
    val docs = Seq((1L, "a p1 p2 p3 b p1 p2 p3 c")).toDF("doc_id", "text")
    val out = Dedup.substringDedup(docs, "text", "doc_id", k = 3)
      .collect().map(r => (r.getAs[Int]("n_removed"), r.getAs[String]("clean_text")))
    assert(out.toSeq == Seq((6, "a b c")))
  }

  test("substringDedup: docs shorter than k pass through untouched; " +
       "fully-duplicated doc keeps empty text") {
    val docs = Seq(
      (1L, "t1 t2"),             // < k: no window fits
      (2L, "d1 d2 d3 d4"),       // exact duplicate of 3
      (3L, "d1 d2 d3 d4")).toDF("doc_id", "text")
    val out = Dedup.substringDedup(docs, "text", "doc_id", k = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[Int]("n_tokens"), r.getAs[Int]("n_removed"),
          r.getAs[String]("clean_text")))).toMap
    assert(out == Map(
      1L -> ((2, 0, "t1 t2")),
      2L -> ((4, 4, "")),
      3L -> ((4, 4, ""))))
  }

  test("substringDedup: overlapping duplicated windows merge — no token " +
       "removed twice, counts consistent") {
    // doc 1 & 2 share a 5-token run => 3 overlapping 3-grams; covered set is
    // the UNION of their spans (5 tokens), not 9
    val docs = Seq(
      (1L, "s1 s2 s3 s4 s5 x1"),
      (2L, "y1 s1 s2 s3 s4 s5")).toDF("doc_id", "text")
    val out = Dedup.substringDedup(docs, "text", "doc_id", k = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[Int]("n_removed"), r.getAs[String]("clean_text")))).toMap
    assert(out == Map(1L -> ((5, "x1")), 2L -> ((5, "y1"))))
  }

  test("substringDedupPrebuilt == substringDedup over corpus ∪ incoming, " +
       "restricted to incoming") {
    val corpus = Seq(
      (10L, "c1 c2 p1 p2 p3 c3"),
      (11L, "c4 c5 c6 c7")).toDF("doc_id", "text")
    val incoming = Seq(
      (1L, "a1 p1 p2 p3 a2"),     // shares a span with corpus doc 10
      (2L, "b1 b2 b3 b4 b5"),     // unique
      (3L, "b1 b2 b3 z1 z2")).toDF("doc_id", "text") // dup within incoming
    val dir = java.nio.file.Files.createTempDirectory("graft-gram").toString
    Dedup.buildGramIndex(corpus, "text", "doc_id", s"$dir/g", k = 3)
    val got = Dedup.substringDedupPrebuilt(spark, s"$dir/g", incoming,
        "text", "doc_id", k = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[Int]("n_removed"), r.getAs[String]("clean_text")))).toMap
    val full = Dedup.substringDedup(corpus.union(incoming), "text", "doc_id", k = 3)
      .filter($"doc_id" < 10)
      .collect().map(r => r.getLong(0) ->
        ((r.getAs[Int]("n_removed"), r.getAs[String]("clean_text")))).toMap
    assert(got == full)
    assert(got(1L) == ((3, "a1 a2"))) // corpus-shared span removed
    assert(got(2L)._1 == 3 && got(3L)._1 == 3) // incoming-internal dup removed
  }

  test("RollingGramHashExpr: rolling == direct polynomial; interpreted == " +
       "codegen; sub-k arrays empty; equal windows collide, different don't") {
    import org.apache.spark.sql.catalyst.expressions.{Literal, XXH64}
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, StringType}
    val k = 3
    val toks = Seq("a", "bb", "c", "a", "bb", "c", "d")
    // direct (non-rolling) recompute of the documented polynomial
    val B = 0x9E3779B97F4A7C15L
    def th(s: String) =
      XXH64.hashUTF8String(org.apache.spark.unsafe.types.UTF8String.fromString(s), 42L)
    val want = (0 to toks.size - k).map { i =>
      toks.slice(i, i + k).foldLeft(0L)((h, t) => h * B + th(t))
    }
    val expr = graft.functions.RollingGramHashExpr(
      Literal.create(toks, ArrayType(StringType)), k)
    val got = expr.eval(null).asInstanceOf[ArrayData].toLongArray().toSeq
    assert(got == want, "rolling update drifted from the direct polynomial")
    // identical windows (0 and 3) hash equal; all other pairs differ
    assert(got(0) == got(3))
    assert(got.distinct.size == got.size - 1)
    // DataFrame (codegen) path agrees with interpreted eval
    val viaDf = spark.sql("SELECT 1")
      .select(graft.functions.TextFunctions.gramHashes(
        typedLit(toks), k).as("h"))
      .head().getSeq[Long](0).toSeq
    assert(viaDf == want, "codegen path drifted from interpreted eval")
    // fewer than k tokens => empty, never null
    val short = graft.functions.RollingGramHashExpr(
      Literal.create(Seq("x"), ArrayType(StringType)), k)
    assert(short.eval(null).asInstanceOf[ArrayData].numElements() == 0)
  }

  test("bm25TopK: distributed plan == direct scalar replay; no-hit docs absent") {
    val docs = Seq(
      (1L, "a b a"), (2L, "a c"), (3L, "d d d"), (4L, "x y z"))
      .toDF("doc_id", "text")
    val got = graft.operators.TermStats
      .bm25TopK(docs, "text", "doc_id", Seq("a", "d"), k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // direct replay of the documented formula + integer-scaling discipline
    val corpus = Map(1L -> "a b a", 2L -> "a c", 3L -> "d d d", 4L -> "x y z")
    val n = corpus.size
    val dls = corpus.view.mapValues(_.split(" ").length).toMap
    val avgdl = dls.values.sum.toDouble / n
    def tf(d: Long, t: String) = corpus(d).split(" ").count(_ == t)
    val dfm = Seq("a", "d").map(t => t -> corpus.values.count(_.split(" ").contains(t))).toMap
    def score(d: Long): Double = {
      val s = Seq("a", "d").map { t =>
        val f = tf(d, t)
        if (f == 0) 0L
        else {
          val idf = math.log(1.0 + (n - dfm(t) + 0.5) / (dfm(t) + 0.5))
          val ts = idf * (f * 2.2) /
            (f + 1.2 * (1.0 - 0.75 + 0.75 * dls(d) / avgdl))
          (math.signum(ts) * math.floor(math.abs(ts) * 1e6 + 0.5)).toLong
        }
      }.sum
      BigDecimal(s.toDouble / 1e6).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(got.keySet == Set(1L, 2L, 3L), "doc 4 matches nothing => absent")
    Seq(1L, 2L, 3L).foreach { d =>
      assert(got(d) == score(d), s"doc $d: got ${got(d)} want ${score(d)}")
    }
    // the repeated rare term dominates: doc 3 ranks first
    assert(got(3L) > got(1L) && got(1L) > got(2L))
  }

  test("lshRecallReport: found <= exact always; more bands never lower " +
       "recall at a fixed hash budget; empty-truth slice reports NULL") {
    // moderately-similar pairs (J ~ 0.3-0.5): few-band configs miss some,
    // many-band configs catch more — the s-curve the diagnostic measures
    def doc(base: Seq[String], extra: Seq[String]) = (base ++ extra).mkString(" ")
    val shared = (1 to 8).map("s" + _)
    val docs = (0 until 20).map { i =>
      val noise = (1 to 10).map(j => s"n$i-$j")
      (i.toLong, doc(shared, noise))
    }.toDF("doc_id", "text")
    val rep = graft.operators.Dedup.lshRecallReport(docs, "text", "doc_id",
        shingleN = 3, threshold = 0.2, configs = Seq((16, 2), (16, 4), (16, 8)))
      .collect().map(r => (r.getInt(1),
        (r.getLong(2), r.getLong(3), Option(r.get(4)).map(_.asInstanceOf[Double]))))
      .toMap
    val nExact = rep(2)._1
    assert(nExact > 0, "fixture must contain exact pairs")
    rep.values.foreach { case (ex, found, rec) =>
      assert(ex == nExact && found <= ex && rec.isDefined)
    }
    assert(rep(2)._3.get <= rep(4)._3.get + 1e-9 &&
      rep(4)._3.get <= rep(8)._3.get + 1e-9,
      s"recall must be monotone in bands at fixed hashes: $rep")
    // an empty-truth slice reports NULL recall, not a division blowup
    val empty = graft.operators.Dedup.lshRecallReport(
        Seq((1L, "a b c"), (2L, "x y z")).toDF("doc_id", "text"),
        "text", "doc_id", shingleN = 3, threshold = 0.9,
        configs = Seq((16, 4)))
      .collect().head
    assert(empty.getLong(2) == 0 && empty.isNullAt(4))
    // the pairwise-truth contract is enforced, not just documented: a
    // corpus-sized input fails fast instead of launching an O(n^2) join
    val oversize = intercept[IllegalArgumentException] {
      graft.operators.Dedup.lshRecallReport(docs, "text", "doc_id",
        shingleN = 3, threshold = 0.2, configs = Seq((16, 2)), maxRows = 10)
    }
    assert(oversize.getMessage.contains("maxRows"))
  }

  test("rrfFuse: both-lists keys sum two reciprocals, single-list keys one; " +
       "order by fused score with key tie-break") {
    val a = Seq((1L, 9.0), (2L, 5.0), (3L, 1.0)).toDF("k", "sa") // ranks 1,2,3
    val b = Seq((2L, 0.9), (4L, 0.8)).toDF("k", "sb")            // ranks 1,2
    val got = graft.operators.TermStats
      .rrfFuse(a, "k", "sa", b, "k", "sb", k = 10, k0 = 60)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val want = Seq(
      2L -> r6(1.0 / 62 + 1.0 / 61), // in both lists
      1L -> r6(1.0 / 61),
      4L -> r6(1.0 / 62),
      3L -> r6(1.0 / 63))
    assert(got == want, s"got $got want $want")
  }

  test("rrfFuseBatch == rrfFuse per query (fused scores, order, tie-breaks)") {
    val a = Seq((10L, 1L, 9.0), (10L, 2L, 5.0), (10L, 3L, 1.0),
      (20L, 7L, 4.0), (20L, 8L, 4.0)).toDF("qid", "k", "sa")
    val b = Seq((10L, 2L, 0.9), (10L, 4L, 0.8),
      (20L, 8L, 0.5), (20L, 9L, 0.4)).toDF("qid", "k", "sb")
    val batch = graft.operators.TermStats
      .rrfFuseBatch(a, "qid", "k", "sa", b, "k", "sb", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSeq).toMap
    for (qid <- Seq(10L, 20L)) {
      val single = graft.operators.TermStats
        .rrfFuse(a.filter($"qid" === qid).select("k", "sa"), "k", "sa",
          b.filter($"qid" === qid).select("k", "sb"), "k", "sb", k = 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batch(qid) == single,
        s"qid $qid: batch ${batch(qid)} != single $single")
    }
  }

  test("rrfFuseBatchRanked over kernel-supplied ranks == rrfFuseBatch over " +
       "scores (the ranked handoff drops two windows, changes nothing)") {
    // ranks computed exactly as the kernels cut their top-k: score DESC,
    // key ASC within each qid — including a tie (7/8 at 4.0, key breaks)
    val a = Seq((10L, 1L, 9.0), (10L, 2L, 5.0), (10L, 3L, 1.0),
      (20L, 7L, 4.0), (20L, 8L, 4.0)).toDF("qid", "k", "sa")
    val b = Seq((10L, 2L, 0.9), (10L, 4L, 0.8),
      (20L, 8L, 0.5), (20L, 9L, 0.4)).toDF("qid", "k", "sb")
    def ranked(df: org.apache.spark.sql.DataFrame, sc: String) = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"qid").orderBy(col(sc).desc, $"k".asc)
      df.withColumn("_rank", row_number().over(w))
    }
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, -t._3, t._2)).toSeq
    val viaScores = canon(graft.operators.TermStats
      .rrfFuseBatch(a, "qid", "k", "sa", b, "k", "sb", k = 10))
    val viaRanks = canon(graft.operators.TermStats
      .rrfFuseBatchRanked(ranked(a, "sa"), "qid", "k", "_rank",
        ranked(b, "sb"), "k", "_rank", k = 10))
    assert(viaRanks == viaScores,
      s"ranked handoff drifted:\n$viaRanks\n$viaScores")
  }

  test("bm25TopKBatchPrebuilt == bm25TopKPrebuilt per query over one build") {
    val docs = Seq((1L, "a b a c"), (2L, "a c c"), (3L, "d d b"),
      (4L, "x y a"), (5L, "b b d")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-bm25b").toString
    graft.operators.TermStats.buildTextIndex(docs, "text", "doc_id", s"$dir/idx")
    val qs = Seq((10L, Seq("a", "d")), (20L, Seq("c")), (30L, Seq("zz")),
      (40L, Seq("a", "a", "b"))).toDF("qid", "terms")
    val batch = graft.operators.TermStats
      .bm25TopKBatchPrebuilt(spark, s"$dir/idx", "doc_id", qs, "qid", "terms", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSeq).toMap
    for ((qid, terms) <- Seq(10L -> Seq("a", "d"), 20L -> Seq("c"),
        40L -> Seq("a", "a", "b"))) {
      val single = graft.operators.TermStats
        .bm25TopKPrebuilt(spark, s"$dir/idx", "doc_id", terms, k = 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batch(qid) == single,
        s"qid $qid: batch ${batch(qid)} != single $single")
    }
    // a query with no matching term contributes no rows
    assert(!batch.contains(30L))
  }

  test("phraseSearchPrebuilt: consecutive-token semantics, duplicate slots, " +
       "multi-occurrence counts, append == rebuild") {
    import graft.operators.TermStats
    val a = Seq(
      (1L, "x a b a y a b a"),   // "a b a" at bases 1 and 5 (overlapping ok)
      (2L, "a b c a b"),         // "a b" twice; "a b a" never
      (3L, "b a b a"),           // "a b a" at base 1
      (4L, "a x b x a")          // terms present, never consecutive
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-phrase").toString
    TermStats.buildPhraseIndex(a, "text", "doc_id", s"$dir/idx")
    def hits(phrase: Seq[String]) =
      TermStats.phraseSearchPrebuilt(spark, s"$dir/idx", "doc_id", phrase)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // duplicate-term phrase: slot voting must count the SAME term at two
    // offsets — the case a naive distinct-term join silently breaks
    assert(hits(Seq("a", "b", "a")) == Map(1L -> 2L, 3L -> 1L))
    assert(hits(Seq("a", "b")) == Map(1L -> 2L, 2L -> 2L, 3L -> 1L))
    // single term degenerates to term-occurrence count
    assert(hits(Seq("y")) == Map(1L -> 1L))
    // all terms present but non-consecutive: no hit (doc 4)
    assert(!hits(Seq("a", "b")).contains(4L))
    // append == rebuild: new docs join the same artifact
    val b = Seq((5L, "q a b q")).toDF("doc_id", "text")
    TermStats.appendPhraseIndex(b, "text", "doc_id", s"$dir/idx")
    val appended = hits(Seq("a", "b"))
    val dir2 = java.nio.file.Files.createTempDirectory("graft-phrase2").toString
    TermStats.buildPhraseIndex(a.union(b), "text", "doc_id", s"$dir2/idx")
    val rebuilt = TermStats
      .phraseSearchPrebuilt(spark, s"$dir2/idx", "doc_id", Seq("a", "b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(appended == rebuilt && appended.get(5L).contains(1L),
      s"append $appended != rebuild $rebuilt")
  }

  test("bm25TopKPrebuilt: build(A) + append(B) == bm25TopK over A ∪ B; " +
       "identical to the adhoc form on one build") {
    val a = Seq((1L, "a b a c"), (2L, "a c c")).toDF("doc_id", "text")
    val b = Seq((3L, "d d b"), (4L, "x y a")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-text").toString
    graft.operators.TermStats.buildTextIndex(a, "text", "doc_id", s"$dir/idx")
    // probe A alone first: it memoizes A's N, Σdl and df, so a memo that
    // ignored the listing fingerprint would score the A ∪ B probe below
    // with A's statistics and break its equality with the adhoc form
    val onlyA = graft.operators.TermStats
      .bm25TopKPrebuilt(spark, s"$dir/idx", "doc_id", Seq("a", "d"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(onlyA == graft.operators.TermStats
      .bm25TopK(a, "text", "doc_id", Seq("a", "d"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    graft.operators.TermStats.appendTextIndex(b, "text", "doc_id", s"$dir/idx")
    val pre = graft.operators.TermStats
      .bm25TopKPrebuilt(spark, s"$dir/idx", "doc_id", Seq("a", "d"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val adhoc = graft.operators.TermStats
      .bm25TopK(a.union(b), "text", "doc_id", Seq("a", "d"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(pre == adhoc, s"prebuilt drifted from adhoc: $pre vs $adhoc")
    assert(pre.map(_._1).toSet == Set(1L, 2L, 3L, 4L))
    // compaction: identical rankings, stats folded to one row
    graft.operators.TermStats.compactTextIndex(spark, s"$dir/idx", s"$dir/idx2")
    val compacted = graft.operators.TermStats
      .bm25TopKPrebuilt(spark, s"$dir/idx2", "doc_id", Seq("a", "d"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(compacted == pre)
    val idx2dir = graft.operators.TermStats.resolveIndexDir(spark, s"$dir/idx2")
    assert(spark.read.parquet(s"$idx2dir/stats").count() == 1)
  }

  test("bm25TopKPrebuilt: a pre-dl LEGACY index (postings without the " +
       "denormalized doc length) still serves via the lengths join; " +
       "appendTextIndex refuses it loudly") {
    import graft.operators.TermStats
    val docs = Seq((1L, "a b a c"), (2L, "a c c"), (3L, "d d b"))
      .toDF("doc_id", "text")
    // hand-build the PRE-DL flat layout: postings (term, doc_id, tf) with
    // no dl column, lengths and stats as today — what a v<=r9 build wrote
    val dir = java.nio.file.Files.createTempDirectory("graft-legacy").toString
    val idx = s"$dir/idx"
    val toks = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("term"))
    val dl = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("dl"))
    toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .write.parquet(s"$idx/postings")
    dl.write.parquet(s"$idx/lengths")
    dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("sdl"))
      .write.parquet(s"$idx/stats")

    val legacy = TermStats
      .bm25TopKPrebuilt(spark, idx, "doc_id", Seq("a", "d"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val adhoc = TermStats
      .bm25TopK(docs, "text", "doc_id", Seq("a", "d"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(legacy == adhoc, s"legacy-index probe drifted: $legacy vs $adhoc")

    // appending dl-bearing postings beside dl-less ones would read back
    // inconsistently without mergeSchema — must be refused, not mixed
    val e = intercept[IllegalArgumentException] {
      TermStats.appendTextIndex(Seq((4L, "a a")).toDF("doc_id", "text"),
        "text", "doc_id", idx)
    }
    assert(e.getMessage.contains("legacy"))
  }

  test("terms/ df dictionary: build writes it, append maintains additive " +
       "partials, a dl-bearing index WITHOUT it serves via recount and " +
       "append leaves it absent until compact upgrades") {
    import graft.operators.{TermStats, IndexLifecycle}
    val a = Seq((1L, "a b a c"), (2L, "a c c")).toDF("doc_id", "text")
    val b = Seq((3L, "d d b"), (4L, "x y a")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-terms").toString
    TermStats.buildTextIndex(a, "text", "doc_id", s"$dir/idx")
    TermStats.appendTextIndex(b, "text", "doc_id", s"$dir/idx")
    val vdir = TermStats.resolveIndexDir(spark, s"$dir/idx")
    // summed partials must equal a recount over the grown postings
    val fromTerms = spark.read.parquet(s"$vdir/terms")
      .groupBy(col("term")).agg(sum(col("df")).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val recount = spark.read.parquet(s"$vdir/postings")
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fromTerms == recount,
      s"terms/ partials drifted from the postings recount: $fromTerms vs $recount")

    // a dl-bearing index with NO terms/ (the r11 layout): serving falls
    // back to the recount, append must NOT create undercounted partials
    val dir2 = java.nio.file.Files.createTempDirectory("graft-noterms").toString
    TermStats.buildTextIndex(a, "text", "doc_id", s"$dir2/idx")
    val v2 = TermStats.resolveIndexDir(spark, s"$dir2/idx")
    val fsPath = new org.apache.hadoop.fs.Path(s"$v2/terms")
    fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(fsPath, true)
    TermStats.appendTextIndex(b, "text", "doc_id", s"$dir2/idx")
    assert(!IndexLifecycle.tableExists(spark, s"$v2/terms"),
      "append must not seed a partial-only terms/ on an index built without one")
    val served = TermStats
      .bm25TopKPrebuilt(spark, s"$dir2/idx", "doc_id", Seq("a", "d"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val adhoc = graft.operators.TermStats
      .bm25TopK(a.union(b), "text", "doc_id", Seq("a", "d"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(served == adhoc, s"no-terms fallback drifted: $served vs $adhoc")
    // compact is rebuild-grade: it derives terms/ and results still match
    TermStats.compactTextIndexInPlace(spark, s"$dir2/idx")
    val v3 = TermStats.resolveIndexDir(spark, s"$dir2/idx")
    assert(IndexLifecycle.tableExists(spark, s"$v3/terms"),
      "compact must (re)derive the terms/ dictionary")
    val afterCompact = TermStats
      .bm25TopKPrebuilt(spark, s"$dir2/idx", "doc_id", Seq("a", "d"), k = 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(afterCompact == adhoc)
  }

  test("bm25TopKBatch == bm25TopK per query (scores, ranking, tie-breaks)") {
    val docs = Seq(
      (1L, "a b a c"), (2L, "a c c"), (3L, "d d b"), (4L, "x y"))
      .toDF("doc_id", "text")
    // qid 40 repeats a term in its array: bm25TopK's Seq-of-terms goes
    // through isin (set semantics), so the batch side must score "a" once,
    // not twice — the duplicate-term double-count regression pin
    val qs = Seq((10L, Seq("a", "d")), (20L, Seq("c")), (30L, Seq("zz")),
      (40L, Seq("a", "a", "d")))
      .toDF("qid", "terms")
    val batch = graft.operators.TermStats
      .bm25TopKBatch(docs, "text", "doc_id", qs, "qid", "terms", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSeq).toMap
    assert(batch(40L) == batch(10L),
      s"duplicate query term double-counted: ${batch(40L)} vs ${batch(10L)}")
    Seq(10L -> Seq("a", "d"), 20L -> Seq("c")).foreach { case (qid, terms) =>
      val single = graft.operators.TermStats
        .bm25TopK(docs, "text", "doc_id", terms, k = 3)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batch(qid) == single, s"query $qid drifted: ${batch(qid)} vs $single")
    }
    assert(!batch.contains(30L), "a query matching nothing returns no rows")
  }

  test("substring dedup family rejects inputs with reserved internal columns") {
    val bad = Seq((1L, "a b c d", 7)).toDF("doc_id", "text", "_cov")
    intercept[IllegalArgumentException] {
      Dedup.substringDedup(bad, "text", "doc_id", k = 3)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-gram3").toString
    Dedup.buildGramIndex(Seq((9L, "x y z")).toDF("doc_id", "text"),
      "text", "doc_id", s"$dir/g", k = 3)
    intercept[IllegalArgumentException] {
      Dedup.substringDedupPrebuilt(spark, s"$dir/g",
        bad.withColumnRenamed("_cov", "_toks"), "text", "doc_id", k = 3)
    }
  }

  test("appendGramIndex: build(A) + in-place append(B) reads as build(A ∪ B)") {
    val a = Seq((1L, "x1 x2 x3 x4")).toDF("doc_id", "text")
    val b = Seq((2L, "x1 x2 x3 y1"), (3L, "z1 z2 z3")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-gram2").toString
    Dedup.buildGramIndex(a, "text", "doc_id", s"$dir/g", k = 3)
    Dedup.appendGramIndex(b, "text", "doc_id", s"$dir/g", k = 3)
    Dedup.buildGramIndex(a.union(b), "text", "doc_id", s"$dir/full", k = 3)
    val inc = Dedup.readGramIndex(spark, s"$dir/g").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = Dedup.readGramIndex(spark, s"$dir/full").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc == full && inc.values.sum == 2 + 2 + 1) // "x1 x2 x3" seen twice
    // a reader resolved BEFORE the compaction must keep a consistent
    // file list — snapshot the pre-compact resolution (the CAS race pin)
    val preCompactDir =
      graft.operators.IndexLifecycle.resolveDir(spark, s"$dir/g")
    // in-place compaction: one row per hash in the NEXT version, pointer
    // flipped last, identical totals through the same root path
    Dedup.compactGramIndex(spark, s"$dir/g")
    val raw = spark.read.parquet(
      graft.operators.IndexLifecycle.resolveDir(spark, s"$dir/g"))
    assert(raw.count() == raw.select("_h").distinct().count())
    val compacted = Dedup.readGramIndex(spark, s"$dir/g").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(compacted == full)
    // the old version's files still exist untouched (reader holds them
    // until vacuum) and still sum to the same totals
    val old = spark.read.parquet(preCompactDir)
      .groupBy(col("_h")).agg(sum(col("_n"))).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(old == full, "pre-compact reader's version was disturbed")
    // vacuum removes the superseded version; current still reads
    Dedup.vacuumGramIndex(spark, s"$dir/g")
    assert(!new java.io.File(preCompactDir).exists())
    assert(Dedup.readGramIndex(spark, s"$dir/g").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == full)
  }

  test("replay-guarded appends for signatures / shingle postings / grams / " +
       "phrase index: replayed (runId, batchId) no-ops, artifacts read as " +
       "exactly-once appends") {
    import graft.operators.TermStats
    val base = Seq(
      (1L, "the quick brown fox jumps over the lazy dog every morning"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (2L, "the quick brown fox jumps over the lazy dog every evening"),
      (3L, "completely unrelated prose about spark shuffles"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-once").toString
    val run = "crawl-run"

    // signatures: Once-append twin vs raw-append twin, probe equality
    Dedup.buildSignatures(base, "text", "doc_id", s"$dir/sig")
    assert(Dedup.appendSignaturesOnce(batch, "text", "doc_id", s"$dir/sig",
      run, 0L))
    assert(!Dedup.appendSignaturesOnce(batch, "text", "doc_id", s"$dir/sig",
      run, 0L), "signature replay must no-op")
    Dedup.buildSignatures(base, "text", "doc_id", s"$dir/sig2")
    Dedup.appendSignatures(batch, "text", "doc_id", s"$dir/sig2")
    val crawl = Seq((9L, "the quick brown fox jumps over the lazy dog every evening too"))
      .toDF("doc_id", "text")
    def sigVerdicts(p: String) = Dedup
      .dedupAgainstCorpusPrebuilt(spark, p, crawl, "text", "doc_id", threshold = 0.5)
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(sigVerdicts(s"$dir/sig") == sigVerdicts(s"$dir/sig2"))

    // shingle postings: containment equality
    Dedup.buildShinglePostings(base, "text", "doc_id", s"$dir/sh")
    assert(Dedup.appendShinglePostingsOnce(batch, "text", "doc_id",
      s"$dir/sh", run, 3L))
    assert(!Dedup.appendShinglePostingsOnce(batch, "text", "doc_id",
      s"$dir/sh", run, 3L))
    Dedup.buildShinglePostings(base.union(batch), "text", "doc_id", s"$dir/sh2")
    def contain(p: String) = Dedup
      .containmentPairsPrebuilt(spark, p, minContainment = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    assert(contain(s"$dir/sh") == contain(s"$dir/sh2"))

    // grams: count equality with the one-shot rebuild
    Dedup.buildGramIndex(base, "text", "doc_id", s"$dir/g", k = 3)
    assert(Dedup.appendGramIndexOnce(batch, "text", "doc_id", s"$dir/g",
      run, 0L, k = 3))
    assert(!Dedup.appendGramIndexOnce(batch, "text", "doc_id", s"$dir/g",
      run, 0L, k = 3))
    Dedup.buildGramIndex(base.union(batch), "text", "doc_id", s"$dir/g2", k = 3)
    def gcounts(p: String) = Dedup.readGramIndex(spark, p).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gcounts(s"$dir/g") == gcounts(s"$dir/g2"))

    // phrase index: a replayed raw append would DOUBLE phrase_hits —
    // the Once guard keeps the count exact
    TermStats.buildPhraseIndex(base, "text", "doc_id", s"$dir/ph")
    assert(TermStats.appendPhraseIndexOnce(batch, "text", "doc_id",
      s"$dir/ph", run, 0L))
    assert(!TermStats.appendPhraseIndexOnce(batch, "text", "doc_id",
      s"$dir/ph", run, 0L))
    val hits = TermStats.phraseSearchPrebuilt(spark, s"$dir/ph", "doc_id",
        Seq("quick", "brown", "fox"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits == Map(1L -> 1L, 2L -> 1L),
      s"phrase hits must count each doc's occurrence exactly once: $hits")
  }

  test("prebuilt containment: a NULL shingle forms no group, adds no pair") {
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma zeta"),
      (3L, "one two three four five")).toDF("doc_id", "text")
    val p = java.nio.file.Files.createTempDirectory("graft-nullsh").toString + "/sh"
    Dedup.buildShinglePostings(docs, "text", "doc_id", p)
    def contain() = Dedup.containmentPairsPrebuilt(spark, p, minContainment = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    val before = contain()
    assert(before.map(r => (r._1, r._2)) == Seq((1L, 2L)))
    // one null-_s posting shared by keys 1 and 3, which share no shingle
    Seq[(Long, Option[Long], Int)]((1L, None, 3), (3L, None, 3)).toDF("_k", "_s", "_sn")
      .write.mode("append").parquet(IndexLifecycle.resolveDir(spark, p))
    assert(contain() == before)
  }

  test("gram and shingle artifacts store their build width (_gk/_sn): " +
       "mismatched appends and probes refuse loudly, compaction preserves " +
       "the stamp, legacy appends need an explicit unverified-width opt-in") {
    val docs = Seq((1L, "a b c d e f g h i j")).toDF("doc_id", "text")
    val more = Seq((2L, "a b c d e f g h i k")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-widths").toString

    Dedup.buildGramIndex(docs, "text", "doc_id", s"$dir/g", k = 3)
    val e1 = intercept[IllegalArgumentException] {
      Dedup.appendGramIndex(more, "text", "doc_id", s"$dir/g", k = 4)
    }
    assert(e1.getMessage.contains("k=3") && e1.getMessage.contains("k=4"))
    val e2 = intercept[IllegalArgumentException] {
      Dedup.appendGramIndexOnce(more, "text", "doc_id", s"$dir/g",
        "run", 0L, k = 8)
    }
    assert(e2.getMessage.contains("k=3"))
    val e3 = intercept[IllegalArgumentException] {
      Dedup.substringDedupPrebuilt(spark, s"$dir/g", more, "text", "doc_id",
        k = 8)
    }
    assert(e3.getMessage.contains("k=3"), s"probe must refuse too: $e3")
    // matching k appends; compaction keeps the stamp so the guard survives
    Dedup.appendGramIndex(more, "text", "doc_id", s"$dir/g", k = 3)
    Dedup.compactGramIndex(spark, s"$dir/g")
    val e4 = intercept[IllegalArgumentException] {
      Dedup.appendGramIndex(more, "text", "doc_id", s"$dir/g", k = 4)
    }
    assert(e4.getMessage.contains("k=3"),
      "compaction must not downgrade the guarded artifact to legacy")

    Dedup.buildShinglePostings(docs, "text", "doc_id", s"$dir/sh", shingleN = 3)
    val e5 = intercept[IllegalArgumentException] {
      Dedup.appendShinglePostings(more, "text", "doc_id", s"$dir/sh",
        shingleN = 5)
    }
    assert(e5.getMessage.contains("shingleN=3") &&
      e5.getMessage.contains("shingleN=5"))
    val e6 = intercept[IllegalArgumentException] {
      Dedup.appendShinglePostingsOnce(more, "text", "doc_id", s"$dir/sh",
        "run", 0L, shingleN = 5)
    }
    assert(e6.getMessage.contains("shingleN=3"))
    Dedup.appendShinglePostings(more, "text", "doc_id", s"$dir/sh", shingleN = 3)

    // legacy artifacts (no stamp column): the guard CANNOT verify the
    // width, so a bare append refuses with the rebuild/override hint —
    // a wrong k silently collapses ratios, the one failure mode worse
    // than an exception. The explicit opt-in appends with uniform schema
    // (must not grow _gk/_sn into a stampless directory).
    Seq((11L, 5L)).toDF("_h", "_n").write.parquet(s"$dir/gleg")
    val e7 = intercept[IllegalArgumentException] {
      Dedup.appendGramIndex(more, "text", "doc_id", s"$dir/gleg", k = 4)
    }
    assert(e7.getMessage.contains("allowUnverifiedWidth"), s"$e7")
    Dedup.appendGramIndex(more, "text", "doc_id", s"$dir/gleg", k = 4,
      allowUnverifiedWidth = true)
    assert(spark.read.parquet(s"$dir/gleg").columns.sorted.toSeq ==
      Seq("_h", "_n"), "legacy gram append must not mix schemas")
    Seq((1L, 7)).toDF("_k", "_s").write.parquet(s"$dir/shleg")
    val e8 = intercept[IllegalArgumentException] {
      Dedup.appendShinglePostings(more, "text", "doc_id", s"$dir/shleg")
    }
    assert(e8.getMessage.contains("allowUnverifiedWidth"), s"$e8")
    Dedup.appendShinglePostings(more, "text", "doc_id", s"$dir/shleg",
      allowUnverifiedWidth = true)
    assert(spark.read.parquet(s"$dir/shleg").columns.sorted.toSeq ==
      Seq("_k", "_s"), "legacy shingle append must not mix schemas")
    // the signature family has the same discipline (pre-_sn artifact)
    Seq((1L, Seq(101, 102), (1L to 16L).toSeq))
      .toDF("doc_id", "_sh", "_sig").write.parquet(s"$dir/sigleg")
    val e9 = intercept[IllegalArgumentException] {
      Dedup.appendSignatures(more, "text", "doc_id", s"$dir/sigleg",
        shingleN = 5, numHashes = 16)
    }
    assert(e9.getMessage.contains("allowUnverifiedWidth"), s"$e9")
    Dedup.appendSignatures(more, "text", "doc_id", s"$dir/sigleg",
      shingleN = 3, numHashes = 16, allowUnverifiedWidth = true)
    assert(!spark.read.parquet(s"$dir/sigleg").columns.contains("_sn"),
      "legacy signature append must not mix schemas")
  }

  test("auditArtifacts inventories kinds, versions, legacy flags, stale " +
       "versions and torn-append intents across an artifact root") {
    import graft.operators.{IndexLifecycle, TermStats}
    val root = java.nio.file.Files.createTempDirectory("graft-audit").toString
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")

    TermStats.buildTextIndex(docs, "text", "doc_id", s"$root/text")
    TermStats.buildPhraseIndex(docs, "text", "doc_id", s"$root/phrase")
    Dedup.buildGramIndex(docs, "text", "doc_id", s"$root/gram", k = 3)
    Dedup.buildShinglePostings(docs, "text", "doc_id", s"$root/shingle")
    Dedup.buildSignatures(docs, "text", "doc_id", s"$root/sig")
    // stale version: compact the gram index once (v=1 left behind)
    Dedup.compactGramIndex(spark, s"$root/gram")
    // pending intent: a torn replay-safe append that never replayed
    intercept[IllegalStateException] {
      TermStats.appendTextIndexOnceAt(
        Seq((2L, "more text")).toDF("doc_id", "text"),
        "text", "doc_id", s"$root/text", "dead-run", 0L, failAt = "intent")
    }
    // legacy signature table: flat layout, STRING shingles, no _sn
    Seq((1L, Seq("ab", "bc"), Seq(7L, 9L)))
      .toDF("doc_id", "_sh", "_sig")
      .write.parquet(s"$root/oldsig")
    // legacy pre-dl text index: flat layout, postings without dl
    Seq((1L, "fox", 1L)).toDF("doc_id", "term", "tf")
      .write.parquet(s"$root/oldtext/postings")

    val audit = IndexLifecycle.auditArtifacts(spark, root).collect()
      .map(r => new java.io.File(r.getString(0)).getName ->
        (r.getString(1), Option(r.get(2)).map(_.asInstanceOf[Long]),
          r.getSeq[String](3), r.getInt(4), r.getInt(5))).toMap
    assert(audit.keySet == Set("text", "phrase", "gram", "shingle", "sig",
      "oldsig", "oldtext"), s"every artifact inventoried: ${audit.keySet}")
    assert(audit("text")._1 == "text-index" && audit("text")._2 == Some(1L))
    assert(audit("text")._5 == 1, "the torn intent must surface")
    assert(audit("phrase")._1 == "phrase-index")
    assert(audit("gram")._1 == "gram-index" && audit("gram")._2 == Some(2L)
      && audit("gram")._4 == 1, "compacted gram index carries one stale version")
    assert(audit("shingle")._1 == "shingle-postings")
    assert(audit("sig")._1 == "signature-table" && audit("sig")._3.isEmpty,
      s"a current-format signature table has no flags: ${audit("sig")._3}")
    assert(audit("oldsig")._1 == "signature-table" &&
      audit("oldsig")._2.isEmpty &&
      audit("oldsig")._3.exists(_.contains("pre-_sn")) &&
      audit("oldsig")._3.exists(_.contains("STRING shingle")),
      s"legacy signature flags: ${audit("oldsig")._3}")
    assert(audit("oldtext")._1 == "text-index" &&
      audit("oldtext")._3.exists(_.contains("pre-dl")) &&
      audit("oldtext")._3.exists(_.contains("terms dictionary")),
      s"legacy text flags: ${audit("oldtext")._3}")
    // the torn append self-heals on replay; the audit then shows it clean
    assert(TermStats.appendTextIndexOnce(
      Seq((2L, "more text")).toDF("doc_id", "text"),
      "text", "doc_id", s"$root/text", "dead-run", 0L))
    val healed = IndexLifecycle.auditArtifacts(spark, root).collect()
      .find(r => r.getString(0).endsWith("/text")).get
    assert(healed.getInt(5) == 0, "replayed intent must clear from the audit")

    // adversarial layouts must SURFACE as rows, not kill the sweep whose
    // purpose is finding exactly such breakage: a garbage _current
    // pointer, and a directory holding nothing recognizable
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$root/corrupt"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$root/corrupt", "_current"),
      "banana".getBytes("UTF-8"))
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(s"$root/empty"))
    val hostile = IndexLifecycle.auditArtifacts(spark, root).collect()
      .map(r => new java.io.File(r.getString(0)).getName ->
        (r.getString(1), r.getSeq[String](3))).toMap
    assert(hostile("corrupt")._1 == "unknown" &&
      hostile("corrupt")._2.exists(_.contains("unreadable artifact")),
      s"corrupt pointer must surface: ${hostile("corrupt")}")
    assert(hostile("empty")._1 == "unknown" && hostile("empty")._2.isEmpty,
      s"an empty dir is unknown, not an error: ${hostile("empty")}")
    assert(hostile.contains("text"), "the rest of the fleet still audits")
  }

  // --- sessionize ---------------------------------------------------------------

  test("sessionize: gap >= threshold starts a session; ids are per-user running counts") {
    import java.sql.Timestamp
    def ts(min: Long) = new Timestamp(min * 60000L)
    val ev = Seq(
      (1L, 10L, ts(0)), (1L, 11L, ts(10)),          // session 1
      (1L, 12L, ts(40)),                            // gap 30 == threshold => new
      (2L, 20L, ts(5))                              // other user
    ).toDF("user_id", "event_id", "ts")
    val s = Sessionize.assign(ev, "user_id", "ts", "event_id", gapSeconds = 1800)
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    assert(s == Map(10L -> 1L, 11L -> 1L, 12L -> 2L, 20L -> 1L))
    val agg = Sessionize.sessions(ev, "user_id", "ts", "event_id", 1800)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(agg == Map((1L, 1L) -> 2L, (1L, 2L) -> 1L, (2L, 1L) -> 1L))
  }

  // --- salted skew join ---------------------------------------------------------

  test("saltedInner == plain join, and the hot key spreads over salts") {
    val facts = (1 to 500).map(i => (if (i <= 400) 7L else i.toLong, i))
      .toDF("fk", "payload") // key 7 holds 80% of rows
    val dim = Seq((7L, "hot"), (450L, "cold"), (999L, "unmatched"))
      .toDF("dk", "name")
    val salted = SkewJoin.saltedInner(facts, dim, "fk", "dk", saltBuckets = 8)
    val plain = facts.join(dim, col("fk") === col("dk"))
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
    // the salt really spreads: hot key's fact rows land in >1 salt bucket
    val spread = facts.withColumn("_s", SkewAgg.rowSalt(facts, 8))
      .filter(col("fk") === 7L).select("_s").distinct().count()
    assert(spread > 1, s"hot key stayed in $spread salt bucket(s)")
  }

  // --- entropy / mixture --------------------------------------------------------

  test("resolveCanonical: priority beats min-key; ties to min key; singletons kept") {
    val docs = Seq(
      (1L, "mirror"), (2L, "origin"), (3L, "mirror"), // cluster {1,2,3}
      (4L, "mirror"), (5L, "mirror"),                 // cluster {4,5} — tie
      (9L, "origin"))                                 // singleton
      .toDF("doc_id", "source")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("key_a", "key_b")
    val kept = graft.operators.Clustering.resolveCanonical(docs, pairs,
        "key_a", "key_b", "doc_id",
        when(col("source") === "origin", 2).otherwise(1))
      .select("doc_id").collect().map(_.getLong(0)).sorted
    // {1,2,3}: origin doc 2 wins though 1 is the min key;
    // {4,5}: all tied — min key 4 wins; 9 untouched
    assert(kept.toSeq == Seq(2L, 4L, 9L))
  }

  test("curriculumSample: per-bucket rates honored, deterministic, nulls drop") {
    val df = (1L to 4000L).map(i => (i, i.toDouble)).toDF("k", "s")
      .union(Seq((9999L, null.asInstanceOf[java.lang.Double])).toDF("k", "s"))
    val kept = graft.operators.Sampling
      .curriculumSample(df, "k", "s", Seq(0.0, 0.1, 0.5, 1.0))
      .collect().map(_.getLong(0))
    assert(!kept.contains(9999L)) // null score drops
    // bucket membership by construction: scores are 1..4000 so quartile
    // edges are ~1000/2000/3000
    val byBucket = kept.groupBy(k => ((k - 1) / 1000).min(3))
    assert(!byBucket.contains(0L)) // rate 0 => empty
    assert(byBucket(3L).size == 1000) // rate 1 => everything
    val r1 = byBucket.getOrElse(1L, Array.empty).size / 1000.0
    val r2 = byBucket.getOrElse(2L, Array.empty).size / 1000.0
    assert(math.abs(r1 - 0.1) < 0.05, s"bucket1 rate $r1")
    assert(math.abs(r2 - 0.5) < 0.05, s"bucket2 rate $r2")
    // deterministic across runs
    val again = graft.operators.Sampling
      .curriculumSample(df, "k", "s", Seq(0.0, 0.1, 0.5, 1.0))
      .collect().map(_.getLong(0))
    assert(kept.sorted.sameElements(again.sorted))
  }

  test("lmScoreBigram: rare transitions score below fluent ones; <2 tokens = no row") {
    val docs = Seq(
      (1L, "x y x y x y"), (2L, "x y x y x y"), (3L, "x y x y x y"),
      (4L, "y y x x y x"), // same unigrams, scrambled transitions
      (5L, "x"))           // one token — no bigram, no row
      .toDF("doc_id", "text")
    val r = TermStats.lmScoreBigram(docs, "text", "doc_id", vocabSize = 8)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(!r.contains(5L))
    assert(r(4L) < r(1L), s"scrambled must score lower: $r")
    assert(r(1L) == r(2L) && r(2L) == r(3L)) // identical docs, identical score
  }

  test("lmScoreBigram scan-stage pair stream == window-lead replay (r17 form)") {
    // OOV tokens, repeats, ties in the vocab cut, and 0/1/2-token docs —
    // the zip-with-tail bigram stream must reproduce the (pos-ordered
    // window lead over encodeTokens) stream exactly, score for score
    val docs = Seq(
      (1L, "a b a b c"), (2L, "zz a qq b"), (3L, ""), (4L, "only"),
      (5L, "x y"), (6L, "b b b a a c zz zz"))
      .toDF("doc_id", "text")
    val vs = 3 // forces OOV (id 0) on the tail of the vocabulary
    val got = TermStats.lmScoreBigram(docs, "text", "doc_id", vs)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // the pre-r17 formulation, verbatim: encode every token positionally,
    // lead(1) over a (key, pos) window, drop the tail nulls
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    val bi = TermStats.encodeTokens(docs, "text", "doc_id", vs)
      .withColumn("_id2", lead(col("token_id"), 1).over(w))
      .filter(col("_id2").isNotNull)
      .select(col("doc_id"), col("token_id").as("_id1"), col("_id2"))
    val c12 = bi.groupBy(col("_id1"), col("_id2")).agg(count(lit(1)).as("_c12"))
    val c1 = bi.groupBy(col("_id1")).agg(count(lit(1)).as("_c1"))
    val lp = c12.join(c1, Seq("_id1"))
      .select(col("_id1"), col("_id2"),
        round(log((col("_c12") + 1.0) / (col("_c1") + vs + 1.0)) * 1e6)
          .cast("long").as("_lp"))
    val floor = math.round(math.log(1.0 / (vs + 1.0)) * 1e6)
    val want = bi.join(broadcast(lp), Seq("_id1", "_id2"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(sum(coalesce(col("_lp"), lit(floor))).as("_s"), count(lit(1)).as("_nb"))
      .select(col("doc_id"),
        round(col("_s").cast("double") / col("_nb") / 1e6, 6).as("lm2_score"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == want, s"bigram stream drifted:\n got=$got\n want=$want")
  }

  test("tokenEntropy: uniform tokens => ln(n); constant doc => 0") {
    val docs = Seq((1L, "a b c d"), (2L, "a a a a")).toDF("doc_id", "text")
    val e = TermStats.tokenEntropy(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(e(1L) - math.log(4)) < 1e-6)
    assert(e(2L) == 0.0)
  }

  test("mixToTarget: over-represented groups downsample, absent share drops group") {
    val df = (1 to 1000).map(i => (i.toLong, if (i <= 900) "big" else "small"))
      .toDF("id", "grp")
    val out = Sampling.mixToTarget(df, "id", "grp",
      Map("big" -> 0.5, "small" -> 0.5), budget = 200)
    val kept = out.groupBy("grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // big: rate 100/900 => ~100 kept; small: rate 1.0 => all 100 kept
    assert(kept("small") == 100)
    assert(kept("big") > 60 && kept("big") < 140, s"big kept ${kept("big")}")
    val none = Sampling.mixToTarget(df, "id", "grp", Map("big" -> 0.1), 200)
    assert(none.filter(col("grp") === "small").count() == 0)
  }

  // --- containment pairs ---------------------------------------------------------

  test("containmentPairs: quoted sub-document found despite low Jaccard; stop-shingles inert") {
    val quote = (1 to 12).map(i => s"q$i").mkString(" ")
    val filler = (1 to 80).map(i => s"f$i").mkString(" ")
    val docs = Seq(
      (1L, quote),                 // the short original
      (2L, s"$filler $quote"),     // quotes it wholesale inside other text
      (3L, "x1 x2 x3 x4 x5")).toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(docs, "text", "doc_id",
        shingleN = 3, minContainment = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(cont.keySet == Set((1L, 2L)))
    assert(cont((1L, 2L)) == 1.0) // every shingle of the quote appears in doc 2
    // the symmetric Jaccard path does NOT surface this pair (union-based
    // similarity ~ 10/90): the two signals are genuinely different
    val jac = Dedup.minhashLsh(docs, "text", "doc_id",
        shingleN = 3, numHashes = 16, bands = 4, threshold = 0.5)
      .collect()
    assert(jac.isEmpty)
    // a shingle above maxDf is excluded from candidates AND the measure
    val shared = Seq((1L, "s1 s2 s3 a1 a2"), (2L, "s1 s2 s3 b1 b2"),
      (3L, "s1 s2 s3 c1 c2")).toDF("doc_id", "text")
    val capped = Dedup.containmentPairs(shared, "text", "doc_id",
      shingleN = 3, minContainment = 0.1, maxDf = 2)
    assert(capped.collect().isEmpty)
  }

  // --- geo distance join ---------------------------------------------------------

  test("geo withinDistance: cross-band pairs found once, Null Island excluded") {
    // band size at 50 km = ~0.4545 deg; points straddle a band boundary
    val pts = Seq(
      (1L, 0.40, 10.0),   // band 0
      (2L, 0.50, 10.0),   // band 1, ~11 km from #1 (cross-band pair)
      (3L, 0.52, 10.0),   // band 1, ~2 km from #2 (same-band pair)
      (4L, 40.0, 10.0),   // far away
      (5L, 0.0, 0.0)      // Null Island: excluded by contract
    ).toDF("id", "lat", "lon")
    val out = GeoJoin.withinDistance(pts, "id", "lat", "lon", maxKm = 50.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(out.toSeq == Seq((1L, 2L), (1L, 3L), (2L, 3L)),
      s"got ${out.toSeq}")
    // no duplicates (each unordered pair exactly once) is implied by the
    // exact sequence assert above
  }

  // --- z-order layout ------------------------------------------------------------

  test("zorderWrite: every dimension's per-file span is narrow; single-sort is not") {
    val dir = java.nio.file.Files.createTempDirectory("graft_zorder").toString
    val orders = Tables(spark, "/root/testdata/sf0.01", "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")

    Layout.zorderWrite(orders, Seq("o_custkey", "o_totalprice"), s"$dir/z", 8)
    val z = spark.read.parquet(s"$dir/z")
    def meanSpan(df: org.apache.spark.sql.DataFrame, c: String) =
      Layout.fileSpans(df, c).agg(avg("rel_span")).head().getDouble(0)
    val zCust = meanSpan(z, "o_custkey"); val zPrice = meanSpan(z, "o_totalprice")
    // both dimensions prune: a filter on EITHER column reads a fraction
    // of the files (8 files; perfect 1-D clustering would be 1/8 ~ 0.125,
    // z-order trades some of each dim for coverage of both). The bound is
    // 0.7, not tighter: repartitionByRange's reservoir sampling is seeded
    // by the session-global rdd.id, so file boundaries (and spans) move a
    // few percent with SUITE ORDER — measured 0.55-0.62 across orderings.
    // The single-sort baseline below stays > 0.8, so 0.7 still separates.
    assert(zCust < 0.7, s"custkey mean span $zCust")
    assert(zPrice < 0.7, s"totalprice mean span $zPrice")

    // baseline: range-sorted on custkey ALONE — custkey prunes hard,
    // totalprice not at all (each file spans ~the whole price range)
    orders.repartitionByRange(8, col("o_custkey"))
      .sortWithinPartitions("o_custkey")
      .write.mode("overwrite").parquet(s"$dir/s")
    val s = spark.read.parquet(s"$dir/s")
    assert(meanSpan(s, "o_custkey") < 0.2)
    assert(meanSpan(s, "o_totalprice") > 0.8,
      "single-dim sort should NOT prune the second dimension")
  }

  test("zorderWrite: 8 dimensions fill bit 63 without sign-inverting or wrapping") {
    // 8 dims x 8 bits puts the last dimension's top bit at position 63 —
    // the Long sign bit. 256 files resolve exactly the top bit of every
    // dimension, so EVERY dim's mean span must sit near 0.5; a signed
    // compare or a shift wrap would scramble the major order and push
    // spans toward 1.
    val dir = java.nio.file.Files.createTempDirectory("graft_zorder8").toString
    val primes = Seq(3L, 5L, 7L, 11L, 13L, 17L, 19L, 23L)
    val n = 8192L
    val base = spark.range(n)
    val df = primes.zipWithIndex.foldLeft(base.toDF()) { case (acc, (p, i)) =>
      acc.withColumn(s"d$i", (col("id") * p) % n) // bijective, decorrelated
    }
    val cols = primes.indices.map(i => s"d$i")
    Layout.zorderWrite(df, cols, s"$dir/z8", 256)
    val z = spark.read.parquet(s"$dir/z8")
    cols.foreach { c =>
      val span = Layout.fileSpans(z, c).agg(avg("rel_span")).head().getDouble(0)
      assert(span < 0.7, s"dim $c mean span $span — top-bit order lost")
    }
    intercept[IllegalArgumentException] {
      Layout.zorderWrite(df.withColumn("d8", col("id")),
        cols :+ "d8", s"$dir/z9", 4)
    }
  }

  // --- incremental view maintenance --------------------------------------------

  test("incremental agg: group moves, zero-count groups vanish, untouched groups exact") {
    val base = Seq(("a", 10.0), ("a", 20.0), ("b", 5.0), ("c", 7.0))
      .toDF("g", "v")
    val prev = IncrementalAgg.rollup(base, "g", "v")
    // one row MOVES a->b (remove old under a, insert new under b),
    // b's only original row is deleted, c untouched, d is brand new
    val inserted = Seq(("b", 20.0), ("d", 1.0)).toDF("g", "v")
    val removed = Seq(("a", 20.0), ("b", 5.0)).toDF("g", "v")
    val out = IncrementalAgg.applyChanges(prev, inserted, removed, "g", "v")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out == Map(
      "a" -> (1L, 10.0),  // lost the moved row
      "b" -> (1L, 20.0),  // old row deleted, moved row arrived
      "c" -> (1L, 7.0),   // untouched
      "d" -> (1L, 1.0)))  // new group appears
    // removing a group's last row drops the group entirely (recompute parity)
    val gone = IncrementalAgg.applyChanges(out.keys.toSeq.map(k =>
        (k, out(k)._1, out(k)._2, out(k)._1)).toDF("g", "cnt", "sum_v", "cnt_v"),
      Seq.empty[(String, Double)].toDF("g", "v"),
      Seq(("d", 1.0)).toDF("g", "v"), "g", "v")
    assert(!gone.collect().map(_.getString(0)).contains("d"))
  }

  test("incremental agg: a group whose last NON-NULL value is deleted " +
       "reports NULL sum like a recompute, not a cancelled 0") {
    val base = Seq(("a", Some(10.0)), ("a", None), ("b", Some(1.0)))
      .toDF("g", "v")
    val prev = IncrementalAgg.rollup(base, "g", "v")
    // delete a's only non-null value; insert a null-valued row into b
    val inserted = Seq(("b", Option.empty[Double])).toDF("g", "v")
    val removed = Seq(("a", Some(10.0))).toDF("g", "v")
    val out = IncrementalAgg.applyChanges(prev, inserted, removed, "g", "v")
    val recomputed = IncrementalAgg.rollup(
      base.unionByName(inserted).exceptAll(removed), "g", "v")
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)),
          r.getLong(3))).toMap
    assert(m(out) == m(recomputed), s"${m(out)} vs ${m(recomputed)}")
    assert(m(out)("a") == ((1L, None, 0L)), "all-null group must sum to NULL")
    assert(m(out)("b") == ((2L, Some(1.0), 1L)))
  }

  test("incremental agg: NULL group key stays ONE group, matching recompute") {
    val base = Seq((Some("a"), 10.0), (None, 5.0), (None, 3.0)).toDF("g", "v")
    val prev = IncrementalAgg.rollup(base, "g", "v")
    val inserted = Seq((Option.empty[String], 2.0)).toDF("g", "v")
    val removed = Seq((Option.empty[String], 5.0)).toDF("g", "v")
    val out = IncrementalAgg.applyChanges(prev, inserted, removed, "g", "v")
      .collect().map(r => Option(r.getString(0)) -> (r.getLong(1), r.getDouble(2))).toMap
    // recompute oracle: groupBy treats NULL as one group with cnt=2, sum=5
    val recomputed = IncrementalAgg.rollup(
        base.unionByName(inserted).exceptAll(removed), "g", "v")
      .collect().map(r => Option(r.getString(0)) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out == recomputed, s"maintained $out vs recompute $recomputed")
    assert(out(None) == (2L, 5.0))
  }

  test("incremental top-k sketch: batch-wise accumulation equals one-shot") {
    val b1 = Seq("a", "a", "b", "c").toDF("t")
    val b2 = Seq("a", "b", "b", "b", "d").toDF("t")
    // maintained: accumulate each batch (different tracking budgets —
    // the explicit combine size must bridge them), merge into one state
    val state = IncrementalAgg.topkCombine(Seq(
      IncrementalAgg.topkAccumulate(b1, "t", maxTracked = 5000),
      IncrementalAgg.topkAccumulate(b2, "t")))
    // k=2 cuts at a strict count gap (b=4, a=3 vs 1): no tie at the
    // boundary, so maintained and one-shot must agree exactly
    val got = IncrementalAgg.topkEstimate(state, 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val direct = IncrementalAgg.topkEstimate(
      IncrementalAgg.topkAccumulate(b1.unionByName(b2), "t"), 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == direct)
    assert(got == Map("b" -> 4L, "a" -> 3L))
  }

  test("incremental agg is closed under self-application: decimal schema is stable") {
    val dec = Seq(("a", BigDecimal("1.10")), ("b", BigDecimal("2.20")))
      .toDF("g", "v").withColumn("v", col("v").cast("decimal(18,2)"))
    val delta = Seq(("a", BigDecimal("0.50"))).toDF("g", "v")
      .withColumn("v", col("v").cast("decimal(18,2)"))
    val none = delta.limit(0)
    var view = IncrementalAgg.rollup(dec, "g", "v")
    val schema0 = view.schema
    // a maintained view is fed back through applyChanges every batch —
    // decimal widening without the cast-back changed its schema each time
    (1 to 3).foreach { _ =>
      view = IncrementalAgg.applyChanges(view, delta, none, "g", "v")
      assert(view.schema == schema0, s"schema drifted: ${view.schema}")
    }
    val a = view.filter(col("g") === "a").head()
    assert(a.getDecimal(2) == new java.math.BigDecimal("2.60")) // 1.10 + 3*0.50
  }

  // --- changefeed --------------------------------------------------------------

  test("cdc diff emits NEW/MODIFIED/DELETED with old values, nothing for unchanged") {
    val oldS = Seq(("k1", 1), ("k2", 2), ("k3", 3)).toDF("key", "v")
    val newS = Seq(("k2", 2), ("k3", 33), ("k4", 4)).toDF("key", "v")
    val ev = graft.streaming.ChangeFeed.diff(oldS, newS, "key")
      .collect().map(r => r.getString(0) ->
        (r.getString(1), Option(r.get(2)), Option(r.get(3)))).toMap
    assert(ev.keySet == Set("k1", "k3", "k4")) // k2 unchanged => silent
    assert(ev("k1") == ("DELETED", None, Some(1)))
    assert(ev("k3") == ("MODIFIED", Some(33), Some(3)))
    assert(ev("k4") == ("NEW", Some(4), None))
  }

  test("cdc diff on a key-only table (presence set): NEW/DELETED, never MODIFIED") {
    // no value columns at all — the `changed` disjunction is empty and a
    // reduce would throw on the empty list at plan-build time
    val oldS = Seq("k1", "k2").toDF("key")
    val newS = Seq("k2", "k3").toDF("key")
    val ev = graft.streaming.ChangeFeed.diff(oldS, newS, "key")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(ev == Map("k1" -> "DELETED", "k3" -> "NEW")) // k2 present in both
  }

  // --- Hard-negative mining ------------------------------------------------

  test("hardNegatives: same-label rows never rank; k bound and score order hold") {
    val corpus = Seq(
      (1L, Seq(1.0f, 0.0f), 0), // same label as the query — must not appear
      (2L, Seq(0.9f, 0.1f), 1), // closest cross-label row
      (3L, Seq(0.5f, 0.5f), 1),
      (4L, Seq(0.0f, 1.0f), 2), // orthogonal cross-label row
      (5L, Seq(1.0f, 0.0f), 0), // same label, identical vector — excluded
      (6L, Seq(0.7f), 1)        // dim mismatch — excluded
    ).toDF("vec_id", "embedding", "label")
    val queries = Seq((10L, Seq(1.0f, 0.0f), 0)).toDF("vec_id", "embedding", "label")

    val out = Similarity.hardNegatives(corpus, queries,
        "embedding", "vec_id", "label", k = 2, dim = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.map(_._2).toSet == Set(2L, 3L),
      s"top-2 negatives must be the closest CROSS-label rows: ${out.toSeq}")
    assert(out.map(_._3).toSeq == out.map(_._3).sorted.reverse.toSeq,
      "negatives must come score-descending")
    assert(!out.map(_._2).contains(1L) && !out.map(_._2).contains(5L),
      "a same-label row leaked into the negatives")
  }

  // --- Calibrated quality gate ---------------------------------------------

  test("calibratedQualityGate: per-group keep-rate holds and approx == exact " +
       "on fixture-sized groups") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val kept = Sampling.calibratedQualityGate(docs, "text", "doc_id", "lang",
      keepRate = 0.75)
    val perLang = kept.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    totals.foreach { case (lang, n) =>
      val k = perLang.getOrElse(lang, 0L)
      // >= by construction (quality >= the 0.25-quantile keeps at least
      // 75%); ties at the threshold may keep more, never fewer
      assert(k >= math.floor(n * 0.75).toLong - 1 && k <= n,
        s"lang=$lang kept $k of $n — keep-rate violated")
    }
    // every group's threshold is that group's own quantile — groups differ
    val thr = kept.select("lang", "threshold").distinct().collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(thr.size == totals.size, "one threshold row per group")

    // the scale path: approx_percentile returns an OBSERVED value where
    // the exact form interpolates, so the boundary may shift by one
    // distinct quality value — the kept set must agree except at that
    // boundary (per-group kept counts within one rank-granularity step)
    val approx = Sampling.calibratedQualityGate(docs, "text", "doc_id",
      "lang", keepRate = 0.75, approx = true)
    val perLangA = approx.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    totals.foreach { case (lang, n) =>
      val e = perLang.getOrElse(lang, 0L); val a = perLangA.getOrElse(lang, 0L)
      assert(math.abs(a - e) <= math.ceil(n * 0.02).toLong + 1,
        s"lang=$lang approx gate kept $a vs exact $e of $n — beyond the " +
          "one-boundary-value contract")
    }
  }
}
