package graft

/**
 * Proof that the engine's extension surface is wired into the DEFAULT entry
 * points, not just into specs that opt in: the shared test session is built
 * by the same [[EngineSession]] builder as Bench/Verify/Explain, so what
 * these tests observe is what a driver run gets.
 */
class ExtensionsWiringSpec extends SparkSpec {

  test("graft_* SQL functions resolve through plain spark.sql") {
    val dot = spark.sql("SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .head().getDouble(0)
    assert(dot == 11.0)
    val phrase = spark.sql(
      "SELECT graft_phrase(array('big', 'data', 'batch'), 'data', 'batch') AS p")
      .head().getBoolean(0)
    assert(phrase)
    // msgpack round-trip through pure SQL: DDL-string schema, missing
    // field surfaces as NULL
    val mp = spark.sql(
      """SELECT d.a AS a, d.b AS b, d.missing AS m FROM (SELECT graft_msgpack_unpack(
        |  graft_msgpack_pack(named_struct('a', 7L, 'b', 'hi')),
        |  'a BIGINT, b STRING, missing STRING') AS d)""".stripMargin).head()
    assert(mp.getLong(0) == 7L && mp.getString(1) == "hi" && mp.isNullAt(2))
    // rolling gram hashes from SQL: n-k+1 hashes, identical windows collide
    val gh = spark.sql(
      "SELECT graft_gram_hashes(array('a','b','c','a','b','c'), 3) AS h")
      .head().getSeq[Long](0)
    assert(gh.length == 4 && gh(0) == gh(3) && gh.distinct.length == 3)
  }

  test("graft_gob_pack/unpack: the legacy migration chain runs from pure SQL") {
    // a SQL-only deployment must be able to run the reference's documented
    // GOB -> MSGPACK migration without touching the Scala API
    val r = spark.sql(
      """SELECT d.a AS a, d.b AS b, d.missing AS m FROM (SELECT graft_msgpack_unpack(
        |  graft_msgpack_pack(graft_gob_unpack(
        |    graft_gob_pack(named_struct('a', 7L, 'b', 'hi')),
        |    'a BIGINT, b STRING, missing STRING')),
        |  'a BIGINT, b STRING, missing STRING') AS d)""".stripMargin).head()
    assert(r.getLong(0) == 7L && r.getString(1) == "hi" && r.isNullAt(2))
  }

  test("graft_normalize: accent strip, case fold, whitespace collapse, via SQL") {
    val r = spark.sql(
      "SELECT graft_normalize('  HÉllo\t\tWörld  ') AS n, graft_normalize('') AS e, " +
      "graft_normalize(CAST(NULL AS STRING)) AS z").head()
    assert(r.getString(0) == "hello world")
    assert(r.getString(1) == "")
    assert(r.isNullAt(2))
    // precomposed and combining-mark spellings of é fold to one form
    val two = spark.sql(
      "SELECT graft_normalize('café') = graft_normalize('café') AS same").head()
    assert(two.getBoolean(0))
    // non-string input is an analysis-time error, not a runtime throw
    val e = intercept[Exception] {
      spark.sql("SELECT graft_normalize(42)").collect()
    }
    assert(e.getMessage.toLowerCase.contains("string"), e.getMessage)
  }

  test("msgpack expressions reject unsupported types at analysis, not runtime") {
    // scale-2 decimal has no msgpack representation — must fail on the
    // driver as an analysis error, never as a per-row executor throw
    val e = intercept[Exception] {
      spark.sql("SELECT graft_msgpack_pack(CAST(1.25 AS DECIMAL(10,2)))").collect()
    }
    assert(e.getMessage.contains("unsupported type"), e.getMessage)
    val e2 = intercept[Exception] {
      spark.sql("SELECT graft_msgpack_unpack(CAST('x' AS STRING), 'a INT')").collect()
    }
    assert(e2.getMessage.contains("must be binary"), e2.getMessage)
  }
}
