package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generator. Every row is a pure function of (seed, id), so
  * a client can re-derive any document or vector it needs as a request
  * parameter without asking the engine, and the same seed always writes
  * byte-identical inputs. The shapes follow the engine's fixture tables
  * (`orders`, `customer`, `documents`, `embeddings`). */
object Gen {

  /** Corpus vocabulary (the engine fixture's words); word i is drawn with
    * weight 1/(i+1)^0.25, so query terms can be sampled by corpus frequency
    * while documents stay as diverse as the fixture's. */
  val vocab: IndexedSeq[String] = IndexedSeq(
    "a", "the", "data", "spark", "table", "query", "index", "vector", "scan",
    "join", "filter", "group", "sort", "hash", "merge", "stream", "window",
    "batch", "value", "key", "row", "column", "order", "part", "line",
    "customer", "small", "big", "fast", "slow", "agg")
  val vocabCdf: Array[Double] = cdf(vocab.indices.map(i => 1.0 / math.pow(i + 1, 0.25)))
  val langs: IndexedSeq[String] = IndexedSeq("en", "en", "en", "de", "es", "fr", "zh")
  val dim = 64

  def cdf(w: Seq[Double]): Array[Double] = {
    val s = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / s).toArray
  }

  def draw(cdf: Array[Double], r: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  /** A generator stream owned by one (seed, stream, id) triple. */
  def rng(seed: Long, stream: Long, id: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed, stream), id))

  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  // ---------------------------------------------------------------- documents

  private def baseTokens(seed: Long, id: Long): Array[String] = {
    val r = rng(seed, 1, id)
    Array.fill(10 + r.nextInt(91))(vocab(draw(vocabCdf, r)))
  }

  /** Every 20th document is a near-duplicate of a seeded earlier one (one
    * token replaced, "dup" appended), the re-crawl shape the dedup stages
    * look for. */
  def docTokens(seed: Long, id: Long): Array[String] = {
    val r = rng(seed, 2, id)
    if (id % 20 == 19) {
      val t = baseTokens(seed, r.nextLong(id)).clone()
      t(r.nextInt(t.length)) = vocab(r.nextInt(vocab.length))
      t :+ "dup"
    } else baseTokens(seed, id)
  }

  def docRow(seed: Long, id: Long): Row = {
    val text = docTokens(seed, id).mkString(" ")
    val r = rng(seed, 3, id)
    Row(id, text, langs(r.nextInt(langs.length)), s"src${id % 20}", text.length.toLong)
  }

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  // --------------------------------------------------------------- embeddings

  private def gauss(r: SplittableRandom, n: Int): Array[Double] = Array.fill(n) {
    // Box-Muller; one normal per draw keeps the stream position simple
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  private def unit(v: Array[Double]): Array[Float] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  /** Unit vector `id` in a random direction, with a uniform label; every
    * 20th is a near-copy of a seeded earlier vector (the semantic-dedup
    * shape). */
  def vec(seed: Long, id: Long): (Array[Float], Int) = {
    val r = rng(seed, 6, id)
    val label = r.nextInt(10)
    if (id % 20 == 19) {
      val b = gauss(rng(seed, 4, r.nextLong(id)), dim)
      val n = gauss(r, dim)
      (unit(b.indices.map(i => b(i) + 0.05 * n(i)).toArray), label)
    } else (unit(gauss(rng(seed, 4, id), dim)), label)
  }

  def vecRow(seed: Long, id: Long): Row = {
    val (v, label) = vec(seed, id)
    Row(id, v.toSeq, label)
  }

  val vecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType)))

  // ------------------------------------------------------- orders / customers

  private val day0 = java.time.LocalDate.of(1995, 1, 1).toEpochDay
  private val statuses = IndexedSeq("O", "P", "F")
  private val priorities =
    IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val segments =
    IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  def orderRow(seed: Long, id: Long, customers: Int): Row = {
    val r = rng(seed, 7, id)
    Row(id, r.nextLong(customers), statuses(r.nextInt(3)),
      (100000 + r.nextLong(40000000)) / 100.0,
      new java.sql.Timestamp((day0 + r.nextInt(2404)) * 86400000L),
      priorities(r.nextInt(5)))
  }

  val orderSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType)))

  def customerRow(seed: Long, id: Long): Row = {
    val r = rng(seed, 8, id)
    Row(id, f"Customer#$id%09d", r.nextInt(25),
      (r.nextLong(1100000) - 100000) / 100.0, segments(r.nextInt(5)))
  }

  val customerSchema: StructType = StructType(Seq(
    StructField("c_custkey", LongType), StructField("c_name", StringType),
    StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))

  // -------------------------------------------------------------------- write

  /** Write rows [from, from+n) of a table as `files` parquet files; the rows
    * are generated on the executors. */
  def write(spark: SparkSession, path: String, schema: StructType,
            from: Long, n: Int, files: Int)(row: Long => Row): Unit = {
    val rdd = spark.sparkContext.parallelize(0 until n, files).map(i => row(from + i))
    spark.createDataFrame(rdd, schema).write.parquet(path)
  }

  def frame(spark: SparkSession, schema: StructType, from: Long, n: Int)
           (row: Long => Row): org.apache.spark.sql.DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame((0 until n).map(i => row(from + i)).asJava, schema)
  }
}
