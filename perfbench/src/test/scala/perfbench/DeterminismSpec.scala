package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.{EngineSession, Tables}
import graft.operators.TermStats

/** The workload seed fixes the inputs, the request sequence and the
  * outputs; another seed changes them. */
class DeterminismSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val root: Path = Paths.get("target", "determinism-spec")
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    deleteTree(root)
    spark = EngineSession.builder("local[2]", "2").getOrCreate()
  }

  override def afterAll(): Unit = {
    spark.stop()
    deleteTree(root)
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder())
      .forEach(f => Files.delete(f))

  private val shape = ServeShape(orders = 1000, customers = 100, docs = 200, vecs = 100)

  private def requests(seed: Long, client: Int, n: Int): Seq[Req] = {
    val g = new ReqGen(seed, client, shape)
    Seq.fill(n)(g.next())
  }

  test("the same seed gives the same request sequence, another seed another") {
    assert(requests(7, 0, 200) == requests(7, 0, 200))
    assert(requests(7, 0, 200) != requests(8, 0, 200))
    assert(requests(7, 0, 200) != requests(7, 1, 200), "clients draw distinct streams")
  }

  test("every block of 20 requests holds the serve mix exactly") {
    requests(3, 0, 200).grouped(20).foreach { b =>
      val counts = b.groupBy(_.kind).map { case (k, v) => k -> v.size }
      assert(ReqGen.kinds.map(counts(_)) == ReqGen.perBlock)
    }
  }

  test("generated rows are a pure function of (seed, id)") {
    for (id <- Seq(0L, 19L, 123L)) {
      assert(Gen.docRow(5, id) == Gen.docRow(5, id))
      assert(Gen.vec(5, id)._1.toSeq == Gen.vec(5, id)._1.toSeq)
      assert(Gen.orderRow(5, id, 100) == Gen.orderRow(5, id, 100))
    }
    assert((0L until 50L).map(Gen.docRow(5, _)) != (0L until 50L).map(Gen.docRow(6, _)))
  }

  /** Order-independent hash of the bm25 results of the seed's first
    * requests, over inputs and an index written fresh under `dir`. */
  private def outputHash(seed: Long, dir: String): Int = {
    Gen.write(spark, s"$dir/documents.parquet", Gen.docSchema, 0, shape.docs, 2)(Gen.docRow(seed, _))
    TermStats.buildTextIndex(Tables(spark, dir, "documents"), "text", "doc_id", s"$dir/text")
    requests(seed, 0, 60).collect { case Bm25Req(t) => t }.map { t =>
      TermStats.bm25TopKPrebuilt(spark, s"$dir/text", "doc_id", t, k = 20)
        .collect().map(_.toString).sorted.toSeq
    }.hashCode
  }

  test("the same seed gives the same output hashes, another seed another") {
    val a = outputHash(11, root.resolve("a").toString)
    val b = outputHash(11, root.resolve("b").toString)
    val c = outputHash(12, root.resolve("c").toString)
    assert(a == b)
    assert(a != c)
  }
}
