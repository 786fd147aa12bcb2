package perfbench

import java.util.SplittableRandom

/** One `serve` request. Parameters only: the engine call it maps to and the
  * DuckDB oracle it is checked against live in [[Serve]]. */
sealed trait Req { def kind: String }
final case class FilterReq(custkey: Long) extends Req { def kind = "filter" }
final case class PageReq(depth: Int) extends Req { def kind = "page" }
final case class KeysReq(keys: Seq[Long]) extends Req { def kind = "keys" }
final case class AnnIvfReq(vecId: Long) extends Req { def kind = "ann_ivf" }
final case class AnnPqReq(vecId: Long) extends Req { def kind = "ann_pq" }
final case class Bm25Req(terms: Seq[String]) extends Req { def kind = "bm25" }
final case class PhraseReq(terms: Seq[String]) extends Req { def kind = "phrase" }
final case class HybridReq(terms: Seq[String], vecId: Long) extends Req { def kind = "hybrid" }

/** Sizes of the `serve` inputs the requests address. */
final case class ServeShape(orders: Int, customers: Int, docs: Int, vecs: Int,
                            pageDepth: Int = 25)

/** Seeded request stream of one client thread. Kinds come in shuffled
  * blocks of 20 that hold each kind exactly in its share of the mix, so
  * every run sends the same mix; `o_custkey` is Zipf-skewed so filter keys
  * repeat. */
final class ReqGen(seed: Long, client: Int, shape: ServeShape) {
  private val r: SplittableRandom = Gen.rng(seed, 100, client)
  private var block: List[String] = Nil

  /** True between blocks: the requests sent so far hold the mix exactly. */
  def atBlockStart: Boolean = block.isEmpty

  def next(): Req = {
    if (block.isEmpty) block = shuffled(ReqGen.block)
    val kind = block.head
    block = block.tail
    kind match {
      case "filter" =>
        val rank = Gen.draw(ReqGen.zipf(shape.customers), r)
        FilterReq((rank.toLong * 7919L) % shape.customers)
      case "page" => PageReq(1 + r.nextInt(shape.pageDepth))
      case "keys" =>
        // half present, half absent keys
        val n = 4 + r.nextInt(5)
        KeysReq(Seq.tabulate(n)(i =>
          if (i % 2 == 0) r.nextLong(shape.customers)
          else 100000000L + r.nextLong(1000000)).distinct)
      case "ann_ivf" => AnnIvfReq(r.nextLong(shape.vecs))
      case "ann_pq" => AnnPqReq(r.nextLong(shape.vecs))
      case "bm25" => Bm25Req(terms())
      case "phrase" =>
        val t = Gen.docTokens(seed, r.nextLong(shape.docs))
        val p = r.nextInt(t.length - 1)
        PhraseReq(Seq(t(p), t(p + 1)))
      case "hybrid" => HybridReq(terms(), r.nextLong(shape.vecs))
    }
  }

  private def shuffled(xs: IndexedSeq[String]): List[String] = {
    val a = xs.toArray
    for (i <- a.indices.reverse.dropRight(1)) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toList
  }

  /** 2-3 distinct terms drawn by corpus frequency. */
  private def terms(): Seq[String] = {
    val n = 2 + r.nextInt(2)
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    while (out.size < n) out += Gen.vocab(Gen.draw(Gen.vocabCdf, r))
    out.toSeq
  }
}

object ReqGen {
  val kinds: IndexedSeq[String] =
    IndexedSeq("filter", "page", "keys", "ann_ivf", "ann_pq", "bm25", "phrase", "hybrid")
  /** Requests of each kind per block of 20: filter 25%, page 15%, keys
    * 10%, ann_ivf 10%, ann_pq 10%, bm25 15%, phrase 5%, hybrid 10%. */
  val perBlock: IndexedSeq[Int] = IndexedSeq(5, 3, 2, 2, 2, 3, 1, 2)
  val block: IndexedSeq[String] =
    kinds.zip(perBlock).flatMap { case (k, n) => Seq.fill(n)(k) }

  private val zipfCache = new java.util.concurrent.ConcurrentHashMap[Int, Array[Double]]
  def zipf(n: Int): Array[Double] =
    zipfCache.computeIfAbsent(n, n => Gen.cdf((1 to n).map(i => 1.0 / math.pow(i, 1.1))))
}
