package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** SpanDedupOps contract tests the oracle gate cannot express: the gate
  * runs the CAPPED fixture form (spanCap=300, every pos < 10⁶), so the
  * uncapped/large-position honesty of the operator needs its own pins.
  */
class SpanDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val K = 20

  /** Deterministic pseudo-random alnum text — seeded LCG, no shared
    * windows between different seeds except by mod-1e9+7 collision
    * (expected cross-doc collisions here ≪ 1). */
  private def randText(seed: Long, n: Int): String = {
    val alpha = "abcdefghijklmnopqrstuvwxyz0123456789"
    val sb = new java.lang.StringBuilder(n)
    var x = seed
    var i = 0
    while (i < n) {
      x = (x * 6364136223846793005L + 1442695040888963407L)
      sb.append(alpha(((x >>> 33) % 36).toInt))
      i += 1
    }
    sb.toString
  }

  test("dupSpans uncapped: exemplar is exact past the 10^6 position " +
      "boundary where the packed doc*1e6+pos encoding would corrupt it") {
    import spark.implicits._
    val shared = randText(99L, K)
    // doc 1: shared span planted at cleaned pos 1_000_020 (> 10^6);
    // doc 2: same span at pos 5. Packed-BIGINT exemplar arithmetic
    // would decode min(1*1e6+1000020, 2*1e6+5) = 2000005 as
    // (ex_doc=2, ex_pos=5) — the struct argmin must yield (1, 1000020).
    val doc1 = randText(1L, 1000020) + shared + randText(2L, 30)
    val doc2 = randText(3L, 5) + shared + randText(4L, 30)
    val docs = Seq((1L, doc1), (2L, doc2)).toDF("doc_id", "text")
    val dup = SpanDedupOps.dupSpans(docs, "doc_id", "text", K,
      topN = 10, capChars = None).collect()
    assert(dup.length == 1, s"expected exactly the planted span, got ${dup.length}")
    val r = dup.head
    assert(r.getAs[Long]("n_docs") == 2L)
    assert(r.getAs[Long]("ex_doc") == 1L,
      s"exemplar doc ${r.getAs[Long]("ex_doc")} — packed-encoding corruption?")
    assert(r.getAs[Long]("ex_pos") == 1000020L,
      s"exemplar pos ${r.getAs[Long]("ex_pos")}")
  }

  test("capChars is honest: a span repeated beyond the cap is invisible " +
      "capped and found uncapped") {
    import spark.implicits._
    val shared = randText(77L, K)
    val doc1 = randText(11L, 400) + shared
    val doc2 = randText(12L, 400) + shared
    val docs = Seq((1L, doc1), (2L, doc2)).toDF("doc_id", "text")
    val capped = SpanDedupOps.dupSpans(docs, "doc_id", "text", K, 10, Some(300))
    val uncapped = SpanDedupOps.dupSpans(docs, "doc_id", "text", K, 10, None)
    assert(capped.count() == 0, "span past the cap leaked into the capped run")
    val found = uncapped.collect()
    assert(found.length == 1 && found.head.getAs[Long]("ex_pos") == 400L)
  }

  test("scrub uncapped cuts a shared span planted past 300 chars and " +
      "reports exact counts") {
    import spark.implicits._
    val shared = randText(55L, K)
    val doc1 = randText(21L, 350) + shared + randText(22L, 10)
    val doc2 = randText(23L, 10) + shared + randText(24L, 350)
    val docs = Seq((1L, doc1), (2L, doc2)).toDF("doc_id", "text")
    val out = SpanDedupOps.scrub(docs, "doc_id", "text", K, None)
      .orderBy("doc_id").collect()
    assert(out.length == 2)
    out.foreach { r =>
      assert(r.getAs[Int]("n_dup_windows") == 1)
      assert(r.getAs[Long]("n_cut") == K.toLong,
        s"doc ${r.getAs[Long]("doc_id")} cut ${r.getAs[Long]("n_cut")} chars, want $K")
      assert(!r.getAs[String]("text_scrubbed").contains(shared))
    }
  }
}
