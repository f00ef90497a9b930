package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The output checks accept the right result and reject a perturbed one. */
class CheckSpec extends AnyFunSuite {
  private val cols = Seq("k", "x", "s")
  private val rows: Seq[Seq[Any]] = Seq(Seq(1L, 0.1 + 0.2, "a"), Seq(2L, 1.5, null), Seq(3L, -0.0, "c"))

  test("the digest ignores row order and column order, not multiplicity") {
    val d = Digest.ofRows(cols, rows)
    assert(Digest.ofRows(cols, rows.reverse) == d)
    assert(Digest.ofRows(Seq("s", "k", "x"), rows.map(r => Seq(r(2), r(0), r(1)))) == d)
    assert(Digest.ofRows(cols, rows :+ rows.head) != d)
    assert(Digest.ofRows(cols, rows.tail) != d)
  }

  test("the digest rejects a last-bit float change, a sign of zero, an int read as float") {
    val d = Digest.ofRows(cols, rows)
    assert(Digest.ofRows(cols, rows.updated(0, Seq(1L, 0.30000000000000004 + 1e-16, "a"))) != d)
    assert(Digest.ofRows(cols, rows.updated(2, Seq(3L, 0.0, "c"))) != d)
    assert(Digest.ofRows(cols, rows.updated(0, Seq(1.0, 0.1 + 0.2, "a"))) != d)
    assert(Digest.ofRows(cols, rows.updated(1, Seq(2L, 1.5, ""))) != d)
    // integer widths and decimal-vs-double compare by value, as the oracle check does.
    assert(Digest.ofRows(cols, rows.updated(0, Seq(1, 0.1 + 0.2, "a"))) == d)
    assert(Digest.ofRows(cols, rows.updated(1, Seq(2L, new java.math.BigDecimal("1.5"), null))) == d)
  }

  test("the digest matches gen_digests.py on shared rows") {
    // The same rows are digested in test_digest.py; both must print this.
    val ts = org.apache.spark.sql.catalyst.util.DateTimeUtils.toJavaTimestamp(1700000000123456L)
    val shared: Seq[Seq[Any]] = Seq(
      Seq(1L, 2.5, "x", ts, java.sql.Date.valueOf("2024-02-29"), Seq(1.5f, 2.0f), null, true),
      Seq(-7L, Double.NaN, "", null, null, Seq(), 3, false))
    assert(Digest.ofRows(Seq("id", "v", "s", "ts", "d", "arr", "n", "b"), shared) == CheckSpec.Shared)
  }

  test("the matmul check rejects a product with one cell off") {
    val (a, b) = Matmul.matrices(11)
    val want = Matmul.serialProduct(a, b)
    val cells = for (i <- 0 until Matmul.L; k <- 0 until Matmul.N) yield (i, k, want(i * Matmul.N + k))
    assert(Matmul.sameProduct(cells, want))
    assert(!Matmul.sameProduct(cells.updated(17, cells(17).copy(_3 = cells(17)._3 + 1)), want))
    assert(!Matmul.sameProduct(cells.tail, want))
    assert(!Matmul.sameProduct(cells :+ ((Matmul.L, 0, 0L)), want))
  }

  test("the tx model predicts the change feed and rejects a wrong one") {
    val from: TxOps.Model = Map(1L -> Seq(1L, "a"), 2L -> Seq(2L, "b"), 3L -> Seq(3L, "c"))
    val to: TxOps.Model = Map(1L -> Seq(1L, "a"), 2L -> Seq(2L, "B"), 4L -> Seq(4L, "d"))
    val feed = TxOps.expectedFeed(from, to).map(_.map(String.valueOf)).toSet
    assert(feed == Set(Seq("update_pre", "2", "b"), Seq("update_post", "2", "B"),
      Seq("delete", "3", "c"), Seq("insert", "4", "d")))
    val c = Seq("change_type", "k", "v")
    val good = TxOps.expectedFeed(from, to)
    val bad = good.map(r => if (r.head == "insert") Seq("insert", 4L, "e") else r)
    assert(Digest.ofRows(c, good) != Digest.ofRows(c, bad))
  }

  test("the per-layer catalog is the per_layer list of BENCHMARK.json") {
    val f = new java.io.File("../BENCHMARK.json")
    assume(f.exists, "BENCHMARK.json sits beside the benchmark directory")
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
    import scala.jdk.CollectionConverters._
    val listed = json.get("per_layer").elements().asScala
      .map(m => m.get("name").asText -> m.get("unit").asText).toSeq
    assert(listed == Layers.catalog)
  }
}

object CheckSpec {
  val Shared = "arr,b,d,id,n,s,ts,v|2|2b6c7507e5cab8ab"
}
