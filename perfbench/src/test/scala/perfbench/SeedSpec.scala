package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The workload inputs are a function of the seed alone. */
class SeedSpec extends AnyFunSuite {
  test("the same seed gives identical matrices, another seed different ones") {
    val (a1, b1) = Matmul.matrices(7)
    val (a2, b2) = Matmul.matrices(7)
    val (a3, b3) = Matmul.matrices(8)
    assert(a1.sameElements(a2) && b1.sameElements(b2))
    assert(!a1.sameElements(a3) && !b1.sameElements(b3))
    assert(a1.length == Matmul.L * Matmul.M && a1.forall(v => v >= 0 && v <= 9))
  }

  test("the same seed gives identical tx op sequences, another seed different ones") {
    def seq(seed: Long) = (0 until 3).flatMap(u => TxOps.unit(seed, u))
    assert(seq(7) == seq(7))
    assert(seq(7) != seq(8))
    assert(seq(7).map(_.kind) != seq(8).map(_.kind), "the seed also orders the kinds")
  }

  test("tx units hold every core kind, unit 0 the one-off restore, replay and vacuum") {
    val u0 = TxOps.unit(3, 0).map(_.kind)
    val u1 = TxOps.unit(3, 1).map(_.kind)
    Seq("merge", "merge_into", "merge_sql", "delete_cow", "delete_sql", "delete_mor", "append",
      "snapshot", "change_feed", "optimize").foreach(k => assert(u0.contains(k) && u1.contains(k), k))
    Seq("restore", "append_replay", "vacuum").foreach(k => assert(u0.contains(k) && !u1.contains(k), k))
    // a MERGE source holds each key once (the SQL MERGE cardinality rule).
    TxOps.unit(3, 0).filter(_.rows.nonEmpty).foreach(o => assert(o.rows.map(_._1).distinct.size == o.rows.size))
  }

  test("the same seed gives the same probe order, another seed another") {
    assert(LlmIndex.probeOrder(5, 0) == LlmIndex.probeOrder(5, 0))
    assert(LlmIndex.probeOrder(5, 0) != LlmIndex.probeOrder(6, 0))
    assert(LlmIndex.probeOrder(5, 0).size >= 11)
  }

  test("sql mixes partition the queries, with like costs") {
    val names = (1 to 85).map(i => f"q$i%03d")
    val cost = names.zipWithIndex.map { case (n, i) => n -> (0.1 + i * 0.02) }.toMap
    val mixes = SqlMix.mixes(names, cost)
    assert(mixes.size == SqlMix.Mixes)
    assert(mixes.flatten.sorted == names)
    assert(mixes.forall(_.size >= 12), "each mix leaves ten samples beyond its tail")
    assert(mixes.map(_.size).max - mixes.map(_.size).min <= 1)
    val medians = mixes.map(m => Stats.median(m.map(cost)))
    assert(medians.max / medians.min < 1.05)
  }
}
