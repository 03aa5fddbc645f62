package graft.cluster

import org.scalatest.funsuite.AnyFunSuite

/** The driver-side long map behind the union-find fast path: capacity
  * growth must fail loudly at the Int bound instead of wrapping. */
class UnionFindSpec extends AnyFunSuite {

  test("map capacity doubles up to 2^30 slots and fails loudly beyond") {
    assert(UnionFind.nextCapacity(16) == 32)
    assert(UnionFind.nextCapacity(1 << 29) == (1 << 30))
    val e = intercept[IllegalArgumentException](UnionFind.nextCapacity(1 << 30))
    assert(e.getMessage.contains("maxLocalEdges"))
  }

  test("labels stay exact across several map growths") {
    // a 200k-node chain grows the map from its 2^17 initial slots
    val n = 200000
    val src = Array.tabulate(n - 1)(i => (i + 1).toLong)
    val dst = Array.tabulate(n - 1)(_.toLong)
    val (ks, vs) = UnionFind.minLabelsLong(src, dst)
    assert(ks.length == n - 1)
    assert(ks.toSet == (1 until n).map(_.toLong).toSet)
    assert(vs.forall(_ == 0L))
  }
}
