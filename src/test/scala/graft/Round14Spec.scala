package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Similarity

/** Round-14 directives: the band-geometry ceiling lift (MaxBits 16→24
  * with an append-only plane catalog and a LOUD occupancy ceiling) and a
  * certification that the staged semantic closure's convergence guard
  * actually trips on an under-rounded pipeline (the census skew
  * refinement cases live in [[TwoPassSpec]]).
  */
class Round14Spec extends AnyFunSuite {

  test("bandBits keeps adapting past the old 2^16 ceiling and fails " +
    "loudly at the new one") {
    // unchanged below the old ceiling (every swept scale)
    assert(Similarity.bandBits(500L) === 4)
    assert(Similarity.bandBits(20000L) === 7)
    assert(Similarity.bandBits(200000L) === 10)
    // the round-13 `weak`: 16.8M vectors used to freeze at 16 bits with
    // occupancy growing ∝ n; now the step function continues
    assert(Similarity.bandBits(256L << 16) === 16)
    assert(Similarity.bandBits((256L << 16) + 1) === 17)
    assert(Similarity.bandBits(100000000L) === 19)
    assert(Similarity.bandBits(256L << 23) === 23)
    assert(Similarity.bandBits(256L << 24) === 24)
    // occupancy invariant n <= 256·2^bits holds at every step edge
    for (b <- 4 to Similarity.MaxBits) {
      val n = 256L << b
      assert(Similarity.bandBits(n) <= b)
      assert(n <= (256L << Similarity.bandBits(n)))
    }
    // past 256·2^24 the geometry REFUSES rather than silently running a
    // superlinear banded self-join
    val e = intercept[IllegalArgumentException] {
      Similarity.bandBits((256L << 24) + 1)
    }
    assert(e.getMessage.contains("MaxBits"))
  }

  test("plane catalog is append-only: original (t, j<16) indices are " +
    "byte-identical to the round-13 layout, extension planes disjoint") {
    val all = for (t <- 0 until 8; j <- 0 until Similarity.MaxBits)
      yield Similarity.planeIdx(t, j)
    assert(all.distinct.size === all.size, "plane index collision")
    for (t <- 0 until 8; j <- 0 until 16)
      assert(Similarity.planeIdx(t, j) === t * 16 + j,
        s"original plane ($t,$j) moved — swept-scale artifacts would change")
    for (t <- 0 until 8; j <- 16 until Similarity.MaxBits)
      assert(Similarity.planeIdx(t, j) >= 128,
        s"extension plane ($t,$j) collides with the original block")
    // coefficients themselves: deterministic, ±1, and the extension
    // block differs from the original planes it must be independent of
    val c0 = (0 until 64).map(d => Similarity.planeCoef(Similarity.planeIdx(0, 0), d))
    val cx = (0 until 64).map(d => Similarity.planeCoef(Similarity.planeIdx(0, 16), d))
    assert(c0.forall(v => v == 1 || v == -1))
    assert(c0 !== cx)
  }

  test("staged semantic closure guard: an under-rounded pipeline leaves " +
    "edges joining two labels (the error() predicate trips); the " +
    "doubling bound converges a long path within its predicted rounds") {
    // exact Scala model of StagedOracles.semRound: hook (neighbor min) →
    // h = min(cur, hook) → compress lbl ← min(h, h[h]) — certifying the
    // f ← 2f+2 claim and the guard itself, which DuckDB-only execution
    // keeps out of reach of the sbt suite (the oracle engine is
    // driver-side; this pins the algebra the SQL implements)
    def propagate(sym: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
      var lbl = sym.map(_._1).distinct.map(id => id -> id).toMap
      for (_ <- 1 to rounds) {
        val hook = sym.groupBy(_._1).map { case (a, es) =>
          a -> es.map(e => lbl(e._2)).min }
        val h = lbl.map { case (id, l) =>
          id -> math.min(l, hook.getOrElse(id, l)) }
        lbl = h.map { case (id, l) => id -> math.min(l, h.getOrElse(l, l)) }
      }
      lbl
    }
    def unconvergedEdges(sym: Seq[(Long, Long)], lbl: Map[Long, Long]): Int =
      sym.count(e => lbl(e._1) != lbl(e._2))
    val n = 2000L
    val edges = (0L until n - 1).map(i => (i, i + 1))
    val sym = edges ++ edges.map(_.swap)
    // f_r = 2^(r+1) − 2 reach ⇒ a path of diameter 1999 needs ≤ 10 rounds
    val bound = (1 to 30).find(r => (1L << (r + 1)) - 2 >= n - 1).get
    assert(bound === 10)
    val minimal = (1 to bound).find(r =>
      unconvergedEdges(sym, propagate(sym, r)) == 0)
    assert(minimal.isDefined,
      s"doubling bound violated: $bound rounds did not converge a $n-path")
    // the guard: one round short of minimal, stage_sem_fix's COUNT(*) is
    // nonzero — the error() branch fires instead of serving bad labels
    val short = propagate(sym, minimal.get - 1)
    assert(unconvergedEdges(sym, short) > 0,
      "under-rounded pipeline converged — the guard test is vacuous")
    // converged labeling is edge-uniform at the component minimum
    val done = propagate(sym, minimal.get)
    assert(done.values.toSet === Set(0L))
  }
}
