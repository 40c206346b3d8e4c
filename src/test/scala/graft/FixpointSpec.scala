package graft.queries

import org.scalatest.funsuite.AnyFunSuite

/** `Fixpoint.run` on plain values, no Spark: the batch arithmetic, the
  * equal-probe stop, the seed, and an exhausted budget. */
class FixpointSpec extends AnyFunSuite {

  /** Runs `probe` over rounds done so far, recording each batch's k. */
  private def trace(budget: Int, batch: Int, seed: Option[Int] = None)(
      probe: Int => Int): (Fixpoint.Run[Int, Int], Seq[Int]) = {
    val ks = Seq.newBuilder[Int]
    val run = Fixpoint.run(0, budget, batch, seed) { (done, k) =>
      ks += k
      (done + k, probe(done + k))
    }
    (run, ks.result())
  }

  test("budget 10 in batches of 3 runs k = 3, 3, 3, 1") {
    val (run, ks) = trace(10, 3)(identity)
    assert(ks === Seq(3, 3, 3, 1))
    assert(run.state === 10)
    assert(!run.converged)
  }

  test("the run stops at the first repeated probe and returns the probes in order") {
    val (run, ks) = trace(30, 2)(done => math.min(done, 6))
    assert(run.probes === Vector(2, 4, 6, 6))
    assert(ks === Seq(2, 2, 2, 2))
    assert(run.state === 8)
    assert(run.converged)
  }

  test("a seeded probe converges after one batch; an unseeded one cannot") {
    val (seeded, _) = trace(3, 3, seed = Some(7))(_ => 7)
    assert(seeded.converged)
    assert(seeded.probes === Vector(7))
    val (unseeded, _) = trace(3, 3)(_ => 7)
    assert(!unseeded.converged)
    assert(unseeded.probes === Vector(7))
  }

  test("an exhausted budget returns converged = false") {
    val (run, ks) = trace(5, 1)(identity)
    assert(!run.converged)
    assert(run.probes === Vector(1, 2, 3, 4, 5))
    assert(ks === Seq.fill(5)(1))
    val (none, noKs) = trace(0, 1)(identity)
    assert(!none.converged && none.probes.isEmpty && noKs.isEmpty && none.state === 0)
  }

  test("convergence in the budget's last batch still counts") {
    val (run, _) = trace(4, 2)(_ => 1)
    assert(run.probes === Vector(1, 1))
    assert(run.converged)
  }
}
