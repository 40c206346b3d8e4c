package graft.queries

import org.scalatest.funsuite.AnyFunSuite

/** `Fixpoint.run` on plain values, no Spark: the equal-probe stop, the
  * seed, and an exhausted budget. */
class FixpointSpec extends AnyFunSuite {

  /** Runs `probe` over rounds done so far, counting the steps taken. */
  private def trace(budget: Int, seed: Option[Int] = None)(
      probe: Int => Int): (Fixpoint.Run[Int, Int], Int) = {
    var steps = 0
    val run = Fixpoint.run(0, budget, seed) { done =>
      steps += 1
      (done + 1, probe(done + 1))
    }
    (run, steps)
  }

  test("the run stops at the first repeated probe and returns the probes in order") {
    val (run, steps) = trace(30)(done => math.min(done, 3))
    assert(run.probes === Vector(1, 2, 3, 3))
    assert(steps === 4)
    assert(run.state === 4)
    assert(run.converged)
  }

  test("a seeded probe converges after one round; an unseeded one cannot") {
    val (seeded, _) = trace(1, seed = Some(7))(_ => 7)
    assert(seeded.converged)
    assert(seeded.probes === Vector(7))
    val (unseeded, _) = trace(1)(_ => 7)
    assert(!unseeded.converged)
    assert(unseeded.probes === Vector(7))
  }

  test("an exhausted budget returns converged = false") {
    val (run, steps) = trace(5)(identity)
    assert(!run.converged)
    assert(run.probes === Vector(1, 2, 3, 4, 5))
    assert(steps === 5)
    val (none, noSteps) = trace(0)(identity)
    assert(!none.converged && none.probes.isEmpty && noSteps === 0 && none.state === 0)
  }

  test("convergence in the budget's last round still counts") {
    val (run, _) = trace(2)(_ => 1)
    assert(run.probes === Vector(1, 1))
    assert(run.converged)
  }
}
