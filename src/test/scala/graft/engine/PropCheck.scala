package graft.engine

import org.scalacheck.{Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.Assertions.fail

/** Runs a scalacheck property inside a scalatest case: a fixed initial seed
  * keeps a run reproducible, and a failure reports the shrunk
  * counterexample.
  */
object PropCheck {
  def apply(prop: Prop, minSuccessful: Int = 300): Unit = {
    val params = Test.Parameters.default
      .withMinSuccessfulTests(minSuccessful)
      .withInitialSeed(Seed(20260417L))
    val res = Test.check(params, prop)
    if (!res.passed) fail(Pretty.pretty(res, Pretty.Params(2)))
  }
}
