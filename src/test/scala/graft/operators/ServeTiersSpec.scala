package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The serve-budget band rule: tier t (t ≥ 1) switches on one vector past
  * `ServeRefN·2^(t−1)`, so each corpus size names exactly one tier. The
  * walk's hop and beam budgets and the oracle's `bud` CTE all derive from
  * [[GraphAnn.serveTiers]]; a shifted band edge would change a served
  * result without touching either side's code.
  */
class ServeTiersSpec extends AnyFunSuite with Matchers {
  private def lowerEdge(t: Int): Long = GraphAnn.ServeRefN * (1L << (t - 1))

  test("n(0) = 1 serves at tier 0") {
    GraphAnn.serveTiers(1L) shouldBe 0
  }

  test("one vector past each band's lower edge serves at that band's tier") {
    for (t <- 1 to GraphAnn.MaxServeTiers)
      withClue(s"tier $t: ") { GraphAnn.serveTiers(lowerEdge(t) + 1) shouldBe t }
  }

  test("each band's lower edge still serves at the tier below") {
    for (t <- 1 to GraphAnn.MaxServeTiers)
      withClue(s"tier $t: ") { GraphAnn.serveTiers(lowerEdge(t)) shouldBe t - 1 }
  }
}
