package graft.props

import org.scalacheck.Test

/** Case budget shared by every property suite `tools/soak.sh` runs.
  * `GRAFT_PROP_N` sets the number of passing cases each suite must
  * reach; unset, a suite keeps its own default (ScalaCheck's when it
  * names none), so a plain `sbt test` does the same work either way.
  *
  *   override def overrideParameters(p: Test.Parameters) = PropBudget(p, 24)
  */
object PropBudget {
  def apply(p: Test.Parameters): Test.Parameters =
    apply(p, p.minSuccessfulTests)

  def apply(p: Test.Parameters, default: Int): Test.Parameters =
    p.withMinSuccessfulTests(
      sys.env.get("GRAFT_PROP_N").map(_.toInt).getOrElse(default))
}
