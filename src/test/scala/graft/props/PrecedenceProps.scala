package graft.props

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll
import graft.lang.RM

/** Differential property test for operator precedence (SURVEY §5):
  * random flat arithmetic strings must parse into the same grouping a
  * straightforward two-pass precedence evaluator implies (reference
  * precedence table rewrite.cljc:698-719 — `* /` bind tighter than
  * `+ -`, all left-associative).
  */
object PrecedenceProps extends Properties("graft.lang.precedence") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    PropBudget(p)

  private lazy val spark = graft.SparkSpec.session

  private val operandGen: Gen[Double] = Gen.choose(1, 9).map(_.toDouble)
  private val opGen: Gen[String] = Gen.oneOf("+", "-", "*", "/")

  private case class Expr(operands: List[Double], ops: List[String]) {
    def render: String =
      operands.map(_.toInt.toString).zipAll(ops, "", "")
        .map { case (v, o) => if (o.isEmpty) v else s"$v $o " }
        .mkString

    /** Two-pass reference evaluation: collapse * and / left-to-right,
      * then + and - left-to-right.
      */
    def expected: Double = {
      val (vs, os) = ops.zipWithIndex.foldLeft(
        (List(operands.head), List.empty[String])) {
        case ((accV, accO), (op, i)) =>
          val next = operands(i + 1)
          if (op == "*") ((accV.head * next) :: accV.tail, accO)
          else if (op == "/") ((accV.head / next) :: accV.tail, accO)
          else (next :: accV, op :: accO)
      }
      val vals = vs.reverse
      val adds = os.reverse
      adds.zip(vals.tail).foldLeft(vals.head) {
        case (acc, ("+", v)) => acc + v
        case (acc, (_, v)) => acc - v
      }
    }
  }

  private val exprGen: Gen[Expr] = for {
    n <- Gen.choose(2, 6)
    operands <- Gen.listOfN(n, operandGen)
    ops <- Gen.listOfN(n - 1, opGen)
  } yield Expr(operands, ops)

  private def asDouble(v: Any): Double = v match {
    case d: Double => d
    case l: Long => l.toDouble
    case i: Int => i.toDouble
    case other => sys.error(s"non-numeric result $other")
  }

  property("flat arithmetic matches two-pass precedence eval") =
    forAll(exprGen) { e =>
      val got = asDouble(RM.eval(e.render, spark).get)
      val want = e.expected
      math.abs(got - want) <= math.max(1e-9, math.abs(want) * 1e-12)
    }

  property("parenthesized prefix overrides precedence") =
    forAll(operandGen, operandGen, operandGen) { (a, b, c) =>
      val got = asDouble(
        RM.eval(s"(${a.toInt} + ${b.toInt}) * ${c.toInt}", spark).get)
      got == (a + b) * c
    }
}
