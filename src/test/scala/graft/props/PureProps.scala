package graft.props

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll
import graft.core.Finalize
import graft.core.Finalize.Container
import graft.functions.{DatePictures, NumberWords}

/** Property tests for the pure kernels (SURVEY §5: property tests for
  * flattening rules and number/date codecs).
  */
object PureProps extends Properties("graft.pure") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    PropBudget(p)

  // ---- jflatten laws (builtin_macros.cljc:49-98) ----

  private val scalarGen: Gen[Any] =
    Gen.oneOf(Gen.alphaStr, Gen.choose(-1000, 1000), Gen.oneOf(true, false))

  private def valueGen(depth: Int): Gen[Any] =
    if (depth == 0) scalarGen
    else Gen.frequency(
      4 -> scalarGen,
      1 -> Gen.listOfN(2, valueGen(depth - 1)).map(Container(_)),
      1 -> Gen.listOfN(2, valueGen(depth - 1)))

  property("empty container is no-match") =
    forAll(Gen.const(Container(Nil)))(c => Finalize.jflatten(c).isEmpty)

  property("singleton scalar container unwraps") =
    forAll(scalarGen)(v =>
      Finalize.jflatten(Container(Seq(v))).contains(v))

  property("jflatten is idempotent on its own output") =
    forAll(valueGen(3)) { v =>
      val once = Finalize.jflatten(v)
      once.forall(o => Finalize.jflatten(o).contains(o) ||
        // a seq result re-finalizes elementwise but keeps arity
        (o.isInstanceOf[Seq[_]] &&
          Finalize.jflatten(o).exists(_.isInstanceOf[Seq[_]])))
    }

  property("flattened containers contain no nested containers") =
    forAll(valueGen(4)) { v =>
      def noContainers(x: Any): Boolean = x match {
        case Container(_) => false
        case s: Seq[_] => s.forall(noContainers)
        case m: Map[_, _] => m.values.forall(noContainers)
        case _ => true
      }
      Finalize.jflatten(v).forall(noContainers)
    }

  // ---- integer picture codecs ----

  property("roman numerals round trip (1..3999)") =
    forAll(Gen.choose(1L, 3999L)) { n =>
      NumberWords.fromRoman(NumberWords.toRoman(n)) == n
    }

  property("english words round trip") =
    forAll(Gen.choose(-999999999L, 999999999L)) { n =>
      NumberWords.fromWords(NumberWords.toWords(n)) == n
    }

  property("alphabetic picture round trips (bijective base-26)") =
    forAll(Gen.choose(1L, 1000000L)) { n =>
      NumberWords.fromAlpha(NumberWords.toAlpha(n)) == n
    }

  property("formatInteger/parseInteger agree for every picture") =
    forAll(Gen.choose(1L, 3000L),
      Gen.oneOf("w", "W", "Ww", "I", "i", "A", "a", "0000")) { (n, pic) =>
      NumberWords.parseInteger(NumberWords.formatInteger(n, pic), pic) == n
    }

  // ---- date pictures ----

  property("date picture translation is total on supported components") =
    forAll(Gen.someOf(Seq("[Y0001]", "[M01]", "[D01]", "[H01]", "[m01]",
      "[s01]", "[f001]"))) { parts =>
      val pic = parts.mkString("-")
      DatePictures.toSparkPattern(pic).nonEmpty || parts.isEmpty
    }

  // ---- parser precedence/associativity (SURVEY §5; reference
  // precedence table rewrite.cljc:698-719) ----
  //
  // Render a random operator tree with the MINIMAL parentheses the
  // precedence table allows (parens only where a child binds looser,
  // or equally on the right of a left-associative operator), re-parse,
  // and require the exact tree back. Any precedence or associativity
  // slip in the Pratt tables breaks the round trip.

  import graft.lang.{Ast, Parser}
  import Ast._

  private val opBp: Map[String, Int] = Map(
    "*" -> 80, "/" -> 80, "%" -> 80,
    "+" -> 70, "-" -> 70, "&" -> 70,
    "<" -> 50, ">" -> 50, "<=" -> 50, ">=" -> 50, "=" -> 50, "!=" -> 50,
    "and" -> 40, "or" -> 30)

  private def exprGen(depth: Int): Gen[Expr] =
    if (depth == 0) Gen.choose(0L, 99L).map(n => NumLit(n.toDouble))
    else Gen.frequency(
      2 -> Gen.choose(0L, 99L).map(n => NumLit(n.toDouble)),
      3 -> (for {
        op <- Gen.oneOf(opBp.keys.toSeq)
        l <- exprGen(depth - 1)
        r <- exprGen(depth - 1)
      } yield BinOp(op, l, r)))

  private def render(e: Expr): String = e match {
    case NumLit(v) => v.toLong.toString
    case BinOp(op, l, r) =>
      val ls = l match {
        case BinOp(lop, _, _) if opBp(lop) < opBp(op) => s"(${render(l)})"
        case _ => render(l)
      }
      val rs = r match {
        case BinOp(rop, _, _) if opBp(rop) <= opBp(op) => s"(${render(r)})"
        case _ => render(r)
      }
      s"$ls $op $rs"
    case other => sys.error(s"unexpected $other")
  }

  /** Strip Parens nodes — they are explicit in the AST but semantically
    * transparent for this comparison.
    */
  private def noParens(e: Expr): Expr = e match {
    case Parens(b) => noParens(b)
    case BinOp(op, l, r) => BinOp(op, noParens(l), noParens(r))
    case other => other
  }

  property("operator tree round-trips through minimal-parens rendering") =
    forAll(exprGen(4)) { ast =>
      noParens(Parser.parse(render(ast))) == ast
    }
}
