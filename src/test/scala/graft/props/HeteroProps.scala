package graft.props

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll
import graft.lang.RM

/** Differential property test for the heterogeneous (variant) channel:
  * random MIXED array literals — scalars, flat objects, flat arrays in
  * one sequence — run through the distributed compiler and must match
  * a direct driver-side model of the reference semantics (jflatten
  * rules + aref + field-step no-match/splice + per-element $type;
  * reference builtin_macros.cljc:34-98, builtin.cljc:206-283).
  * Operations are restricted to shapes the reference's own batteries
  * pin, so the model is ground truth, not a second guess.
  */
object HeteroProps extends Properties("graft.lang.hetero") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    PropBudget(p)

  private lazy val spark = graft.SparkSpec.session

  // ---- value generator: mixed arrays of scalars / flat objects /
  //      flat scalar-arrays ----

  private sealed trait V { def render: String; def model: Any }
  private case class VNum(n: Long) extends V {
    def render = n.toString; def model = n
  }
  private case class VStr(s: String) extends V {
    def render = s"'$s'"; def model = s
  }
  private case class VBool(b: Boolean) extends V {
    def render = b.toString; def model = b
  }
  private case class VArr(xs: List[V]) extends V {
    def render = xs.map(_.render).mkString("[", ", ", "]")
    def model = xs.map(_.model)
  }
  private case class VObj(fields: List[(String, V)]) extends V {
    def render = fields.map { case (k, v) => s"'$k': ${v.render}" }
      .mkString("{", ", ", "}")
    def model = fields.map { case (k, v) => k -> v.model }.toMap
  }

  private val scalarGen: Gen[V] = Gen.oneOf(
    Gen.choose(-9L, 99L).map(VNum),
    Gen.oneOf("a", "b", "zz", "q1").map(VStr),
    Gen.oneOf(true, false).map(VBool))

  private val flatArrGen: Gen[V] =
    Gen.chooseNum(0, 3).flatMap(n => Gen.listOfN(n, scalarGen)).map(VArr)

  private val objGen: Gen[V] = for {
    hasA <- Gen.oneOf(true, false)
    av <- scalarGen
    hasB <- Gen.oneOf(true, false)
    bv <- Gen.oneOf(scalarGen, flatArrGen)
  } yield VObj((if (hasA) List("a" -> av) else Nil) ++
    (if (hasB) List("b" -> bv) else Nil))

  private val elemGen: Gen[V] =
    Gen.frequency(4 -> scalarGen, 2 -> flatArrGen, 2 -> objGen)

  /** Mixed top-level array, 1..5 elements. */
  private val mixedGen: Gen[VArr] =
    Gen.chooseNum(1, 5).flatMap(n => Gen.listOfN(n, elemGen)).map(VArr)

  private def eval(src: String): Option[Any] = RM.eval(src, spark)

  // ---- properties ----

  property("literal round-trip") = forAll(mixedGen) { v =>
    eval(v.render) == Some(v.model)
  }

  property("aref: non-compositional index over the explicit array") =
    forAll(mixedGen, Gen.choose(-6, 6)) { (v, i) =>
      val got = eval(s"${v.render}[$i]")
      // reference aref: 0-based, negative from the end, out-of-range
      // is no-match (builtin.cljc:206-243)
      val n = v.xs.length
      val idx = if (i < 0) n + i else i
      val want =
        if (idx < 0 || idx >= n) None else Some(v.xs(idx).model)
      got == want
    }

  property("$count and $reverse treat explicit arrays as-is") =
    forAll(mixedGen) { v =>
      eval(s"$$count(${v.render})") == Some(v.xs.length.toLong) && {
        val want = v.xs.reverse.map(_.model) match {
          case one :: Nil => one
          case many => many
        }
        eval(s"$$reverse(${v.render})") == Some(want)
      }
    }

  property("field step drops non-objects and splices array values") =
    forAll(mixedGen) { v =>
      val picked = v.xs.flatMap {
        case VObj(fs) => fs.collectFirst { case ("a", av) => av }
        case _ => None
      }
      // jflatten over the mapping result: array values splice,
      // empty → no match, singleton collapses
      val spliced = picked.flatMap {
        case VArr(xs) => xs.map(_.model)
        case x => List(x.model)
      }
      val want = spliced match {
        case Nil => None
        case one :: Nil => Some(one)
        case many => Some(many)
      }
      eval(s"${v.render}.a") == want
    }

  property("$type maps per element through the variant channel") =
    forAll(mixedGen) { v =>
      val types = v.xs.map {
        case _: VNum => "number"
        case _: VStr => "string"
        case _: VBool => "boolean"
        case _: VArr => "array"
        case _: VObj => "object"
      }
      val want = types match {
        case one :: Nil => one
        case many => many
      }
      eval(s"${v.render}.($$type($$))") == Some(want)
    }

  property("equality filter keeps exactly the matching scalars") =
    forAll(mixedGen, Gen.choose(-9L, 99L)) { (v, target) =>
      val kept = v.xs.collect {
        case VNum(n) if n == target => n
      }
      val want = kept match {
        case Nil => None
        case one :: Nil => Some(one)
        case many => Some(many)
      }
      eval(s"${v.render}[$$ = $target]") == want
    }
}
