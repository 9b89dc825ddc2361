package graft.lang

import Ast._
import Lexer._

/** Pratt parser with the reference's precedence table
  * (`rewrite.cljc:698-719`: path steps bind tightest, then * / %, then
  * + - & .., then in ~>, comparisons, and, or; ternary loosest).
  */
object Parser {

  def parse(src: String): Expr = {
    val p = new P(Lexer.tokenize(src))
    val e = p.expr(0)
    require(p.atEnd, s"trailing tokens after expression in: $src")
    e
  }

  // binding powers: higher binds tighter (inverse of the reference's
  // table but same ordering)
  private val bp: Map[String, Int] = Map(
    "." -> 100, "[" -> 100, "{" -> 100,
    "*" -> 80, "/" -> 80, "%" -> 80,
    "+" -> 70, "-" -> 70, "&" -> 70, ".." -> 70,
    "in" -> 60, "~>" -> 60,
    "<" -> 50, ">" -> 50, "<=" -> 50, ">=" -> 50, "=" -> 50, "!=" -> 50,
    "and" -> 40, "or" -> 30,
    "?" -> 20, ":=" -> 10)

  private class P(toks: Vector[Tok]) {
    private var pos = 0
    def atEnd: Boolean = pos >= toks.length
    private def peek: Option[Tok] =
      if (atEnd) None else Some(toks(pos))
    private def next(): Tok = { val t = toks(pos); pos += 1; t }
    private def expect(op: String): Unit = next() match {
      case TOp(`op`) => ()
      case other => throw new IllegalArgumentException(
        s"expected '$op', got $other")
    }
    private def peekOp(op: String): Boolean = peek.contains(TOp(op))

    def expr(minBp: Int): Expr = {
      var left = nud(next())
      var continue = true
      while (continue) {
        peek match {
          case Some(TOp(op)) if bp.contains(op) && bp(op) > minBp =>
            next()
            left = led(op, left)
          case _ => continue = false
        }
      }
      left
    }

    private def nud(t: Tok): Expr = t match {
      case TNum(v) => NumLit(v)
      case TStr(v) => StrLit(v)
      case TRegex(p) => RegexLit(p)
      case TQvar(n) => QvarRef(n)
      case TIdent("query") if peekOp("(") || peekOp("{") => queryDef()
      case TIdent("express") => expressDef()
      case TIdent(name) =>
        if (peekOp("(")) { next(); Apply(Ident(name), callArgs()) }
        else Ident(name)
      case TVar(name) =>
        // $fn(...) call?
        if (peekOp("(")) {
          next()
          val args = callArgs()
          if (name.isEmpty) Apply(VarRef(""), args)
          else FnCall("$" + name, args)
        } else VarRef(name)
      case TOp("-") => Neg(expr(90))
      case TOp("not") => Not(expr(90))
      case TOp("true") => BoolLit(true)
      case TOp("false") => BoolLit(false)
      case TOp("null") => NullLit
      case TOp("(") => parenOrBlock()
      case TOp("[") => arrayLit()
      case TOp("{") => objectLit()
      case TOp("function") => lambda()
      case other =>
        throw new IllegalArgumentException(s"unexpected token $other")
    }

    private def led(op: String, left: Expr): Expr = op match {
      case "." =>
        // path step: rhs at path tightness; `.(` map-step, `.[` value-step
        if (peekOp("(")) { next(); PathStep(left, Parens(parenOrBlockBody())) }
        else if (peekOp("[")) {
          next(); PathStep(left, arrayLit())
        } else if (peekOp("{")) {
          next(); PathStep(left, reduceExp())
        } else {
          val stepTok = next()
          val step = stepTok match {
            case TIdent(n) =>
              if (peekOp("(")) { next(); Apply(Ident(n), callArgs()) }
              else Ident(n)
            case TVar(n) =>
              if (peekOp("(")) {
                next(); FnCall("$" + n, callArgs())
              } else VarRef(n)
            case TQvar(n) => QvarRef(n) // frame column: $qfn($db).?sdo
            case other => throw new IllegalArgumentException(
              s"bad path step: $other")
          }
          PathStep(left, step)
        }
      case "{" =>
        // grouping applied directly: `Product{k : v}` — the reference
        // keeps reduce and object construction syntactically identical
        // (parse.cljc:822-840); infix position disambiguates.
        PathStep(left, reduceExp())
      case "[" =>
        val pred = expr(0)
        expect("]")
        Filter(left, pred)
      case "?" =>
        val t = expr(0)
        expect(":")
        val f = expr(19)
        Ternary(left, t, f)
      case "~>" =>
        // thread: x ~> $f(args) → $f(x, args); x ~> /re/ → $match
        expr(bp("~>")) match {
          case FnCall(n, args) => FnCall(n, left +: args)
          case Apply(fn, args) => Apply(fn, left +: args)
          case RegexLit(p) => FnCall("$match", Seq(left, RegexLit(p)))
          case l: Lambda => Apply(l, Seq(left))
          case v: VarRef => Apply(v, Seq(left))
          case other => throw new IllegalArgumentException(
        s"cannot thread into $other")
        }
      case ":=" => left match {
        case v: VarRef => BinOp(":=", v, expr(9))
        case other =>
          throw new IllegalArgumentException(s"cannot assign to $other")
      }
      case o => BinOp(o, left, expr(bp(o)))
    }

    private def callArgs(): Seq[Expr] = {
      val args = Seq.newBuilder[Expr]
      if (!peekOp(")")) {
        args += expr(0)
        while (peekOp(",")) { next(); args += expr(0) }
      }
      expect(")")
      args.result()
    }

    /** after '(': code block (with ; or :=) vs parenthesized expr;
      * the reference resolves the same ambiguity in rewrite-primary
      * (`rewrite.cljc:63-95`). A group that a predicate follows keeps
      * its boundary as [[Parens]]: `(a.b[0])[0]` indexes the whole
      * sequence, where `a.b[0][0]` indexes each parent's.
      */
    private def parenOrBlock(): Expr = parenOrBlockBody() match {
      case e if !e.isInstanceOf[Block] && peekOp("[") => Parens(e)
      case e => e
    }

    private def parenOrBlockBody(): Expr = {
      val stmts = Seq.newBuilder[Expr]
      stmts += statement()
      while (peekOp(";")) { next(); stmts += statement() }
      expect(")")
      val all = stmts.result()
      val bindings = all.init.map {
        case Block(Seq(), BinOp(":=", VarRef(n), v)) => n -> v
        case BinOp(":=", VarRef(n), v) => n -> v
        // effect statements ($put(...) etc.) evaluate and discard —
        // the reference allows any expression in statement position
        case other => "_" -> other
      }
      all.last match {
        case BinOp(":=", VarRef(n), v) if bindings.isEmpty =>
          // `($x := v)` — value of the assignment
          Block(Seq(n -> v), VarRef(n))
        case last if bindings.isEmpty => last
        case last => Block(bindings, last)
      }
    }

    private def statement(): Expr = {
      // $x := expr | expr
      peek match {
        case Some(TVar(n)) if pos + 1 < toks.length &&
          toks(pos + 1) == TOp(":=") =>
          next(); next()
          BinOp(":=", VarRef(n), expr(5))
        case _ => expr(0)
      }
    }

    private def arrayLit(): Expr = {
      val items = Seq.newBuilder[Expr]
      if (!peekOp("]")) {
        items += expr(0)
        while (peekOp(",")) { next(); items += expr(0) }
      }
      expect("]")
      // [a..b] range sugar arrives as BinOp("..")
      ArrLit(items.result())
    }

    private def objectPairs(): Seq[(Expr, Expr)] = {
      val pairs = Seq.newBuilder[(Expr, Expr)]
      if (!peekOp("}")) {
        def pair(): Unit = {
          val k = expr(0)
          expect(":")
          pairs += (k -> expr(0))
        }
        pair()
        while (peekOp(",")) { next(); pair() }
      }
      expect("}")
      pairs.result()
    }

    private def objectLit(): Expr = ObjLit(objectPairs())

    /** `{k: v, ...}` in step position — the `{` is already consumed. */
    private def reduceExp(): Expr = ReduceExp(objectPairs())

    /** `query($p1, ...){ [pattern]* }` — returns a (possibly
      * parameterized) query function (parse.cljc:1112-1131).
      */
    private def queryDef(): Expr = {
      val params = Seq.newBuilder[String]
      var options = Map.empty[String, String]
      if (peekOp("(")) {
        next()
        if (!peekOp(")")) {
          def item(): Unit = peek match {
            case Some(TOp("<|")) => options = optionBlock()
            case _ => next() match {
              case TVar(n) => params += n
              case other => throw new IllegalArgumentException(
                s"query parameter must be $$var or <|opts|>, got $other")
            }
          }
          item()
          while (peekOp(",")) { next(); item() }
        }
        expect(")")
      }
      expect("{")
      // identity body: query{$qIdent($data)} (query_test.cljc:1064-1087)
      if (peek.contains(TVar("qIdent"))) {
        next(); expect("(")
        val arg = expr(0)
        expect(")"); expect("}")
        val q = QueryDef(params.result(), Nil, Nil, options, Some(arg))
        return (if (peekOp("(")) { next(); Apply(q, callArgs()) } else q)
      }
      val pats = Seq.newBuilder[QPattern]
      val preds = Seq.newBuilder[Expr]
      while (peekOp("[")) {
        next()
        if (peekOp("(")) { // predicate pattern [($fn(?q, ...))]
          next()
          preds += expr(0)
          expect(")")
          expect("]")
        } else pats += pattern()
      }
      expect("}")
      val q = QueryDef(params.result(), pats.result(), preds.result(),
        options)
      // immediate parameter binding: query($n){...}('Bob')
      if (peekOp("(")) { next(); Apply(q, callArgs()) } else q
    }

    /** `<| key : value, ... |>` (reference option maps). */
    private def optionBlock(): Map[String, String] = {
      expect("<|")
      val opts = Map.newBuilder[String, String]
      def entry(): Unit = {
        val k = next() match {
          case TIdent(n) => n
          case other => throw new IllegalArgumentException(
            s"option key must be an identifier, got $other")
        }
        expect(":")
        val v = next() match {
          case TOp("true") => "true"
          case TOp("false") => "false"
          case TNum(n) => n.toString
          case TStr(s) => s
          case TIdent(s) => s
          case other => throw new IllegalArgumentException(
            s"option value: $other")
        }
        opts += (k -> v)
      }
      entry()
      while (peekOp(",")) { next(); entry() }
      expect("|>")
      opts.result()
    }

    /** `[<$src>? ?e (:role | ?attr) value]` */
    private def pattern(): QPattern = {
      val src = peek match {
        case Some(TVar(n)) if n.nonEmpty => next(); Some(n)
        case _ => None
      }
      val e = next() match {
        case TQvar(n) => n
        case other => throw new IllegalArgumentException(
          s"pattern entity must be ?var, got $other")
      }
      val attr: Either[String, String] = next() match {
        case TOp(":") => next() match {
          case TIdent(r) =>
            // hyphenated keyword attrs (`:instance-of`) arrive as ONE
            // token — the lexer joins adjacent hyphens in the pattern-
            // attr position, where whitespace is still visible
            Left(r)
          case other => throw new IllegalArgumentException(
            s"pattern role must be :ident, got $other")
        }
        case TQvar(n) => Right(n)
        case other => throw new IllegalArgumentException(
          s"pattern attribute must be :role or ?var, got $other")
      }
      val v: Expr = next() match {
        case TQvar(n) => QvarRef(n)
        case TStr(s) => StrLit(s)
        case TNum(n) => NumLit(n)
        case TOp("-") => next() match {
          case TNum(n) => NumLit(-n)
          case other => throw new IllegalArgumentException(
            s"pattern value after '-': $other")
        }
        case TOp("true") => BoolLit(true)
        case TOp("false") => BoolLit(false)
        case TVar(n) => VarRef(n) // query parameter
        case other => throw new IllegalArgumentException(
          s"pattern value: $other")
      }
      expect("]")
      QPattern(src, e, attr, v)
    }

    /** `express($p...)?{ {template} }` (parse.cljc:1146-1166); the
      * grammar admits `<|opts|>` among the params like query does. */
    private def expressDef(): Expr = {
      val params = Seq.newBuilder[String]
      var options = Map.empty[String, String]
      if (peekOp("(")) {
        next()
        if (!peekOp(")")) {
          def param(): Unit = peek match {
            case Some(TOp("<|")) => options = optionBlock()
            case _ => next() match {
              case TVar(n) => params += n
              case other => throw new IllegalArgumentException(
                s"express parameter must be $$var or <|opts|>, got $other")
            }
          }
          param()
          while (peekOp(",")) { next(); param() }
        }
        expect(")")
      }
      expect("{")
      val tmpl = expr(0)
      expect("}")
      val e = ExpressDef(params.result(), tmpl, options)
      // immediate binding: express($t){...}('MyType')
      if (peekOp("(")) { next(); Apply(e, callArgs()) } else e
    }

    private def lambda(): Expr = {
      expect("(")
      val params = Seq.newBuilder[String]
      if (!peekOp(")")) {
        def param(): Unit = next() match {
          case TVar(n) => params += n
          case other => throw new IllegalArgumentException(
            s"lambda parameter must be $$var, got $other")
        }
        param()
        while (peekOp(",")) { next(); param() }
      }
      expect(")")
      expect("{")
      val body = expr(0)
      expect("}")
      val l = Lambda(params.result(), body)
      // immediate use: function($x){...}(3)
      if (peekOp("(")) { next(); Apply(l, callArgs()) } else l
    }
  }
}
