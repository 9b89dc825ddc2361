package rmbench

import scala.util.Random

/** Short RM programs for `rm_small`, each with the value the generator
  * itself expects `RM.eval` to return.
  *
  * The schedule is fixed so every seed runs the same mix: in each block
  * of [[Block]] programs, one slot is a `query{}` or `express{}`
  * program over inline literal data (the two kinds alternate between
  * blocks) and the other slots cycle through eight path and built-in
  * templates. From the second block on, every other slot repeats the
  * program one block earlier verbatim ([[RepeatShare]] of programs);
  * the rest carry fresh constants.
  */
object SmallPrograms {

  /** @param ordered compare top-level arrays in order; unordered
    *                programs (binding sets, express output) compare
    *                every array as a multiset
    */
  final case class Program(template: String, src: String, expected: Any,
      ordered: Boolean)

  val Block = 20
  val HeavySlot = 0
  val RepeatShare = 0.5

  private val Words = IndexedSeq("alpha", "bravo", "charlie", "delta",
    "echo", "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima",
    "mike", "november", "oscar", "papa", "quebec", "romeo", "sierra")

  private val Light: IndexedSeq[Random => Program] = IndexedSeq(
    arith, sum, path, strings, join, mapFn, filterFn, countFn)

  private val Heavy: IndexedSeq[Random => Program] =
    IndexedSeq(query, reduceTree, joinReduce)

  /** Program `i` of the run seeded by `seed`; programs are generated
    * in order, so repeats can copy an earlier one.
    */
  final class Stream(seed: Long) {
    private val rnd = new Random(seed * 7919L + 17L)
    private val made = scala.collection.mutable.ArrayBuffer[Program]()
    def apply(i: Int): Program = {
      while (made.size <= i) made += next(made.size)
      made(i)
    }
    private def next(i: Int): Program = {
      val slot = i % Block
      val block = i / Block
      if (block > 0 && (block + slot) % 2 == 1) made(i - Block)
      else if (slot == HeavySlot) Heavy((block / 2) % Heavy.size)(rnd)
      else Light(slot % Light.size)(rnd)
    }
  }

  /** One program of every template: the warm-up pass. */
  def warmup(seed: Long): Seq[Program] = {
    val rnd = new Random(seed * 104729L + 3L)
    (Light ++ Heavy).map(_(rnd))
  }

  private def ints(rnd: Random, n: Int, lo: Int, hi: Int): Seq[Long] =
    Seq.fill(n)((lo + rnd.nextInt(hi - lo)).toLong)

  private def arith(rnd: Random): Program = {
    val Seq(a, b, c, d) = ints(rnd, 4, 1, 100)
    Program("arith", s"($a + $b) * $c - $d", (a + b) * c - d, ordered = true)
  }

  private def sum(rnd: Random): Program = {
    val xs = ints(rnd, 3 + rnd.nextInt(6), 1, 1000)
    Program("sum", s"$$sum([${xs.mkString(", ")}])", xs.sum, ordered = true)
  }

  private def path(rnd: Random): Program = {
    val xs = ints(rnd, 3 + rnd.nextInt(4), 1, 500)
    val items = xs.map(x => s"{'c': $x}").mkString(", ")
    Program("path", s"( $$d := {'a': {'b': [$items]}}; $$d.a.b.c )", xs,
      ordered = true)
  }

  private def strings(rnd: Random): Program = {
    val w1 = Words(rnd.nextInt(Words.size))
    val w2 = Words(rnd.nextInt(Words.size)) + Words(rnd.nextInt(Words.size))
    val start = rnd.nextInt(w2.length - 2)
    val len = 1 + rnd.nextInt(w2.length - start - 1)
    Program("strings",
      s"$$uppercase('$w1') & '-' & $$substring('$w2', $start, $len)",
      w1.toUpperCase + "-" + w2.substring(start, start + len),
      ordered = true)
  }

  private def join(rnd: Random): Program = {
    val ws = Seq.fill(2 + rnd.nextInt(5))(Words(rnd.nextInt(Words.size)))
    val sep = Seq("-", "+", ":")(rnd.nextInt(3))
    Program("join",
      s"$$join([${ws.map(w => s"'$w'").mkString(", ")}], '$sep')",
      ws.mkString(sep), ordered = true)
  }

  private def mapFn(rnd: Random): Program = {
    val xs = ints(rnd, 2 + rnd.nextInt(6), 1, 200)
    val k = 2 + rnd.nextInt(8)
    Program("map",
      s"$$map([${xs.mkString(", ")}], function($$x){$$x * $k})",
      xs.map(_ * k), ordered = true)
  }

  private def filterFn(rnd: Random): Program = {
    // at least two kept and one dropped, so the result is an array
    val xs = ints(rnd, 4 + rnd.nextInt(6), 1, 1000).distinct
    val sorted = xs.sorted
    val k = sorted(rnd.nextInt(sorted.size - 2))
    Program("filter",
      s"$$filter([${xs.mkString(", ")}], function($$x){$$x > $k})",
      xs.filter(_ > k), ordered = true)
  }

  private def countFn(rnd: Random): Program = {
    val xs = ints(rnd, 1 + rnd.nextInt(40), 0, 100)
    Program("count", s"$$count([${xs.mkString(", ")}])", xs.size.toLong,
      ordered = true)
  }

  private def query(rnd: Random): Program = {
    val m = 5 + rnd.nextInt(26)
    val rows = (0 until m).map(j => (s"n$j", rnd.nextInt(100).toLong))
    val vs = rows.map(_._2).distinct.sorted
    // keep at least two binding sets: one set would unwrap to a map
    val k = if (vs.size >= 3) vs(rnd.nextInt(vs.size - 2)) else -1L
    val data = rows.map { case (n, v) => s"{'name': '$n', 'v': $v}" }
      .mkString(", ")
    Program("query",
      s"( $$data := [$data]; " +
        s"$$q := query{[?e :name ?n] [?e :v ?v] [(?v > $k)]}; $$q($$data) )",
      rows.filter(_._2 > k).map { case (n, v) => Map("n" -> n, "v" -> v) },
      ordered = false)
  }

  private def reduceTree(rnd: Random): Program = {
    val m = 4 + rnd.nextInt(40)
    val rows = (0 until m).map(j =>
      (s"o${rnd.nextInt(4)}", s"s$j", rnd.nextInt(1000).toLong))
    val bsets = rows.map { case (o, s, id) =>
      s"{?o : '$o', ?s : '$s', ?id : $id}" }.mkString(", ")
    val expected = Map("owners" -> rows.groupBy(_._1).toSeq.map {
      case (o, rs) => Map("owner" -> o, "systems" -> rs.map {
        case (_, s, id) => Map("sys" -> s, "id" -> id) })
    })
    Program("reduce_tree",
      s"$$reduce([$bsets], express(){{'owners': [{'owner': key(?o), " +
        "'systems': [{'sys': key(?s), 'id': ?id}]}]}})",
      expected, ordered = false)
  }

  private def joinReduce(rnd: Random): Program = {
    val na = 3 + rnd.nextInt(10)
    val nb = na + rnd.nextInt(40)
    val xs = rnd.shuffle((1 to 1000).toList).take(nb).map(_.toLong)
    val b = xs.map(x => (1 + rnd.nextInt(na), x))
    val dba = (1 to na).map(k => s"{'k': $k, 'name': 'N$k'}").mkString(", ")
    val dbb = b.map { case (k, x) => s"{'k': $k, 'x': $x}" }.mkString(", ")
    val expected = b.groupBy(_._1).map { case (k, kx) =>
      s"N$k" -> Map("xs" -> kx.map(_._2)) }
    Program("join_reduce",
      s"( $$DBa := [$dba]; $$DBb := [$dbb]; " +
        "$bs := query(){[$DBa ?a :k ?k] [$DBa ?a :name ?n] " +
        "[$DBb ?b :k ?k] [$DBb ?b :x ?x]}($DBa, $DBb); " +
        "$reduce($bs, express(){{?n : {'xs': [?x]}}}) )",
      expected, ordered = false)
  }

  /** Canonical text of a result value; `ordered = false` sorts every
    * array, so binding-set and express-array order do not matter.
    */
  def canon(v: Any, ordered: Boolean): String = v match {
    case None | null => "null"
    case Some(x) => canon(x, ordered)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${k.toString}:${canon(x, ordered)}" }
        .sorted.mkString("{", ",", "}")
    case xs: scala.collection.Seq[_] =>
      val parts = xs.toSeq.map(canon(_, ordered))
      (if (ordered) parts else parts.sorted).mkString("[", ",", "]")
    case d: Double if d.isWhole && math.abs(d) < 1e15 => d.toLong.toString
    case i: Int => i.toString
    case s: String => "\"" + s + "\""
    case other => other.toString
  }
}
