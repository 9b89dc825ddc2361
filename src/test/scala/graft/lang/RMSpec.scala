package graft.lang

import graft.SparkSpec

/** Text-frontend conformance: the reference's OWN test strings
  * (builtin_test.cljc) evaluated through parse → compile → Catalyst →
  * jflatten. Expected values mirror the reference goldens (numbers
  * normalize integral doubles to longs, like the reference's printer).
  */
class RMSpec extends SparkSpec {

  private def run(src: String, expected: Any): Unit = {
    val got = RM.eval(src, spark)
    assert(got.contains(expected),
      s"""RM "$src" => $got, expected Some($expected)""")
  }

  test("block comments are ignored") {
    run("/* header */ 1 + /* inline */ 2", 3L)
  }

  test("literals and arithmetic") {
    run("-5", -5L)
    run("1 + 2 * 3", 7L)
    run("10 / 4", 2.5)
    run("7 % 4", 3L)
    run("2 < 3 and 3 < 2 or true", true)
    run("5 > 3 ? 'big' : 'small'", "big")
  }

  test("string concatenation: 1 & 2 & 'abc' (builtin_test:346)") {
    run("1 & 2 & 'abc'", "12abc")
  }

  test("code blocks and assignment (builtin_test:319-321)") {
    run("$x := -5", -5L)
    run("($x := -5)", -5L)
    run("($x := 4; $y := 5; $x + $y)", 9L)
  }

  test("simple mapping (builtin_test:347-355)") {
    run("[{'a' : 1}, {'a' : 2}, {'a' : 3}].a", Seq(1L, 2L, 3L))
    run("[{'a' : 1}, {'a' : 2}, {'a' : 3}].(a + 1)", Seq(2L, 3L, 4L))
    run("{'a' : {'b' : 111}}.a.b", 111L)
  }

  test("navigation (builtin_test:357-363)") {
    run("{'a' : {'b' : {'c' : 30, 'f' : 3}}}.(a.b.c + a.b.f)", 33L)
    run("{'a' : {'b' : {'c' : 30, 'f' : 3}}}.a.b.(c + f)", 33L)
    run("{'a' : 5, 'b' : {'e' : 2}, 'c' : [0, 10], 'd' : 500}" +
      ".(a + b.e * c[1] + d)", 525L)
  }

  test("aref forms (builtin_test:365-372)") {
    run("[{'a' : 1}][0].a", 1L)
    run("($c := [{'a' : 1}]; $c[0].a)", 1L)
    run("[{'a' : 1}][0]", Map("a" -> 1L))
    run("{'number' : [11, 22, 33, 44]}.number[2]", 33L)
    run("($v := 1; $v[0])", 1L)
    run("1[0]", 1L)
  }

  test("flattening oddities (builtin_test:380-410)") {
    run("($v := [[1, 2, 3], [4]]; $v)", Seq(Seq(1L, 2L, 3L), Seq(4L)))
    run("[[1,2,3], [4]].$", Seq(1L, 2L, 3L, 4L))
  }

  test("quirk 2a/2b: merge vs per-parent index (builtin_test:430-437)") {
    run("[{'nums' : [1, 2]}, {'nums' : [3, 4]}].nums", Seq(1L, 2L, 3L, 4L))
    run("[{'nums' : [1, 2]}, {'nums' : [3, 4]}].nums[1]", Seq(2L, 4L))
  }

  test("a group or a binding splices the per-parent index before the next one") {
    val os = "{'os': [{'q': [1, 2]}, {'q': [3, 4]}]}"
    run(s"($os.os.q[0])[0]", 1L)
    run(s"($$v := $os.os.q[0]; $$v[0])", 1L)
    // without the boundary both predicates index each parent
    run(s"$os.os.q[0][0]", Seq(1L, 3L))
    run(s"$os.os.q[0].$$[0]", 1L)
  }

  test("value-step: ['a','b','c'].[1] = [[1],[1],[1]] (builtin_test:331)") {
    run("['a', 'b', 'c'].[1]", Seq(Seq(1L), Seq(1L), Seq(1L)))
  }

  test("filters (builtin_test:442-456)") {
    run("{'letter' : ['a', 'b', 'c', 'd']}.letter[$ = 'b']", "b")
    run("[{'num' : {'x' : 1}}, {'num' : {'x' : 2}}, {'num' : {'x' : 2}}," +
      " {'num' : {'x' : 3}}].num[x = 2]",
      Seq(Map("x" -> 2L), Map("x" -> 2L)))
    run("[{'num' : {'x' : 1}}, {'num' : {'x' : 2}}, {'num' : {'x' : 3}}]" +
      "[num.x = 2]", Map("num" -> Map("x" -> 2L)))
    run("[{'num' : {'x' : 1}}, {'num' : {'x' : 2}}, {'num' : {'x' : 3}}]" +
      ".[num.x = 2]", Seq(Seq(false), Seq(true), Seq(false)))
  }

  test("$match (builtin_test:458-463)") {
    run("$match('bbfoovar', /foo/)",
      Map("match" -> "foo", "index" -> 2L, "groups" -> Seq()))
    run("$match('foobarxababy', /\\d*x(ab)+y/)",
      Map("match" -> "xababy", "index" -> 6L, "groups" -> Seq("ab")))
  }

  test("functions: immediate use, thread, reduce (builtin_test:465-481)") {
    run("function($x){$x+1}(3)", 4L)
    run("4 ~> function($x){$x+1}()", 5L)
    run("[1..5] ~> $reverse()", Seq(5L, 4L, 3L, 2L, 1L))
    run("$reduce([1..5], function($i, $j){$i + $j})", 15L)
    run("$reduce([3], function($i, $j){$i + $j})", 3L)
    run("$reduce([3], function($i, $j){$i + $j}, 2)", 5L)
  }

  test("mapping with a bound function (builtin_test:353)") {
    run("($f := function($x){$x+1}; $map([1,2,3], $f))", Seq(2L, 3L, 4L))
  }

  test("reference string-function battery verbatim (builtin_test:46-143)") {
    run("$base64encode('myuser:mypass')", "bXl1c2VyOm15cGFzcw==")
    run("$base64decode('bXl1c2VyOm15cGFzcw==')", "myuser:mypass")
    run("$contains('', '')", true)
    run("$contains('abracadabra', 'bra')", true)
    run("$contains('abracadabra', /a.*a/)", true)
    run("$contains('abracadabra', /ar.*a/)", false)
    run("$contains('Hello World', /wo/)", false)
    run("( $v := {'Phone' : {'type' : 'mobile', 'number' : '077 7700 1234'}}; " +
      "$v.Phone[$contains(number, /^077/)] )",
      Map("type" -> "mobile", "number" -> "077 7700 1234"))
    run("$decodeUrlComponent('%3Fx%3Dtest')", "?x=test")
    run("$encodeUrlComponent('?x=test')", "%3Fx%3Dtest")
    run("$encodeUrl('https://mozilla.org/?x=шеллы')",
      "https://mozilla.org/?x=%D1%88%D0%B5%D0%BB%D0%BB%D1%8B")
    run("$decodeUrl('https://mozilla.org/?x=%D1%88%D0%B5%D0%BB%D0%BB%D1%8B')",
      "https://mozilla.org/?x=шеллы")
    run("$eval('[1,2,3]')", Seq(1L, 2L, 3L))
    run("$join(['a','b','c'])", "abc")
    run("$join(['a','b','c'], ',')", "a,b,c")
    run("$lowercase('Hello World')", "hello world")
    run("$uppercase('Hello World')", "HELLO WORLD")
    run("$pad('foo', 5)", "foo  ")
    run("$pad('foo', -5)", "  foo")
    run("$pad('foo', -5, '#')", "##foo")
    run("$replace('John Smith and John Jones', 'John', 'Mr')",
      "Mr Smith and Mr Jones")
    run("$replace('John Smith', /(\\w+)\\s(\\w+)/, '$2, $1')",
      "Smith, John")
    // replacement FUNCTION form (builtin_test.cljc:120-124; the
    // reference's cljs golden — integral doubles collapse, 20 not 20.0)
    run(
      """( $convert := function($m) { ($number($m.groups[0]) - 32) * 5/9 & 'C' };
        |  $replace('temperature = 68F today', /(\d+)F/, $convert) )"""
        .stripMargin,
      "temperature = 20C today")
    run("$split('so many words', ' ')", Seq("so", "many", "words"))
    run("$split('so many words', ' ', 2)", Seq("so", "many"))
    run("$split('too much, punctuation. hard; to read', /[ ,.;]+/)",
      Seq("too", "much", "punctuation", "hard", "to", "read"))
    run("$substring('Hello World', 3)", "lo World")
    run("$substring('Hello World', 3, 5)", "lo Wo")
    run("$substring('Hello World', -4)", "orld")
    run("$substring('Hello World', -4, 2)", "or")
    run("$substringAfter('Hello World', ' ')", "World")
    run("$substringBefore('Hello World', ' ')", "Hello")
    run("$trim('  Hello    \\n World  ')", "Hello World")
  }

  test("reference numeric battery verbatim (builtin_test:152-209)") {
    run("$abs(-5.5)", 5.5)
    run("$ceil(3.2)", 4L)
    run("$floor(-3.2)", -4L)
    run("$formatBase(100, 2)", "1100100")
    run("$formatNumber(12345.6789, '#,###.00')", "12,345.68")
    run("$formatInteger(2789, 'w')",
      "two thousand, seven hundred and eighty-nine")
    run("$parseInteger('twelve thousand, four hundred and seventy-six', 'w')",
      12476L)
    run("$number('5') + 5", 10L)
    run("$power(2, 8)", 256L)
    run("$round(123.456, 2)", 123.46)
    run("$round(125, -1)", 120L)
    run("$sqrt(4)", 2L)
  }

  test("builtin battery through the text surface") {
    run("$sum([1, 2, 3])", 6L)
    run("$count([1, 2, 3])", 3L)
    run("$average([2, 4])", 3L)
    run("$max([1, 9, 2])", 9L)
    run("$uppercase('Hello')", "HELLO")
    run("$substring('Hello World', 3, 5)", "lo Wo")
    run("$substringAfter('Hello World', ' ')", "World")
    run("$split('so many words', ' ')", Seq("so", "many", "words"))
    run("$join(['a','b','c'], '-')", "a-b-c")
    run("$replace('John Smith', 'John', 'Mr')", "Mr Smith")
    run("$contains('abracadabra', 'bra')", true)
    run("$number('5') + 1", 6L)
    run("$floor(3.7)", 3L)
    run("$round(123.456, 2)", 123.46)
    run("$formatBase(255, 16)", "ff")
    run("$formatInteger(1999, 'I')", "MCMXCIX")
    run("$parseInteger('MCMXCIX', 'I')", 1999L)
    run("$boolean([0, 0])", false)
    run("$exists(null)", false)
    run("$keys({'a' : 1, 'b' : 2})", Seq("a", "b"))
    run("$lookup({'a' : 1, 'b' : 2}, 'b')", 2L)
    run("$fromMillis(1521801216617, '[Y0001]-[M01]-[D01]')", "2018-03-23")
    run("$filter([1, 2, 3, 4], function($x){$x > 2})", Seq(3L, 4L))
    run("$map([1, 2], function($x, $i){$i})", Seq(0L, 1L))
    run("$sort([3, 1, 2])", Seq(1L, 2L, 3L))
    run("5 in [1, 5, 9]", true)
    run("$append([1, 2], [3])", Seq(1L, 2L, 3L))
  }

  test("user-guide examples (builtin_test:632-644)") {
    val addr = "( $ADDR := [" +
      "{'name': 'Peter', 'zipcode': '20898'}," +
      "{'name': 'Bob', 'zipcode': '07010-3544'}," +
      "{'name': 'Lisa', 'zipcode': '10878'}]; "
    run(addr + "$ADDR.zipcode )", Seq("20898", "07010-3544", "10878"))
    // $ (EOL anchor) with regexes; no match → nothing
    assert(RM.eval("$match('12345-12', /^[0-9]+$/)", spark).isEmpty)
    // context-threaded $match as a filter predicate
    run(addr + "$ADDR.zipcode[$match(/^[0-9]+$/)] )",
      Seq("20898", "10878"))
    run("[{'phone' : {'mobile' : '123-456-7890'}}].phone.mobile",
      "123-456-7890")
  }

  test("object functions over struct values (builtin_test:243-313)") {
    run("$merge([{'a': 1}, {'b': 2}, {'a': 9}])",
      Map("b" -> 2L, "a" -> 9L))
    run("$each({'a': 1, 'b': 2}, function($v, $k){$v * 10})",
      Seq(10L, 20L))
    run("$each({'a': 1, 'b': 2}, function($v, $k){$k & '=' & $v})",
      Seq("a=1", "b=2"))
    run("$spread({'a': 1, 'b': 2})",
      Seq(Map("a" -> 1L), Map("b" -> 2L)))
    run("$sift({'a': 1, 'b': 5, 'c': 2}, function($v){$v > 1})",
      Map("b" -> 5L, "c" -> 2L))
    run("$reduceKV(function($acc, $k, $v){$acc + $v}, 0, {'a': 1, 'b': 2})",
      3L)
    run("$assoc({'a': 1}, 'b', 7).b", 7L)
    run("$update({'a': 1, 'b': 2}, 'a', function($v){$v + 10}).a", 11L)
    run("$mapObject({'a': 1, 'b': 2}, function($v, $k){$v * 100}).b", 200L)
    run("$encodeUrlComponent('?x=y')", "%3Fx%3Dy")
    run("$decodeUrlComponent('%3Fx%3Dy')", "?x=y")
  }

  test("$string of structures yields JSON text") {
    run("$string({'a': 1, 'b': [1, 2]})", """{"a":1,"b":[1,2]}""")
    run("$string([1, 2])", "[1,2]")
    run("$string(5)", "5")
    run("$string({'x': 1.5})", """{"x":1.5}""")
  }

  test("string-vs-regex forms: split/replace/contains literals") {
    run("$split('a.b.c', '.')", Seq("a", "b", "c")) // literal dot
    run("$split('a1b22c', /\\d+/)", Seq("a", "b", "c"))
    run("$replace('a.b', '.', '-')", "a-b") // literal, all occurrences
    run("$replace('a1b2', /\\d/, 'x')", "axbx")
    run("$contains('a.b', '.')", true)
    run("$contains('ab', '.')", false) // literal dot, not regex any-char
    run("$contains('ab', /./)", true)
  }

  test("$eval re-enters the compiler (builtin_test $eval semantics)") {
    run("$eval('1 + 2')", 3L)
    run("$eval('[1,2,3].(2 * $)') ~> $sum()", 12L)
    run("$eval('{\"a\": 7}').a", 7L)
  }

  test("non-integer index floors (builtin_test filter semantics)") {
    run("[10, 20, 30][1.7]", 20L)   // floor(1.7) = 1
    run("[10, 20, 30][-0.3]", 30L)  // floor(-0.3) = -1 → from end
  }

  test("ternary condition uses sequence truthiness") {
    run("$match('abc', /x/) ? 'hit' : 'miss'", "miss")
    run("$match('abc', /b/) ? 'hit' : 'miss'", "hit")
    run("[] ? 'yes' : 'no'", "no")
  }

  test("no match is None") {
    assert(RM.eval("[1, 2][5]", spark).isEmpty ||
      RM.eval("[1, 2][5]", spark).contains(null))
  }
}
