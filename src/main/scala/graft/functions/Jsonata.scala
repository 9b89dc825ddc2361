package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.ColumnGlue

/** The JSONata-dialect built-in function surface (SURVEY.md §2.2–§2.7,
  * §2.10) as `Column => Column` combinators over
  * `org.apache.spark.sql.functions` — codegen'd, distributed, no UDFs in
  * the hot path. Custom Catalyst expressions (JsonataExprs.scala) cover
  * only what built-ins cannot express ($match shape, truthiness, integer
  * pictures).
  *
  * Naming: `$foo` in the reference ⇒ `Jsonata.foo` here; Scala keyword or
  * functions-name clashes get a `j` prefix.
  */
object Jsonata {
  private def expr1(c: Column) = ColumnGlue.expression(c)

  // ===== §2.5 booleans (reference builtin.cljc:943-983) =====

  /** `$boolean` — JSONata truthiness table. */
  def boolean(c: Column): Column = ColumnGlue.column(JsonataTruthy(expr1(c)))
  /** `$exists` — value present (non-null). */
  def exists(c: Column): Column = c.isNotNull
  /** `$not` — negated truthiness. */
  def not(c: Column): Column = !boolean(c)

  // ===== §2.2 strings (reference builtin.cljc:323-705) =====

  def base64encode(c: Column): Column = base64(c.cast("binary"))
  def base64decode(c: Column): Column = unbase64(c).cast("string")
  /** `$contains(str, pat)` — literal substring. */
  def containsStr(c: Column, sub: Column): Column = c.contains(sub)
  /** `$contains(str, /re/)` — regex form. */
  def containsRegex(c: Column, re: String): Column = c.rlike(re)
  def encodeUrlComponent(c: Column): Column = url_encode(c)
  def decodeUrlComponent(c: Column): Column = url_decode(c)

  /** `$encodeUrl` — like encodeURI: component-encode, then restore the
    * reserved characters (`;,/?:@&=+$#`) that a full-URI encode keeps.
    */
  def encodeUrl(c: Column): Column = {
    val reserved = Seq(
      "%3B" -> ";", "%2C" -> ",", "%2F" -> "/", "%3F" -> "?",
      "%3A" -> ":", "%40" -> "@", "%26" -> "&", "%3D" -> "=",
      "%2B" -> "+", "%24" -> "$", "%23" -> "#")
    reserved.foldLeft(url_encode(c)) { case (acc, (enc, ch)) =>
      replace(acc, lit(enc), lit(ch))
    }
  }
  /** `$decodeUrl` — inverse of encodeUrl (reserved chars are literal). */
  def decodeUrl(c: Column): Column = url_decode(c)
  /** `$join(arr, sep)` */
  def join(arr: Column, sep: String): Column = array_join(arr, sep)
  /** `$length` — character count. */
  def strLength(c: Column): Column = length(c)
  def lowercase(c: Column): Column = lower(c)
  def uppercase(c: Column): Column = upper(c)

  /** `$pad(str, width[, char])` — right-pad for +width, left-pad for
    * -width; never truncates (unlike raw lpad/rpad).
    */
  def pad(c: Column, width: Int, padChar: String = " "): Column = {
    val w = math.abs(width)
    when(length(c) >= w, c)
      .otherwise(if (width >= 0) rpad(c, w, padChar) else lpad(c, w, padChar))
  }

  /** `$replace(str, pattern, replacement)` — regex form, `$N` group refs,
    * replaces all occurrences (reference builtin.cljc:548-605).
    */
  def replaceRegex(c: Column, pattern: Column, repl: Column): Column =
    regexp_replace(c, pattern, repl)
  /** Literal-replacement form translating JSONata's `$$` (literal dollar)
    * to Java's `\$`; `$N` group refs pass through.
    */
  def replaceRegex(c: Column, pattern: String, repl: String): Column =
    regexp_replace(c, lit(pattern), lit(repl.replace("$$", "\\$")))
  /** `$replace` literal-string form. */
  def replaceStr(c: Column, search: Column, repl: Column): Column =
    replace(c, search, repl)

  /** `$split(str, sep[, limit])` — sep may be a regex. JSONata's limit
    * caps the result count (keeps first n), unlike Java's split limit —
    * so apply `slice` after an unlimited split.
    */
  def split(c: Column, sepRegex: String, limit: Option[Int] = None): Column = {
    val parts = org.apache.spark.sql.functions.split(c, sepRegex, -1)
    limit.fold(parts)(n => slice(parts, 1, n))
  }

  /** `$string(n)` — JSONata prints integral doubles without ".0". */
  def string(c: Column): Column = {
    val d = tryCastDouble(c)
    when(d.isNotNull && d === d.cast("long").cast("double"),
      d.cast("long").cast("string"))
      .otherwise(c.cast("string"))
  }

  /** Type-aware `$string`/`&` rendering: a genuine STRING passes
    * through untouched (JSONata `$string` is the identity on strings
    * — the scott fixture's `'SH100' & '-' & '01'` must keep the
    * leading zero), while numeric-typed values render canonically
    * (integral doubles print without ".0"). Stringly-typed storage
    * that needs numeric canonicalization (EAV boxed qvars) flows
    * through the VARIANT channel, not StringType, so it keeps the
    * [[string]] coercion.
    */
  def stringTyped(c: Column,
      dt: org.apache.spark.sql.types.DataType): Column = dt match {
    case org.apache.spark.sql.types.StringType => c
    case _ => string(c)
  }

  /** ANSI-safe cast to double (null on malformed input). */
  private def tryCastDouble(c: Column): Column =
    ColumnGlue.column(org.apache.spark.sql.catalyst.expressions.Cast(
      expr1(c), org.apache.spark.sql.types.DoubleType, None,
      org.apache.spark.sql.catalyst.expressions.EvalMode.TRY))

  /** `$substring(str, start[, length])` — 0-based, negative start counts
    * from the end (reference builtin.cljc:641-662).
    */
  def substring(c: Column, start: Column, len: Option[Column] = None): Column = {
    val n = length(c)
    val pos0 = when(start < 0, greatest(n + start, lit(0))).otherwise(start)
    val sliceLen = len.map(l => greatest(l, lit(0))).getOrElse(n)
    c.substr(pos0 + 1, sliceLen)
  }

  /** `$substringBefore(str, chars)` — before FIRST occurrence; whole
    * string when absent.
    */
  def substringBefore(c: Column, chars: Column): Column = {
    val pos = position(chars, c)
    when(pos > 0, c.substr(lit(1), pos - 1)).otherwise(c)
  }

  /** `$substringAfter(str, chars)` — after FIRST occurrence (NB:
    * `substring_index(..., -1)` would cut at the LAST occurrence).
    */
  def substringAfter(c: Column, chars: Column): Column = {
    val pos = position(chars, c)
    when(pos > 0, c.substr(pos + length(chars), length(c))).otherwise(c)
  }

  /** `$trim` — trims AND collapses internal whitespace
    * (reference builtin.cljc:688-697).
    */
  def trim(c: Column): Column =
    org.apache.spark.sql.functions.trim(regexp_replace(c, "\\s+", " "))

  /** `$match(str, pattern[, limit])` → array<struct<match,index,groups>>. */
  def rmatch(c: Column, pattern: String, limit: Int = Int.MaxValue): Column =
    ColumnGlue.column(JsonataMatch(expr1(c),
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(pattern),
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.catalyst.expressions.Literal(limit)))

  // ===== §2.3 numerics (reference builtin.cljc:709-938) =====

  def abs(c: Column): Column = org.apache.spark.sql.functions.abs(c)
  /** `$ceil`/`$floor` return integers (long). */
  def ceil(c: Column): Column = org.apache.spark.sql.functions.ceil(c)
  def floor(c: Column): Column = org.apache.spark.sql.functions.floor(c)
  def sqrt(c: Column): Column = org.apache.spark.sql.functions.sqrt(c)
  def random(): Column = rand()

  /** `$formatBase(num[, radix])` — lowercase digits, sign-aware
    * (conv() is unsigned-64 on negatives).
    */
  def formatBase(c: Column, radix: Int = 10): Column =
    when(c < 0, concat(lit("-"), lower(conv((-c).cast("string"), 10, radix))))
      .otherwise(lower(conv(c.cast("string"), 10, radix)))

  /** `$number` — string→number, boolean→0/1. */
  def number(c: Column): Column =
    when(c.cast("string") === "true", lit(1.0d))
      .when(c.cast("string") === "false", lit(0.0d))
      .otherwise(c.cast("double"))

  /** `$power` — double result (reference promotes to long for int^posint;
    * callers needing that cast explicitly).
    */
  def power(base: Column, exp: Column): Column = pow(base, exp)

  /** `$round(num[, precision])` — HALF_EVEN (banker's), negative precision
    * rounds left of the decimal point. bround IS half-even.
    */
  def round(c: Column, precision: Int = 0): Column = bround(c, precision)

  def formatNumber(c: Column, picture: String): Column =
    ColumnGlue.column(FormatNumberPicture(expr1(c), expr1(lit(picture))))
  def formatInteger(c: Column, picture: String): Column =
    ColumnGlue.column(FormatInteger(expr1(c), expr1(lit(picture))))
  def parseInteger(c: Column, picture: String): Column =
    ColumnGlue.column(ParseInteger(expr1(c), expr1(lit(picture))))

  // ===== §2.4 aggregation over arrays (reference builtin.cljc:709-1008) ==

  /** `$sum(arr)` — numeric sum of an array column. */
  def sumArr(c: Column): Column =
    aggregate(c, lit(0.0d), (acc, x) => acc + x.cast("double"))
  def maxArr(c: Column): Column = array_max(c)
  def minArr(c: Column): Column = array_min(c)
  def averageArr(c: Column): Column =
    when(size(c) > 0, sumArr(c) / size(c))
  /** `$count` — non-array counts as 1 (callers wrap scalars). */
  def countArr(c: Column): Column = size(c)
  /** `$distinct` — order-preserving dedup (array_distinct preserves first
    * occurrence order, matching reference builtin.cljc:1003-1008).
    */
  def distinctArr(c: Column): Column = array_distinct(c)

  // ===== §2.6 arrays (reference builtin.cljc:987-1074) =====

  /** `$append(a, b)` — concatenation; scalars are singleton-ized by the
    * caller (compiler applies `array()` to non-array inputs).
    */
  def append(a: Column, b: Column): Column = concat(a, b)
  def reverseArr(c: Column): Column =
    org.apache.spark.sql.functions.reverse(c)
  def shuffleArr(c: Column): Column =
    org.apache.spark.sql.functions.shuffle(c)
  /** `$sort(arr)` default ascending compare. */
  def sortArr(c: Column): Column = array_sort(c)
  /** `$sort(arr, fn(l,r))` — comparator returns true ⇒ swap, mapped to
    * array_sort's (-1,0,1) comparator contract.
    */
  def sortArrBy(c: Column, swap: (Column, Column) => Column): Column =
    array_sort(c, (l, r) =>
      when(swap(l, r), lit(1)).when(swap(r, l), lit(-1)).otherwise(lit(0)))

  /** `$zip(a, b, ...)` — n-ary, truncates to the shortest input, yields
    * arrays (not structs) to match JSONata's `[[a1,b1],[a2,b2]]` shape;
    * element types must be coercible.
    */
  def zip(cols: Column*): Column = {
    require(cols.size >= 2, "$zip needs >= 2 arrays")
    val minSize = least(cols.map(size): _*)
    when(minSize <= 0, array())
      .otherwise(transform(sequence(lit(1), minSize), i =>
        array(cols.map(c => element_at(c, i)): _*)))
  }

  /** `aref` — 0-based indexing, negative from the end, out-of-range → null
    * (reference builtin.cljc:273-283). try_element_at is 1-based and
    * already handles negatives-from-end.
    */
  def aref(c: Column, i: Column): Column =
    try_element_at(c, when(i >= 0, i + 1).otherwise(i))

  // ===== §2.7 objects as MapType (reference builtin.cljc:1078-1184,
  //       2230-2326) =====

  def keys(m: Column): Column = map_keys(m)
  /** `$lookup(obj, key)` — null when absent. */
  def lookup(m: Column, k: Column): Column = try_element_at(m, k)
  /** `$merge([objs])` — last-wins (requires
    * spark.sql.mapKeyDedupPolicy=LAST_WIN).
    */
  def merge(ms: Column*): Column = map_concat(ms: _*)
  /** `$spread(obj)` → array of single-entry objects. */
  def spread(m: Column): Column =
    transform(map_entries(m), e =>
      map_from_entries(array(struct(e.getField("key").as("key"),
        e.getField("value").as("value")))))
  /** `$sift(obj, fn(v,k))` — keep entries passing the predicate. */
  def sift(m: Column, pred: (Column, Column) => Column): Column =
    map_filter(m, (k, v) => pred(v, k))
  /** `$each(obj, fn(v,k))` → array of fn results. */
  def each(m: Column, f: (Column, Column) => Column): Column =
    transform(map_entries(m), e =>
      f(e.getField("value"), e.getField("key")))
  /** `$mapObject(obj, fn(k,v) -> (k',v'))` — rebuild with transformed
    * entries, last-wins on collisions.
    */
  def mapObject(m: Column,
      f: (Column, Column) => (Column, Column)): Column =
    map_from_entries(transform(map_entries(m), e => {
      val (k2, v2) = f(e.getField("key"), e.getField("value"))
      struct(k2.as("key"), v2.as("value"))
    }))
  /** `$reduceKV(fn(acc,k,v), init, obj)`. */
  def reduceKV(m: Column, init: Column,
      f: (Column, Column, Column) => Column): Column =
    aggregate(map_entries(m), init,
      (acc, e) => f(acc, e.getField("key"), e.getField("value")))
  /** `$assoc(obj, k, v)`. */
  def assoc(m: Column, k: Column, v: Column): Column =
    map_concat(m, map(k, v))
  /** `$update(obj, k, fn(v))` — transform one key's value. */
  def update(m: Column, k: Column, f: Column => Column): Column =
    transform_values(m, (key, v) => when(key === k, f(v)).otherwise(v))
  /** `$type(v)` → jsonata type name. */
  def jtype(c: Column): Column = ColumnGlue.column(JsonataType(expr1(c)))
  /** `$assert(cond, msg)`. */
  def jassert(cond: Column, msg: String): Column =
    assert_true(cond, lit(msg))
  /** `$error(msg)`. */
  def error(msg: Column): Column = raise_error(msg)

  // ===== §2.9 higher-order over arrays (reference builtin.cljc:1376-1524) =

  /** `$single(arr, pred)` — the single matching element; reference
    * actually returns the first truthy match (builtin.cljc:1491-1524).
    */
  def single(c: Column, pred: Column => Column): Column =
    element_at(org.apache.spark.sql.functions.filter(c, pred), 1)

  // ===== §2.10 date/time (reference builtin.cljc:1301-1372) =====

  /** `$now([picture])` — per-query-stable timestamp. */
  def now(): Column = current_timestamp()
  def now(picture: String): Column =
    date_format(current_timestamp(), DatePictures.toSparkPattern(picture))
  /** `$millis()`. */
  def millis(): Column = unix_millis(current_timestamp())
  /** `$fromMillis(ms[, picture])` — ISO-8601 default. */
  def fromMillis(ms: Column): Column =
    date_format(timestamp_millis(ms), "yyyy-MM-dd'T'HH:mm:ss.SSSXXX")
  def fromMillis(ms: Column, picture: String): Column =
    date_format(timestamp_millis(ms), DatePictures.toSparkPattern(picture))
  /** `$toMillis(isoString)`. */
  def toMillis(c: Column): Column = unix_millis(to_timestamp(c))
  def toMillis(c: Column, picture: String): Column =
    unix_millis(to_timestamp(c, DatePictures.toSparkPattern(picture)))
}
