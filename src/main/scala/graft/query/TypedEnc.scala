package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Typed (native) encoding of one boxed EAV binding `(v: string canonical,
  * vt: string tag)` as FOUR flat non-null columns, so Datalog joins and
  * the set-semantics distinct shuffle 8-byte natives instead of
  * canonical-string structs — the EAV-path twin of
  * the document tier's native binder.
  *
  * Layout per qvar `n` (column names `n#t`, `n#l`, `n#s`, `n#x`):
  *
  *  - `#t: byte` — bit-packed: bits 1..3 = tag (0=str, 2=num, 4=bool,
  *    6=ref, 8=other), bit 0 = long-channel active, bit 4 = v IS NULL,
  *    bit 5 = vt IS NULL;
  *  - `#l: long` — the value when it travels natively: bool → 0/1;
  *    num/str/ref → the parsed long when the canonical string
  *    round-trips (`try_cast(v as long)` printed back equals v — so
  *    `"5"` packs as 5 but `"05"`, `" 5"`, `"5.0"` stay strings);
  *    0 when inactive;
  *  - `#s: string` — the canonical string when the long channel is
  *    inactive; `""` otherwise;
  *  - `#x: string` — the verbatim tag when it is not one of the four
  *    known tags (out-of-contract `$db` frames); `""` otherwise.
  *
  * The map (v, vt) → (t, l, s, x) is a bijection onto its image
  * (round-tripping makes the long channel injective per tag; the null
  * bits and `#x` make it total), and every encoded column is NON-NULL,
  * so plain conjunctive column equality on the four columns is exactly
  * the legacy boxed `struct<v,vt>` equality — including Spark's
  * struct-field null semantics (null fields compare EQUAL inside
  * struct `===`/joins/distinct, probed empirically on 4.1), which the
  * null bits reproduce as ordinary value equality.
  *
  * For fact-scale queries the join/distinct exchanges carry
  * (byte, long, "", "") per numeric/id binding — the profile that took
  * the direct path's full-fact bridge from 14.5×/decade to 3× in r14 —
  * while genuine strings pay their own bytes exactly once (legacy
  * boxed shipped value + tag strings per binding).
  */
private[graft] object TypedEnc {

  /** Column-name suffixes of one encoded qvar, in layout order. */
  val suffixes: Seq[String] = Seq("#t", "#l", "#s", "#x")

  def colNames(n: String): Seq[String] = suffixes.map(n + _)

  /** Encode a boxed binding; returns the 4 columns aliased for `n`.
    * One shared [[TypedEncode]] evaluation per row (non-nullable, so
    * Catalyst infers no join-key null filters; whole-stage CSE
    * evaluates the call once for all four field extracts).
    */
  def encode(n: String, v: Column, vt: Column): Seq[Column] = {
    val enc = TypedEncode(v, vt)
    Seq(enc.getField("t").as(n + "#t"), enc.getField("l").as(n + "#l"),
      enc.getField("s").as(n + "#s"), enc.getField("x").as(n + "#x"))
  }

  private def bit(t: Column, mask: Int): Column =
    t.cast(IntegerType).bitwiseAND(mask) === mask

  /** Canonical string `v` back from the four columns (row-local). */
  def decodeV(t: Column, l: Column, s: Column, x: Column): Column = {
    val base = t.cast(IntegerType).bitwiseAND(14)
    when(bit(t, 16), lit(null).cast(StringType))
      .when(base === 4 && bit(t, 1),
        when(l === 1, "true").otherwise("false"))
      .when(bit(t, 1), l.cast(StringType))
      .otherwise(s)
  }

  /** Tag string `vt` back from the four columns (row-local). */
  def decodeVt(t: Column, l: Column, s: Column, x: Column): Column = {
    val base = t.cast(IntegerType).bitwiseAND(14)
    when(bit(t, 32), lit(null).cast(StringType))
      .when(base === 0, "str").when(base === 2, "num")
      .when(base === 4, "bool").when(base === 6, "ref")
      .otherwise(x)
  }

  /** The boxed `struct<v,vt>` view of var `n` in an encoded frame. */
  def boxedOf(df: DataFrame, n: String): Column = {
    val Seq(t, l, s, x) = colNames(n).map(df(_))
    struct(decodeV(t, l, s, x).as("v"), decodeVt(t, l, s, x).as("vt"))
  }

  /** Qvar names present in an encoded frame (from the `#t` columns). */
  def varsOf(df: DataFrame): Seq[String] =
    df.columns.toSeq.filter(_.endsWith("#t")).map(_.dropRight(2))
}
