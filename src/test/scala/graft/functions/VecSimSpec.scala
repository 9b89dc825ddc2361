package graft.functions

import graft.SparkSpec
import graft.pipeline.Dedup
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Native CosineSim == the Column-HOF executable spec, bit-for-bit. */
class VecSimSpec extends SparkSpec {

  /** The Column-HOF cosine: the executable specification the native
    * [[graft.functions.CosineSim]] kernel must match bit-for-bit (the
    * kernel uses the same left-fold element order, so every oracle
    * that mirrors this arithmetic is unaffected).
    */
  private def cosineHof(a: Column, bc: Column): Column = {
    val dot = aggregate(zip_with(a, bc, (x, y) => x * y),
      lit(0.0d), (s, x) => s + x)
    val na = sqrt(aggregate(a, lit(0.0d), (s, x) => s + x * x))
    val nb = sqrt(aggregate(bc, lit(0.0d), (s, x) => s + x * x))
    dot / (na * nb)
  }

  test("kernel equals the HOF form bit-for-bit on random vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val rows = (0 until 200).map { i =>
      val n = 1 + rnd.nextInt(80)
      (i, Seq.fill(n)(rnd.nextGaussian()), Seq.fill(n)(rnd.nextGaussian()))
    }
    val got = rows.toDF("i", "a", "b")
      .select(col("i"),
        Dedup.cosine(col("a"), col("b")).as("native"),
        cosineHof(col("a"), col("b")).as("hof"))
      .collect()
    got.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(1)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(2)),
        s"row ${r.getInt(0)}")
    }
  }

  test("float inputs cast identically in both forms") {
    import spark.implicits._
    val rows = Seq((Seq(1.5f, -2.25f, 3.0f), Seq(0.5f, 4.0f, -1.0f)))
    val r = rows.toDF("a", "b")
      .select(
        Dedup.cosine(col("a").cast("array<double>"),
          col("b").cast("array<double>")).as("native"),
        cosineHof(col("a").cast("array<double>"),
          col("b").cast("array<double>")).as("hof"))
      .head
    assert(r.getDouble(0) == r.getDouble(1))
  }

  test("length mismatch and null inputs yield NULL like the HOF") {
    import spark.implicits._
    val df = Seq((Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0)))
      .toDF("a", "b")
    val r = df.select(Dedup.cosine(col("a"), col("b")).as("n"),
      cosineHof(col("a"), col("b")).as("h")).head
    assert(r.isNullAt(0) && r.isNullAt(1))
    val nr = Seq(Tuple1(Seq(1.0))).toDF("a")
      .select(Dedup.cosine(col("a"), lit(null).cast(
        "array<double>"))).head
    assert(nr.isNullAt(0))
  }
}
