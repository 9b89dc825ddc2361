package graft.operators

import graft.SparkSpec

class SaltedJoinSpec extends SparkSpec {

  test("salted join matches plain join results") {
    import spark.implicits._
    val big = (1 to 1000).map(i => (if (i % 10 == 0) 1L else i.toLong, i))
      .toDF("k", "v") // key 1 is hot
    val small = Seq((1L, "hot"), (2L, "a"), (500L, "b")).toDF("k", "name")
    val plain = big.join(small, "k").count()
    val salted = SaltedJoin.join(big, small, "k", salts = 8).count()
    assert(salted == plain)
  }
}
