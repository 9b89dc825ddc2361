package graft.props

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** Differential property tests for the funnel and t-closeness
  * operators: random inputs vs driver-side brute-force references.
  * Cases PACK — users (funnel) and classes (t-closeness) are
  * independent by construction, so each property invocation runs ONE
  * Spark job over hundreds of generated cases instead of a job per
  * case (the HeteroProps batching discipline).
  */
object AnalyticsProps extends Properties("graft.analytics") {

  private lazy val spark = graft.SparkSpec.session

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    PropBudget(p, 4)

  private val Steps = Seq("s0", "s1", "s2")
  private val WinUs = 120L * 1000000L // = 2 min exactly

  // one user's events: step types + noise at second-granularity times
  private val userEvents: Gen[List[(String, Long)]] =
    Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, for {
      t <- Gen.oneOf(Steps :+ "noise")
      s <- Gen.chooseNum(0L, 200L) // seconds
    } yield (t, s * 1000000L)))

  /** Driver-side reference of the earliest-chain semantics. */
  private def ref(events: Seq[(String, Long)])
      : (Int, Seq[Option[Long]]) = {
    val byStep = Steps.map(s =>
      events.filter(_._1 == s).map(_._2).sorted)
    val out = Array.fill[Option[Long]](Steps.length)(None)
    out(0) = byStep.head.headOption
    var prev = out(0)
    var i = 1
    while (i < Steps.length && prev.isDefined) {
      out(i) = byStep(i).find(t =>
        t > prev.get && t - out(0).get <= WinUs)
      prev = out(i)
      i += 1
    }
    (out.count(_.isDefined), out.toSeq)
  }

  property("funnel == brute-force earliest chain, any event multiset") =
    forAll(Gen.listOfN(150, userEvents)) { cases =>
      import spark.implicits._
      val rows = cases.zipWithIndex.flatMap { case (evs, u) =>
        evs.map { case (t, us) =>
          (u.toLong, t, new Timestamp(us / 1000L))
        }
      }
      // a user with zero events contributes no row — align on users
      // that HAVE rows (the operator sees only those)
      if (rows.isEmpty) true
      else {
        val df = rows.toDF("user_id", "event_type", "ts")
        val got = graft.operators.Funnel.funnel(df, "user_id",
            "event_type", "ts", Steps,
            windowMinutes = (WinUs / 60000000L).toInt)
          .collect()
          .map(r => r.getLong(0) -> ((r.getInt(1),
            Steps.indices.map(i => Option(r.getTimestamp(2 + i))
              .map(_.getTime * 1000L)))))
          .toMap
        val present = rows.map(_._1).toSet
        present.forall { u =>
          val (wantN, wantTs) = ref(cases(u.toInt))
          val (gotN, gotTs) = got(u)
          gotN == wantN && gotTs == wantTs
        }
      }
    }

  // ---- t-closeness ----

  // one class: counts over a 4-value sensitive domain (some zero)
  private val classCounts: Gen[Seq[Int]] =
    Gen.listOfN(4, Gen.chooseNum(0, 6)).map(_.toSeq)
      .suchThat(_.sum > 0)

  property("tCloseness == brute TVD; ordered == brute EMD; both in " +
      "[0,1] and 0 iff proportional") =
    forAll(Gen.listOfN(60, classCounts)) { classes =>
      import spark.implicits._
      val rows = classes.zipWithIndex.flatMap { case (cnts, q) =>
        cnts.zipWithIndex.flatMap { case (n, v) =>
          Seq.fill(n)((s"c$q", v))
        }
      }
      if (rows.isEmpty) true
      else {
        val df = rows.toDF("q", "s")
        val global = Array.tabulate(4)(v => rows.count(_._2 == v))
        val bigN = rows.size.toLong
        def tvdRef(cnts: Seq[Int]): (BigInt, BigInt) = {
          val nc = cnts.sum.toLong
          val num = (0 until 4).map(v =>
            (BigInt(cnts(v)) * bigN - BigInt(global(v)) * nc).abs).sum
          (num, BigInt(2) * nc * bigN)
        }
        def emdRef(cnts: Seq[Int]): (BigInt, BigInt) = {
          val nc = cnts.sum.toLong
          var cum = BigInt(0)
          var num = BigInt(0)
          (0 until 4).foreach { v =>
            cum += BigInt(cnts(v)) * bigN - BigInt(global(v)) * nc
            num += cum.abs
          }
          (num, BigInt(nc) * bigN * 3)
        }
        val tvd = graft.pipeline.Privacy.tCloseness(df,
            Seq(col("q")), col("s"), 1, 2)
          .collect().map(r => r.getString(0) ->
            ((r.getLong(2), r.getLong(3)))).toMap
        val emd = graft.pipeline.Privacy.tClosenessOrdered(df,
            Seq(col("q")), col("s"), 1, 2)
          .collect().map(r => r.getString(0) ->
            ((r.getLong(2), r.getLong(3)))).toMap
        classes.indices.forall { qi =>
          val key = s"c$qi"
          val cnts = classes(qi)
          if (cnts.sum == 0) !tvd.contains(key)
          else {
            val (tn, td) = tvd(key)
            val (en, ed) = emd(key)
            val (wtn, wtd) = tvdRef(cnts)
            val (wen, wed) = emdRef(cnts)
            // exact-rational equality by cross-multiplication (the
            // engine may carry a different but equivalent fraction)
            val tvdEq = BigInt(tn) * wtd == wtn * BigInt(td)
            val emdEq = BigInt(en) * wed == wen * BigInt(ed)
            val inRange = tn >= 0 && tn <= td && en >= 0 && en <= ed
            // 0 iff the class distribution is proportional to global
            val prop = (0 until 4).forall(v =>
              BigInt(cnts(v)) * bigN ==
                BigInt(global(v)) * cnts.sum.toLong)
            val zeroIff = (tn == 0) == prop && (en == 0) == prop
            tvdEq && emdEq && inRange && zeroIff
          }
        }
      }
    }
}
