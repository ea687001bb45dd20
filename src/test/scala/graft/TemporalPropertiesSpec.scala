package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import graft.temporal.Temporal

/** Property-based checks of the temporal core over random version
  * chains (raw ScalaCheck generators, deterministic seeds): the
  * single-shuffle aggregate formulations must agree with
  * straightforward per-key reference computations for any input. */
class TemporalPropertiesSpec extends SparkSpec {
  import spark.implicits._

  private val Base = 1700000000000000L

  // (key, tsOffsetSeconds, seq, payload)
  private val chainGen: Gen[List[(String, Int, Long, String)]] = for {
    n <- Gen.choose(1, 40)
    rows <- Gen.listOfN(n, for {
      k <- Gen.oneOf("r1", "r2", "r3", "r4")
      off <- Gen.choose(0, 1000000)
      p <- Gen.alphaStr.map(_.take(5))
    } yield (k, off, 0L, p))
  } yield rows.zipWithIndex.map { case ((k, off, _, p), i) => (k, off, i.toLong, p) }

  private def toDf(rows: List[(String, Int, Long, String)]) =
    rows.toDF("rid", "off", "seq", "payload")
      .withColumn("ts", expr(s"timestamp_micros(${Base}L + cast(off as long) * 1000000)"))
      .select("rid", "ts", "seq", "payload")

  private def usOf(off: Int): Long = Base + off.toLong * 1000000L

  test("asOf picks the max-(ts,seq) row <= cutoff per key, for any chain") {
    for ((rows, i) <- samples(chainGen, 8, seed = 42L).zipWithIndex) {
      val cut = usOf(125000 * i)
      val got = Temporal.asOf(toDf(rows), "rid", "ts", "seq",
          expr(s"timestamp_micros(${cut}L)"))
        .select("rid", "seq").as[(String, Long)].collect().toMap
      val want = rows.filter(r => usOf(r._2) <= cut)
        .groupBy(_._1)
        .map { case (k, rs) => k -> rs.maxBy(r => (r._2, r._3))._3 }
      assert(got == want, s"sample $i")
    }
  }

  test("versioned assigns a dense 1..n per key in (ts, seq) order") {
    for ((rows, i) <- samples(chainGen, 8, seed = 42L).zipWithIndex) {
      val got = Temporal.versioned(toDf(rows), "rid", "ts", "seq")
        .select("rid", "seq", "version").as[(String, Long, String)].collect()
      got.groupBy(_._1).foreach { case (k, rs) =>
        val inOrder = rows.filter(_._1 == k).sortBy(r => (r._2, r._3)).map(_._3)
        val versionOf = rs.map(r => r._2 -> r._3).toMap
        inOrder.zipWithIndex.foreach { case (seq, j) =>
          assert(versionOf(seq) == s"v${j + 1}", s"sample $i key $k seq $seq")
        }
      }
    }
  }

  test("changesBetween finds exactly the keys whose state differs") {
    for ((rows, i) <- samples(chainGen, 8, seed = 42L).zipWithIndex) {
      val t1 = usOf(300000 + 50000 * i)
      val t2 = usOf(700000 + 30000 * i)
      val got = Temporal.changesBetween(toDf(rows), "rid", "ts", "seq",
          expr(s"timestamp_micros(${t1}L)"), expr(s"timestamp_micros(${t2}L)"),
          Seq("payload"))
        .select("rid").as[String].collect().toSet
      def stateAt(cut: Long): Map[String, String] = rows
        .filter(r => usOf(r._2) <= cut)
        .groupBy(_._1).map { case (k, rs) => k -> rs.maxBy(r => (r._2, r._3))._4 }
      val s1 = stateAt(t1); val s2 = stateAt(t2)
      val want = (s1.keySet ++ s2.keySet).filter(k => s1.get(k) != s2.get(k))
      assert(got == want, s"sample $i")
    }
  }
}
