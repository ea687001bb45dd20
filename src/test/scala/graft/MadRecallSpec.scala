package graft

import org.apache.spark.sql.functions._
import graft.ann.Ann
import graft.sources.Tables

/** ts30 (MAD outliers) hand-derivations + the a-family recall evals
  * (a12, a14) cross-derived against their own legs, and those memoized
  * legs pinned equal to a direct computation. */
class MadRecallSpec extends SparkSpec {
  import spark.implicits._

  test("madOutliers: hand-derived median/MAD/outliers, zero-outlier and n=1 series kept") {
    // series a: nine zeros + one spike. med = 0, all-zero deviations
    // except the spike -> MAD = 0, so the >0 rule flags exactly the
    // spike (the degenerate-MAD case the Hampel literature calls out).
    // series b: 1..9. med = 5, |dev| sorted = [0,1,1,2,2,3,3,4,4] ->
    // MAD = 2 (interpolated at position 4 exactly), threshold 6: the
    // max deviation is 4 -> ZERO outliers (the series must still
    // report). series c: n = 1 -> med = v, MAD = 0, no outlier.
    val rows =
      (1 to 9).map(i => ("a", 0.0)) ++ Seq(("a", 100.0)) ++
      (1 to 9).map(i => ("b", i.toDouble)) ++
      Seq(("c", 7.5))
    val df = rows.toDF("event_type", "value")
    val out = References.madOutliers(df, "event_type", "value", 3)
      .orderBy("event_type")
      .collect()
    assert(out.length === 3)
    val a = out(0); val b = out(1); val c = out(2)
    assert(a.getAs[Double]("med") === 0.0 && a.getAs[Double]("mad") === 0.0)
    assert(a.getAs[Long]("n") === 10 && a.getAs[Long]("n_outliers") === 1)
    assert(a.getAs[Double]("out_rate") === 0.1)
    assert(b.getAs[Double]("med") === 5.0 && b.getAs[Double]("mad") === 2.0)
    assert(b.getAs[Long]("n_outliers") === 0)
    assert(c.getAs[Double]("med") === 7.5 && c.getAs[Double]("mad") === 0.0)
    assert(c.getAs[Long]("n_outliers") === 0)
  }

  test("madOutliers agrees with a filter-based recount on real events") {
    val ev = graft.sources.Tables.events(spark, sfDir)
    val out = References.madOutliers(ev, "event_type", "value", 3)
    // recount each series' outliers independently from the reported
    // med/mad (a consumer replaying the rule must see the same counts)
    val recount = ev
      .join(broadcast(out.select(col("event_type"), col("med"), col("mad"))),
        Seq("event_type"))
      .filter(abs(col("value") - col("med")) > lit(3.0) * col("mad"))
      .groupBy(col("event_type")).agg(count(lit(1)).as("m"))
    val joined = out.join(recount, Seq("event_type"), "left")
      .select(col("event_type"), col("n_outliers"),
        coalesce(col("m"), lit(0L)).as("m"))
      .collect()
    assert(joined.nonEmpty)
    joined.foreach(r =>
      assert(r.getAs[Long]("n_outliers") === r.getAs[Long]("m"),
        s"series ${r.get(0)}"))
  }

  test("RetrievalCache.ivfLeg equals the direct probe (pinned, like the brute legs)") {
    import graft.operators.RetrievalCache
    val direct = graft.ann.CellIndexCache
      .probeTopk(spark, sfDir, RetrievalCache.QueryDocs, 20)
      .select(col("query_id"), col("nn_id").as("doc_id"), col("rank"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val cached = RetrievalCache.ivfLeg(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(cached === direct)
    assert(cached.nonEmpty)
  }

  private def checkRecallEval(searchKey: String, evalKey: String): Unit = {
    val d = sfDir
    val truth = SparkEntry.queries("a1_knn_brute")(spark, d)
      .select(col("query_id"), col("nn_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = SparkEntry.queries(searchKey)(spark, d)
      .select(col("query_id"), col("nn_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val evalRows = SparkEntry.queries(evalKey)(spark, d).collect()
    assert(evalRows.map(_.getAs[Long]("query_id")).toSeq === Seq(0L, 1L, 2L, 3L, 4L))
    evalRows.foreach { r =>
      val q = r.getAs[Long]("query_id")
      val hits = truth.filter(_._1 == q).intersect(approx.filter(_._1 == q)).size
      assert(r.getAs[Long]("n_truth") === 10L)
      assert(r.getAs[Long]("n_hit") === hits.toLong, s"$evalKey query $q")
      val recall = r.getAs[Double]("recall")
      assert(recall >= 0.0 && recall <= 1.0)
      assert(recall === math.rint(hits / 10.0 * 1e6) / 1e6)
    }
  }

  test("a12_ivf_recall equals the intersection of its own legs (a1 truth x a4 probe)") {
    checkRecallEval("a4_ivf_nprobe", "a12_ivf_recall")
  }

  test("a14_ivfpq_recall equals the intersection of its own legs (a1 truth x a9 IVFPQ)") {
    checkRecallEval("a9_ivfpq", "a14_ivfpq_recall")
  }

  // the a-family's memoized eval legs (brute truth / hierarchical
  // probe / IVFPQ, shared by a1+a12+a14+a15+a17, a4+a12+a17 and a9+a14)
  // return row-for-row the same tables as a fresh direct computation
  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  test("a1 (memoized brute truth) == direct Ann.knnBrute") {
    val shared = rows(SparkEntry.queries("a1_knn_brute")(spark, sfDir))
    val direct = rows(Ann.knnBrute(Tables.embeddings(spark, sfDir),
      "vec_id", "embedding", Seq(0L, 1L, 2L, 3L, 4L), 10))
    assert(shared === direct)
  }

  test("a4 (memoized probe leg) == direct hierarchical probe") {
    val shared = rows(SparkEntry.queries("a4_ivf_nprobe")(spark, sfDir))
    val direct = rows(graft.keys.AnnKeys.ivfProbeTopk(spark, sfDir))
    assert(shared === direct)
  }

  test("a9 (memoized IVFPQ leg) == direct IVFPQ wiring") {
    val shared = rows(SparkEntry.queries("a9_ivfpq")(spark, sfDir))
    val direct = rows(graft.keys.AnnKeys.ivfPqTopk(spark, sfDir))
    assert(shared === direct)
  }

  test("a12 recall eval rederives from the a1/a4 outputs") {
    val truth = rows(SparkEntry.queries("a1_knn_brute")(spark, sfDir))
      .map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long])).toSet
    val probe = rows(SparkEntry.queries("a4_ivf_nprobe")(spark, sfDir))
      .map(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Long])).toSet
    val a12 = SparkEntry.queries("a12_ivf_recall")(spark, sfDir).collect()
    a12.foreach { r =>
      val q = r.getLong(0)
      val nTruth = truth.count(_._1 == q)
      val nHit = truth.count(t => t._1 == q && probe(t))
      assert(r.getLong(1) === nTruth.toLong)
      assert(r.getLong(2) === nHit.toLong)
    }
  }
}
