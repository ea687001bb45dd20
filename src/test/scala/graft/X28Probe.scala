package graft

import org.apache.spark.sql.functions._
import graft.functions.Text

/** r18 x28 stage-cost decomposition at a given sf: where do
  * pmiCollocations' seconds go — scan+bigram explode, the 3×md5 +
  * (bgh,ah,th) aggregate, or the vocab joins + top-k? Decides whether
  * a per-word-hash native expression (1 md5/word instead of 3/bigram)
  * is worth building, or whether the operator is explode/agg-bound
  * where hashing is a minority cost.
  *
  * Usage: Test/runMain graft.X28Probe [sfDir] [reps]
  */
object X28Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/data/sf1")
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(5)
    val spark = Session.local()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.sources.Tables
    val docs = Tables.documents(spark, sfDir)
    docs.count() // warm file index

    // L0: scan + bigram explode only
    def l0 = docs.select(explode(Text.bigrams(col("text"))).as("bg"))
    // L1: + the 3 md5Prefix60 projections (no agg)
    def l1 = l0.select(Text.md5Prefix60(col("bg")).as("bgh"),
      Text.md5Prefix60(substring_index(col("bg"), " ", 1)).as("ah"),
      Text.md5Prefix60(substring_index(col("bg"), " ", -1)).as("th"),
      col("bg"))
    // L2: + the (bgh,ah,th) aggregate with the min(bg) payload + prune
    def l2 = l1.groupBy(col("bgh"), col("ah"), col("th"))
      .agg(count(lit(1)).as("n_ab"), min(col("bg")).as("bigram"))
      .filter(col("n_ab") >= 5)
    // L3: the r17-committed operator form, verbatim (payload-carrying
    // aggregate + 3×md5 projection) — the A/B baseline and the
    // equality reference for the restructured operator
    def l3 = {
      val bg = l1
        .groupBy(col("bgh"), col("ah"), col("th"))
        .agg(count(lit(1)).as("n_ab"), min(col("bg")).as("bigram"))
        .filter(col("n_ab") >= 5)
      val dw = graft.dedup.ClusterCache.docWordTf(spark, sfDir)
      val wc = dw.select(Text.md5Prefix60(col("w")).as("wh"), col("tf"))
        .groupBy(col("wh")).agg(sum(col("tf")).as("cnt"))
      val total = dw.agg(sum(col("tf")).as("n_tok"))
      bg
        .join(wc.select(col("wh").as("ah"), col("cnt").as("n_a")), Seq("ah"))
        .join(wc.select(col("wh").as("th"), col("cnt").as("n_b")), Seq("th"))
        .crossJoin(broadcast(total))
        .select(col("bigram"), col("n_ab"), col("n_a"), col("n_b"),
          (length(bin(col("n_ab"))) + length(bin(col("n_tok"))) -
            length(bin(col("n_a"))) - length(bin(col("n_b"))))
            .cast("long").as("pmi_bits"))
        .orderBy(col("pmi_bits").desc, col("n_ab").desc, col("bigram").asc)
        .limit(20)
    }
    // the ADOPTED operator (native hash + payload-free aggregate)
    def armNew = graft.operators.Pipeline.pmiCollocations(
      docs, graft.dedup.ClusterCache.docWordTf(spark, sfDir),
      "doc_id", "text", 5, 20)

    // armB: the corpus-sized aggregate carries NO string payload
    // (3-long keys + count only — narrower buffers AND a narrower
    // exchange); the display bigram is reconstructed from min(w)
    // payloads riding the vocab-sized wc aggregate the operator
    // already joins for n_a/n_b. Identical output absent md5-60
    // collisions among distinct words (the same collision class the
    // committed (bgh,ah,th) keying already accepts).
    def noPayloadTail(hashed: org.apache.spark.sql.DataFrame) = {
      val bh = hashed
        .groupBy(col("bgh"), col("ah"), col("th"))
        .agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= 5)
      val dw = graft.dedup.ClusterCache.docWordTf(spark, sfDir)
      val wc = dw.select(Text.md5Prefix60(col("w")).as("wh"),
          col("w"), col("tf"))
        .groupBy(col("wh"))
        .agg(sum(col("tf")).as("cnt"), min(col("w")).as("wmin"))
      val total = dw.agg(sum(col("tf")).as("n_tok"))
      bh
        .join(wc.select(col("wh").as("ah"), col("cnt").as("n_a"),
          col("wmin").as("wa")), Seq("ah"))
        .join(wc.select(col("wh").as("th"), col("cnt").as("n_b"),
          col("wmin").as("wb")), Seq("th"))
        .crossJoin(broadcast(total))
        .select(concat(col("wa"), lit(" "), col("wb")).as("bigram"),
          col("n_ab"), col("n_a"), col("n_b"),
          (length(bin(col("n_ab"))) + length(bin(col("n_tok"))) -
            length(bin(col("n_a"))) - length(bin(col("n_b"))))
            .cast("long").as("pmi_bits"))
        .orderBy(col("pmi_bits").desc, col("n_ab").desc, col("bigram").asc)
        .limit(20)
    }
    def armB = noPayloadTail(l1.drop("bg"))
    // armC: the native one-pass bigram hasher (1 digest/word +
    // 1/pair, no substring scans, no intermediate strings)
    def hashedC = docs
      .select(explode(Text.bigramHashes(col("text"))).as("b"))
      .select(col("b.bgh").as("bgh"), col("b.ah").as("ah"),
        col("b.th").as("th"))
    def armC = noPayloadTail(hashedC)

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val legs = Seq("L0 explode" -> (() => l0), "L1 +3xmd5" -> (() => l1),
      "L2 +agg+prune" -> (() => l2), "L3 old x28" -> (() => l3),
      "B no-payload" -> (() => armB),
      "C1 native hash" -> (() => hashedC),
      "C native full" -> (() => armC),
      "NEW operator" -> (() => armNew))
    // interleaved reps so box waves hit every leg
    val acc = legs.map(_ => collection.mutable.ArrayBuffer[Double]())
    (1 to reps).foreach { _ =>
      legs.zipWithIndex.foreach { case ((name, mk), i) =>
        spark.sparkContext.setJobDescription(s"x28probe: $name")
        acc(i) += time(mk().write.format("noop").mode("overwrite").save())
      }
    }
    def med(xs: Seq[Double]) = xs.sorted.apply(xs.length / 2)
    println(s"[x28probe] sf=$sfDir reps=$reps")
    legs.zipWithIndex.foreach { case ((name, _), i) =>
      println(f"[x28probe] $name%-14s med=${med(acc(i).toSeq)}%.3f  all=${acc(i).map(x => f"$x%.2f").mkString(",")}")
    }
    val a = l3.collect().map(_.toString).toSeq
    Seq("armB" -> armB, "armC" -> armC, "NEW operator" -> armNew)
      .foreach { case (n, arm) =>
        val b = arm.collect().map(_.toString).toSeq
        println(s"[x28probe] $n == r17 form: ${a == b} (${a.length} rows)")
        if (a != b) (a zip b).filter(p => p._1 != p._2).take(5)
          .foreach { case (x, y) => println(s"[x28probe]   A=$x\n[x28probe]   B=$y") }
      }
    spark.stop()
  }
}
