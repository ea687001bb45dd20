package graft

import org.apache.spark.sql.functions._

/** r18 A/B (VERDICT r17 item 7): can the t-family's max_by/struct
  * SortAggregates be re-enabled as hash aggregation at sf1?
  *
  * Analysis first: MaxBy is a DECLARATIVE aggregate, so a struct (or
  * string/binary — both non-mutable UnsafeRow types) buffer disquali-
  * fies HashAggregateExec, and ObjectHashAggregateExec only takes
  * TypedImperativeAggregate — so "pack the ordering key into an
  * orderable binary" STILL sort-aggregates. A 64-bit packing of
  * (µs timestamp, event_id tie) overflows (1.7e15 µs × >8k tie ids).
  * The only hash-agg-compatible shape is two-phase: max(ts_us) longs
  * per (user, side) via HashAggregate, join back to the filtered scan
  * to keep only tied candidate rows, then the max_by over the tiny
  * residue. That costs a SECOND corpus pass + a corpus-wide join —
  * this probe prices it against the one-pass SortAggregate at sf1.
  *
  * Usage: Test/runMain graft.SortAggProbe [sfDir] [reps]
  */
object SortAggProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/data/sf1")
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(5)
    val spark = Session.local()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.sources.Tables

    val t1 = lit("2025-01-10 00:00:00").cast("timestamp")
    val t2 = lit("2025-02-10 00:00:00").cast("timestamp")
    val withK = Tables.events(spark, sfDir)
      .withColumn("k", get_json_object(col("props"), "$.k"))
      .select("user_id", "ts", "event_id", "event_type", "value", "k")
    val payload = struct(col("event_type"), col("value"), col("k"))
    val ord = struct(col("ts"), col("event_id"))

    // arm A: the committed one-pass conditional max_by (SortAggregate)
    def armA = withK.filter(col("ts") <= t2)
      .groupBy(col("user_id"))
      .agg(max_by(payload, when(col("ts") <= t1, ord)).as("__a"),
        max_by(payload, ord).as("__b"))

    // arm B: hash-agg max(ts) per side, join back, max_by on the
    // tied residue (the only HashAggregate-compatible decomposition)
    def armB = {
      val base = withK.filter(col("ts") <= t2)
      val mx = base.groupBy(col("user_id"))
        .agg(max(when(col("ts") <= t1, col("ts"))).as("__ma"),
          max(col("ts")).as("__mb"))
      base.join(mx, Seq("user_id"))
        .filter(col("ts") === col("__ma") || col("ts") === col("__mb"))
        .groupBy(col("user_id"))
        .agg(max_by(payload, when(col("ts") <= col("__ma"), ord)).as("__a"),
          max_by(payload, ord).as("__b"))
    }

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def run(name: String, df: => org.apache.spark.sql.DataFrame): Seq[Double] =
      (1 to reps).map { _ =>
        spark.sparkContext.setJobDescription(s"sortaggprobe: $name")
        time(df.write.format("noop").mode("overwrite").save())
      }
    // interleaved reps so box waves hit both arms
    val (as, bs) = (1 to reps).map { _ =>
      (run("sortagg", armA).head, run("hash+join", armB).head)
    }.unzip
    def med(xs: Seq[Double]) = xs.sorted.apply(xs.length / 2)
    println(f"[sortaggprobe] sf=$sfDir reps=$reps")
    println(f"[sortaggprobe] armA sortagg   med=${med(as)}%.3f  all=${as.map(x => f"$x%.2f").mkString(",")}")
    println(f"[sortaggprobe] armB hash+join med=${med(bs)}%.3f  all=${bs.map(x => f"$x%.2f").mkString(",")}")
    println("[sortaggprobe] armA plan: " +
      (if (armA.queryExecution.executedPlan.toString.contains("SortAggregate")) "SortAggregate" else "?"))
    println("[sortaggprobe] armB plan: " +
      (if (armB.queryExecution.executedPlan.toString.contains("HashAggregate")) "HashAggregate first phase" else "?"))
    spark.stop()
  }
}
