package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Drain decomposition diagnostic (dev tool): batch-level timing of one
  * AvailableNow micro-batch drain, per plan shape, from the
  * StreamingQueryProgress duration map — the tool behind the r16 drain
  * floor (NOTES_r16 §6) and the r17 ts12 decomposition (NOTES_r17).
  *
  * Usage: runMain graft.DrainProbe <sfDir> [shape ...]
  *   shape ∈ tumbling | session | dedup  (default: tumbling session)
  * Env: PROBE_PARTS  state-store partition count (default 8)
  *      PROBE_CKPT   checkpoint base dir (default <java.io.tmpdir>/graft_probe)
  *
  * `session` is ts12's exact aggregation (session_window + the same
  * agg list); `tumbling` is ts11's; the delta between them under the
  * same source/sink/checkpoint machinery isolates the session-merge
  * state cost from the shared drain floor. */
object DrainProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: DrainProbe <sfDir> [tumbling|session|dedup ...]")
    val sfDir = args(0)
    val shapes = if (args.length > 1) args.drop(1).toSeq
                 else Seq("tumbling", "session")
    val ckptBase = sys.env.getOrElse("PROBE_CKPT",
      s"${System.getProperty("java.io.tmpdir")}/graft_probe")
    val spark = SparkSession.builder().master("local[32]")
      .appName("drainprobe")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions",
      sys.env.getOrElse("PROBE_PARTS", "8"))
    s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val path = s"$sfDir/events.parquet"
    val schema = spark.read.parquet(path).schema
    val raw =
      if (new java.io.File(path).isDirectory)
        s.readStream.schema(schema).parquet(path)
      else
        s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(sfDir)
    val ev = if (schema("ts").dataType == org.apache.spark.sql.types.LongType)
      raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else raw.withColumn("ts", col("ts").cast("timestamp"))

    def shaped(shape: String): (DataFrame, String) = shape match {
      case "tumbling" => (
        ev.groupBy(window(col("ts"), "1 day"), col("event_type"))
          .agg(count(lit(1)).as("n")), "complete")
      case "session" => (
        ev.groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            unix_micros(min(col("ts"))).as("start_us"),
            unix_micros(max(col("ts"))).as("end_us"),
            sum(col("value").cast("decimal(18,6)")).cast("double")
              .as("total_value")), "complete")
      case "dedup" => (
        ev.withWatermark("ts", "1 day")
          .select(col("ts"), col("user_id"), col("event_type"),
            to_date(col("ts")).as("day"))
          .dropDuplicatesWithinWatermark("user_id", "event_type", "day"),
        "append")
      case other => sys.error(s"unknown shape '$other'")
    }

    // batch twin of the `session` shape on the same source — isolates
    // the session-merge plan cost from the drain's state-store half
    if (shapes.contains("session_batch")) {
      val bev0 = s.read.parquet(path)
      val bev = if (schema("ts").dataType == org.apache.spark.sql.types.LongType)
        bev0.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      else bev0.withColumn("ts", col("ts").cast("timestamp"))
      for (rep <- 1 to 3) {
        val t0 = System.nanoTime()
        val n = bev.groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            unix_micros(min(col("ts"))).as("start_us"),
            unix_micros(max(col("ts"))).as("end_us"),
            sum(col("value").cast("decimal(18,6)")).cast("double")
              .as("total_value")).count()
        println(f"session_batch rep $rep wall=${(System.nanoTime() - t0) / 1e9}%.3fs sessions=$n")
      }
    }

    // r18 wave leg (VERDICT r17 item 6): N independent stateful drains
    // run SEQUENTIALLY (the suite shape: each query awaits its own
    // drain) vs CONCURRENTLY (start all, then await all — guide §2.6
    // overlap; each keeps its own plan/checkpoint/state store, only
    // wall-clock overlaps). Every rep's drained tables are hashed and
    // compared across reps and modes: any drift kills the idea.
    if (shapes.contains("wave")) {
      val waveShapes = Seq("tumbling", "session", "dedup")
      def tableHash(name: String): String = {
        val rows = s.table(name).collect().map(_.toString).sorted.mkString("\n")
        java.security.MessageDigest.getInstance("MD5")
          .digest(rows.getBytes("UTF-8")).map(b => f"${b & 0xff}%02x").mkString
      }
      def drainOne(shape: String, tag: String): (String, String) = {
        val (agg, mode) = shaped(shape)
        val name = s"wave_${shape}_$tag"
        val ckpt = s"$ckptBase/$name-${System.nanoTime()}"
        val q = agg.writeStream.format("memory").queryName(name)
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .outputMode(mode).start()
        q.awaitTermination()
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
        (shape, name)
      }
      // (shape, mode, rep) -> drained-table hash, for every rep
      val hashes = scala.collection.mutable.LinkedHashMap.empty[(String, String, Int), String]
      for (rep <- 1 to 3) {
        val t0 = System.nanoTime()
        val done = waveShapes.map(sh => drainOne(sh, s"seq$rep"))
        val wall = (System.nanoTime() - t0) / 1e9
        done.foreach { case (sh, nm) => hashes((sh, "seq", rep)) = tableHash(nm) }
        println(f"wave sequential rep $rep wall=$wall%.3fs (${waveShapes.size} drains)")
      }
      for (rep <- 1 to 3) {
        val t0 = System.nanoTime()
        val started = waveShapes.map { sh =>
          val (agg, mode) = shaped(sh)
          val name = s"wave_${sh}_conc$rep"
          val ckpt = s"$ckptBase/$name-${System.nanoTime()}"
          val q = agg.writeStream.format("memory").queryName(name)
            .option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .outputMode(mode).start()
          (sh, name, q, ckpt)
        }
        started.foreach(_._3.awaitTermination())
        val wall = (System.nanoTime() - t0) / 1e9
        started.foreach(x =>
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(x._4)))
        started.foreach { case (sh, nm, _, _) => hashes((sh, "conc", rep)) = tableHash(nm) }
        println(f"wave concurrent rep $rep wall=$wall%.3fs (${waveShapes.size} drains)")
      }
      // drift: any rep of a shape, in either mode, hashing differently
      val drift = waveShapes.filter(sh =>
        hashes.collect { case ((`sh`, _, _), h) => h }.toSet.size > 1)
      println(s"wave hash drift: ${if (drift.isEmpty) "NONE" else drift.mkString(",")}")
      drift.foreach { sh =>
        println(s"  $sh: " + hashes.collect { case ((`sh`, mode, rep), h) =>
          s"$mode$rep=${h.take(8)}" }.mkString(" "))
      }
    }

    for (shape <- shapes.filterNot(s0 => s0 == "session_batch" || s0 == "wave"); rep <- 1 to 3) {
      val (agg, mode) = shaped(shape)
      val name = s"probe_${shape}_$rep"
      val ckpt = s"$ckptBase/$name-${System.nanoTime()}"
      val t0 = System.nanoTime()
      val q = agg.writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .outputMode(mode).start()
      q.awaitTermination()
      val wall = (System.nanoTime() - t0) / 1e9
      println(s"$shape rep $rep wall=${"%.3f".format(wall)}s " +
        s"batches=${q.recentProgress.length}")
      q.recentProgress.foreach { p =>
        println(s"  batch ${p.batchId}: rows=${p.numInputRows} " +
          s"triggerMs=${p.durationMs.get("triggerExecution")} " +
          s"addBatch=${p.durationMs.get("addBatch")} getBatch=${p.durationMs.get("getBatch")} " +
          s"planning=${p.durationMs.get("queryPlanning")} walCommit=${p.durationMs.get("walCommit")} " +
          s"commitOffsets=${p.durationMs.get("commitOffsets")} latestOffset=${p.durationMs.get("latestOffset")}")
      }
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    }
    spark.stop()
  }
}
