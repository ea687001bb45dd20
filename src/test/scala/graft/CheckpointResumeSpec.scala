package graft

import org.apache.spark.sql.functions._

/** Structured Streaming's resume contract, on a stream this spec builds
  * itself: a STOPPED stream restarted against the same durable
  * checkpoint RESUMES — offsets (already-read files are not re-read)
  * and state (the restored aggregate keeps counting on top of what the
  * first run saw). The `graft.streaming.Streams` drains do not rely on
  * it: each drain checkpoints to a throwaway path and rebuilds its
  * state from the source. */
class CheckpointResumeSpec extends SparkSpec {
  import spark.implicits._

  private def writeBatch(dir: String, rows: (String, Long)*): Unit =
    rows.toDF("user_id", "value").coalesce(1).write.mode("append").parquet(dir)

  test("restart from checkpoint resumes offsets and state mid-drain") {
    val src = java.nio.file.Files.createTempDirectory("ckpt_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ckpt_dir").toString + "/q"
    writeBatch(src, ("u1", 10L), ("u1", 5L), ("u2", 7L))
    val schema = spark.read.parquet(src).schema

    def drain(name: String): (Map[String, (Long, Long)], Long) = {
      val agg = spark.readStream.schema(schema).parquet(src)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      val q = agg.writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .outputMode("complete").start()
      q.awaitTermination()
      assert(!q.isActive)
      val m = spark.table(name).as[(String, Long, Long)].collect()
        .map { case (u, n, t) => u -> (n, t) }.toMap
      (m, q.recentProgress.map(_.numInputRows).sum)
    }

    // first drain sees the 3 initial rows
    val (first, in1) = drain("ckpt_run1")
    assert(first == Map("u1" -> (2L, 15L), "u2" -> (1L, 7L)))
    assert(in1 == 3L)

    // stream is stopped; more data lands; restart on the SAME checkpoint
    writeBatch(src, ("u1", 1L), ("u3", 2L))
    val (second, in2) = drain("ckpt_run2")
    // resumed state: u1's count/total CONTINUE from the restored store
    assert(second == Map("u1" -> (3L, 16L), "u2" -> (1L, 7L), "u3" -> (1L, 2L)))
    // resumed offsets: only the 2 NEW rows were read this run
    assert(in2 == 2L, s"restart re-read old files ($in2 rows)")
  }
}
