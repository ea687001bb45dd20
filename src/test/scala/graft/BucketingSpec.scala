package graft

import org.apache.spark.sql.functions._
import graft.sources.{IndexStore, Tables}

/** Bucketed co-location must eliminate the shuffle: a groupBy on the
  * bucket key over a table written by IndexStore.write (the one
  * bucketed writer) plans without an Exchange, and a self-join on the
  * key plans without any Exchange either. */
class BucketingSpec extends SparkSpec {
  import spark.implicits._

  test("groupBy and join on the bucket key plan without a shuffle") {
    val art = "events_bucketed"
    val name = IndexStore.tableName(sfDir, art)
    def drop(): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $name")
      val whDir = spark.conf.get("spark.sql.warehouse.dir")
        .replaceFirst("^file:", "")
      scala.reflect.io.Directory(new java.io.File(whDir, name)).deleteRecursively()
    }
    drop()
    try {
      val ev = Tables.events(spark, sfDir)
        .select("user_id", "event_id", "value")
      IndexStore.write(ev, sfDir, art, Some("user_id"))
      val t = IndexStore.load(spark, sfDir, art)

      val aggPlan = t.groupBy($"user_id").agg(sum($"value"))
        .queryExecution.executedPlan.toString
      assert(!aggPlan.contains("Exchange hashpartitioning"),
        s"agg still shuffles:\n$aggPlan")

      // force a non-broadcast join so co-location is what's being tested
      val joinPlan = t.as("a").hint("merge").join(t.as("b"), "user_id")
        .queryExecution.executedPlan.toString
      assert(!joinPlan.contains("Exchange hashpartitioning"),
        s"join still shuffles:\n$joinPlan")

      // and the result is still right
      val viaBucket = t.groupBy($"user_id").count().count()
      val direct = ev.select($"user_id").distinct().count()
      assert(viaBucket == direct)
    } finally drop()
  }
}
