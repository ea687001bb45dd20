package graft

/** Index-persistence A/B (dev/measurement tool): build + persist the
  * bucketed index tables for a corpus (graft.sources.IndexStore), then
  * time the index-family queries COLD in build mode vs COLD in load
  * mode — the per-session index-construction cost the persisted
  * tables eliminate — and record the probe's bucket-pruning counts.
  * Writes GRAFT_INDEX_OUT (default INDEX_AB.json).
  *
  * Usage: sbt "Test/runMain graft.IndexAb [sfDir]"
  * After this has run once, any later JVM (load mode is the default
  * since r14; Verify/Bench also self-prime via
  * IndexStore.primeIfMissing) re-attaches the tables via the on-disk
  * manifests and never pays the index build.
  */
object IndexAb {
  private val Queries = Seq("a3_ivf_coarse", "a4_ivf_nprobe", "a9_ivfpq",
    "a10_index_stats", "d5_embedding_neardup", "d6_dup_clusters",
    "d7_dedup_survivors", "d8_semantic_dedup", "d10_source_overlap",
    "d4_ngram_jaccard", "x16_containment", "x19_novelty",
    // r15 verified-pair-family consumers
    "d11_lsh_recall", "x15_winnow_pairs",
    // r18 chunk-table consumers
    "m4_binary_neardup", "m6_cas_stats")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = sys.env.getOrElse("GRAFT_INDEX_OUT", "INDEX_AB.json")
    val spark = Session.local()
    spark.sparkContext.setLogLevel("WARN")
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }
    def runAll(): Map[String, Double] = Queries.map { q =>
      q -> timed(SparkEntry.queries(q)(spark, sfDir).count())._2
    }.toMap

    // ---- build mode, cold caches (the per-session price the
    // persisted index eliminates). "0" FORCES building: since r14
    // load mode is the default, and a getter that loaded a table here
    // would (a) time the wrong thing and (b) make writeAll overwrite
    // a table it is reading.
    sys.props(graft.sources.IndexStore.EnvFlag) = "0"
    graft.util.SessionCache.clearAll()
    val buildCold = runAll()
    // ---- persist (artifacts are warm in the session caches now) ----
    val (names, writeSecs) = timed(References.writeAll(spark, sfDir))
    // ---- load mode (the r14 default), cold caches: no index build,
    // bucketed reads ----
    sys.props.remove(graft.sources.IndexStore.EnvFlag)
    graft.util.SessionCache.clearAll()
    val loadCold = runAll()
    graft.util.SessionCache.clearAll()
    val loadCold2 = runAll() // second pass: steadier read-path numbers

    def m(kv: Map[String, Double]) = kv.toSeq.sortBy(_._1)
      .map { case (k, v) => f""""$k":$v%.3f""" }.mkString("{", ",", "}")
    val json =
      s"""{"sf":"$sfDir","tables":${names.length},"write_secs":${f"$writeSecs%.2f"},""" +
      s""""build_cold_total":${f"${buildCold.values.sum}%.2f"},""" +
      s""""load_cold_total":${f"${loadCold.values.sum}%.2f"},""" +
      s""""load_cold2_total":${f"${loadCold2.values.sum}%.2f"},""" +
      s""""build_cold":${m(buildCold)},"load_cold":${m(loadCold)},"load_cold2":${m(loadCold2)}}"""
    println(json)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n")
    spark.stop()
  }
}
