package graft

import org.apache.spark.sql.functions._
import graft.ann.{Ann, CellIndexCache}
import graft.dedup.ClusterCache
import graft.sources.IndexStore

/** The durable bucketed index (IndexStore) must be a TRANSPARENT
  * replacement for the session-built artifacts: every loaded table
  * bit-equal to its built twin, the hierarchical probe's probed set
  * bit-equal through loaded centroids/group-centroids, the production
  * a4/a9/d5-family queries row-identical in load mode (so oracle-green
  * transfers), and — the at-scale point of bucketing — a probe's
  * cell/group filter must PRUNE to the probed buckets at the scan
  * (SelectedBucketsCount in the executed plan). */
class IndexStoreSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  private def freshCaches(): Unit = graft.util.SessionCache.clearAll()

  /** The standard set's table names, in priming order. A rename
    * orphans every primed warehouse, so they are pinned literally. */
  private val StandardNames = Seq("cells", "centroids", "gcents",
    "pqcodebook", "pqcodes", "rawpqcodebook", "rawpqcodes", "pairs",
    "postings_n3", "shingledf_n3", "minhash_n3_p16_b4",
    "clusters_n3_p16_b4", "docwordtf", "chunks_c64", "doclengths",
    "jpairs_n3_t1200", "cpairs_n3_t6000", "wpairs_k3_w4_m2",
    "sclusters_t4000", "dsirfeats_b4096_p75a5e39e",
    "dsirdoc_b4096_p75a5e39e", "kmcents_k8_r2")

  test("SessionCache.clearAll releases everything the getters cached") {
    freshCaches()
    // frames other suites persisted outside any memo are not under test
    spark.catalog.clearCache()
    IndexStore.standard.foreach(a => IndexStore.get(spark, sfDir, a).count())
    val (lex, vec) = graft.operators.RetrievalCache.hybridLegs(spark, sfDir)
    lex.count(); vec.count()
    graft.operators.RetrievalCache.ivfLeg(spark, sfDir).count()
    CellIndexCache.sq8Stats(spark, sfDir)
    // x20: the bench-probe BM25 table; the eval legs (a12: brute truth
    // + probe; a14: IVFPQ); the quantile trio's projection (ts9)
    Seq("x20_bm25_search", "a12_ivf_recall", "a14_ivfpq_recall",
        "ts9_percentiles")
      .foreach(q => SparkEntry.queries(q)(spark, sfDir).collect())
    val cm = spark.sharedState.cacheManager
    assert(!cm.isEmpty)
    graft.util.SessionCache.clearAll()
    assert(cm.isEmpty, "a memo survived SessionCache.clearAll")
  }

  test("loaded == built, queries transfer, probes bucket-prune") {
    // "0" forces BUILD mode (load is the default since r14) so the
    // reference values below are genuinely session-built
    sys.props(IndexStore.EnvFlag) = "0"
    freshCaches()

    // ---- built (session) artifacts + reference query outputs ----
    val bCells = rows(CellIndexCache.embeddingsWithCell(spark, sfDir))
    val bCents = rows(CellIndexCache.centroids(spark, sfDir))
    val bGc = rows(CellIndexCache.groupCentroids(spark, sfDir))
    val bCodes = rows(CellIndexCache.pqCodes(spark, sfDir))
    val bPairs = rows(CellIndexCache.scaledPairs(spark, sfDir))
    val bClus = rows(ClusterCache.documents(spark, sfDir))
    val bDf = rows(ClusterCache.shingleDf(spark, sfDir))
    val ix = CellIndexCache.embeddings(spark, sfDir)
    val queries = CellIndexCache.embeddingsWithCell(spark, sfDir)
      .filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
      .localCheckpoint()
    val np = Ann.ivfPqNprobe(ix.cells)
    val gp = Ann.hierGroupProbe(ix.k1, ix.k2, np)
    val bProbed = rows(Ann.probedCellsHier(queries,
      CellIndexCache.centroids(spark, sfDir), ix.k2, np, gp,
      CellIndexCache.groupCentroids(spark, sfDir)))
    def q(name: String) = rows(SparkEntry.queries(name)(spark, sfDir))
    val bQ = Seq("a3_ivf_coarse", "a4_ivf_nprobe", "a9_ivfpq", "a10_index_stats",
      "d5_embedding_neardup", "d6_dup_clusters", "d7_dedup_survivors",
      "d8_semantic_dedup", "x19_novelty").map(n => n -> q(n)).toMap

    // ---- persist, flip to load mode, drop every session cache ----
    val names = References.writeAll(spark, sfDir)
    assert(names == StandardNames.map(IndexStore.tableName(sfDir, _)) &&
      names.forall(spark.catalog.tableExists))
    assert(IndexStore.standard.map(_.bucketKey) == Seq(Some("cell"),
      Some("g_grp"), None, None, Some("c_cell"), None, Some("__vid"),
      Some("id_a"), Some("shingle"), Some("shingle"), Some("id_a"),
      Some("doc_id"), Some("w"), Some("doc_id"), Some("doc_id"),
      Some("id_a"), Some("id_a"), Some("id_a"), Some("cluster_id"),
      Some("b"), Some("source"), None))
    // flag REMOVED = the r14 default: auto-load, no env needed
    sys.props.remove(IndexStore.EnvFlag)
    freshCaches()
    try {
      // the cache getters now return the persisted tables
      assert(rows(CellIndexCache.embeddingsWithCell(spark, sfDir)) == bCells)
      assert(rows(CellIndexCache.centroids(spark, sfDir)) == bCents)
      assert(rows(CellIndexCache.groupCentroids(spark, sfDir)) == bGc)
      assert(rows(CellIndexCache.pqCodes(spark, sfDir)) == bCodes)
      assert(rows(CellIndexCache.scaledPairs(spark, sfDir)) == bPairs)
      assert(rows(ClusterCache.documents(spark, sfDir)) == bClus)
      assert(rows(ClusterCache.shingleDf(spark, sfDir)) == bDf)
      // probed set bit-equal through the loaded coarse structures
      val lProbed = rows(Ann.probedCellsHier(queries,
        CellIndexCache.centroids(spark, sfDir), ix.k2, np, gp,
        CellIndexCache.groupCentroids(spark, sfDir)))
      assert(lProbed == bProbed)
      // production queries row-identical in load mode → the committed
      // oracle-green verdict transfers to the persisted index
      bQ.foreach { case (n, expect) => assert(q(n) == expect, n) }

      // ---- the bucketing claim: a probe prunes to its buckets ----
      // a bare filter with no downstream join/agg makes the planner
      // fall back to a non-bucketed scan (autoBucketedScan) and skip
      // pruning — pin the bucketed scan the way a probe session would
      spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      // the getters above PERSISTED the loaded tables (the r14 warm
      // fix), and Spark's cache manager would substitute the cached
      // full-scan for any later query over the same table — the plan
      // string would then carry the cache-time "32 out of 32", hiding
      // the pruning under test. Drop the caches so the probes below
      // hit the real bucketed parquet scan.
      freshCaches()
      // pin the pruning MECHANIC with a NARROW probe (2 cells → ≤ 2
      // buckets selected): the full production probe covers most of
      // sf0.001's ~32 cells, so at 32 buckets it legitimately hashes
      // into every bucket and `selected < total` would be pinned to a
      // hash accident, not to pruning
      val probedCells = bProbed.map(_(1).asInstanceOf[Long])
        .toSeq.distinct.sorted.take(2)
      def selected(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
        val plan = df.queryExecution.executedPlan.toString
        val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
          .findFirstMatchIn(plan)
        assert(m.isDefined, s"no bucket pruning in plan:\n$plan")
        (m.get.group(1).toInt, m.get.group(2).toInt)
      }
      val (selC, totC) = selected(
        IndexStore.load(spark, sfDir, "cells")
          .filter(col("cell").isin(probedCells: _*)))
      assert(selC < totC, s"cells scan read all $totC buckets")
      val (selP, totP) = selected(
        IndexStore.load(spark, sfDir, "pqcodes")
          .filter(col("c_cell").isin(probedCells: _*)))
      assert(selP < totP, s"pqcodes scan read all $totP buckets")
      val probedGroups = probedCells.map(_ / ix.k2).distinct
      val (selG, totG) = selected(
        IndexStore.load(spark, sfDir, "centroids")
          .filter(col("g_grp").isin(probedGroups: _*)))
      assert(selG < totG, s"centroids scan read all $totG buckets")

      // ---- cross-SESSION durability: a fresh JVM's in-memory
      // catalog has no table entries; only the files + manifest
      // survive. Simulate by dropping every catalog entry (external
      // tables — data stays) and let registerIfNeeded re-attach.
      names.foreach(n => spark.sql(s"DROP TABLE $n"))
      assert(names.forall(n => !spark.catalog.tableExists(n)))
      freshCaches()
      assert(rows(CellIndexCache.embeddingsWithCell(spark, sfDir)) == bCells)
      assert(rows(CellIndexCache.scaledPairs(spark, sfDir)) == bPairs)
      assert(rows(ClusterCache.documents(spark, sfDir)) == bClus)
      // the re-registered table is bucketed again (pruning still on);
      // drop the getter caches first for the same cache-substitution
      // reason as above
      freshCaches()
      val (selC2, totC2) = selected(
        IndexStore.load(spark, sfDir, "cells")
          .filter(col("cell").isin(probedCells: _*)))
      assert(selC2 == selC && totC2 == totC)
    } finally {
      sys.props.remove(IndexStore.EnvFlag)
      spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
      freshCaches()
    }
  }

  test("jaccardPairs: tau-stamped names, write-through self-prime, loaded == built") {
    // tau rides in the table name (the d4 parameter-stamping rule)
    assert(ClusterCache.jaccardPairsArtifact(3, 0.12).name
      != ClusterCache.jaccardPairsArtifact(3, 0.5).name)
    assert(ClusterCache.jaccardPairsArtifact(3, 0.12).name == "jpairs_n3_t1200")

    // build-mode reference (pure session build, no durable table)
    sys.props(IndexStore.EnvFlag) = "0"
    freshCaches()
    val built = rows(ClusterCache.jaccardPairs(spark, sfDir, 3, 0.12))
    assert(built.nonEmpty)

    // load mode, artifact absent: first touch must WRITE THROUGH
    sys.props.remove(IndexStore.EnvFlag)
    freshCaches()
    val art = ClusterCache.jaccardPairsArtifact(3, 0.12).name
    val name = IndexStore.tableName(sfDir, art)
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val whDir = spark.conf.get("spark.sql.warehouse.dir")
      .replaceFirst("^file:", "")
    scala.reflect.io.Directory(new java.io.File(whDir, name)).deleteRecursively()
    try {
      assert(!IndexStore.exists(spark, sfDir, art))
      assert(rows(ClusterCache.jaccardPairs(spark, sfDir, 3, 0.12)) == built)
      assert(IndexStore.exists(spark, sfDir, art), "write-through did not prime")
      // fresh caches: the getter now serves the LOADED table, bit-equal
      freshCaches()
      assert(rows(ClusterCache.jaccardPairs(spark, sfDir, 3, 0.12)) == built)
      // d11/d4 stay green as pure consumers of the loaded artifact
      val d11 = SparkEntry.queries("d11_lsh_recall")(spark, sfDir).collect()
      assert(d11.nonEmpty)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $name")
      scala.reflect.io.Directory(new java.io.File(whDir, name)).deleteRecursively()
      freshCaches()
    }
  }

  test("containmentPairs: write-through self-prime, loaded == built") {
    assert(ClusterCache.containmentPairsArtifact(3, 0.6).name == "cpairs_n3_t6000")
    sys.props(IndexStore.EnvFlag) = "0"
    freshCaches()
    val built = rows(ClusterCache.containmentPairs(spark, sfDir, 3, 0.6))
    assert(built.nonEmpty)
    sys.props.remove(IndexStore.EnvFlag)
    freshCaches()
    val art = ClusterCache.containmentPairsArtifact(3, 0.6).name
    val name = IndexStore.tableName(sfDir, art)
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val whDir = spark.conf.get("spark.sql.warehouse.dir")
      .replaceFirst("^file:", "")
    scala.reflect.io.Directory(new java.io.File(whDir, name)).deleteRecursively()
    try {
      assert(rows(ClusterCache.containmentPairs(spark, sfDir, 3, 0.6)) == built)
      assert(IndexStore.exists(spark, sfDir, art), "write-through did not prime")
      freshCaches()
      assert(rows(ClusterCache.containmentPairs(spark, sfDir, 3, 0.6)) == built)
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $name")
      scala.reflect.io.Directory(new java.io.File(whDir, name)).deleteRecursively()
      freshCaches()
    }
  }

  test("semanticClusters + dsirFeats: write-through self-prime, loaded == built") {
    sys.props(IndexStore.EnvFlag) = "0"
    freshCaches()
    val pred = col("lang") === "en"
    // the artifact name binds the predicate: a different predicate can
    // never load this table (ADVICE r15: the stamp was caller-supplied)
    assert(ClusterCache.dsirFeatsArtifact(4096, pred).name !=
      ClusterCache.dsirFeatsArtifact(4096, col("lang") === "de").name)
    assert(ClusterCache.dsirFeatsArtifact(4096, pred).name ==
      ClusterCache.dsirFeatsArtifact(4096, col("lang") === "en").name)
    val builtC = rows(CellIndexCache.semanticClusters(spark, sfDir, 0.4))
    val builtF = rows(ClusterCache.dsirFeats(spark, sfDir, 4096, pred))
    val builtD = rows(ClusterCache.dsirDocStats(spark, sfDir, 4096, pred))
    val builtX25 = rows(SparkEntry.queries("x25_dsir_weights")(spark, sfDir))
    assert(builtC.nonEmpty && builtF.nonEmpty && builtD.nonEmpty)
    sys.props.remove(IndexStore.EnvFlag)
    freshCaches()
    val arts = Seq(CellIndexCache.semanticClustersArtifact(0.4),
      ClusterCache.dsirFeatsArtifact(4096, pred),
      ClusterCache.dsirDocStatsArtifact(4096, pred)).map(_.name)
    val whDir = spark.conf.get("spark.sql.warehouse.dir")
      .replaceFirst("^file:", "")
    def drop(): Unit = arts.foreach { a =>
      val name = IndexStore.tableName(sfDir, a)
      spark.sql(s"DROP TABLE IF EXISTS $name")
      scala.reflect.io.Directory(new java.io.File(whDir, name)).deleteRecursively()
    }
    drop()
    try {
      assert(rows(CellIndexCache.semanticClusters(spark, sfDir, 0.4)) == builtC)
      assert(rows(ClusterCache.dsirFeats(spark, sfDir, 4096, pred)) == builtF)
      assert(rows(ClusterCache.dsirDocStats(spark, sfDir, 4096, pred)) == builtD)
      assert(arts.forall(IndexStore.exists(spark, sfDir, _)),
        "write-through did not prime")
      freshCaches()
      assert(rows(CellIndexCache.semanticClusters(spark, sfDir, 0.4)) == builtC)
      assert(rows(ClusterCache.dsirFeats(spark, sfDir, 4096, pred)) == builtF)
      assert(rows(ClusterCache.dsirDocStats(spark, sfDir, 4096, pred)) == builtD)
      // x25 over the LOADED doc-stats artifact is row-identical
      assert(rows(SparkEntry.queries("x25_dsir_weights")(spark, sfDir)) == builtX25)
    } finally { drop(); freshCaches() }
  }

  test("primeIfMissing writes only missing; stale corpus fingerprint forces rebuild") {
    import java.nio.file.{Files, Paths}
    sys.props.remove(IndexStore.EnvFlag) // the r14 default: auto-load
    freshCaches()
    // private corpus: spark-written DIRECTORY form (the generated-sf
    // shape), so a content change can be a new part file — real extra
    // rows, still-valid parquet
    val tmp = Files.createTempDirectory("gstale_corpus").toString
    spark.read.parquet(s"$sfDir/documents.parquet")
      .write.parquet(s"$tmp/documents.parquet")
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .write.parquet(s"$tmp/embeddings.parquet")
    var primed: Seq[String] = Nil
    try {
      primed = IndexStore.primeIfMissing(spark, tmp)
      assert(primed == StandardNames.map(IndexStore.tableName(tmp, _)),
        s"expected all 22 written, got $primed")
      // everything present + valid -> second prime writes NOTHING
      assert(IndexStore.primeIfMissing(spark, tmp).isEmpty)
      assert(IndexStore.exists(spark, tmp, "docwordtf"))
      // parameter changes ride in the table NAME
      assert(IndexStore.tableName(tmp, "postings_n3")
        != IndexStore.tableName(tmp, "postings_n4"))
      // a legacy 2-line (pre-fingerprint) manifest is stale by
      // definition. Checked before the content change: after it, the
      // getter below re-primes docwordtf with a fresh manifest.
      val whDir = spark.conf.get("spark.sql.warehouse.dir")
        .replaceFirst("^file:", "")
      val docwordtf = IndexStore.tableName(tmp, "docwordtf")
      val mf = Paths.get(whDir, docwordtf, "_graft_index_meta.json")
      // the nio writes bypass Hadoop's LocalFileSystem checksum — drop
      // the stale .crc sidecar so the manifest read sees the new bytes
      def rewrite(bytes: Array[Byte]): Unit = {
        Files.write(mf, bytes)
        Files.deleteIfExists(mf.resolveSibling("." + mf.getFileName + ".crc"))
      }
      val manifest = Files.readAllBytes(mf)
      val lines = new String(manifest, "UTF-8").split("\n", 3)
      spark.sql(s"DROP TABLE $docwordtf") // fresh-JVM simulation
      rewrite((lines(0) + "\n" + lines(1)).getBytes("UTF-8"))
      assert(!IndexStore.exists(spark, tmp, "docwordtf"))
      rewrite(manifest)
      assert(IndexStore.exists(spark, tmp, "docwordtf"))
      val staleRows = rows(IndexStore.load(spark, tmp, "docwordtf"))
      // corpus-content change: duplicate a part file (count+bytes move)
      val fp1 = IndexStore.corpusFingerprint(spark, tmp)
      val part = new java.io.File(s"$tmp/documents.parquet").listFiles()
        .filter(_.getName.startsWith("part-")).head
      Files.copy(part.toPath,
        Paths.get(s"$tmp/documents.parquet/part-r14-extra.parquet"))
      val fp2 = IndexStore.corpusFingerprint(spark, tmp)
      assert(fp2 != fp1)
      // fresh-JVM simulation: catalog entries gone, only files remain
      primed.foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))
      freshCaches()
      // the stale manifest must NOT re-register ...
      assert(!IndexStore.exists(spark, tmp, "docwordtf"))
      // ... the getter must REBUILD from the corpus, never serve the
      // stale table (the extra part file doubles some docs' tf) ...
      val served = rows(graft.dedup.ClusterCache.docWordTf(spark, tmp))
      assert(served != staleRows, "getter served a stale index table")
      assert(served == rows(graft.operators.Pipeline.docWordTable(
        graft.sources.Tables.documents(spark, tmp), "doc_id", "text")))
      // ... and write the rebuilt table through, stamped with the new
      // fingerprint
      spark.sql(s"DROP TABLE $docwordtf")
      assert(IndexStore.exists(spark, tmp, "docwordtf"), "getter did not re-prime")
      assert(new String(Files.readAllBytes(mf), "UTF-8").split("\n", 3)(2) == fp2)
    } finally {
      primed.foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))
      freshCaches()
      val whDir = spark.conf.get("spark.sql.warehouse.dir")
        .replaceFirst("^file:", "")
      primed.foreach { n =>
        scala.reflect.io.Directory(new java.io.File(whDir, n)).deleteRecursively()
      }
      scala.reflect.io.Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }

  test("a registered table whose corpus is rewritten in place is rebuilt, not served") {
    import java.nio.file.{Files, Paths}
    sys.props.remove(IndexStore.EnvFlag)
    freshCaches()
    val tmp = Files.createTempDirectory("gregistered_corpus").toString
    spark.read.parquet(s"$sfDir/documents.parquet")
      .write.parquet(s"$tmp/documents.parquet")
    val art = ClusterCache.docWordTfArtifact
    val name = IndexStore.tableName(tmp, art.name)
    try {
      // first touch writes the table through and leaves it registered
      val primed = rows(IndexStore.get(spark, tmp, art))
      assert(spark.catalog.tableExists(name))
      // corpus-content change: duplicate a part file (count+bytes move)
      val part = new java.io.File(s"$tmp/documents.parquet").listFiles()
        .filter(_.getName.startsWith("part-")).head
      Files.copy(part.toPath,
        Paths.get(s"$tmp/documents.parquet/part-rewrite-extra.parquet"))
      // the memos go, the catalog registration stays
      freshCaches()
      assert(spark.catalog.tableExists(name))
      val served = rows(IndexStore.get(spark, tmp, art))
      assert(served != primed, "getter served the pre-rewrite index table")
      assert(served == rows(graft.operators.Pipeline.docWordTable(
        graft.sources.Tables.documents(spark, tmp), "doc_id", "text")))
      // ... written through again, stamped with the new fingerprint
      val whDir = spark.conf.get("spark.sql.warehouse.dir").replaceFirst("^file:", "")
      val mf = Paths.get(whDir, name, "_graft_index_meta.json")
      assert(new String(Files.readAllBytes(mf), "UTF-8").split("\n", 3)(2) ==
        IndexStore.corpusFingerprint(spark, tmp))
    } finally {
      freshCaches()
      dropIndexTables(tmp)
      scala.reflect.io.Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }

  test("a grown vector corpus is rebuilt: searches and clusters see the new rows") {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    // deterministic unit vectors, non-periodic in i (Knuth mix): exact
    // twins exist only where the test plants them
    def vec(i: Long): Array[Float] = {
      val raw = Array.tabulate(graft.sources.Tables.EmbDims)(d =>
        (((i * 2654435761L + d * 40503L + 7) % 1013) - 506).toFloat / 506f)
      val n = math.sqrt(raw.map(x => x * x.toDouble).sum).toFloat
      raw.map(_ / n)
    }
    def writeEmb(dir: String, ids: Seq[Long], twin: Map[Long, Long]): Unit =
      ids.map(i => (i, vec(twin.getOrElse(i, i)), (i % 10).toInt))
        .toDF("vec_id", "embedding", "label")
        .write.mode("append").parquet(s"$dir/embeddings.parquet")
    def twinOf0(df: org.apache.spark.sql.DataFrame, hit: String): Boolean =
      df.filter(col("query_id") === 0L && col(hit) === 500L).count() > 0
    def clusteredWith0(dir: String): Boolean = {
      val c = CellIndexCache.semanticClusters(spark, dir)
        .filter(col("vec_id").isin(0L, 500L)).collect()
        .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cluster_id")).toMap
      c.contains(500L) && c(500L) == c(0L)
    }
    // a4's probe (an eval-leg memo), a13's IVF leg and d8's semantic
    // clusters (write-through artifacts over the cells/pairs tables)
    def legs(dir: String): Seq[(String, Boolean)] = Seq(
      "a4" -> twinOf0(SparkEntry.queries("a4_ivf_nprobe")(spark, dir), "nn_id"),
      "ivfLeg" -> twinOf0(graft.operators.RetrievalCache.ivfLeg(spark, dir), "doc_id"),
      "semanticClusters" -> clusteredWith0(dir))

    sys.props.remove(IndexStore.EnvFlag)
    freshCaches()
    val tmp = Files.createTempDirectory("ggrown_corpus").toString
    val cells = IndexStore.tableName(tmp, CellIndexCache.cellsArtifact.name)
    val whDir = spark.conf.get("spark.sql.warehouse.dir").replaceFirst("^file:", "")
    def cellsFingerprint(): String = new String(Files.readAllBytes(
      Paths.get(whDir, cells, "_graft_index_meta.json")), "UTF-8").split("\n", 3)(2)
    try {
      // prime: the first touch writes the vector tables through
      writeEmb(tmp, 0L until 200L, Map.empty)
      legs(tmp).foreach { case (leg, twin) => assert(!twin, s"$leg: no twin yet") }
      assert(spark.catalog.tableExists(cells))
      val fp1 = cellsFingerprint()
      // grow the corpus by 30 rows, one an exact twin of row 0; the
      // memos go, the catalog registrations stay
      writeEmb(tmp, 500L until 530L, Map(500L -> 0L))
      freshCaches()
      legs(tmp).foreach { case (leg, twin) => assert(twin, s"$leg missed the new twin") }
      val fp2 = IndexStore.corpusFingerprint(spark, tmp)
      assert(fp2 != fp1 && cellsFingerprint() == fp2,
        "the cells table was not rebuilt for the grown corpus")
    } finally {
      freshCaches()
      dropIndexTables(tmp)
      scala.reflect.io.Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }

  test("kmeansCentroids: write-through self-prime, loaded == built, a7 transfers") {
    assert(CellIndexCache.kmeansCentroidsArtifact(8, 2).name == "kmcents_k8_r2")
    sys.props(IndexStore.EnvFlag) = "0"
    freshCaches()
    val built = rows(CellIndexCache.kmeansCentroids(spark, sfDir, 8, 2))
    val builtA7 = rows(SparkEntry.queries("a7_kmeans")(spark, sfDir))
    assert(built.nonEmpty && builtA7.nonEmpty)
    sys.props.remove(IndexStore.EnvFlag)
    freshCaches()
    val art = CellIndexCache.kmeansCentroidsArtifact(8, 2).name
    val name = IndexStore.tableName(sfDir, art)
    val whDir = spark.conf.get("spark.sql.warehouse.dir")
      .replaceFirst("^file:", "")
    def drop(): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $name")
      scala.reflect.io.Directory(new java.io.File(whDir, name)).deleteRecursively()
    }
    drop()
    try {
      // write-through self-prime on first touch; doubles round-trip
      // parquet bit-exactly so loaded == built
      assert(rows(CellIndexCache.kmeansCentroids(spark, sfDir, 8, 2)) == built)
      assert(IndexStore.exists(spark, sfDir, art), "write-through did not prime")
      freshCaches()
      assert(rows(CellIndexCache.kmeansCentroids(spark, sfDir, 8, 2)) == built)
      // the production query over the LOADED centroids is row-identical
      // → the committed oracle-green verdict transfers
      assert(rows(SparkEntry.queries("a7_kmeans")(spark, sfDir)) == builtA7)
    } finally { drop(); freshCaches() }
  }

  test("width-staleness: a grossly under-bucketed artifact re-primes (ADVICE r15)") {
    val df = spark.range(100).toDF("k")
      .select(col("k"), (col("k") % 7).as("v"))
    val art = "widthtest"
    val name = IndexStore.tableName(sfDir, art)
    def drop(): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS $name")
      val whDir = spark.conf.get("spark.sql.warehouse.dir")
        .replaceFirst("^file:", "")
      scala.reflect.io.Directory(new java.io.File(whDir, name)).deleteRecursively()
    }
    // the bucket count is the writing session's shuffle width
    val widthKey = "spark.sql.shuffle.partitions"
    val width = spark.conf.get(widthKey)
    drop()
    try {
      spark.conf.set(widthKey, "1")
      IndexStore.write(df, sfDir, art, Some("k"))
      spark.sql(s"DROP TABLE $name") // fresh-JVM simulation (files stay)
      // a same-width (or mildly wider) session keeps serving it
      assert(IndexStore.exists(spark, sfDir, art))
      spark.sql(s"DROP TABLE $name")
      spark.conf.set(widthKey, "2")
      assert(IndexStore.exists(spark, sfDir, art)) // 1*4 >= 2: valid
      spark.sql(s"DROP TABLE $name")
      // a 4x+ wider session treats it as stale (never capped at the
      // narrow writer's width) ...
      spark.conf.set(widthKey, "8")
      assert(!IndexStore.exists(spark, sfDir, art))
      // ... and the getter re-primes at the session width
      assert(IndexStore.get(spark, sfDir,
        IndexStore.Artifact(art, Some("k"))((_, _) => df)).count() == 100)
      spark.sql(s"DROP TABLE $name")
      assert(IndexStore.exists(spark, sfDir, art)) // recorded 8 now
    } finally { spark.conf.set(widthKey, width); freshCaches(); drop() }
  }
}
