package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Durable, BUCKETED storage for the corpus-level index artifacts —
  * the "index construction vs search" split FAISS ships as write_index
  * / read_index, realized as Spark bucketed tables. Each artifact is
  * declared ONCE, next to its builder, as an [[IndexStore.Artifact]]
  * (name with every parameter stamped in, bucket key, builder); the
  * standard set a corpus is primed with is [[IndexStore.standard]].
  * Every artifact is read through [[IndexStore.get]].
  *
  * The bucket keys are each artifact's probe/join key, so a search
  * session gets the two properties the at-scale claims assume
  * (Ann.scala probedCellsHier / ivfPqCodes docs): (a) a probe's
  * `cell IN (...)` / `g_grp IN (...)` filter prunes to the probed
  * BUCKETS at the scan ("SelectedBucketsCount: k out of n" in the
  * plan — spec-checked), and (b) joins/aggregations on the bucket key
  * read pre-partitioned data with no Exchange. And no new session
  * ever pays the index build again — [[get]] loads these tables when
  * [[enabled]].
  *
  * Activation: ON BY DEFAULT — [[get]] loads any artifact whose
  * manifest exists and whose corpus fingerprint still matches
  * (GRAFT_INDEX_TABLES=0/off forces build mode; "1" stays accepted and
  * means the same as unset), and on a miss builds it and writes it
  * through. Bench/Verify prime a corpus on first touch via
  * [[primeIfMissing]], so the first session pays the build+write once
  * and every later session loads. Staleness is two-axis: PARAMETER
  * changes (shingle n, minhash perms/bands, τ, ...; coarse-cell k1/k2
  * re-derive deterministically from the parquet footer row count)
  * ride in the table NAME, and corpus CONTENT changes invalidate the
  * manifest's source fingerprint — either way a stale table is
  * rebuilt, never silently served, and never patched in place: a
  * table is written whole by [[write]], the one bucketed writer
  * (SourceGateSpec keeps it so). Storage is the session warehouse
  * dir (spark-warehouse + embedded metastore by default; a deployment
  * points spark.sql.warehouse.dir at the object store). */
object IndexStore {
  val EnvFlag = "GRAFT_INDEX_TABLES"

  /** Load-from-tables mode: ON unless explicitly disabled
    * (GRAFT_INDEX_TABLES=0/off/false; system property first — tests —
    * env second). Writes via [[write]] work regardless of the flag's
    * value; only loading and [[primeIfMissing]] are gated. */
  def enabled: Boolean =
    !sys.props.get(EnvFlag).orElse(sys.env.get(EnvFlag))
      .exists(v => v == "0" || v.equalsIgnoreCase("off") ||
        v.equalsIgnoreCase("false"))

  /** Bucket count for written index tables. Joins/aggregations on the
    * bucket key inherit the table's bucket count as their parallelism
    * (bucketed scans are never AQE-split), so this must match the
    * compute width: a fixed 8 capped every loaded-index join at
    * 8 tasks on the 32-thread box — measured 4x on d11's pair join at
    * sf1 (34.5s loaded vs 8.3s built; 34.5 ≈ 8.3 · 32/8). Default =
    * the WRITING session's shuffle-partition width (Session.local's
    * width for every main — so the count tracks the box, 32 there,
    * 3 at the CPUS3 gate, hundreds on a cluster: the same sizing rule
    * as shuffle partitions). Already-written tables keep their
    * recorded bucket spec until re-primed. */
  def buckets(spark: SparkSession): Int =
    spark.conf.get("spark.sql.shuffle.partitions", "32").toInt

  /** Deterministic per-(corpus dir, artifact) table name: dir basename
    * for readability + full-path hash for uniqueness. */
  def tableName(dir: String, artifact: String): String = {
    val base = dir.replaceAll("/+$", "").split('/').last
      .toLowerCase(java.util.Locale.ROOT).replaceAll("[^a-z0-9]", "_")
    val h = Integer.toHexString(
      java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).take(4)
        .foldLeft(0)((a, b) => (a << 8) | (b & 0xff)))
    s"graft_idx_${base}_${h}__$artifact"
  }

  private def location(spark: SparkSession, name: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"), name)

  private def manifestPath(spark: SparkSession, name: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(location(spark, name), "_graft_index_meta.json")

  /** Corpus-content fingerprint for staleness detection: per source
    * table every index artifact derives from (documents, embeddings),
    * the data-file count and total bytes under `<dir>/<table>.parquet`
    * (file or spark-written directory). A regenerated corpus with
    * different content virtually never keeps identical compressed
    * parquet lengths, so the manifest check fails and the artifact is
    * REBUILT — never silently served stale. mtimes are deliberately
    * excluded: deterministic regeneration of identical bytes stays
    * valid (the driver re-materializes testdata per round). */
  private[graft] def corpusFingerprint(spark: SparkSession, dir: String): String = {
    val conf = spark.sessionState.newHadoopConf()
    def one(table: String): String = {
      val p = new org.apache.hadoop.fs.Path(dir, table + ".parquet")
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) s"$table:absent"
      else {
        val it = fs.listFiles(p, true)
        var n = 0L
        var bytes = 0L
        while (it.hasNext) {
          val f = it.next()
          val base = f.getPath.getName
          if (!base.startsWith("_") && !base.startsWith(".")) {
            n += 1; bytes += f.getLen
          }
        }
        s"$table:$n:$bytes"
      }
    }
    Seq("documents", "embeddings").map(one).mkString(";")
  }

  /** Catalog registration does NOT survive the JVM (the default
    * in-memory catalog; no Hive metastore dependency here), but the
    * bucketed FILES do — each write drops a `_graft_index_meta.json`
    * manifest (underscore prefix: invisible to Spark's file listing)
    * carrying schema + bucket spec, and a later session re-registers
    * the table with CREATE TABLE ... CLUSTERED BY ... LOCATION before
    * first use. That is what makes the index durable across sessions,
    * not merely across queries.
    *
    * A table already registered passes the same freshness check, so a
    * corpus rewritten in place mid-session is never served the index
    * registered before the rewrite: a stale registration is dropped
    * (EXTERNAL table — the files stay, and the getter rewrites them). */
  private def registerIfNeeded(spark: SparkSession, name: String,
                               dir: String): Boolean = {
    val registered = spark.catalog.tableExists(name)
    def stale(): Boolean = {
      if (registered) spark.sql(s"DROP TABLE IF EXISTS `$name`")
      false
    }
    val mp = manifestPath(spark, name)
    val fs = mp.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(mp)) return stale()
    val in = fs.open(mp)
    val manifest =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    // manifest layout: line 1 schema JSON, line 2 "bucketKey,buckets",
    // line 3 corpus fingerprint. A 2-line (pre-r14) manifest carries no
    // fingerprint and is treated as stale — rebuilt, never trusted.
    val parts = manifest.split("\n", 3)
    if (parts.length < 3) return stale()
    if (parts(2).trim != corpusFingerprint(spark, dir)) return stale()
    // width-staleness (ADVICE r15): a bucketed artifact primed by a
    // low-parallelism session (e.g. the CPUS=3 gate writing 3 buckets)
    // would cap every later wide session's loaded-index joins at the
    // writer's width — bucketed scans are never AQE-split. Treat a
    // GROSS mismatch (recorded < 1/4 of this session's write width) as
    // stale: the getter rebuilds and re-primes at the current width.
    // The reverse (wide table, narrow reader) stays valid.
    parts(1).trim.split(",") match {
      case Array(_, b) if b.nonEmpty && b.forall(_.isDigit) &&
          b.toInt * 4 < buckets(spark) =>
        System.err.println(s"[indexstore] $name recorded ${b.toInt} buckets " +
          s"<< session width ${buckets(spark)} — treating as stale, will re-prime")
        return stale()
      case _ =>
    }
    if (registered) return true
    val schema = org.apache.spark.sql.types.DataType.fromJson(parts(0))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val cluster = parts(1).trim match {
      case "" => ""
      case s =>
        val Array(k, b) = s.split(",")
        s"CLUSTERED BY ($k) SORTED BY ($k) INTO $b BUCKETS"
    }
    spark.sql(
      s"""CREATE TABLE $name (${schema.toDDL}) USING PARQUET $cluster
         |LOCATION '${location(spark, name)}'""".stripMargin)
    true
  }

  def exists(spark: SparkSession, dir: String, artifact: String): Boolean =
    registerIfNeeded(spark, tableName(dir, artifact), dir)

  def load(spark: SparkSession, dir: String, artifact: String): DataFrame = {
    val name = tableName(dir, artifact)
    registerIfNeeded(spark, name, dir)
    spark.table(name)
  }

  /** One durable index artifact: its table `name` (every build
    * parameter stamped in — a different parameterization is a
    * different table, never a silently reused one), the bucket key its
    * table is written with (None: small plain table), and the builder
    * that derives it from a corpus dir. Equality is the first parameter
    * list only. */
  final case class Artifact(name: String, bucketKey: Option[String])(
      val build: (SparkSession, String) => DataFrame)

  private val memo = graft.util.SessionCache.forDf[(String, String)]

  /** The ONE getter for every artifact, memoized per (session, dir,
    * name). When [[enabled]], a missing or stale table is first built
    * and written through (a failed write degrades to session-only with
    * a stderr note, never fails the query), and the stored table is
    * then loaded. In build mode the artifact is built and never
    * written. The write takes the UNPERSISTED build, so the write's
    * tasks follow the build's own (AQE-coalesced) partitioning: a
    * persisted frame keeps the full shuffle width and writes one file
    * per task per bucket (measured at sf0.01 on 4 shuffle partitions:
    * 16 files instead of 4 for each small pair table). The write only
    * happens on a MISS, so the build can't be backed by the table it
    * writes.
    *
    * The frame served is persisted MEMORY_AND_DISK. The loaded arm
    * first shipped UNPERSISTED on the theory that the bucketed files
    * are the cache and caching would hide their partitioning from the
    * planner — true, but the measured trade flips hard at scale: warm
    * multi-scan consumers (x16's adaptive router, d4's pair join, d11's
    * two pair legs) re-read bucketed parquet on every scan, and the sf1
    * bench read 202s/150 in load mode vs ~89s/131 warm-RAM build mode.
    * Cold first touch reads the parquet once either way — INDEX_AB's
    * cold-load win stands. Direct [[load]] reads (IndexStoreSpec's
    * bucket pruning) stay unpersisted and keep the bucketed scan.
    *
    * A width- or fingerprint-stale manifest reads as a miss, so the
    * getter rebuilds and re-primes it at the current width. */
  def get(spark: SparkSession, dir: String, a: Artifact): DataFrame =
    memo.getOrBuild(spark, (dir, a.name)) {
      if (enabled && !exists(spark, dir, a.name)) {
        try write(a.build(spark, dir), dir, a.name, a.bucketKey)
        catch { case scala.util.control.NonFatal(e) => System.err.println(
          s"[indexstore] write-through of ${a.name} failed (session-cached only): ${e.getMessage}")
        }
      }
      val df =
        if (enabled && exists(spark, dir, a.name)) load(spark, dir, a.name)
        else a.build(spark, dir)
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** The memoized frame iff this session already holds it — never
    * loads or builds. */
  def peek(spark: SparkSession, dir: String, a: Artifact): Option[DataFrame] =
    memo.peek(spark, (dir, a.name))

  private[graft] def write(df: DataFrame, dir: String, artifact: String,
                           bucketKey: Option[String]): String = {
    val name = tableName(dir, artifact)
    val spark = df.sparkSession
    // an ORPHANED location (files from a previous process, metadata
    // gone with the in-memory catalog) fails saveAsTable with
    // locationAlreadyExists — Overwrite only replaces tables the
    // catalog knows about. Clear it; a catalog-known table is left to
    // the Overwrite path.
    if (!spark.catalog.tableExists(name)) {
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), name)
      val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(loc)) fs.delete(loc, true)
    }
    // EXTERNAL table (explicit path): dropping the catalog entry —
    // including implicitly, when a fresh JVM's in-memory catalog
    // simply doesn't have it — never deletes the index files, and
    // registerIfNeeded re-attaches them
    val w = df.write.mode(SaveMode.Overwrite).format("parquet")
      .option("path", location(spark, name).toString)
    bucketKey match {
      case Some(k) => w.bucketBy(buckets(spark), k).sortBy(k).saveAsTable(name)
      case None    => w.saveAsTable(name)
    }
    // cross-session manifest (see registerIfNeeded)
    val mp = manifestPath(spark, name)
    val fs = mp.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(mp, true)
    try out.write(
      (df.schema.json + "\n" + bucketKey.map(k => s"$k,${buckets(spark)}").getOrElse("") +
        "\n" + corpusFingerprint(spark, dir))
        .getBytes("UTF-8"))
    finally out.close()
    name
  }

  /** The standard artifact set every corpus is primed with, in
    * DEPENDENCY order: a later builder reads earlier artifacts through
    * [[get]] (doclengths reads docwordtf, pqcodes reads centroids,
    * dsirdoc reads dsirfeats, ...). The parameterized entries are the
    * parameterizations the committed keys consume (each declaration's
    * defaults); any other parameterization still self-primes through
    * [[get]]. Renaming an entry orphans every primed warehouse —
    * IndexStoreSpec pins the names. */
  def standard: Seq[Artifact] = {
    import graft.ann.{CellIndexCache => V}
    import graft.dedup.{ClusterCache => T}
    Seq(V.cellsArtifact, V.centroidsArtifact, V.groupCentroidsArtifact,
      V.pqCodebookArtifact, V.pqCodesArtifact, V.rawPqCodebookArtifact,
      V.rawPqCodesArtifact, V.pairsArtifact,
      T.postingsArtifact(), T.shingleDfArtifact(), T.minhashArtifact(),
      T.clustersArtifact(), T.docWordTfArtifact,
      graft.multimodal.ChunkCache.chunksArtifact(), T.docLengthsArtifact,
      T.jaccardPairsArtifact(), T.containmentPairsArtifact(),
      T.winnowPairsArtifact(), V.semanticClustersArtifact(),
      T.dsirFeatsArtifact(), T.dsirDocStatsArtifact(),
      V.kmeansCentroidsArtifact())
  }

  /** First-touch priming (the Bench/Verify session-start hook): write
    * ONLY the standard artifacts whose durable table is missing or
    * stale — present ones are skipped (their getters may already be
    * serving the loaded table, which is also why overwriting them from
    * here would be a read-from-self). [[get]] writes a missing artifact
    * through; one this session had already memoized before its table
    * went missing is written here. No-op in build mode. Returns the
    * written table names. */
  def primeIfMissing(spark: SparkSession, dir: String): Seq[String] =
    if (!enabled) Nil
    else standard.filterNot(a => exists(spark, dir, a.name)).map { a =>
      val df = get(spark, dir, a)
      if (exists(spark, dir, a.name)) tableName(dir, a.name)
      else write(df, dir, a.name, a.bucketKey)
    }
}
