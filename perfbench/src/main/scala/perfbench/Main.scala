package perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Benchmark process entry point; `run.py` builds and launches it.
  *
  *   perfbench.Main --workload vault_api|suite_sf001 --seed N --seconds S
  *                  --trace 0|1 --data DIR --work DIR --warehouse DIR
  *                  --refs FILE --cores N --out FILE [--soft-limit S]
  *   perfbench.Main --make-refs FILE --data DIR --work DIR --warehouse DIR --cores N
  *
  * Writes one JSON object to --out: the verdict, attempt and failure
  * counts, the named failures, and every metric with its unit and
  * sample count. After --soft-limit seconds from JVM start a run starts no
  * optional work, so a slow host shortens a run instead of stalling it.
  * Exits 0 once the result is written, 1 on any error. */
object Main {
  val SetupReps = 3
  val MinWarmPasses = 3
  /** A traced run traces its even warm passes (suite) or decks (vault)
    * and runs at least four: the first still pays warm-up and is left out
    * of the overhead comparison, and traced 2 and 4 around untraced 3 put
    * both sides at the same mean position, so drift cancels. */
  val MinTracedUnits = 4

  final case class M(value: Double, unit: String, n: Long)

  private var softLimitS = Double.PositiveInfinity
  /** Past the soft limit: start no further optional warm pass or deck. */
  def late: Boolean = {
    val upMs = System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    upMs / 1000.0 > softLimitS
  }

  /** Whether to start warm unit `n` (1-based) after `elapsedS` seconds of
    * warm work: the first always, then at least `min` and at least
    * `seconds` worth, unless the run is past its soft limit. */
  def moreWarm(n: Int, min: Int, elapsedS: Double, seconds: Double): Boolean =
    n == 1 || (!late && (n <= min || elapsedS < seconds))

  def main(argv: Array[String]): Unit = {
    // a failure must end the process (Spark's non-daemon threads would
    // otherwise keep it alive) and leave no result behind
    val code = try { run(argv); 0 } catch {
      case t: Throwable => t.printStackTrace(); 1
    }
    System.exit(code)
  }

  def run(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    a.get("soft-limit").foreach(v => softLimitS = v.toDouble)
    val env = Env(a("cores").toInt, a("work"), a("warehouse"))
    val data = a("data")
    if (a.contains("prepare")) Warehouse.ensure(env, data)
    else a.get("make-refs") match {
      case Some(out) => makeRefs(env, data, out)
      case None =>
        val workload = a("workload")
        val seed = a("seed").toLong
        val seconds = a("seconds").toDouble
        val traced = a("trace") == "1"
        val spans = Paths.get(a("spans"))
        val res = workload match {
          case "vault_api" => vault(env, seed, seconds, traced, spans)
          case "suite_sf001" => suite(env, data, Refs.read(a("refs")), seed, seconds, traced, spans)
          case other => sys.error(s"unknown workload $other")
        }
        Files.writeString(Paths.get(a("out")), res)
    }
    SparkSession.getActiveSession.foreach(_.stop())
  }

  /** The result document. */
  def result(attempted: Long, failures: Seq[String], metrics: Seq[(String, M)],
      extra: Seq[(String, String)]): String = Json.obj(Seq(
    "correct" -> (if (failures.isEmpty) "true" else "false"),
    "attempted" -> attempted.toString,
    "failed" -> failures.size.toString,
    "failures" -> Json.arr(failures.map(Json.str)),
    "metrics" -> Json.obj(metrics.map { case (k, m) =>
      k -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit),
        "n" -> m.n.toString)) })) ++ extra)

  private val stealAtStart = Env.stealTicks()

  def stamp(spark: SparkSession, env: Env, seed: Long): (String, String) = {
    val (steal, all) = Env.stealTicks()
    "env" -> Json.obj(Seq(
      "cores" -> env.cores.toString,
      // share of the machine's CPU time the host took during this run
      "steal_share" -> Json.num((steal - stealAtStart._1).toDouble / (all - stealAtStart._2).max(1L)),
      "heap_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString,
      "spark" -> Json.str(spark.version),
      "java" -> Json.str(System.getProperty("java.version")),
      "seed" -> seed.toString))
  }

  private def ms(s: Double): Double = s * 1000.0

  /** Per-layer metrics common to both workloads. */
  def jvmMetrics(): Seq[(String, M)] = Seq(
    "jvm.rss_peak_mb" -> M(Env.peakRssMb(), "MB", 1),
    "jvm.gc_s" -> M(Env.gcSeconds(), "s", 1),
    "jvm.heap_peak_mb" -> M(Env.heapPeakMb(), "MB", 1))

  // ---------------------------------------------------------------- vault

  def vault(env: Env, seed: Long, seconds: Double, traced: Boolean,
      spans: java.nio.file.Path): String = {
    // the model of the seeded log is harness work: built once, untimed
    val model = Vault.seedModel(seed)
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    var runner: Vault.Runner = null
    var spark: SparkSession = null
    var trace: Trace = null
    var meter: CpuMeter = null
    (1 to SetupReps).foreach { r =>
      if (spark != null) { trace.stop(); meter.stop(); spark.stop() }
      val root = s"${env.workDir}/vault$r"
      val t0 = System.nanoTime()
      spark = env.session()
      trace = new Trace(spark, traced)
      meter = new CpuMeter(spark)
      runner = new Vault.Runner(spark, trace, meter, root, seed, model)
      runner.setup()
      setupTimes += (System.nanoTime() - t0) / 1e9
    }
    HostRef.warmUp()
    // cold: one call of each API op, in a fixed order, in a fresh process
    Vault.Kinds.foreach(k => runner.run(k, cold = true))
    val storedBefore = runner.storedBytes()
    val userBefore = model.userBytes
    // warm: whole seed-shuffled decks until the time budget is spent; a
    // traced run traces the even decks (see MinTracedUnits)
    val minDecks = if (traced) MinTracedUnits else 1
    val start = System.nanoTime()
    var deckNo = 1
    var warmUp = Set.empty[Long]
    while (moreWarm(deckNo, minDecks, (System.nanoTime() - start) / 1e9, seconds)) {
      trace.record(deckNo % 2 == 0)
      val ops = runner.newDeck().map(k => runner.run(k, cold = false).op)
      if (deckNo == 1) warmUp = ops.toSet
      deckNo += 1
    }
    trace.record(traced)
    val res = runner.results.toSeq
    val warm = res.filter(r => !r.cold && r.ok)
    val writeAmp = (runner.storedBytes() - storedBefore).toDouble / (model.userBytes - userBefore)
    val e2e = vaultE2E(res, setupTimes.toSeq, runner.storedBytes().toDouble / model.userBytes,
      HostRef.median())
    val layers = if (!traced) Nil else vaultLayers(runner, trace, warm, warmUp, writeAmp)
    val out = result(res.size, runner.failures.toSeq, e2e ++ layers,
      Seq(stamp(spark, env, seed), "decks" -> (deckNo - 1).toString,
        "setup_reps_s" -> Json.arr(setupTimes.toSeq.map(Json.num)),
        "warm_ms_by_kind" -> Json.obj(Vault.Kinds.map(k =>
          k.name -> Json.arr(warm.filter(_.kind == k).map(r => Json.num(ms(r.totalS)))))),
        "warm_cpu_ms_by_kind" -> Json.obj(Vault.Kinds.map(k =>
          k.name -> Json.arr(warm.filter(_.kind == k).map(r => Json.num(ms(r.cpuS)))))),
        "cold_cpu_ms_by_kind" -> Json.obj(res.filter(_.cold).map(r => r.kind.name -> Json.num(ms(r.cpuS)))),
        "cache" -> Json.obj(runner.vault.cacheStats.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString })))
    trace.write(spans)
    trace.stop()
    out
  }

  /** End-to-end metrics of the vault run. Failed ops carry no timing:
    * they are left out of every latency and counted only as failures. */
  def vaultE2E(res: Seq[Vault.OpResult], setupTimes: Seq[Double],
      storedPerUserByte: Double, ref: (Double, Int)): Seq[(String, M)] = {
    val ok = res.filter(_.ok)
    val (cold, warm) = ok.partition(_.cold)
    Seq(
      "setup_s" -> M(Stats.median(setupTimes), "s", setupTimes.size),
      "stored_bytes_per_user_byte" -> M(storedPerUserByte, "ratio", 1)) ++
    // hits and misses differ tenfold in cost, so a per-kind median would
    // flip with the draw; the mean moves smoothly with it
    cpuMetrics(cold.map(_.cpuS).sum, cold.size, ms(warm.map(_.cpuS).sum / warm.size), warm.size, ref) ++ Seq(
      "wall.cold_s" -> M(cold.map(_.totalS).sum, "s", cold.size),
      "wall.ops_per_s" -> M(warm.size / warm.map(_.totalS).sum, "1/s", warm.size),
      "wall.op_p50_ms" -> M(ms(Stats.pct(warm.map(_.totalS), 50)), "ms", warm.size))
  }

  /** The CPU metrics of either workload: the cold phase's CPU time and a
    * warm op's, in multiples of the host reference ([[HostRef]]) measured
    * in the same run, and, per layer, the raw values and the reference. */
  def cpuMetrics(coldS: Double, coldN: Long, opMs: Double, opN: Long,
      ref: (Double, Int)): Seq[(String, M)] = Seq(
    "cold_cpu_refs" -> M(ms(coldS) / ref._1, "refs", coldN),
    "op_cpu_refs" -> M(opMs / ref._1, "refs", opN),
    "cpu.cold_s" -> M(coldS, "s", coldN),
    "cpu.op_ms" -> M(opMs, "ms", opN),
    "host.ref_ms" -> M(ref._1, "ms", ref._2))

  def vaultLayers(runner: Vault.Runner, trace: Trace, warm: Seq[Vault.OpResult],
      warmUp: Set[Long], writeAmp: Double): Seq[(String, M)] = {
    trace.drain()
    val byKind = Vault.Kinds.filter(_ != Vault.RbHistory)
    val perKind = byKind.flatMap { k =>
      val rs = warm.filter(_.kind == k)
      val ids = rs.map(_.op).toSet
      val jobs = trace.jobsOf(ids)
      val tracedN = rs.count(r => trace.tracedOps(r.op))
      def p50(f: Vault.OpResult => Double) = if (rs.isEmpty) 0.0 else ms(Stats.median(rs.map(f)))
      Seq(
        s"vault.${k.name}.p50_ms" -> M(p50(_.totalS), "ms", rs.size),
        s"vault.${k.name}.call_ms" -> M(p50(_.callS), "ms", rs.size),
        s"vault.${k.name}.fetch_ms" -> M(p50(_.fetchS), "ms", rs.size),
        s"vault.${k.name}.jobs" -> M(if (tracedN == 0) 0 else jobs.size.toDouble / tracedN, "count", tracedN))
    }
    val reads = warm.filter(r => Set[Vault.Kind](Vault.Query, Vault.Lookup, Vault.History, Vault.Compare)(r.kind))
    val readIds = reads.map(_.op).toSet
    val tracedReads = reads.count(r => trace.tracedOps(r.op))
    val resolve = trace.jobsOf(readIds, Some("call")).count(_.sqlId.isEmpty)
    val stats = runner.vault.cacheStats
    val hits = stats("hits").toDouble
    val lookups = hits + stats("misses")
    val stored = runner.storedBytes().toDouble
    val allJobs = trace.jobsOf(warm.map(_.op).toSet)
    val tracedAll = warm.count(r => trace.tracedOps(r.op))
    val shuffleMb = allJobs.flatMap(_.stages).map(s => s.shuffleWrite).sum / 1e6
    val compared = warm.filter(r => !warmUp(r.op))
    Seq(
      "vault.resolve_jobs" -> M(if (tracedReads == 0) 0 else resolve.toDouble / tracedReads, "count", tracedReads),
      "vault.cache_hit_ratio" -> M(if (lookups == 0) 0 else hits / lookups, "ratio", lookups.toLong),
      "vault.log_files" -> M(runner.logFiles().toDouble, "count", 1),
      "vault.bytes_written_mb" -> M(stored / 1e6, "MB", 1),
      "vault.write_amp" -> M(writeAmp, "ratio", 1),
      "vault.shuffle_mb" -> M(if (tracedAll == 0) 0 else shuffleMb / tracedAll, "MB", tracedAll),
      "trace.overhead_ratio" -> overhead(compared.map(r => (r.kind.name, r.totalS, trace.tracedOps(r.op))))
    ) ++ perKind ++ jvmMetrics()
  }

  /** Traced over untraced time, minus one, compared within each op kind
    * (or key) and pooled by median, so the mix cannot bias it. */
  def overhead(xs: Seq[(String, Double, Boolean)]): M = {
    val ratios = xs.groupBy(_._1).values.flatMap { g =>
      val (t, u) = g.partition(_._3)
      if (t.isEmpty || u.isEmpty) None
      else Some(Stats.median(t.map(_._2)) / Stats.median(u.map(_._2)) - 1.0)
    }.toSeq
    M(if (ratios.isEmpty) 0.0 else Stats.median(ratios), "ratio", ratios.size)
  }

  // ---------------------------------------------------------------- suite

  def suite(env: Env, data: String, refs: Map[String, Digest.Result], seed: Long,
      seconds: Double, traced: Boolean, spans: java.nio.file.Path): String = {
    val indexBuildS = Warehouse.ensure(env, data)
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    val primeTimes = mutable.ArrayBuffer.empty[Double]
    var primed = 0
    var spark: SparkSession = null
    (1 to SetupReps).foreach { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = env.session()
      val t1 = System.nanoTime()
      primed += graft.sources.IndexStore.primeIfMissing(spark, data).size
      val t2 = System.nanoTime()
      setupTimes += (t2 - t0) / 1e9
      primeTimes += (t2 - t1) / 1e9
    }
    // index bytes the engine keeps per byte of input tables, after priming
    val storedPerUserByte = Env.bytesUnder(env.warehouse).toDouble / Env.bytesUnder(data)
    val trace = new Trace(spark, traced)
    val all = graft.SparkEntry.queries
    val keys = Suite.Keys.sorted.map(k => k -> all(k))
    val runner = new Suite.Runner(spark, trace, new CpuMeter(spark), data, refs)
    HostRef.warmUp()
    keys.foreach { case (k, fn) => runner.runKey(k, fn, 0) }
    val rng = new scala.util.Random(seed)
    val start = System.nanoTime()
    var pass = 1
    // at least three warm passes, so each key's warm median has three
    // samples; a traced run traces the even passes (see MinTracedUnits)
    val minPasses = if (traced) MinTracedUnits else MinWarmPasses
    while (moreWarm(pass, minPasses, (System.nanoTime() - start) / 1e9, seconds)) {
      trace.record(pass % 2 == 0)
      rng.shuffle(keys).foreach { case (k, fn) => runner.runKey(k, fn, pass) }
      pass += 1
    }
    trace.record(traced)
    val res = runner.results.toSeq
    val cold = res.filter(_.pass == 0)
    val warmByKey = warmMedians(res)
    val warmCpuByKey = warmMedians(res, _.cpuS)
    val e2e = suiteE2E(res, setupTimes.toSeq, storedPerUserByte, HostRef.median())
    val layers = if (!traced) Nil else {
      val floor = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        // the suite-typical operating point: 8 state partitions
        graft.streaming.Streams.drainFloor(spark, data, stateRows = 8 * 65536L).collect()
        (System.nanoTime() - t0) / 1e9
      }
      suiteLayers(trace, env, res, indexBuildS, primeTimes.toSeq, primed) ++ Seq(
        "streaming.drain_floor_s" -> M(Stats.median(floor), "s", floor.size))
    }
    val out = result(res.size, runner.failures.toSeq, e2e ++ layers,
      Seq(stamp(spark, env, seed), "warm_passes" -> (pass - 1).toString,
        "setup_reps_s" -> Json.arr(setupTimes.toSeq.map(Json.num)),
        "keys_ms" -> Json.obj(keys.map { case (k, _) =>
          k -> Json.arr(Seq(cold.find(_.key == k).filter(_.ok).map(r => ms(r.totalS)).getOrElse(Double.NaN),
            warmByKey.get(k).map(ms).getOrElse(Double.NaN)).map(Json.num)) }),
        "keys_cpu_ms" -> Json.obj(keys.map { case (k, _) =>
          k -> Json.arr(Seq(cold.find(_.key == k).filter(_.ok).map(r => ms(r.cpuS)).getOrElse(Double.NaN),
            warmCpuByKey.get(k).map(ms).getOrElse(Double.NaN)).map(Json.num)) })))
    trace.write(spans)
    trace.stop()
    out
  }

  /** Each key's median warm latency, over the passes it succeeded in. */
  def warmMedians(res: Seq[Suite.KeyResult],
      f: Suite.KeyResult => Double = _.totalS): Map[String, Double] =
    res.filter(r => r.pass > 0 && r.ok).groupBy(_.key)
      .map { case (k, rs) => k -> Stats.median(rs.map(f)) }

  /** End-to-end metrics of the suite run; failed keys carry no timing. */
  def suiteE2E(res: Seq[Suite.KeyResult], setupTimes: Seq[Double],
      storedPerUserByte: Double, ref: (Double, Int)): Seq[(String, M)] = {
    val cold = res.filter(r => r.pass == 0 && r.ok)
    val warm = res.filter(r => r.pass > 0 && r.ok)
    val byKey = warmMedians(res).values.toSeq
    val cpuByKey = warmMedians(res, _.cpuS).values.toSeq
    // keys differ 20-fold in cost, so a plain sum would be one key's
    // noise; the geometric mean weighs every key's change alike
    def geoMean(xs: Seq[Double]) = math.exp(xs.map(math.log).sum / xs.size)
    Seq(
      "setup_s" -> M(Stats.median(setupTimes), "s", setupTimes.size),
      "stored_bytes_per_user_byte" -> M(storedPerUserByte, "ratio", 1)) ++
    cpuMetrics(cold.map(_.cpuS).sum, cold.size, ms(geoMean(cpuByKey)), warm.size, ref) ++ Seq(
      "wall.cold_s" -> M(cold.map(_.totalS).sum, "s", cold.size),
      "wall.ops_per_s" -> M(1.0 / geoMean(byKey), "1/s", warm.size),
      "wall.op_p50_ms" -> M(ms(Stats.pct(byKey, 50)), "ms", byKey.size))
  }

  def suiteLayers(trace: Trace, env: Env, res: Seq[Suite.KeyResult], indexBuildS: Double,
      primeTimes: Seq[Double], primed: Int): Seq[(String, M)] = {
    trace.drain()
    val cold = res.filter(_.pass == 0)
    val warmT = res.filter(r => r.pass > 0 && r.traced)
    val warmPasses = warmT.map(_.pass).distinct.size.max(1)
    def perPass(rs: Seq[Suite.KeyResult], n: Int, f: Suite.KeyResult => Double) = rs.map(f).sum / n
    def phaseMetrics(tag: String, rs: Seq[Suite.KeyResult], n: Int): Seq[(String, M)] = {
      val ids = rs.map(_.op).toSet
      val resolve = trace.jobsOf(ids, Some("build")).filter(_.sqlId.isEmpty)
      val eager = trace.execsOf(ids, "build")
      Seq(
        s"sources.resolve_jobs.$tag" -> M(resolve.size.toDouble / n, "count", n),
        s"sources.resolve_s.$tag" -> M(resolve.map(j => j.end - j.start).sum / 1000.0 / n, "s", n),
        s"entry.build_s.$tag" -> M(perPass(rs, n, _.buildS), "s", n),
        s"entry.eager_execs.$tag" -> M(eager.size.toDouble / n, "count", n),
        s"entry.eager_s.$tag" -> M(eager.map(x => x.end - x.start).sum / 1000.0 / n, "s", n),
        s"plans.plan_s.$tag" -> M(perPass(rs, n, _.planS), "s", n),
        s"exec.s.$tag" -> M(perPass(rs, n, _.execS), "s", n)) ++
        Suite.Modules.map(m => s"$m.${tag}_s" ->
          M(perPass(rs.filter(r => Suite.module(r.key) == m), n, _.totalS), "s", n))
    }
    val warmIds = warmT.map(_.op).toSet
    val execJobs = trace.jobsOf(warmIds, Some("exec"))
    val stages = execJobs.flatMap(_.stages)
    val execWall = warmT.map(_.execS).sum
    val n = warmPasses
    Seq(
      "sources.index_build_s" -> M(indexBuildS, "s", 1),
      "sources.index_prime_s" -> M(Stats.median(primeTimes), "s", primeTimes.size),
      "sources.index_primed_tables" -> M(primed.toDouble, "count", primeTimes.size)
    ) ++ phaseMetrics("cold", cold, 1) ++ phaseMetrics("warm", warmT, n) ++ Seq(
      "exec.jobs.warm" -> M(execJobs.size.toDouble / n, "count", n),
      "exec.stages.warm" -> M(stages.size.toDouble / n, "count", n),
      "exec.tasks.warm" -> M(execJobs.map(_.tasks).sum.toDouble / n, "count", n),
      "exec.task_busy_ratio.warm" -> M(
        if (execWall == 0) 0 else execJobs.map(_.taskRunMs).sum / 1000.0 / (execWall * env.cores),
        "ratio", n),
      "exec.task_wait_s.warm" -> M(execJobs.map(_.taskWaitMs).sum / 1000.0 / n, "s", n),
      "exec.shuffle_write_mb.warm" -> M(stages.map(_.shuffleWrite).sum / 1e6 / n, "MB", n),
      "exec.shuffle_read_mb.warm" -> M(stages.map(_.shuffleRead).sum / 1e6 / n, "MB", n),
      "exec.spill_mb.warm" -> M(stages.map(_.spill).sum / 1e6 / n, "MB", n),
      "exec.input_mb.warm" -> M(stages.map(_.input).sum / 1e6 / n, "MB", n),
      "exec.gc_s.warm" -> M(stages.map(_.gcMs).sum / 1000.0 / n, "s", n),
      "trace.overhead_ratio" -> overhead(res.filter(r => r.pass > 1 && r.ok)
        .map(r => (r.key, r.totalS, r.traced)))
    ) ++ jvmMetrics()
  }

  // ---------------------------------------------------------------- refs

  /** Digest every key once (untimed) and write the reference file. Only
    * meaningful for a tree whose answers the DuckDB oracle has passed. */
  def makeRefs(env: Env, data: String, out: String): Unit = {
    Warehouse.ensure(env, data)
    val spark = env.session()
    graft.sources.IndexStore.primeIfMissing(spark, data)
    val keys = graft.SparkEntry.queries.toSeq.sortBy(_._1)
    val lines = keys.map { case (k, fn) =>
      val d = Digest.of(fn(spark, data))
      s"""  ${Json.str(k)}: {"rows": ${d.rows}, "digest": ${Json.str(d.digest)}}"""
    }
    Files.writeString(Paths.get(out), lines.mkString("{\n", ",\n", "\n}\n"))
  }
}

/** The benchmark-owned index warehouse: built once per checkout, before
  * any measured run, and reused after (the build time is kept beside it). */
object Warehouse {
  def ensure(env: Env, data: String): Double = {
    val marker = Paths.get(env.warehouse, "perfbench-built.txt")
    if (Files.exists(marker)) Files.readString(marker).trim.toDouble
    else {
      val t0 = System.nanoTime()
      val spark = env.session()
      graft.sources.IndexStore.primeIfMissing(spark, data)
      spark.stop()
      val s = (System.nanoTime() - t0) / 1e9
      Files.createDirectories(marker.getParent)
      Files.writeString(marker, s.toString)
      s
    }
  }
}

/** Reference answers: `{"key": {"rows": n, "digest": "hex"}, ...}`. */
object Refs {
  private val Entry = """"([^"]+)"\s*:\s*\{\s*"rows"\s*:\s*(\d+)\s*,\s*"digest"\s*:\s*"([0-9a-f]+)"\s*\}""".r
  def read(path: String): Map[String, Digest.Result] =
    Entry.findAllMatchIn(Files.readString(Paths.get(path)))
      .map(m => m.group(1) -> Digest.Result(m.group(2).toLong, m.group(3))).toMap
}
