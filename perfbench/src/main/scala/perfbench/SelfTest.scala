package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Checks the benchmark's failure accounting: a key that throws, a key
  * with a wrong answer and a vault read that disagrees with the model must
  * each be counted as failed, named, and left out of every timing.
  *
  *   perfbench.SelfTest --work DIR --warehouse DIR --cores N
  *
  * Exits 0 when every check holds, 1 otherwise. */
object SelfTest {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val env = Env(a("cores").toInt, a("work"), a("warehouse"))
    val spark = env.session()
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    def check(ok: Boolean, what: String): Unit = if (!ok) problems += what
    try {
      suite(spark, check)
      vault(spark, env, check)
    } finally spark.stop()
    if (problems.isEmpty) println("perfbench self-test: PASS")
    else {
      problems.foreach(p => println(s"perfbench self-test: FAIL $p"))
      sys.exit(1)
    }
  }

  /** The metrics built from per-key or per-op timings. */
  private def timed(m: Map[String, Main.M]): Map[String, Main.M] =
    m.filter { case (k, _) => k != "setup_s" && k != "stored_bytes_per_user_byte" }

  private def suite(spark: SparkSession, check: (Boolean, String) => Unit): Unit = {
    val good: (SparkSession, String) => DataFrame = (s, _) => s.range(3).toDF("id")
    val keys = Seq[(String, (SparkSession, String) => DataFrame)](
      "good" -> good,
      "boom" -> ((_, _) => throw new IllegalStateException("injected failure")),
      "wrong" -> ((s, _) => s.range(4).toDF("id")))
    val want = Digest.of(good(spark, ""))
    val runner = new Suite.Runner(spark, new Trace(spark, false), new CpuMeter(spark), "",
      Map("good" -> want, "boom" -> want, "wrong" -> want))
    (0 to 1).foreach(pass => keys.foreach { case (k, fn) => runner.runKey(k, fn, pass) })
    val res = runner.results.toSeq
    val m = Main.suiteE2E(res, Seq(1.0), 1.0, (1.0, 1)).toMap
    check(runner.failures.size == 4, s"suite: 4 failures expected, got ${runner.failures}")
    check(runner.failures.count(_.startsWith("boom")) == 2, "suite: the throwing key is not named")
    check(runner.failures.count(f => f.startsWith("wrong") && f.contains("wrong answer")) == 2,
      "suite: the wrong answer is not named")
    check(timed(m).forall(_._2.n == 1), s"suite: failed keys were timed: $m")
    check(Main.warmMedians(res).keySet == Set("good"), "suite: failed keys have warm timings")
  }

  private def vault(spark: SparkSession, env: Env, check: (Boolean, String) => Unit): Unit = {
    val runner = new Vault.Runner(spark, new Trace(spark, false), new CpuMeter(spark),
      s"${env.workDir}/selftest-vault", 1L, Vault.seedModel(1L))
    runner.setup()
    check(runner.run(Vault.Query, cold = false).ok, "vault: a correct read was counted as failed")
    // the model forgets one record: the engine's next full-state read disagrees
    runner.model.chains.remove(Vault.rid(0))
    val bad = runner.run(Vault.Query, cold = false)
    check(!bad.ok, "vault: a wrong answer was accepted")
    check(runner.failures.size == 1 && runner.failures.head.startsWith("query#"),
      s"vault: the wrong answer is not named: ${runner.failures}")
    val m = Main.vaultE2E(runner.results.toSeq, Seq(1.0), 1.0, (1.0, 1)).toMap
    val warm = Set("op_cpu_refs", "cpu.op_ms", "wall.ops_per_s", "wall.op_p50_ms")
    check(m.filter(x => warm(x._1)).forall(_._2.n == 1), s"vault: the failed op was timed: $m")
  }
}
