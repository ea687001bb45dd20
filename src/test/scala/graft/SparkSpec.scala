package graft

import org.apache.spark.sql.SparkSession
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, one session). */
object TestSession {
  lazy val spark: SparkSession = {
    val s = Session.local("4")
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark
  def sfDir: String = TestSession.sfDir

  /** `n` draws from a raw ScalaCheck generator, one fixed seed per
    * draw (`seed`, `seed + 1`, ...), so property cases are
    * deterministic. */
  def samples[T](g: Gen[T], n: Int, seed: Long = 1337L): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(seed + i)))

  /** Drop the index tables written for the corpus under `dir` (catalog
    * entries and warehouse files). Specs that build a corpus in a fresh
    * temp dir call it when done; otherwise every run leaves a new set
    * of tables in the warehouse. Clear the memos first. */
  def dropIndexTables(dir: String): Unit = {
    val prefix = graft.sources.IndexStore.tableName(dir, "")
    val catalog = spark.sessionState.catalog
    catalog.listTables(catalog.getCurrentDatabase, prefix + "*")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `${t.table}`"))
    val wh = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").replaceFirst("^file:", ""))
    Option(wh.listFiles).toSeq.flatten.filter(_.getName.startsWith(prefix))
      .foreach(f => scala.reflect.io.Directory(f).deleteRecursively())
  }
}
