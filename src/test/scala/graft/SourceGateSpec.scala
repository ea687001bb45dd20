package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Source-tree gates that keep removed structure from growing back:
  * one session builder and one session width, a fixed set of mains,
  * single-partition windows only behind util/BoundedWindows, and one
  * table writer. Plus the
  * session policy that builder holds, checked on a live session. */
class SourceGateSpec extends SparkSpec {

  private val root = Paths.get("src/main/scala")

  private lazy val sources: Seq[(String, String)] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .map(p => (root.relativize(p).toString,
        new String(Files.readAllBytes(p), "UTF-8")))
      .toList
    finally walk.close()
  }

  private def filesContaining(needle: String): Set[String] =
    sources.collect { case (f, text) if text.contains(needle) => f }.toSet

  test("SparkSession.builder appears only in graft/Session.scala") {
    assert(filesContaining("SparkSession.builder") == Set("graft/Session.scala"))
  }

  test("the mains are exactly the five entry points") {
    val mains = Set("Bench", "Verify", "Explain", "GenData", "VaultDemo")
      .map(n => s"graft/$n.scala")
    assert(filesContaining("def main(") == mains)
  }

  test("SPARK_GRAFT_CPUS is read only in graft/Session.scala") {
    assert(filesContaining("SPARK_GRAFT_CPUS") == Set("graft/Session.scala"))
  }

  test("Window.partitionBy() appears only in util/BoundedWindows") {
    assert(filesContaining("Window.partitionBy()") ==
      Set("graft/util/BoundedWindows.scala"))
  }

  test("tables are written only by IndexStore.write") {
    Seq("saveAsTable(", "insertInto(", "bucketBy(").foreach { call =>
      assert(filesContaining(call).subsetOf(Set("graft/sources/IndexStore.scala")), call)
    }
  }

  test("Session.local carries the session policy") {
    // getOrCreate hands back the suites' shared session with the
    // runtime settings applied, so put its width back afterwards
    val width = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      val s = Session.local("2")
      assert(s.conf.get("spark.sql.shuffle.partitions") == "2")
      assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
      assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
      assert(s.conf.get("spark.sql.adaptive.enabled") == "true")
      assert(s.sql("SELECT word_shingles('a b c', 2) AS sh")
        .head().getSeq[String](0).nonEmpty)
    } finally spark.conf.set("spark.sql.shuffle.partitions", width)
  }
}
