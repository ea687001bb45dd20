package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Registry sanity: the key registry is well formed (unique
  * names, one oracle per build, each key in its family's file), every
  * declared query runs at sf0.001, and the flagship entry returns rows. */
class EntrySpec extends SparkSpec {

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql and queries hold the same keys") {
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
  }

  test("key names are unique across all families") {
    // the Key list, not a Map: toMap would keep one of two equal names
    val dups = SparkEntry.keys.groupBy(_.name).collect { case (n, ks) if ks.size > 1 => n }
    assert(dups.isEmpty, s"declared more than once: $dups")
  }

  test("each key is declared in the file of its prefix's family") {
    val family = Map("t" -> "Temporal", "ts" -> "TimeSeries", "q" -> "Analytics",
      "d" -> "Dedup", "a" -> "Ann", "x" -> "Pipeline", "p" -> "Pipeline",
      "s" -> "Sketch", "m" -> "Multimodal")
    val dir = Paths.get("src/main/scala/graft/keys")
    val declared = Files.list(dir).iterator().asScala.toList
      .filter(_.toString.endsWith("Keys.scala")).flatMap { p =>
        val file = p.getFileName.toString.stripSuffix("Keys.scala")
        val text = new String(Files.readAllBytes(p), "UTF-8")
        """Key\("([a-z0-9_]+)"""".r.findAllMatchIn(text).map(m => m.group(1) -> file)
      }
    val misplaced = declared.filter { case (name, file) =>
      !family.get(name.takeWhile(_.isLetter)).contains(file)
    }
    assert(misplaced.isEmpty, s"keys outside their family file: $misplaced")
    assert(declared.map(_._1).sorted == SparkEntry.keys.map(_.name).sorted)
  }

  test("key subsets: an unknown name fails naming it, blank selects all, names are trimmed") {
    val e = intercept[IllegalArgumentException] {
      SparkEntry.selectKeys(Some("t1_asof_snapshot,t1_asof_snapsh0t"))
    }
    assert(e.getMessage.contains("t1_asof_snapsh0t") && !e.getMessage.contains("t1_asof_snapshot"))
    val all = SparkEntry.keys.map(_.name).sorted
    assert(all.size == 158)
    assert(SparkEntry.selectKeys(Some(" ")) == all && SparkEntry.selectKeys(None) == all)
    assert(SparkEntry.selectKeys(Some(" ts9_percentiles , q1_pricing_summary ")) ==
      Seq("q1_pricing_summary", "ts9_percentiles"))
  }

  test("every query runs at sf0.001 and has a stable schema") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      val n = df.count()
      assert(n >= 0, s"$name failed")
      assert(df.columns.distinct.length == df.columns.length,
        s"$name has duplicate column names")
    }
  }
}
