package graft

import java.nio.file.{Files, Paths}
import org.apache.xbean.asm9.{ClassReader, ClassVisitor, Handle, MethodVisitor, Opcodes, Type}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Source-tree gates that keep removed structure from growing back:
  * one session builder and one session width, a fixed set of mains and
  * none in src/test, a fixed set of environment switches,
  * single-partition windows only behind util/BoundedWindows, one table
  * writer, a vault that reads only through its commit log, and no
  * public method of a graft object or plain class
  * (today TemporalVault, SessionCache, GraftExtensions) that src/main
  * never calls. Plus the session policy that builder holds, checked on
  * a live session. */
class SourceGateSpec extends SparkSpec {

  private def scalaSources(root: java.nio.file.Path): Seq[(String, String)] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .map(p => (root.relativize(p).toString,
        new String(Files.readAllBytes(p), "UTF-8")))
      .toList
    finally walk.close()
  }

  private lazy val sources = scalaSources(Paths.get("src/main/scala"))

  /** src/test without this file, whose needles would match themselves. */
  private lazy val testSources = scalaSources(Paths.get("src/test/scala"))
    .filterNot(_._1 == "graft/SourceGateSpec.scala")

  private def filesContaining(needle: String,
                              in: Seq[(String, String)] = sources): Set[String] =
    in.collect { case (f, text) if text.contains(needle) => f }.toSet

  test("SparkSession.builder appears only in graft/Session.scala") {
    assert(filesContaining("SparkSession.builder") == Set("graft/Session.scala"))
    assert(filesContaining("SparkSession.builder", testSources).isEmpty)
  }

  test("the mains are exactly the five entry points") {
    val mains = Set("Bench", "Verify", "Explain", "GenData", "VaultDemo")
      .map(n => s"graft/$n.scala")
    assert(filesContaining("def main(") == mains)
    assert(filesContaining("def main(", testSources).isEmpty)
  }

  test("src/main reads exactly the eight environment switches") {
    val switches = Set("SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS",
      "GRAFT_BENCH_REPS", "GRAFT_BENCH_OUT", "GRAFT_BENCH_ONLY", "GRAFT_BENCH_RUNS",
      "GRAFT_VERIFY_ONLY", "GRAFT_INDEX_TABLES")
    val quoted = "\"((?:SPARK_)?GRAFT_[A-Z0-9_]+)".r
    val found = sources.flatMap { case (_, text) =>
      quoted.findAllMatchIn(text).map(_.group(1)) }.toSet
    if (found != switches)
      fail(s"unlisted: ${(found -- switches).toSeq.sorted.mkString(", ")}; " +
        s"listed but not read: ${(switches -- found).toSeq.sorted.mkString(", ")}")
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

  test("TemporalVault builds every relation from its commit log") {
    val vault = sources.collectFirst { case ("graft/temporal/TemporalVault.scala", text) => text }
      .getOrElse(fail("no graft/temporal/TemporalVault.scala"))
    val found = Seq("spark.read", "listStatus", "listFiles", ".persist(", "getFileSystem")
      .filter(vault.contains)
    assert(found.isEmpty)
    // the one existence check is the probe for the next commit file
    assert("exists\\(".r.findAllMatchIn(vault).size == 1)
    assert(vault.contains("while (Files.exists(next))"))
  }

  /** The methods of a graft object that src/main is allowed not to
    * call, each with the reason it stays. */
  private val unreachedAllowed: Map[String, String] = Map(
    "SparkEntry.entry(SparkSession)" -> "the driver's entry contract",
    "Metrics.registerSource(SparkSession)" -> "the reference's /metrics API",
    "Metrics.snapshot()" -> "the reference's /metrics API",
    "SessionCache.clearAll()" -> "test reset of the private memo registry")

  /** The methods of a graft class that src/main is allowed not to
    * call, each with the reason it stays. */
  private val unreachedClassAllowed: Map[String, String] = Map(
    "TemporalVault.queryCached(String)" -> "perfbench's vault_api deck",
    "TemporalVault.query(String,String)" -> "perfbench's vault_api deck",
    "TemporalVault.cacheStats()" -> "perfbench's vault_api deck",
    "TemporalVault.queryAt(String,String)" -> "a façade affordance (PAPER §1)",
    "TemporalVault.versionsAsOf(String)" -> "a façade affordance (PAPER §1)",
    "TemporalVault.rollbackHistory(int)" -> "the reference endpoint's `limit` paging")

  /** Public methods that no compiled main class calls, as
    * `Owner.method(ParamTypes)`: first those of graft objects (module
    * classes `X$`), then those of graft classes that are neither
    * modules nor case classes (instance methods only; a class's static
    * methods are its companion's forwarders). Callers are the method
    * instructions and invokedynamic handles of every main class, so a
    * colliding name or a string literal hides nothing; a companion's
    * static forwarders are not callers. Skipped: names with `$`,
    * constructors, `apply`/`unapply`, `main`, overrides. */
  private lazy val (unreachedObjectMethods, unreachedClassMethods): (Set[String], Set[String]) = {
    val classesDir =
      Paths.get(SparkEntry.getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    val defined = mutable.Map.empty[(String, String, String), (Boolean, String)]
    val called = mutable.Set.empty[(String, String, String)]
    val loader = getClass.getClassLoader
    def isOverride(owner: String, name: String, desc: String): Boolean = {
      val cls = Class.forName(owner.replace('/', '.'), false, loader)
      def declares(c: Class[_]): Boolean = c != null && (
        c.getDeclaredMethods.exists(m =>
          m.getName == name && Type.getMethodDescriptor(m) == desc) ||
          declares(c.getSuperclass) || c.getInterfaces.exists(declares))
      declares(cls.getSuperclass) || cls.getInterfaces.exists(declares)
    }
    val walk = Files.walk(classesDir)
    val classFiles =
      try walk.iterator().asScala.filter(_.toString.endsWith(".class")).toList
      finally walk.close()
    classFiles.foreach { f =>
      new ClassReader(Files.readAllBytes(f)).accept(new ClassVisitor(Opcodes.ASM9) {
        private var owner = ""
        private var plainClass = false
        override def visit(v: Int, access: Int, name: String, sig: String,
                           sup: String, ifs: Array[String]): Unit = {
          owner = name
          plainClass = !name.contains('$') && (access & Opcodes.ACC_INTERFACE) == 0 &&
            !ifs.contains("scala/Product")
        }
        override def visitMethod(access: Int, name: String, desc: String, sig: String,
                                 ex: Array[String]): MethodVisitor = {
          val static = (access & Opcodes.ACC_STATIC) != 0
          val module = owner.endsWith("$")
          val forwarder = static && !module
          val publicOnly = Opcodes.ACC_PUBLIC | Opcodes.ACC_SYNTHETIC | Opcodes.ACC_BRIDGE
          if (owner.startsWith("graft/") && (module || (plainClass && !static)) &&
              (access & publicOnly) == Opcodes.ACC_PUBLIC &&
              !name.contains('$') && !name.startsWith("<") &&
              !Set("apply", "unapply", "main").contains(name) && !isOverride(owner, name, desc)) {
            val cls = owner.stripSuffix("$").split('/').last
            val params = Type.getArgumentTypes(desc).map(_.getClassName.split('.').last)
            defined((owner, name, desc)) = (module, s"$cls.$name(${params.mkString(",")})")
          }
          new MethodVisitor(Opcodes.ASM9) {
            private def ref(o: String, n: String, d: String): Unit =
              if (!(forwarder && o == owner + "$" && n == name)) called += ((o, n, d))
            private def handles(args: Seq[Any]): Unit = args.foreach {
              case h: Handle => ref(h.getOwner, h.getName, h.getDesc)
              case _ =>
            }
            override def visitMethodInsn(op: Int, o: String, n: String, d: String,
                                         itf: Boolean): Unit = ref(o, n, d)
            override def visitInvokeDynamicInsn(n: String, d: String, bsm: Handle,
                                                args: Object*): Unit = handles(bsm +: args)
            override def visitLdcInsn(v: Any): Unit = handles(Seq(v))
          }
        }
      }, 0)
    }
    val (objects, classes) = (defined -- called).values.toSet.partition(_._1)
    (objects.map(_._2), classes.map(_._2))
  }

  private def checkUnreached(unreached: Set[String], allowed: Set[String]): Unit = {
    val extra = (unreached -- allowed).toSeq.sorted
    val stale = (allowed -- unreached).toSeq.sorted
    if (extra.nonEmpty || stale.nonEmpty)
      fail(s"no src/main caller: ${extra.mkString(", ")}; " +
        s"allow-listed but called from src/main: ${stale.mkString(", ")}")
  }

  test("every public method of a graft object has a src/main caller or an allow-listed reason") {
    checkUnreached(unreachedObjectMethods, unreachedAllowed.keySet)
  }

  test("every public method of a graft class has a src/main caller or an allow-listed reason") {
    checkUnreached(unreachedClassMethods, unreachedClassAllowed.keySet)
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
