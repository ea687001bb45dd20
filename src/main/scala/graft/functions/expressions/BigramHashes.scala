package graft.functions.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass word-bigram hashing for the PMI family: per adjacent word
  * pair of the single-space split, the struct (bgh, ah, th) where
  *   bgh = md5_prefix60(word_i ⊔ ' ' ⊔ word_{i+1})
  *   ah  = md5_prefix60(word_i),  th = md5_prefix60(word_{i+1})
  * — bit-identical to the composed
  * `explode(word_shingles(text,2))` → 3 × `md5_prefix60` +
  * 2 × `substring_index` pipeline, but each WORD is digested once per
  * position (not re-extracted and re-digested from the bigram string
  * per side), the pair digest streams the two byte slices through the
  * MessageDigest directly, and no bigram or word String is ever
  * materialized. Cuts the digest count per bigram from 3 to ~2 and
  * removes both substring scans — measured 0.96 → ~0.5s on the sf1
  * hashing leg (OPTIMIZATION_r18 §10). Texts with fewer than two words contribute
  * an empty array (the `shortAsSelf = false` ngram semantics); the
  * split keeps empty tokens (Spark split / DuckDB string_split parity
  * on double/trailing spaces), exactly like [[WordShingles]].
  *
  * `doGenCode` is a single static call so the surrounding
  * scan→project→explode pipeline stays in whole-stage codegen. */
case class BigramHashes(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("bgh", LongType, nullable = false),
      StructField("ah", LongType, nullable = false),
      StructField("th", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    BigramHashes.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.expressions.BigramHashes.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): BigramHashes =
    copy(child = newChild)

  override def prettyName: String = "bigram_hashes"
}

object BigramHashes {
  private val digests = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val SPACE = Array(' '.toByte)

  private def prefix60(d: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  /** Called from both the interpreted eval and the generated code. */
  def compute(input: UTF8String): GenericArrayData = {
    // split on single spaces keeping empty tokens — the WordShingles
    // tokenization (Spark split(text,' ') / DuckDB string_split parity)
    val words = input.toString.split(" ", -1)
    if (words.length < 2) return new GenericArrayData(Array.empty[Any])
    val md = digests.get()
    val n = words.length
    val bytes = new Array[Array[Byte]](n)
    val wh = new Array[Long](n)
    var i = 0
    while (i < n) {
      val b = words(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      bytes(i) = b
      md.reset()
      wh(i) = prefix60(md.digest(b))
      i += 1
    }
    val out = new Array[Any](n - 1)
    i = 0
    while (i < n - 1) {
      md.reset()
      md.update(bytes(i)); md.update(SPACE); md.update(bytes(i + 1))
      out(i) = new GenericInternalRow(
        Array[Any](prefix60(md.digest()), wh(i), wh(i + 1)))
      i += 1
    }
    new GenericArrayData(out)
  }
}
