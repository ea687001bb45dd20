package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native word-n-gram shingling: split on single spaces, emit the
  * n-gram shingles — distinct in first-occurrence order by default
  * (`distinct`), every occurrence for bigram counting otherwise. A
  * text shorter than `n` words yields itself as its one shingle
  * (`shortAsSelf`) or nothing.
  *
  * Exists because the composed form —
  * `transform(sequence(...), i -> concat_ws(' ', element_at(...)))` —
  * is a higher-order function tree that Catalyst cannot codegen
  * (CodegenFallback per element, boxed lambda variables): measured
  * ~4s for 5k docs / 260k shingles. This expression does one pass
  * over the UTF8 bytes per document (~100ms for the same input) and
  * is the unit under every dedup operator, so it earns native status.
  * `doGenCode` emits a single static call, so the surrounding
  * scan→project pipeline stays in whole-stage codegen with no
  * interpreted-eval dispatch per row. Semantics are identical
  * (oracle-verified vs the DuckDB SQL formulations in graft/keys:
  * Shared.shingleCtes for the 3-shingles, x5's oracle for bigrams).
  */
case class WordShingles(child: Expression, n: Int,
                        distinct: Boolean = true, shortAsSelf: Boolean = true)
    extends UnaryExpression with ImplicitCastInputTypes {

  require(n >= 1)

  // implicit-cast inputs: word_shingles(numeric_col, n) analyzes via cast
  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    WordShingles.compute(input.asInstanceOf[UTF8String], n, distinct, shortAsSelf)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.expressions.WordShingles.compute(
         |  $c, $n, $distinct, $shortAsSelf);""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)

  override def prettyName: String = "word_shingles"
}

object WordShingles {
  /** One pass over the document: called from both the interpreted eval
    * and the generated code. */
  def compute(input: UTF8String, n: Int,
              distinct: Boolean, shortAsSelf: Boolean): GenericArrayData = {
    val s = input.toString
    // limit -1 keeps trailing empty tokens (Spark split / DuckDB
    // string_split parity on texts with trailing/double spaces)
    val words = s.split(" ", -1)
    if (words.length < n) {
      if (shortAsSelf)
        new GenericArrayData(Array[Any](UTF8String.fromString(s)))
      else new GenericArrayData(Array.empty[Any])
    } else {
      // LinkedHashSet dedups in first-occurrence order; an ArrayList
      // keeps every occurrence (bigram counting wants multiplicity)
      val acc: java.util.Collection[String] =
        if (distinct) new java.util.LinkedHashSet[String](words.length * 2)
        else new java.util.ArrayList[String](words.length)
      val sb = new java.lang.StringBuilder(64)
      var i = 0
      while (i + n <= words.length) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(words(i + j))
          j += 1
        }
        acc.add(sb.toString)
        i += 1
      }
      val out = new Array[Any](acc.size)
      val it = acc.iterator()
      var k = 0
      while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
      new GenericArrayData(out)
    }
  }
}
