package graft.operators

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass extraction: one linear scan of a block yields EVERY
  * `{field}_{attr}` array at once, instead of one regex traversal per
  * (field, attr) — the composed-builtins plan re-reads the transcript
  * `fields x attrs` times; this is O(len) regardless of spec width.
  *
  * Semantics are regex-parity by construction (verified against the
  * composed plan in FusedExtractSpec): matches in document order, nested
  * elements visible (the scan descends into element bodies exactly like a
  * flat regex does), `text` strips inner tags, attr lookup is the same
  * substring search the reference's sloppy attr regex performs.
  */
object FusedExtract {

  /** (tag, attr) -> collected values in document order. */
  def scan(block: String, wanted: Seq[(String, Seq[String])]): Array[Array[String]] = {
    val nOut = wanted.map(_._2.size).sum
    val out = Array.fill(nOut)(new scala.collection.mutable.ArrayBuffer[String]())
    // flat output index per (fieldIdx, attrIdx)
    val offsets = wanted.scanLeft(0)(_ + _._2.size)
    val byTag = wanted.zipWithIndex.groupBy(_._1._1)

    var i = 0
    val len = block.length
    while (i < len) {
      val lt = block.indexOf('<', i)
      if (lt < 0 || lt + 1 >= len) { i = len }
      else if (block.charAt(lt + 1) == '/') { i = lt + 2 }
      else {
        var j = lt + 1
        while (j < len && (Character.isLetterOrDigit(block.charAt(j)) ||
          block.charAt(j) == '_' || block.charAt(j) == '-')) j += 1
        val tag = block.substring(lt + 1, j)
        val gt = block.indexOf('>', j)
        if (tag.isEmpty || gt < 0) { i = lt + 1 }
        else {
          byTag.get(tag) match {
            case Some(specs) =>
              val closeMark = s"</$tag>"
              val close = block.indexOf(closeMark, gt + 1)
              if (close >= 0) {
                val attrSeg = block.substring(j, gt)   // between name and '>'
                val inner = block.substring(gt + 1, close)
                val outer = block.substring(lt, close + closeMark.length)
                for (((_, attrs), fieldIdx) <- specs) {
                  var a = 0
                  while (a < attrs.size) {
                    val attr = attrs(a)
                    val slot = offsets(fieldIdx) + a
                    attr match {
                      case "text" => out(slot) += stripTags(inner)
                      case "outerHtml" | "outerhtml" => out(slot) += outer
                      case other =>
                        // same sloppy lookup as `[^>]*?attr="..."` regex,
                        // and like the regex it requires a whitespace-led
                        // attr segment
                        if (attrSeg.nonEmpty && Character.isWhitespace(attrSeg.charAt(0))) {
                          val k = attrSeg.indexOf(other + "=\"")
                          if (k >= 0) {
                            val vStart = k + other.length + 2
                            val vEnd = attrSeg.indexOf('"', vStart)
                            if (vEnd >= 0) out(slot) += attrSeg.substring(vStart, vEnd)
                          }
                        }
                    }
                    a += 1
                  }
                }
              }
            case None =>
          }
          i = gt + 1 // descend into the element body (regex-parity)
        }
      }
    }
    out.map(_.toArray)
  }

  /** Single (tag, attr) variant: the target of the `extract_attr` kernel
    * (graft.functions.Kernels.ExtractAttr). */
  def extractAttr(block: String, tag: String, attr: String): ArrayData =
    new GenericArrayData(scan(block, Seq((tag, Seq(attr))))(0).map(UTF8String.fromString(_): Any))

  def stripTags(s: String): String = {
    if (s.indexOf('<') < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    var inTag = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '<') inTag = true
      else if (c == '>') inTag = false
      else if (!inTag) sb.append(c)
      i += 1
    }
    sb.toString
  }
}

/** extract_fields(block) -> struct<name_attr: array<string>, ...> */
case class ExtractCardFields(child: Expression, fields: Seq[FieldSpec])
    extends UnaryExpression with CodegenFallback {

  private val wanted: Seq[(String, Seq[String])] =
    fields.map(f => (f.selector, f.attrs))
  private val names: Seq[String] =
    fields.flatMap(f => f.attrs.map(a => s"${f.name}_$a"))

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"extract_fields expects string, got ${child.dataType}")

  override def dataType: DataType = StructType(
    names.map(n => StructField(n, ArrayType(StringType, containsNull = false))))
  override def prettyName: String = "extract_fields"

  override def nullSafeEval(v: Any): Any = {
    val arrays = FusedExtract.scan(v.asInstanceOf[UTF8String].toString, wanted)
    val cols: Array[Any] = arrays.map { vals =>
      new GenericArrayData(vals.map(s => UTF8String.fromString(s): Any)): Any
    }
    new GenericInternalRow(cols)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
