package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Encode, Expression, GenericInternalRow, Hex, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData, NumberConverter}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Which image-rewrite steps one [[MaterializeImages]] pass runs. The
  * steps always run in Materialize's order — charset decode, guard
  * resurrection, visibility, CHANGED column-format diff, unknown-type
  * HIDE/SHOW, experimental JSON/XMLTYPE, schemaless COL_n naming, tag,
  * CHAR_FORMAT::HEX — so a pass with one step enabled is that step alone
  * and a pass with all of them is the full projection. */
case class ImageSteps(
    charsetDecode: Boolean = false,
    guardResurrection: Boolean = false,
    visibility: Boolean = false,
    changedOnly: Boolean = false,
    unknownType: Boolean = false,
    unknownTypeShow: Boolean = false,
    experimentalTypes: Boolean = false,
    experimentalJson: Boolean = false,
    experimentalXmlType: Boolean = false,
    schemalessNaming: Boolean = false,
    tag: Boolean = false,
    charFormatHex: Boolean = false)

/** JVM-side kernel for [[MaterializeImages]]: one pass over the before and
  * after images of a row, every enabled step applied in order (the
  * codegen idiom of [[CharsetNative]] — a static call from generated
  * code). Each step keeps the semantics of the Spark SQL expression it
  * replaces, three-valued logic included: a column-list membership test
  * that is NULL (the name is absent from a list holding a NULL) neither
  * keeps nor replaces. Filters keep map order; resurrected guard entries
  * append at the end (map_concat order). An image no step changed is
  * returned as the input map, uncopied. */
object ImageNative {
  private[this] val Utf8 = UTF8String.fromString("UTF-8")
  private[this] val QuestionMark = UTF8String.fromString("?")
  private[this] val TagSep = UTF8String.fromString("|")
  private[this] val Empty = UTF8String.EMPTY_UTF8
  private[this] val Update = UTF8String.fromString(graft.cdc.MsgOp.Update)

  /** One image under rewrite: keys and values in map order. */
  private final class Img(val src: MapData) {
    var n: Int = src.numElements()
    var keys = new Array[UTF8String](math.max(n, 1))
    var vals = new Array[UTF8String](math.max(n, 1))
    var changed = false
    locally {
      val ka = src.keyArray()
      val va = src.valueArray()
      var i = 0
      while (i < n) {
        keys(i) = ka.getUTF8String(i)
        vals(i) = if (va.isNullAt(i)) null else va.getUTF8String(i)
        i += 1
      }
    }

    /** Slot of `k` (the first match, as element_at reads it), or -1;
      * `hint` is probed first — images of one row share a column order. */
    def indexOf(k: UTF8String, hint: Int): Int = {
      if (hint >= 0 && hint < n && keys(hint) == k) return hint
      var i = 0
      while (i < n) { if (keys(i) == k) return i; i += 1 }
      -1
    }

    def get(k: UTF8String, hint: Int = -1): UTF8String = {
      val i = indexOf(k, hint)
      if (i < 0) null else vals(i)
    }

    def set(i: Int, v: UTF8String): Unit = { vals(i) = v; changed = true }

    def append(k: UTF8String, v: UTF8String): Unit = {
      if (n == keys.length) {
        keys = java.util.Arrays.copyOf(keys, n * 2)
        vals = java.util.Arrays.copyOf(vals, n * 2)
      }
      keys(n) = k; vals(n) = v; n += 1; changed = true
    }

    /** Keep slot i iff keep(i), compacting in order. */
    def retain(keep: Array[Boolean]): Unit = {
      var w = 0
      var i = 0
      while (i < n) {
        if (keep(i)) { keys(w) = keys(i); vals(w) = vals(i); w += 1 }
        i += 1
      }
      if (w != n) { n = w; changed = true }
    }

    def toMapData: MapData =
      if (!changed) src
      else {
        val ko = new Array[Any](n)
        val vo = new Array[Any](n)
        System.arraycopy(keys, 0, ko, 0, n)
        System.arraycopy(vals, 0, vo, 0, n)
        new ArrayBasedMapData(new GenericArrayData(ko), new GenericArrayData(vo))
      }
  }

  /** A dictionary name list read once per row (NULL elements kept), or
    * null when the list is NULL or empty — the `isNull OR size = 0`
    * short-circuit every step shares. */
  private def strings(a: ArrayData): Array[UTF8String] =
    if (a == null || a.numElements() == 0) null
    else {
      val out = new Array[UTF8String](a.numElements())
      var i = 0
      while (i < out.length) {
        if (!a.isNullAt(i)) out(i) = a.getUTF8String(i)
        i += 1
      }
      out
    }

  /** array_contains(names, k): 1 = found, 0 = absent, -1 = NULL (absent
    * from a list that holds a NULL, or k itself NULL). */
  private def contains(names: Array[UTF8String], k: UTF8String): Int = {
    if (k == null) return -1
    var sawNull = false
    var i = 0
    while (i < names.length) {
      val n = names(i)
      if (n == null) sawNull = true
      else if (n == k) return 1
      i += 1
    }
    if (sawNull) -1 else 0
  }

  /** unhex(v): NULL for invalid hex, as the SQL function returns it. */
  private def unhex(v: UTF8String): Array[Byte] =
    try Hex.unhex(v.getBytes)
    catch { case _: IllegalArgumentException => null }

  /** hex(encode(v, 'UTF-8')) */
  private def hexUtf8(v: UTF8String): UTF8String =
    if (v == null) null else Hex.hex(Encode.encode(v, Utf8, false, false))

  /** map_filter(img, (k, _) -> NOT array_contains(names, k)) */
  private def dropNamed(img: Img, names: Array[UTF8String]): Unit =
    if (img != null) {
      val keep = new Array[Boolean](img.n)
      var i = 0
      while (i < img.n) { keep(i) = contains(names, img.keys(i)) == 0; i += 1 }
      img.retain(keep)
    }

  /** transform_values(img, (k, v) -> CASE WHEN array_contains(names, k)
    * THEN f(v) ELSE v END) */
  private def mapNamed(img: Img, names: Array[UTF8String],
      f: UTF8String => UTF8String): Unit =
    if (img != null) {
      var i = 0
      while (i < img.n) {
        if (contains(names, img.keys(i)) == 1) img.set(i, f(img.vals(i)))
        i += 1
      }
    }

  /** Charset decode: a value of a charset column (`names` → `ids`) is
    * hex of its raw bytes; it decodes under the column's charset id. */
  private def charsetDecode(img: Img, names: Array[UTF8String],
      ids: ArrayData): Unit =
    if (img != null) {
      var i = 0
      while (i < img.n) {
        val v = img.vals(i)
        if (v != null) {
          var j = 0
          while (j < names.length && names(j) != img.keys(i)) j += 1
          if (j < names.length) {
            val bin = unhex(v)
            img.set(i, if (bin == null || ids.isNullAt(j)) null
              else CharsetNative.decode(bin, ids.getInt(j)))
          }
        }
        i += 1
      }
    }

  /** Guard-bitmap resurrection: a guarded column absent from the image
    * whose bit `seg` is set in the guard value (hex of the RAW bitmap)
    * appends as an explicit NULL entry. */
  private def resurrect(img: Img, guardCol: UTF8String,
      guarded: ArrayData): Unit =
    if (img != null && guarded != null) {
      val gv = img.get(guardCol)
      if (gv != null) {
        val base = img.n
        val len = gv.numChars()
        var i = 0
        while (i < guarded.numElements()) {
          if (!guarded.isNullAt(i)) {
            val g = guarded.getStruct(i, 2)
            if (!g.isNullAt(0) && !g.isNullAt(1)) {
              val name = g.getUTF8String(0)
              val seg = g.getInt(1)
              val bytePos = Math.floorDiv(seg, 8)
              if (len >= (bytePos + 1) * 2 && absent(img, base, name)) {
                val byteVal = hexByte(gv.substringSQL(bytePos * 2 + 1, 2))
                if (byteVal >= 0 && (byteVal & (1 << Math.floorMod(seg, 8))) > 0)
                  img.append(name, null)
              }
            }
          }
          i += 1
        }
      }
    }

  /** Is `name` absent from the first `base` slots (the image as it was
    * before any resurrection)? */
  private def absent(img: Img, base: Int, name: UTF8String): Boolean = {
    var i = 0
    while (i < base) { if (img.keys(i) == name) return false; i += 1 }
    true
  }

  /** CAST(conv(s, 16, 10) AS INT), -1 for NULL. */
  private def hexByte(s: UTF8String): Int = {
    val d = NumberConverter.convert(s.trim().getBytes, 16, 10, false, null)
    if (d == null) -1
    else try Integer.parseInt(d.toString) catch { case _: NumberFormatException => -1 }
  }

  /** COLUMN_FORMAT CHANGED on an update: each image keeps key columns and
    * columns whose value differs (null-safe) from the other image's; both
    * sides read the images as they were before this step. */
  private def changedOnly(b: Img, a: Img, keyCols: Array[UTF8String]): Unit = {
    def keepOf(self: Img, other: Img): Array[Boolean] =
      if (self == null) null
      else {
        val keep = new Array[Boolean](self.n)
        var i = 0
        while (i < self.n) {
          val k = self.keys(i)
          keep(i) = (keyCols != null && contains(keyCols, k) == 1) || {
            val o = if (other == null) null else other.get(k, i)
            val v = self.vals(i)
            !(if (o == null || v == null) o == null && v == null else o == v)
          }
          i += 1
        }
        keep
      }
    val kb = keepOf(b, a)
    val ka = keepOf(a, b)
    if (b != null) b.retain(kb)
    if (a != null) a.retain(ka)
  }

  /** Schemaless naming: entries in ascending binary key order, renamed
    * COL_0..COL_n-1. */
  private def schemalessNames(img: Img): Unit =
    if (img != null) {
      val order = (0 until img.n).sortWith((x, y) =>
        img.keys(x).binaryCompare(img.keys(y)) < 0).toArray
      val vals = order.map(img.vals(_))
      var i = 0
      while (i < img.n) {
        img.keys(i) = UTF8String.fromString("COL_" + i)
        img.vals(i) = vals(i)
        i += 1
      }
      img.changed = true
    }

  /** concat_ws('|', transform(tag_cols, c -> coalesce(after[c],
    * before[c], ''))) */
  private def tagOf(b: Img, a: Img, tagCols: Array[UTF8String]): UTF8String = {
    val parts = new Array[UTF8String](tagCols.length)
    var i = 0
    while (i < parts.length) {
      val c = tagCols(i)
      var v: UTF8String = null
      if (c != null) {
        if (a != null) v = a.get(c)
        if (v == null && b != null) v = b.get(c)
      }
      parts(i) = if (v == null) Empty else v
      i += 1
    }
    UTF8String.concatWs(TagSep, parts: _*)
  }

  def rewrite(s: ImageSteps, before: MapData, after: MapData,
      op: UTF8String, tableName: UTF8String, charsetCols: MapData,
      guardCol: UTF8String, guardedCols: ArrayData, invisibleCols: ArrayData,
      keyCols: ArrayData, unknownCols: ArrayData, jsonCols: ArrayData,
      xmlCols: ArrayData, tagCols: ArrayData): InternalRow = {
    val b = if (before == null) null else new Img(before)
    val a = if (after == null) null else new Img(after)
    def both(f: Img => Unit): Unit = { f(b); f(a) }
    if (s.charsetDecode && charsetCols != null) {
      val names = strings(charsetCols.keyArray())
      if (names != null) both(charsetDecode(_, names, charsetCols.valueArray()))
    }
    if (s.guardResurrection && guardCol != null)
      both(resurrect(_, guardCol, guardedCols))
    if (s.visibility) {
      val names = strings(invisibleCols)
      if (names != null) both(dropNamed(_, names))
    }
    if (s.changedOnly && Update == op)
      changedOnly(b, a, strings(keyCols))
    if (s.unknownType) {
      val names = strings(unknownCols)
      if (names != null) {
        if (s.unknownTypeShow) both(mapNamed(_, names, _ => QuestionMark))
        else both(dropNamed(_, names))
      }
    }
    if (s.experimentalTypes) {
      val json = strings(jsonCols)
      if (json != null) {
        if (s.experimentalJson) both(mapNamed(_, json, hexUtf8))
        else both(dropNamed(_, json))
      }
      val xml = strings(xmlCols)
      if (xml != null && !s.experimentalXmlType) both(mapNamed(_, xml, hexUtf8))
    }
    if (s.schemalessNaming && tableName == null) both(schemalessNames)
    val tagNames = if (s.tag) strings(tagCols) else null
    val tag = if (tagNames != null) tagOf(b, a, tagNames) else null
    if (s.charFormatHex) both { img =>
      if (img != null) {
        var i = 0
        while (i < img.n) { img.set(i, hexUtf8(img.vals(i))); i += 1 }
      }
    }
    new GenericInternalRow(Array[Any](
      if (b == null) null else b.toMapData,
      if (a == null) null else a.toMapData,
      tag))
  }
}

/** `(before, after, tag)` of one change message after Materialize's image
  * rewrite, as ONE codegen-participating expression: the generated code
  * evaluates the children and makes a single static call into
  * [[ImageNative.rewrite]] per row, in place of a chain of interpreted
  * `transform_values`/`map_filter` projections. Children, in order:
  * before, after, op, table_name, charset_cols, guard_col, guarded_cols,
  * invisible_cols, key_cols, unknown_cols, json_cols, xml_cols, tag_cols —
  * the image columns and the joined dictionary row. */
case class MaterializeImages(children: Seq[Expression], steps: ImageSteps)
    extends Expression {
  import MaterializeImages.Inputs

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.length != Inputs.length) TypeCheckResult.TypeCheckFailure(
      s"$prettyName takes ${Inputs.length} arguments, got ${children.length}")
    else {
      val bad = children.zip(Inputs).collect {
        case (c, (n, t, _)) if !DataType.equalsStructurally(c.dataType, t,
            ignoreNullability = true) => s"$n: ${c.dataType.sql} (want ${t.sql})"
      }
      if (bad.isEmpty) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"$prettyName input types: ${bad.mkString(", ")}")
    }
  override def nullable: Boolean = false
  override def dataType: DataType = MaterializeImages.ResultType
  override def prettyName: String = "ora_materialize_images"

  override def eval(input: InternalRow): Any = {
    val v = children.map(_.eval(input))
    ImageNative.rewrite(steps,
      v(0).asInstanceOf[MapData], v(1).asInstanceOf[MapData],
      v(2).asInstanceOf[UTF8String], v(3).asInstanceOf[UTF8String],
      v(4).asInstanceOf[MapData], v(5).asInstanceOf[UTF8String],
      v(6).asInstanceOf[ArrayData], v(7).asInstanceOf[ArrayData],
      v(8).asInstanceOf[ArrayData], v(9).asInstanceOf[ArrayData],
      v(10).asInstanceOf[ArrayData], v(11).asInstanceOf[ArrayData],
      v(12).asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val evals = children.map(_.genCode(ctx))
    val stepsRef = ctx.addReferenceObj("imageSteps", steps)
    val argList = evals.map(e => s"${e.isNull} ? null : ${e.value}")
      .mkString(", ")
    ev.copy(code = code"""
      ${evals.map(_.code).mkString("\n")}
      ${CodeGenerator.javaType(dataType)} ${ev.value} =
        graft.functions.ImageNative.rewrite($stepsRef, $argList);""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MaterializeImages =
    copy(children = newChildren)
}

object MaterializeImages {
  private val Image = MapType(StringType, StringType, valueContainsNull = true)
  private val Names = ArrayType(StringType, containsNull = true)

  /** The children in order: (column, type, does an enabled step read it). */
  private val Inputs: Seq[(String, DataType, ImageSteps => Boolean)] = Seq(
    ("before", Image, _ => true),
    ("after", Image, _ => true),
    ("op", StringType, _.changedOnly),
    ("table_name", StringType, _.schemalessNaming),
    ("charset_cols", MapType(StringType, IntegerType), _.charsetDecode),
    ("guard_col", StringType, _.guardResurrection),
    ("guarded_cols", ArrayType(new StructType()
      .add("name", StringType).add("seg", IntegerType)), _.guardResurrection),
    ("invisible_cols", Names, _.visibility),
    ("key_cols", Names, _.changedOnly),
    ("unknown_cols", Names, _.unknownType),
    ("json_cols", Names, _.experimentalTypes),
    ("xml_cols", Names, _.experimentalTypes),
    ("tag_cols", Names, _.tag))

  val ResultType: StructType = new StructType()
    .add("before", Image).add("after", Image).add("tag", StringType)

  /** Column-API facade over a frame carrying the image and dictionary
    * columns by name. A column no enabled step reads binds as a typed
    * NULL, so the rewrite needs only the columns it uses. */
  def column(steps: ImageSteps, before: Column = col("before"),
      after: Column = col("after")): Column =
    Bridge.column(MaterializeImages(Inputs.map {
      case ("before", _, _) => Bridge.expression(before)
      case ("after", _, _) => Bridge.expression(after)
      case (n, t, reads) =>
        if (reads(steps)) Bridge.expression(col(n)) else Literal(null, t)
    }, steps))
}
