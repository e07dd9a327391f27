package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.cdc.Materialize.{Changed, FullInsDec, FullUpd, Options}
import graft.cdc.MsgOp

/** Reference semantics for [[graft.cdc.Materialize]]'s image rewrite: the
  * per-step Spark SQL Column expressions (`map_filter`, `transform_values`,
  * `filter`, `transform`) one chained projection per step, as Materialize
  * ran them before the steps folded into one native kernel
  * ([[graft.functions.MaterializeImages]]). Test-only: the kernel is
  * checked against it by MaterializeKernelPropSpec. */
object MaterializeReference {

  /** Guard-column bitmap resurrection (Builder.cpp:1323-1372): a table
    * may carry a hidden guard column (SYS_NC...$, a RAW bitmap — hex in
    * the pre-decoded feed) where bit `guardSeg(c)` set means column c was
    * explicitly NULL in the row version. For every declared guarded
    * column ABSENT from an image whose guard bitmap is present AND whose
    * byte index is inside the bitmap (the reference's column2/8 < size
    * bound), the column is resurrected as an explicit NULL map entry —
    * the map analogue of the reference's present-with-size-0 sentinel.
    * Unconditional like the reference: active exactly when the dictionary
    * declares guard metadata; pure per-row map surgery, no exchange. */
  def applyGuardResurrection(df: DataFrame): DataFrame = {
    val masks = array((0 until 8).map(b => lit(1 << b)): _*)
    def fix(imgName: String): Column = {
      val img = col(imgName)
      val gv = element_at(img, col("guard_col"))
      val adds = filter(col("guarded_cols"), g => {
        val seg = g.getField("seg")
        val bytePos = floor(seg / 8).cast("int")
        val byteVal = conv(gv.substr(bytePos * 2 + 1, lit(2)), 16, 10)
          .cast("int")
        !array_contains(map_keys(img), g.getField("name")) &&
          length(gv) >= (bytePos + 1) * 2 &&
          byteVal.bitwiseAND(
            element_at(masks, pmod(seg, lit(8)).cast("int") + 1)) > 0
      })
      when(col("guard_col").isNull || img.isNull || gv.isNull ||
          size(adds) === 0, img)
        .otherwise(map_concat(img, map_from_arrays(
          transform(adds, g => g.getField("name")),
          transform(adds, _ => lit(null).cast("string")))))
    }
    df.withColumn("before", fix("before"))
      .withColumn("after", fix("after"))
  }

  /** F4: suppress hidden/nested/unused columns from the images — the
    * dictionary row carries the table's visible set (per the Options
    * flags); unknown tables (schemaless passthrough, visible_cols null)
    * keep everything. */
  def applyVisibility(df: DataFrame): DataFrame = {
    def visible(img: Column): Column =
      when(col("invisible_cols").isNull || size(col("invisible_cols")) === 0,
        img)
        .otherwise(map_filter(img, (k, _) =>
          !array_contains(col("invisible_cols"), k)))
    df.withColumn("before", visible(col("before")))
      .withColumn("after", visible(col("after")))
  }

  /** F3/F6: column-format projection on the before/after maps.
    * keyCols come from the joined dictionary row (array column). */
  def applyColumnFormat(df: DataFrame, opts: Options = Options()): DataFrame = {
    val isKey: (Column, Column) => Column =
      (k, keys) => array_contains(coalesce(keys, array().cast("array<string>")), k)
    opts.columnFormat match {
      case FullUpd | FullInsDec => df // images already full in the feed
      case Changed =>
        // updates: keep key cols + cols whose value actually changed.
        // Both projections must read the ORIGINAL images — compute them in
        // one select, not chained withColumns (the second would see the
        // already-filtered first).
        val changedAfter = map_filter(col("after"), (k, v) =>
          isKey(k, col("key_cols")) || !(element_at(col("before"), k) <=> v))
        val changedBefore = map_filter(col("before"), (k, v) =>
          isKey(k, col("key_cols")) || !(element_at(col("after"), k) <=> v))
        df.withColumn("before_chg",
            when(col("op") === MsgOp.Update, changedBefore).otherwise(col("before")))
          .withColumn("after_chg",
            when(col("op") === MsgOp.Update, changedAfter).otherwise(col("after")))
          .drop("before", "after")
          .withColumnRenamed("before_chg", "before")
          .withColumnRenamed("after_chg", "after")
    }
  }

  /** UNKNOWN_TYPE (Builder.cpp:605-612 default branch): HIDE drops the
    * unknown-typed columns from both images; SHOW keeps them with the
    * reference's QUESTION_MARK rendering. Tables without unknown columns
    * (and schemaless passthrough rows, unknown_cols null) short-circuit. */
  def applyUnknownType(df: DataFrame, show: Boolean): DataFrame = {
    def fix(img: Column): Column =
      when(col("unknown_cols").isNull || size(col("unknown_cols")) === 0, img)
        .otherwise(
          if (show)
            transform_values(img, (k, v) =>
              when(array_contains(col("unknown_cols"), k), lit("?"))
                .otherwise(v))
          else
            map_filter(img, (k, _) =>
              !array_contains(col("unknown_cols"), k)))
    df.withColumn("before", fix(col("before")))
      .withColumn("after", fix(col("after")))
  }

  /** Experimental type handling (Builder.cpp:143-158): JSON (type 119)
    * columns drop from the images unless `experimentalJson`, where the
    * assembled LOB renders as raw hex; XMLTYPE-backed BLOB columns render
    * raw hex unless `experimentalXmlType`, where the decoded XML text
    * passes through. Tables with neither (json_cols/xml_cols empty or the
    * schemaless null passthrough) short-circuit. */
  /** The per-image Column form of the experimental-type surgery —
    * exposed so a query can evaluate BOTH flag settings over one scan
    * (q96) instead of materializing twice and joining. */
  private[graft] def experimentalImage(img: Column,
      experimentalJson: Boolean, experimentalXmlType: Boolean): Column = {
    val j = when(col("json_cols").isNull || size(col("json_cols")) === 0,
      img).otherwise(
      if (experimentalJson)
        transform_values(img, (k, v) =>
          when(array_contains(col("json_cols"), k),
            hex(encode(v, "UTF-8"))).otherwise(v))
      else
        map_filter(img, (k, _) => !array_contains(col("json_cols"), k)))
    when(col("xml_cols").isNull || size(col("xml_cols")) === 0, j)
      .otherwise(
        if (experimentalXmlType) j
        else transform_values(j, (k, v) =>
          when(array_contains(col("xml_cols"), k),
            hex(encode(v, "UTF-8"))).otherwise(v)))
  }

  def applyExperimentalTypes(df: DataFrame, opts: Options): DataFrame =
    df.withColumn("before", experimentalImage(col("before"),
        opts.experimentalJson, opts.experimentalXmlType))
      .withColumn("after", experimentalImage(col("after"),
        opts.experimentalJson, opts.experimentalXmlType))

  /** CHAR_FORMAT::HEX: every image value as uppercase hex of its UTF-8
    * bytes (Builder.h:1129-1184 valueBufferAppendHex path — byte-level,
    * after charset mapping; the pre-decoded feed is already UTF-8). */
  def applyCharFormatHex(df: DataFrame): DataFrame = {
    def hx(img: Column): Column =
      when(img.isNull, img)
        .otherwise(transform_values(img, (_, v) => hex(encode(v, "UTF-8"))))
    df.withColumn("before", hx(col("before")))
      .withColumn("after", hx(col("after")))
  }

  /** Schemaless COL_<n> naming (Builder.cpp:96-99): a row whose obj# has
    * no dictionary match renders its raw columns as COL_0..COL_n-1. The
    * reference numbers by the redo record's physical column index; the
    * pre-decoded feed carries no indices, so the deterministic stand-in
    * is the image's sorted key order (documented contract — both sides
    * of the gate derive the same numbering). Matched rows pass through
    * untouched. */
  def applySchemalessNaming(df: DataFrame): DataFrame = {
    def colN(img: Column): Column = {
      val ks = array_sort(map_keys(img))
      when(col("table_name").isNotNull || img.isNull, img)
        .otherwise(map_from_arrays(
          transform(ks, (_, i) => concat(lit("COL_"), i.cast("string"))),
          transform(ks, k => element_at(img, k))))
    }
    df.withColumn("before", colN(col("before")))
      .withColumn("after", colN(col("after")))
  }

  /** F7: message key = tag columns from the after (else before) image. */
  def withTag(df: DataFrame): DataFrame =
    df.withColumn("tag",
      when(col("tag_cols").isNull || size(col("tag_cols")) === 0, lit(null))
        .otherwise(concat_ws("|",
          transform(col("tag_cols"), c =>
            coalesce(element_at(col("after"), c), element_at(col("before"), c),
              lit(""))))))

  /** Charset decode (§2.7; Builder.cpp:131 parseString(data, size,
    * column->charsetId, ...) over the Locales.cpp:648-800 id space): a
    * column declared with a non-UTF-8 `charsetId` arrives as hex of its
    * RAW bytes (the feed can't pre-decode what the dictionary owns) and
    * decodes here, value-side, before any projection policy — exactly
    * where the reference decodes, between redo extraction and the
    * column-format diff. Tables without charset columns short-circuit on
    * the null/empty map; the per-row id makes one codegen'd projection
    * serve a feed mixing charsets. */
  def applyCharsetDecode(df: DataFrame): DataFrame = {
    import graft.functions.Kernels.{CharsetDecode => charsetDecode}
    def dec(img: Column): Column =
      when(col("charset_cols").isNull || size(col("charset_cols")) === 0,
        img).otherwise(
        transform_values(img, (k, v) =>
          when(v.isNotNull && map_contains_key(col("charset_cols"), k),
            charsetDecode(unhex(v), element_at(col("charset_cols"), k)))
            .otherwise(v)))
    df.withColumn("before", dec(col("before")))
      .withColumn("after", dec(col("after")))
  }

  /** The rewrite after enrich + conditions, in Materialize's order:
    * charset decode → guard resurrection → visibility → column format →
    * unknown-type → experimental types → schemaless COL_n naming → tag →
    * CHAR_FORMAT::HEX. */
  def project(conditioned: DataFrame, opts: Options): DataFrame = {
    val formatted = applyExperimentalTypes(
      applyUnknownType(
        applyColumnFormat(
          applyVisibility(applyGuardResurrection(
            applyCharsetDecode(conditioned))),
          opts),
        opts.unknownTypeShow),
      opts)
    val named =
      if (opts.schemaless) applySchemalessNaming(formatted) else formatted
    val tagged = withTag(named)
    if (opts.charFormatHex) applyCharFormatHex(tagged) else tagged
  }
}
