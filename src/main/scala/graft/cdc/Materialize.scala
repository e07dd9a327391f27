package graft.cdc

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{ImageSteps, MaterializeImages}

/** Materialization: committed messages ⋈ dictionary → filtered, projected,
  * envelope-ready rows (SURVEY.md §2.4/§2.5 — J2 + F1-F7).
  *
  * Plan shape (scale rationale): the dictionary side is always tiny →
  * broadcast hash join on obj with an scn-validity range predicate (as-of
  * versioned lookup); table selection falls out of the inner join (events
  * for unselected tables are dropped before any value work — the same
  * "filter before decode" ordering the reference uses); the per-table
  * condition (F2) is a plain Catalyst filter on (op, attrs); and the whole
  * image rewrite (charset decode, guard resurrection, visibility, column
  * format, unknown/experimental types, schemaless naming, tag, hex) is ONE
  * projection of the native [[MaterializeImages]] kernel, which makes one
  * pass over each row's before/after maps inside the join's whole-stage
  * codegen — no higher-order-function projections, one Project above the
  * join (pinned by MaterializePlanSpec).
  */
object Materialize {

  /** COLUMN_FORMAT policy (Format.h:48-52). */
  sealed trait ColumnFormat
  case object Changed extends ColumnFormat // drop unchanged non-key cols on update
  case object FullInsDec extends ColumnFormat // full image on ins/del too
  case object FullUpd extends ColumnFormat // everything, always

  case class Options(
      columnFormat: ColumnFormat = Changed,
      showSystemTransactions: Boolean = false, // F5
      schemaless: Boolean = false, // §1.2 SCHEMALESS/ADAPTIVE mode
      // F4 visibility flags (≙ SHOW_HIDDEN/NESTED/UNUSED_COLUMNS,
      // Builder.cpp:102-113; hidden PK columns always stay — key semantics)
      showHiddenColumns: Boolean = false,
      showNestedColumns: Boolean = false,
      showUnusedColumns: Boolean = false,
      // CHAR_FORMAT::HEX (Format.h:42-46, Builder.h:1129-1184): string
      // values render as uppercase hex of their UTF-8 bytes
      charFormatHex: Boolean = false,
      // UNKNOWN_TYPE (Format.h:182-185): columns whose dictionary type is
      // outside the builder's value dispatch. false = HIDE (the
      // reference's default — dropped from the images), true = SHOW
      // (rendered as columnUnknown's "?" QUESTION_MARK form; the DUMP
      // form is OracleCodecs.unknownDump, composable sink-side)
      unknownTypeShow: Boolean = false,
      // EXPERIMENTAL_JSON (Builder.cpp:154-158): type-119 JSON columns are
      // DROPPED by default; under the flag the assembled LOB emits as raw
      // hex (columnRaw)
      experimentalJson: Boolean = false,
      // EXPERIMENTAL_XMLTYPE (Builder.cpp:143-150): XMLTYPE-backed BLOBs
      // emit raw hex by default; under the flag the XML decodes to text
      // (parseXml → columnString — the pre-decoded feed carries the text,
      // per the same contract as every charset/LOB decode in SURVEY §7.5)
      experimentalXmlType: Boolean = false)

  /** messages ⋈ dictionary with scn-validity (J2 temporal broadcast join).
    * Unmatched obj# → dropped (dict filter) unless schemaless, where they
    * pass through with a null table name (COL_n raw output downstream). */
  def enrich(messages: Dataset[ChangeMessage], dict: Dictionary,
      opts: Options = Options())(implicit spark: SparkSession): DataFrame = {
    val dictDF = dict.toDF(spark, opts.showHiddenColumns,
        opts.showNestedColumns, opts.showUnusedColumns)
      .withColumnRenamed("obj", "d_obj")
    val joinType = if (opts.schemaless) "left_outer" else "inner"
    val joined = messages.toDF().join(
      broadcast(dictDF),
      col("obj") === col("d_obj") &&
        col("scn") >= col("valid_from_scn") && col("scn") < col("valid_to_scn"),
      joinType)
      .drop("d_obj", "valid_from_scn", "valid_to_scn")
    // F5: system transactions (dict-owner SYS) suppressed unless shown
    if (opts.showSystemTransactions) joined
    else joined.filter(col("owner").isNull || col("owner") =!= "SYS")
  }

  /** F2: apply each table's row condition; rows of tables without a
    * condition pass. Conditions evaluate over (op, attrs), with [op] seen
    * as the reference's DML char 'i'/'u'/'d' (Builder.cpp:773/1632 passes
    * 'i' for inserts) — NOT the wire code 'c' the output column carries. */
  def applyConditions(enriched: DataFrame, dict: Dictionary): DataFrame = {
    val conditioned = dict.selected.filter(_.conditionExpr.nonEmpty)
    if (conditioned.isEmpty) enriched
    else {
      val opChar =
        when(col("op") === MsgOp.Insert, lit("i")).otherwise(col("op"))
      // one disjunction-free Column per table: (obj != t.obj) OR cond(t)
      val pred = conditioned.map { t =>
        (col("obj") =!= lit(t.obj)) ||
          Condition.compile(t.conditionExpr, opChar, col("attrs"))
      }.reduce(_ && _)
      enriched.filter(pred)
    }
  }

  /** The image rewrite after enrich + conditions, as ONE projection of
    * the native [[MaterializeImages]] kernel: charset decode → guard
    * resurrection → visibility → column format → unknown-type →
    * experimental types → schemaless COL_n naming → tag →
    * CHAR_FORMAT::HEX, in one pass over each row's images.
    *
    * Order rationale (the reference's): charset decode first, value-side,
    * before any projection policy; guard resurrection BEFORE visibility
    * (the guard bitmap is read off the raw image, and the guard column
    * itself is hidden and stripped right after); unknown-type AFTER the
    * column-format diff (the reference diffs raw redo values, so a
    * changed unknown column stays in a CHANGED update and only then
    * renders as "?" or disappears); tag BEFORE hex rendering (the message
    * key derives from the logical values; rendering is a sink-side
    * concern). */
  private[graft] def project(conditioned: DataFrame, opts: Options): DataFrame =
    rewrite(conditioned, ImageSteps(
      charsetDecode = true,
      guardResurrection = true,
      visibility = true,
      changedOnly = opts.columnFormat == Changed,
      unknownType = true,
      unknownTypeShow = opts.unknownTypeShow,
      experimentalTypes = true,
      experimentalJson = opts.experimentalJson,
      experimentalXmlType = opts.experimentalXmlType,
      schemalessNaming = opts.schemaless,
      tag = true,
      charFormatHex = opts.charFormatHex))

  /** One select: before/after replaced by the kernel's images (under
    * CHANGED moved to the end of the row, the column order of CHANGED
    * output) and the tag set or appended; subexpression elimination
    * evaluates the kernel once per row. */
  private def rewrite(df: DataFrame, steps: ImageSteps): DataFrame = {
    val k = MaterializeImages.column(steps)
    def img(c: String): Column = k.getField(c).as(c)
    val cols = df.columns.toSeq
      .filterNot(c => steps.changedOnly && (c == "before" || c == "after"))
      .map {
        case c @ ("before" | "after") => img(c)
        case "tag" if steps.tag => k.getField("tag").as("tag")
        case c => col(c)
      }
    val imgs = if (steps.changedOnly) Seq(img("before"), img("after")) else Nil
    val tag =
      if (steps.tag && !df.columns.contains("tag")) Seq(k.getField("tag").as("tag"))
      else Nil
    df.select(cols ++ imgs ++ tag: _*)
  }

  // Each step alone (queries compose them); every one runs the same
  // kernel with only its own step enabled.

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
  def applyGuardResurrection(df: DataFrame): DataFrame =
    rewrite(df, ImageSteps(guardResurrection = true))

  /** F4: suppress hidden/nested/unused columns from the images — the
    * dictionary row carries the table's visible set (per the Options
    * flags); unknown tables (schemaless passthrough, visible_cols null)
    * keep everything. */
  def applyVisibility(df: DataFrame): DataFrame =
    rewrite(df, ImageSteps(visibility = true))

  /** F3/F6: column-format projection on the before/after maps. Under
    * CHANGED an update keeps its key columns (the joined dictionary row's
    * key_cols) and the columns whose value changed; both images are
    * diffed against the ORIGINAL other image. FULL formats pass the
    * images through (already full in the feed). */
  def applyColumnFormat(df: DataFrame, opts: Options = Options()): DataFrame =
    opts.columnFormat match {
      case FullUpd | FullInsDec => df
      case Changed => rewrite(df, ImageSteps(changedOnly = true))
    }

  /** UNKNOWN_TYPE (Builder.cpp:605-612 default branch): HIDE drops the
    * unknown-typed columns from both images; SHOW keeps them with the
    * reference's QUESTION_MARK rendering. Tables without unknown columns
    * (and schemaless passthrough rows, unknown_cols null) short-circuit. */
  def applyUnknownType(df: DataFrame, show: Boolean): DataFrame =
    rewrite(df, ImageSteps(unknownType = true, unknownTypeShow = show))

  /** Experimental type handling (Builder.cpp:143-158): JSON (type 119)
    * columns drop from the images unless `experimentalJson`, where the
    * assembled LOB renders as raw hex; XMLTYPE-backed BLOB columns render
    * raw hex unless `experimentalXmlType`, where the decoded XML text
    * passes through. Tables with neither (json_cols/xml_cols empty or the
    * schemaless null passthrough) short-circuit.
    *
    * This per-image Column form is exposed so a query can evaluate BOTH
    * flag settings over one scan (q96) instead of materializing twice
    * and joining. */
  private[graft] def experimentalImage(img: Column,
      experimentalJson: Boolean, experimentalXmlType: Boolean): Column =
    MaterializeImages.column(ImageSteps(experimentalTypes = true,
        experimentalJson = experimentalJson,
        experimentalXmlType = experimentalXmlType),
      before = lit(null).cast("map<string,string>"), after = img)
      .getField("after")

  def applyExperimentalTypes(df: DataFrame, opts: Options): DataFrame =
    rewrite(df, ImageSteps(experimentalTypes = true,
      experimentalJson = opts.experimentalJson,
      experimentalXmlType = opts.experimentalXmlType))

  /** CHAR_FORMAT::HEX: every image value as uppercase hex of its UTF-8
    * bytes (Builder.h:1129-1184 valueBufferAppendHex path — byte-level,
    * after charset mapping; the pre-decoded feed is already UTF-8). */
  def applyCharFormatHex(df: DataFrame): DataFrame =
    rewrite(df, ImageSteps(charFormatHex = true))

  /** Schemaless COL_<n> naming (Builder.cpp:96-99): a row whose obj# has
    * no dictionary match renders its raw columns as COL_0..COL_n-1. The
    * reference numbers by the redo record's physical column index; the
    * pre-decoded feed carries no indices, so the deterministic stand-in
    * is the image's sorted key order (documented contract — both sides
    * of the gate derive the same numbering). Matched rows pass through
    * untouched. */
  def applySchemalessNaming(df: DataFrame): DataFrame =
    rewrite(df, ImageSteps(schemalessNaming = true))

  /** F7: message key = tag columns from the after (else before) image. */
  def withTag(df: DataFrame): DataFrame =
    rewrite(df, ImageSteps(tag = true))

  /** Charset decode (§2.7; Builder.cpp:131 parseString(data, size,
    * column->charsetId, ...) over the Locales.cpp:648-800 id space): a
    * column declared with a non-UTF-8 `charsetId` arrives as hex of its
    * RAW bytes (the feed can't pre-decode what the dictionary owns) and
    * decodes here, value-side, before any projection policy — exactly
    * where the reference decodes, between redo extraction and the
    * column-format diff. Tables without charset columns short-circuit on
    * the null/empty map; the per-row id makes one projection serve a
    * feed mixing charsets. */
  def applyCharsetDecode(df: DataFrame): DataFrame =
    rewrite(df, ImageSteps(charsetDecode = true))

  /** Full path: enrich → conditions → one kernel projection (see
    * [[project]]). The conditions read only (op, attrs), never the
    * images, so filtering before the rewrite skips it for dropped rows. */
  def apply(messages: Dataset[ChangeMessage], dict: Dictionary,
      opts: Options = Options())(implicit spark: SparkSession): DataFrame =
    project(applyConditions(enrich(messages, dict, opts), dict), opts)
}
