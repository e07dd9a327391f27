package graft.functions

import org.apache.spark.unsafe.types.UTF8String

import graft.core.OracleCharsets

/** `ora_charset_decode(bin, charset_id)` — raw column bytes → UTF-8 text
  * under an Oracle NLS charset ID (§2.7 charset-decode row;
  * Builder.cpp:131 `parseString(data, size, column->charsetId, ...)`
  * dispatching over Locales.cpp:648-800). The ID is a per-ROW expression,
  * not a literal: a feed mixing tables/columns of different charsets
  * decodes in one codegen'd projection, no per-charset branch in the
  * plan. Unknown IDs throw (the reference's config-error semantics);
  * malformed bytes substitute U+FFFD (CharacterSet.h:32).
  */
object CharsetNative {
  def decode(bytes: Array[Byte], charsetId: Int): UTF8String =
    UTF8String.fromString(OracleCharsets.decode(bytes, charsetId))
}
