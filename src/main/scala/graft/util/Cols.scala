package graft.util

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions

/** Column references by exact field name. JSON keys may hold any
  * character, so a name is always backtick-quoted with embedded backticks
  * doubled — an unescaped `` `c`d` `` fails analysis with
  * INVALID_ATTRIBUTE_NAME_SYNTAX.
  */
object Cols {
  def quoted(name: String): String = s"`${name.replace("`", "``")}`"

  /** The top-level column named exactly `name`. */
  def col(name: String): Column = functions.col(quoted(name))
}
