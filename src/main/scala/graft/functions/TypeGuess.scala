package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.util.Cols

/** Field type guessing (SURVEY.md §2.5 A4).
  *
  * The reference scans every value of a string field and reports the most
  * specific type that covers all of them, with vocabulary
  * {text, number, date, datetime} (`/root/reference/fixtures/basic_expected/
  * fields.csv`; upgraded guessing `docs/changelog.md:92-95`).
  *
  * We express the lattice fold as plain aggregate expressions — a map-side
  * partial `max` over a per-value rank — instead of a custom Aggregator:
  * it stays inside whole-stage codegen and gets partial aggregation free.
  *
  * Rank lattice (higher = more general):
  *   0 empty/null, 1 date, 2 datetime, 3 number, 4 text
  * A field's guessed type is the max rank over its non-null values
  * (date ⊔ datetime = datetime; anything ⊔ text = text; number and
  * date don't join except at text — handled by rank ordering: a mix of
  * number and date yields max(3, 1)=3 "number", which is wrong, so date
  * ranks are only comparable through text; see `rank` below where numbers
  * that also parse as dates can't occur — a value is ranked by the most
  * specific type it parses as, and mixing kinds falls through to text.)
  */
object TypeGuess {

  /** text/number/date/datetime vocabulary (`fields.csv` contract). */
  val Text = "text"; val Number = "number"; val Date = "date"; val Datetime = "datetime"

  private val dateRe     = "^\\d{4}-\\d{2}-\\d{2}$"
  private val datetimeRe = "^\\d{4}-\\d{2}-\\d{2}[T ]\\d{2}:\\d{2}(:\\d{2}(\\.\\d+)?)?(Z|[+-]\\d{2}:?\\d{2})?$"
  private val numberRe   = "^-?\\d+(\\.\\d+)?([eE][+-]?\\d+)?$"

  /** Per-value kind: 0 null/empty, 1 date, 2 datetime, 4 number, 8 text.
    * We aggregate with bit-OR (via max over a small set union encoded as
    * bits) so we can distinguish {date}⊔{datetime}=datetime from
    * {date}⊔{number}=text.
    */
  private def kindBits(c: Column): Column =
    when(c.isNull || c === "", 0)
      .when(regexp_like(c, lit(dateRe)), 1)
      .when(regexp_like(c, lit(datetimeRe)), 2)
      .when(regexp_like(c, lit(numberRe)), 4)
      .otherwise(8)

  /** Aggregate expression: the guessed type name for a string column. */
  def guessAgg(c: Column): Column = {
    val bits = bit_or(kindBits(c))
    when(bits === 0, Text) // all null/empty → text (reference default)
      .when(bits === 1, Date)
      .when(bits.bitwiseAND(lit(~3)) === 0, Datetime) // only date/datetime bits
      .when(bits === 4, Number)
      .otherwise(Text)
  }

  /** Static type name for a non-string Spark type (no scan needed). */
  def staticType(dt: DataType): Option[String] = dt match {
    case _: NumericType                => Some(Number)
    case DateType                      => Some(Date)
    case _: TimestampType              => Some(Datetime)
    case TimestampNTZType              => Some(Datetime)
    case BooleanType                   => Some("boolean")
    case StringType                    => None // needs the scan
    case _                             => Some(Text)
  }

  /** Guess all fields of `df` in ONE aggregation job.
    * Returns (fieldName → guessedType). Non-string fields are typed
    * statically from the Spark schema; string fields get the lattice fold.
    */
  def guessTypes(df: DataFrame): Map[String, String] = {
    val static = df.schema.fields.flatMap(f => staticType(f.dataType).map(f.name -> _)).toMap
    val dynamic = df.schema.fields.filter(f => staticType(f.dataType).isEmpty)
    if (dynamic.isEmpty) static
    else {
      val aggs = dynamic.map(f => guessAgg(Cols.col(f.name)).as(f.name)).toSeq
      val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
      static ++ dynamic.zipWithIndex.map { case (f, i) => f.name -> row.getString(i) }
    }
  }
}
