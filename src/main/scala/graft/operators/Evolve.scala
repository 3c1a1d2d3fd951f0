package graft.operators

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.util.Cols

/** Schema-evolution union (SURVEY.md §2.7 U1/U2).
  *
  * The reference's `evolve` mode appends into an existing store, creating
  * missing columns, NULL-filling absent ones, and relaxing conflicting
  * column types to text (`/root/reference/docs/options.md:425-458`). The
  * Spark-native equivalent is `unionByName(allowMissingColumns = true)`
  * plus an explicit conflict-relaxation pass — no custom node needed;
  * Catalyst still prunes and pushes through the union.
  */
object Evolve {

  /** Union any number of differently-shaped DataFrames by column name.
    * Missing columns → NULL; same-name columns with incompatible types →
    * both cast to string (the reference's postgres rule). Column order:
    * first-seen across the inputs.
    */
  def unionEvolve(dfs: Seq[DataFrame]): DataFrame = {
    require(dfs.nonEmpty, "unionEvolve of zero inputs")
    // first-seen column order with resolved types
    val ordered = scala.collection.mutable.LinkedHashMap.empty[String, DataType]
    dfs.foreach(_.schema.fields.foreach { f =>
      ordered.get(f.name) match {
        case None                           => ordered += f.name -> f.dataType
        case Some(t) if t == f.dataType     => ()
        case Some(t) if numericMerge(t, f.dataType).isDefined =>
          ordered += f.name -> numericMerge(t, f.dataType).get
        case Some(_)                        => ordered += f.name -> StringType
      }
    })
    val aligned = dfs.map { df =>
      val present = df.schema.fields.map(f => f.name -> f.dataType).toMap
      df.select(ordered.toSeq.map { case (name, target) =>
        present.get(name) match {
          case Some(t) if t == target => Cols.col(name)
          case Some(_)                => Cols.col(name).cast(target)
          case None                   => lit(null).cast(target).as(name)
        }
      }: _*)
    }
    aligned.reduce(_.unionAll(_))
  }

  /** Widen within the integral chain, within the fractional chain, and
    * across kinds ONLY when the fractional target represents every value
    * of the integral side exactly (integral bit-width ≤ the float's
    * mantissa: ≤16 bits for Float's 24, ≤32 for Double's 53). The lossy
    * combinations — Long with Float/Double, Int with Float — fall through
    * to the string relaxation: casting Long ids to Double silently
    * corrupts values above 2^53 (2^24 for Float), the same corruption the
    * decimal rule below avoids, and the reference's behavior for
    * conflicting types is relax-to-text anyway (`docs/options
    * .md:425-443`). Decimals (or anything off the chains) also fall
    * through.
    */
  private def numericMerge(a: DataType, b: DataType): Option[DataType] = {
    def within(rank: Seq[DataType]): Option[DataType] = {
      val ia = rank.indexOf(a); val ib = rank.indexOf(b)
      if (ia >= 0 && ib >= 0) Some(rank(math.max(ia, ib))) else None
    }
    def cross: Option[DataType] = {
      val (i, f) = (a, b) match {
        case (x @ (ByteType | ShortType | IntegerType | LongType), y @ (FloatType | DoubleType)) => (x, y)
        case (y @ (FloatType | DoubleType), x @ (ByteType | ShortType | IntegerType | LongType)) => (x, y)
        case _ => return None
      }
      (i, f) match {
        case ((ByteType | ShortType), FloatType)                => Some(FloatType)
        case ((ByteType | ShortType | IntegerType), DoubleType) => Some(DoubleType)
        case _                                                  => None // lossy → string
      }
    }
    within(Seq(ByteType, ShortType, IntegerType, LongType))
      .orElse(within(Seq(FloatType, DoubleType)))
      .orElse(cross)
  }
}
