package graft.sinks

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.util.Cols
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Output sinks (SURVEY.md §2.9).
  *
  * K1 CSV directory (one headerful file per table, like the reference's
  * `csv/<table>.csv`), K5 parquet, K6 SQL script files. XLSX is the
  * dependency-free [[XlsxSink]]; the direct SQLite load is the
  * dependency-free [[SqliteSink]] (K3). Postgres needs a live server —
  * offline it stays in script form (K6, the documented equivalent,
  * `/root/reference/docs/outputs.md:87-161`).
  */
object Sinks {

  /** JSON-faithful CSV value rendering: JSON number `1.0` prints as `1`
    * (reference golden `fixtures/basic_expected/csv/main.csv` renders
    * input `"id": 1.0` as `1`). Spark would print `1.0`; normalize whole
    * doubles to integral form. Booleans print as JSON (`true`/`false`).
    */
  private def render(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType =>
      when(c.isNotNull && c === floor(c) && abs(c) < 1e15,
        c.cast(DecimalType(30, 0)).cast(StringType)).otherwise(c.cast(StringType))
    case _ => c
  }

  /** Write one table as a single `dir/<name>.csv` with header.
    * `coalesce(1)` is a deliberate single-file barrier for golden parity /
    * small exports — the distributed path is [[csvDir]] (part files).
    */
  def csvSingleFile(df: DataFrame, dir: String, name: String, limit: Int = 0): Unit = {
    val limited = if (limit > 0) df.limit(limit) else df
    val rendered = limited.select(limited.schema.fields.map(f =>
      render(Cols.col(f.name), f.dataType).as(f.name)).toSeq: _*)
    val tmp = s"$dir/.tmp_$name"
    rendered.coalesce(1).write.mode("overwrite").option("header", true)
      .option("emptyValue", "")
      .option("escape", "\"") // RFC-4180 quote doubling, like the reference
      .csv(tmp)
    val listing = Files.list(Paths.get(tmp))
    val part =
      try listing.toArray.map(_.toString).find(_.endsWith(".csv"))
        .getOrElse(sys.error(s"no csv part in $tmp"))
      finally listing.close()
    Files.createDirectories(Paths.get(dir))
    Files.move(Paths.get(part), Paths.get(s"$dir/$name.csv"), StandardCopyOption.REPLACE_EXISTING)
    deleteRecursive(Paths.get(tmp))
  }

  /** Distributed CSV write (part files) — the 100 TB path. */
  def csvDir(df: DataFrame, dir: String, name: String, limit: Int = 0): Unit = {
    val limited = if (limit > 0) df.limit(limit) else df
    limited.write.mode("overwrite").option("header", true)
      .option("escape", "\"").csv(s"$dir/$name")
  }

  /** K5: parquet sink (native). */
  def parquet(df: DataFrame, dir: String, name: String, limit: Int = 0): Unit = {
    val limited = if (limit > 0) df.limit(limit) else df
    limited.write.mode("overwrite").parquet(s"$dir/$name.parquet")
  }

  /** Bucketed + sorted parquet table — the co-located-join layout for
    * repeated joins/aggregations on the same key at 100 TB: two tables
    * bucketed the same way join with ZERO exchange (each bucket pair is
    * joined in place; with `sortBy` the join is a merge without even a
    * sort). Registered through the session catalog (`saveAsTable` —
    * bucket metadata lives in the catalog, which is what makes Catalyst
    * trust the layout; a plain path write cannot carry it).
    */
  def parquetBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
      numBuckets: Int, mode: String = "overwrite"): Unit =
    df.write.mode(mode)
      .format("parquet")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(table)

  def writeString(path: String, content: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), content)
  }

  private def deleteRecursive(p: java.nio.file.Path): Unit = {
    if (Files.isDirectory(p)) {
      val listing = Files.list(p)
      try listing.forEach(deleteRecursive _) finally listing.close()
    }
    Files.deleteIfExists(p)
  }
}
