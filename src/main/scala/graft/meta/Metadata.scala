package graft.meta

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.functions.TypeGuess
import graft.util.Cols

import java.util.concurrent.TimeoutException
import scala.concurrent.Await
import scala.concurrent.duration._

/** Output metadata generators (SURVEY.md §2.9 K6/K7).
  *
  * fields.csv / tables.csv / datapackage.json (Tabular Data Package with
  * primaryKey/foreignKeys) and the SQL DDL + load scripts, all as pure
  * string generation from the planned DataFrames' schemas plus the A1/A4
  * aggregations. Shapes follow the reference goldens
  * (`/root/reference/fixtures/basic_expected/`).
  */
object Metadata {

  /** Per-field metadata row (fields.csv line / datapackage field). */
  final case class FieldMeta(tableName: String, fieldName: String, fieldType: String,
      fieldTitle: String, count: Long)

  /** A1+A4 in one pass per table: per-field occurrence count (count of
    * non-null values — the reference counts key presence,
    * `docs/outputs.md:72-73`) and guessed type. ONE aggregation job per
    * table: all counts and all type-guess lattice folds together.
    *
    * `flattenToDir` with `preview == 0` gets the same rows without this
    * job, from [[observe]] on its first sink write; this stays for
    * `preview > 0` (the counts must cover rows the sinks do not write),
    * `flatten(analyze = true)` and every caller without a sink.
    */
  def analyze(tableName: String, df: DataFrame): Seq[FieldMeta] = {
    val (aggs, decode) = fieldAggs(tableName, df.schema)
    if (aggs.isEmpty) return Nil
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    decode(row.get)
  }

  /** A table's [[analyze]] rows riding on an action of the caller's: `df`
    * carries the same aggregates as observed metrics (`Dataset.observe`),
    * so the sink write that consumes it computes them in its own tasks.
    * Call `result` only after an action on `df` has returned successfully.
    */
  final class ObservedFields private[Metadata] (val df: DataFrame,
      fetch: () => Seq[FieldMeta]) {
    def result(): Seq[FieldMeta] = fetch()
  }

  /** How long `result` waits for the metrics after the action returned. */
  private val ObservedWait = 30.seconds

  def observe(tableName: String, df: DataFrame): ObservedFields = {
    val (aggs, decode) = fieldAggs(tableName, df.schema)
    if (aggs.isEmpty) return new ObservedFields(df, () => Nil)
    val obs = Observation()
    new ObservedFields(df.observe(obs, aggs.head, aggs.tail: _*), () => {
      // the session's query listener delivers the metrics right after the
      // action; should that event never come, the wait ends and the
      // separate aggregation job computes the same rows
      val row = try Some(Await.result(obs.future, ObservedWait))
        catch { case _: TimeoutException => None }
      row.filter(_.length == aggs.size) match {
        case Some(r) => decode(r.get)
        case None    => analyze(tableName, df)
      }
    })
  }

  /** The A1+A4 aggregates of one table (aggregate i aliased `m<i>`) and the
    * decoder of their values by position — the one definition behind both
    * [[analyze]] and [[observe]], so the two paths cannot drift apart.
    */
  private def fieldAggs(tableName: String, schema: StructType)
      : (Seq[Column], (Int => Any) => Seq[FieldMeta]) = {
    val fields = schema.fields.toSeq
    val dynFields = fields.filter(f => TypeGuess.staticType(f.dataType).isEmpty)
    val aggs = (fields.map(f => count(Cols.col(f.name))) ++
      dynFields.map(f => TypeGuess.guessAgg(Cols.col(f.name))))
      .zipWithIndex.map { case (c, i) => c.as(s"m$i") }
    val dynIdx = dynFields.map(_.name).zipWithIndex.toMap
    val decode = (value: Int => Any) => fields.zipWithIndex.map { case (f, i) =>
      val tpe = TypeGuess.staticType(f.dataType)
        .getOrElse(value(fields.length + dynIdx(f.name)).asInstanceOf[String])
      // _link/_link_* are always text with count = rows (non-null anyway)
      FieldMeta(tableName, f.name, if (f.name.startsWith("_link")) TypeGuess.Text else tpe,
        f.name, value(i).asInstanceOf[Long])
    }
    (aggs, decode)
  }

  /** A2 `stats` (`/root/reference/docs/options.md:758-774`): per-field
    * min/max/distinct-count, embedded in datapackage.json when requested.
    * ONE aggregation job per table; by default distinct counts use
    * HyperLogLog (`approx_count_distinct`) — at 100 TB an exact distinct
    * per field is a full shuffle per column, and the reference's use is
    * descriptive. `exact = true` switches to exact `count_distinct` for
    * small tables or when the numbers feed a correctness check.
    */
  final case class FieldStats(fieldName: String, min: Option[String],
      max: Option[String], approxDistinct: Long)

  def analyzeStats(df: DataFrame, exact: Boolean = false): Seq[FieldStats] = {
    val fields = df.schema.fields
    if (fields.isEmpty) return Nil
    val aggs = fields.flatMap { f =>
      val c = Cols.col(f.name)
      Seq(min(c).cast("string"), max(c).cast("string"),
        if (exact) count_distinct(c) else approx_count_distinct(c))
    }.toSeq
    val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
    fields.zipWithIndex.map { case (f, i) =>
      FieldStats(f.name,
        Option(row.getString(i * 3)), Option(row.getString(i * 3 + 1)),
        row.getLong(i * 3 + 2))
    }.toSeq
  }

  def fieldsCsv(metas: Seq[FieldMeta]): String = {
    val sb = new StringBuilder("table_name,field_name,field_type,field_title,count\n")
    metas.foreach { m =>
      sb.append(s"${csv(m.tableName)},${csv(m.fieldName)},${csv(m.fieldType)},${csv(m.fieldTitle)},${m.count}\n")
    }
    sb.toString
  }

  def tablesCsv(tables: Seq[(String, String)]): String = {
    val sb = new StringBuilder("table_name,table_title\n")
    tables.foreach { case (n, t) => sb.append(s"${csv(n)},${csv(t)}\n") }
    sb.toString
  }

  /** datapackage.json — tabular-data-package profile with per-resource
    * schema, primaryKey `_link`, and `foreignKeys` from `_link_<t>` →
    * `<t>._link` (`fixtures/pushdown_expected/datapackage.json`;
    * `docs/changelog.md:203`).
    *
    * `stats` (per table, per field) embeds the A2 statistics into each
    * field entry as `"stats":{"min","max","distinct"}` — the reference's
    * `stats` option "adds additional statistics about the output files in
    * the datapackage.json output" (`docs/options.md:758-760`; exact shape
    * is ours, libflatterer is not vendored).
    */
  def datapackage(tables: Seq[(String, Seq[FieldMeta])], mainTable: String,
      titles: Map[String, String] = Map.empty,
      stats: Map[String, Map[String, FieldStats]] = Map.empty): String = {
    val tableNames = tables.map(_._1).toSet
    val resources = tables.map { case (name, metas) =>
      val outFile = titles.getOrElse(name, name)
      val tableStats = stats.getOrElse(name, Map.empty)
      val fields = metas.map { m =>
        val statPart = tableStats.get(m.fieldName).map { s =>
          val mn = s.min.map(js).getOrElse("null")
          val mx = s.max.map(js).getOrElse("null")
          s""","stats":{"min":$mn,"max":$mx,"distinct":${s.approxDistinct}}"""
        }.getOrElse("")
        s"""{"name":${js(m.fieldName)},"type":${js(m.fieldType)},"count":${m.count}$statPart}"""
      }.mkString("[", ",", "]")
      val fks = metas.collect {
        case m if m.fieldName.startsWith("_link_") && tableNames.contains(m.fieldName.stripPrefix("_link_")) =>
          val ref = m.fieldName.stripPrefix("_link_")
          s"""{"fields":${js(m.fieldName)},"reference":{"resource":${js(ref)},"fields":"_link"}}"""
      }
      val fkPart = if (fks.nonEmpty) s""","foreignKeys":[${fks.mkString(",")}]""" else ""
      val pk = if (metas.exists(_.fieldName == "_link")) s""","primaryKey":"_link"""" else ""
      s"""{"profile":"tabular-data-resource","name":${js(name)},"schema":{"fields":$fields$pk$fkPart},"path":${js(s"csv/$outFile.csv")}}"""
    }.mkString("[", ",", "]")
    s"""{"profile":"tabular-data-package","resources":$resources}"""
  }

  /** SQL type mapping per the reference DDL goldens
    * (`fixtures/basic_expected/postgresql/postgresql_schema.sql`):
    * text→TEXT, number→NUMERIC, date/datetime→TIMESTAMP, boolean→BOOLEAN.
    * Column names lower-cased.
    */
  private def sqlType(t: String): String = t match {
    case TypeGuess.Number              => "NUMERIC"
    case TypeGuess.Date | TypeGuess.Datetime => "TIMESTAMP"
    case "boolean"                     => "BOOLEAN"
    case _                             => "TEXT"
  }

  /** CREATE TABLE script (postgres and sqlite share the shape). */
  def ddlScript(tables: Seq[(String, Seq[FieldMeta])]): String =
    tables.map { case (name, metas) =>
      val cols = metas.map(m => s"""    "${m.fieldName.toLowerCase}" ${sqlType(m.fieldType)}""")
      s"""CREATE TABLE "$name"(\n${cols.mkString(",\n")});\n"""
    }.mkString("\n")

  /** CREATE TABLE text stored inside the direct `sqlite.db` (K3): the
    * [[ddlScript]] column shape plus `FOREIGN KEY ("_link_<t>")
    * REFERENCES "<t>"("_link")` clauses — the reference's direct export
    * carries FK constraints ("SQLite export has indexes and foreign key
    * contraints", `/root/reference/docs/changelog.md:222`) that the
    * plain load-script DDL (shared with postgres) does not. Tables are
    * named by their output TITLE (the csv file name, `docs/outputs
    * .md:42`); `titleByName` maps planner names (what `_link_<name>`
    * columns encode) to those titles so renamed references stay valid.
    */
  def sqliteCreateTable(title: String, metas: Seq[FieldMeta],
      titleByName: Map[String, String]): String = {
    val cols = metas.map(m => s"""    "${m.fieldName.toLowerCase}" ${sqlType(m.fieldType)}""")
    val fks = metas.collect {
      case m if m.fieldName.startsWith("_link_") &&
          titleByName.contains(m.fieldName.stripPrefix("_link_")) =>
        val ref = titleByName(m.fieldName.stripPrefix("_link_"))
        s"""    FOREIGN KEY ("${m.fieldName.toLowerCase}") REFERENCES "$ref"("_link")"""
    }
    s"""CREATE TABLE "$title"(\n${(cols ++ fks).mkString(",\n")})"""
  }

  /** Evolve-into-existing-store DDL delta (`/root/reference/docs/options
    * .md:425-458`): reconcile the newly planned tables against the schema
    * already in the database (e.g. [[parseDatapackage]] of the prior
    * run's datapackage.json) per the reference's rules:
    *   - table missing from the store → CREATE TABLE
    *   - existing table, new field → ALTER TABLE ... ADD COLUMN
    *   - same field with a conflicting guessed type → postgres: ALTER the
    *     column to TEXT (all types coerce to text); sqlite: keep the
    *     original type (sqlite cannot alter column types, and its dynamic
    *     typing accepts the inserts anyway) — emitted as a comment so the
    *     divergence is visible in the script
    *   - store fields absent from the new data → untouched (NULL-filled
    *     on insert)
    */
  def evolveScript(existing: Seq[(String, Seq[FieldMeta])],
      target: Seq[(String, Seq[FieldMeta])], postgres: Boolean = true): String = {
    val existingByTable = existing.toMap
    target.map { case (name, metas) =>
      existingByTable.get(name) match {
        case None => ddlScript(Seq(name -> metas))
        case Some(have) =>
          val haveTypes = have.map(m => m.fieldName -> m.fieldType).toMap
          val stmts = metas.flatMap { m =>
            haveTypes.get(m.fieldName) match {
              case None =>
                Some(s"""ALTER TABLE "$name" ADD COLUMN "${m.fieldName.toLowerCase}" ${sqlType(m.fieldType)};""")
              case Some(t) if sqlType(t) != sqlType(m.fieldType) && sqlType(t) != "TEXT" =>
                // (a column already relaxed to TEXT accepts every later
                // type — re-emitting ALTER ... TYPE TEXT each load is a
                // no-op statement, so the conflict branch is skipped)
                if (postgres)
                  Some(s"""ALTER TABLE "$name" ALTER COLUMN "${m.fieldName.toLowerCase}" TYPE TEXT;""")
                else
                  Some(s"""-- "$name"."${m.fieldName.toLowerCase}": type ${sqlType(m.fieldType)} conflicts with existing ${sqlType(t)}; sqlite keeps the original type""")
              case _ => None
            }
          }
          if (stmts.isEmpty) "" else stmts.mkString("", "\n", "\n")
      }
    }.filter(_.nonEmpty).mkString("\n")
  }

  /** Merge an existing store schema with a new load's — the schema the
    * store actually holds AFTER [[evolveScript]] runs: existing fields
    * keep their position (relaxed to text on a type conflict, mirroring
    * the ALTER), new fields append, tables union. The evolved
    * datapackage.json must describe THIS, not just the latest load —
    * otherwise the next evolve re-ADDs columns the store already has.
    */
  def mergeFields(existing: Seq[(String, Seq[FieldMeta])],
      target: Seq[(String, Seq[FieldMeta])]): Seq[(String, Seq[FieldMeta])] = {
    val targetByTable = target.toMap
    val merged = existing.map { case (name, have) =>
      val incoming = targetByTable.getOrElse(name, Nil)
      val incomingByName = incoming.map(m => m.fieldName -> m).toMap
      val kept = have.map { m =>
        incomingByName.get(m.fieldName) match {
          case Some(t) if sqlType(t.fieldType) != sqlType(m.fieldType) =>
            m.copy(fieldType = TypeGuess.Text, count = m.count + t.count)
          case Some(t) => m.copy(count = m.count + t.count)
          case None    => m
        }
      }
      val haveNames = have.map(_.fieldName).toSet
      name -> (kept ++ incoming.filterNot(m => haveNames.contains(m.fieldName)))
    }
    val existingNames = existing.map(_._1).toSet
    merged ++ target.filterNot { case (n, _) => existingNames.contains(n) }
  }

  /** Parse a datapackage.json (ours or the reference's — same profile)
    * back into per-table field metadata, for [[evolveScript]] against a
    * store created by a previous run.
    */
  def parseDatapackage(json: String): Seq[(String, Seq[FieldMeta])] = {
    import scala.jdk.CollectionConverters._
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    Option(root.get("resources")).toSeq.flatMap(_.elements().asScala).map { res =>
      val name = res.get("name").asText()
      val fields = Option(res.get("schema")).flatMap(s => Option(s.get("fields"))).toSeq
        .flatMap(_.elements().asScala).map { f =>
          FieldMeta(name, f.get("name").asText(), f.get("type").asText(),
            f.get("name").asText(),
            Option(f.get("count")).map(_.asLong()).getOrElse(0L))
        }
      name -> fields
    }
  }

  /** postgres `\copy` loader (`docs/outputs.md:87-161`). */
  def postgresLoadScript(tables: Seq[String]): String =
    tables.map(t => s"""\\copy "$t" from 'csv/$t.csv' with CSV HEADER""").mkString("\n") + "\n"

  /** sqlite `.import` loader. */
  def sqliteLoadScript(tables: Seq[String]): String =
    ".mode csv\n" +
      tables.map(t => s""".import --skip 1 'csv/$t.csv' $t""").mkString("\n") + "\n"

  private def csv(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n')) "\"" + s.replace("\"", "\"\"") + "\"" else s

  private def js(s: String): String = graft.util.Json.js(s)
}
