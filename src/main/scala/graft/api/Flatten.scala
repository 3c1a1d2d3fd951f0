package graft.api

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import graft.model._
import graft.plan.FlattenPlanner
import graft.meta.Metadata
import graft.sinks.Sinks
import graft.util.ConcurrentJobs

import scala.collection.immutable.ListMap

/** High-level entry point mirroring the reference's `flatterer.flatten`
  * (`/root/reference/flatterer/__init__.py:58-101`): one call that parses,
  * plans, materializes tables + metadata, and optionally writes sinks.
  */
object Flatten {

  /** Result: output table title → DataFrame, plus the analyzed metadata
    * (fields.csv rows) — the `dataframe=True` analog (K9).
    *
    * Metadata keys by the table NAME (the planner's identity, which FK
    * columns `_link_<name>` and control-file specs reference); `names`
    * maps name → output title, so a tables.csv rename round-trips.
    */
  final case class FlattenResult(
      tables: ListMap[String, DataFrame],
      names: Seq[(String, String)], // (name, title) in table order
      fields: Seq[Metadata.FieldMeta],
      opts: FlattenOptions) {

    def fieldsCsv: String = Metadata.fieldsCsv(fields)
    def tablesCsv: String = Metadata.tablesCsv(names)
    def datapackageJson: String =
      Metadata.datapackage(groupedFields, opts.mainTableName, names.toMap)
    def ddl: String = Metadata.ddlScript(groupedFields)

    private[api] def groupedFields: Seq[(String, Seq[Metadata.FieldMeta])] =
      names.map { case (n, _) => (n, fields.filter(_.tableName == n)) }
  }

  /** Flatten a parsed DataFrame of documents. `analyze=true` runs the A1/A4
    * metadata aggregations (one [[Metadata.analyze]] job per table); skip
    * it when only the data is needed.
    *
    * One parse, many tables: the input is persisted (MEMORY_AND_DISK)
    * while multiple child tables are derived — without this every output
    * table re-reads and re-parses the source (SURVEY.md §4 watch list).
    * Caller should `unpersist()` via the returned handle when done; at
    * 100 TB prefer `persistInput=false` + a columnar source where
    * re-scanning is cheap and pruned.
    */
  def flatten(input: DataFrame, opts: FlattenOptions = FlattenOptions(),
      analyze: Boolean = false, persistInput: Boolean = true): FlattenResult = {
    val src =
      if (persistInput) input.persist(StorageLevel.MEMORY_AND_DISK)
      else input
    val planned = FlattenPlanner.plan(src, opts)
    val tables = ListMap(planned.map(t => t.title -> t.df): _*)
    val fields =
      if (analyze) planned.flatMap(t => Metadata.analyze(t.name, t.df))
      else Nil
    FlattenResult(tables, planned.map(t => (t.name, t.title)), fields, opts)
  }

  /** Flatten and write the full output directory layout the reference
    * produces (`docs/outputs.md`): `csv/<table>.csv`, `fields.csv`,
    * `tables.csv`, `datapackage.json`, DDL + load scripts, and optionally
    * parquet. `preview` limits sink rows while metadata reflects all data
    * (`docs/options.md:776-794`).
    *
    * Every table's CSV and parquet writes run side by side
    * ([[ConcurrentJobs]]). With `preview == 0` the metadata costs no job
    * of its own: each table's counts and type guesses are observed on its
    * first full write (CSV, else parquet). With `preview > 0`, or with
    * neither sink on, they come from one [[Metadata.analyze]] job per
    * table. XLSX, SQLite and `--evolve` need the metadata, so they follow
    * the writes. `datapackage.json` is written last, so a run that fails
    * writes none; it also leaves nothing persisted.
    */
  def flattenToDir(input: DataFrame, outDir: String,
      opts: FlattenOptions = FlattenOptions(),
      csv: Boolean = true, parquet: Boolean = false, sqlScripts: Boolean = false,
      xlsx: Boolean = false, evolve: Boolean = false,
      stats: Boolean = false, sqliteDb: Boolean = false): FlattenResult =
    try {
      val observe = opts.preview == 0 && (csv || parquet)
      val planned = flatten(input, opts, analyze = !observe)
      val observed = writeTables(input.sparkSession.sparkContext, planned, outDir,
        csv, parquet, observe)
      val res = if (observe) planned.copy(fields = observed.flatten) else planned
      writeRest(res, outDir, sqlScripts, xlsx, evolve, stats, sqliteDb)
      res
    } finally input.unpersist()

  /** Each table's CSV then parquet write as one task on [[ConcurrentJobs]];
    * with `observe`, the table's observed fields (in table order).
    */
  private def writeTables(sc: SparkContext, res: FlattenResult, outDir: String,
      csv: Boolean, parquet: Boolean, observe: Boolean): Seq[Seq[Metadata.FieldMeta]] = {
    val preview = res.opts.preview
    val tasks = res.names.map { case (name, title) => () => {
      val df = res.tables(title)
      val obs = if (observe) Some(Metadata.observe(name, df)) else None
      val first = obs.fold(df)(_.df)
      if (csv) Sinks.csvSingleFile(first, s"$outDir/csv", title, preview)
      if (parquet) Sinks.parquet(if (csv) df else first, s"$outDir/parquet", title, preview)
      obs.fold(Seq.empty[Metadata.FieldMeta])(_.result())
    }}
    ConcurrentJobs.runAll(sc, "flatten-sink", tasks)
  }

  /** Everything after the table writes: `stats`, `--evolve`, XLSX, SQLite,
    * the SQL scripts and the metadata files, `datapackage.json` last.
    */
  private def writeRest(res: FlattenResult, outDir: String, sqlScripts: Boolean,
      xlsx: Boolean, evolve: Boolean, stats: Boolean, sqliteDb: Boolean): Unit = {
    val opts = res.opts
    // `stats` (`docs/options.md:758-774`): A2 min/max/distinct per field,
    // embedded in datapackage.json. One extra aggregation job per table;
    // like the counts, stats reflect ALL data even under `preview`.
    val statsByTable: Map[String, Map[String, Metadata.FieldStats]] =
      if (stats) res.names.map { case (n, t) =>
        n -> Metadata.analyzeStats(res.tables(t)).map(s => s.fieldName -> s).toMap
      }.toMap
      else Map.empty
    // --evolve (`docs/options.md:425-458`): reconcile against the schema a
    // previous run left in this directory — emit the DDL delta (CREATE for
    // new tables, ALTER ADD COLUMN / relax for existing ones) so the new
    // load applies onto the existing store instead of recreating it
    val priorDp = java.nio.file.Paths.get(s"$outDir/datapackage.json")
    val evolvedFields: Option[Seq[(String, Seq[Metadata.FieldMeta])]] =
      if (evolve && java.nio.file.Files.exists(priorDp)) {
        val existing = Metadata.parseDatapackage(java.nio.file.Files.readString(priorDp))
        Sinks.writeString(s"$outDir/postgresql/postgresql_evolve.sql",
          Metadata.evolveScript(existing, res.groupedFields, postgres = true))
        Sinks.writeString(s"$outDir/sqlite/sqlite_evolve.sql",
          Metadata.evolveScript(existing, res.groupedFields, postgres = false))
        Some(Metadata.mergeFields(existing, res.groupedFields))
      } else None
    if (xlsx) {
      val limited = res.tables.toSeq.map { case (n, df) =>
        n -> (if (opts.preview > 0) df.limit(opts.preview) else df)
      }
      graft.sinks.XlsxSink.write(limited, s"$outDir/output.xlsx")
    }
    if (sqliteDb) {
      // K3 direct load: `sqlite.db` in the output directory, one table per
      // csv table, named by the csv file's TITLE so tables.csv renames
      // carry through ("each csv file is put in its own table",
      // `/root/reference/docs/outputs.md:22,42`). The stored CREATE text
      // adds FOREIGN KEY clauses, `_link` gets a unique index (the FK
      // parent key) and every `_link_<t>` column a plain index — the
      // reference's direct export has both (`docs/changelog.md:222`).
      val byName = res.groupedFields.toMap
      val titleByName = res.names.toMap
      val specs = res.names.map { case (n, t) =>
        val df = res.tables(t)
        val metas = byName(n)
        val linkIdx =
          if (metas.exists(_.fieldName == "_link"))
            Seq(graft.sinks.SqliteSink.IndexSpec(s"idx_${t}__link", "_link",
              unique = true,
              Some(s"""CREATE UNIQUE INDEX "idx_${t}__link" ON "$t"("_link")""")))
          else Nil
        val fkIdx = metas.map(_.fieldName).collect {
          case f if f.startsWith("_link_") &&
              titleByName.contains(f.stripPrefix("_link_")) =>
            graft.sinks.SqliteSink.IndexSpec(s"idx_${t}_$f", f, unique = false,
              Some(s"""CREATE INDEX "idx_${t}_$f" ON "$t"("$f")"""))
        }
        graft.sinks.SqliteSink.TableSpec(t,
          if (opts.preview > 0) df.limit(opts.preview) else df,
          Metadata.sqliteCreateTable(t, metas, titleByName), linkIdx ++ fkIdx)
      }
      graft.sinks.SqliteSink.writeSpecs(specs, s"$outDir/sqlite.db")
    }
    if (sqlScripts) {
      Sinks.writeString(s"$outDir/postgresql/postgresql_schema.sql", res.ddl)
      Sinks.writeString(s"$outDir/postgresql/postgresql_load.sql",
        Metadata.postgresLoadScript(res.tables.keys.toSeq))
      Sinks.writeString(s"$outDir/sqlite/sqlite_schema.sql", res.ddl)
      Sinks.writeString(s"$outDir/sqlite/sqlite_load.sql",
        Metadata.sqliteLoadScript(res.tables.keys.toSeq))
    }
    Sinks.writeString(s"$outDir/fields.csv", res.fieldsCsv)
    Sinks.writeString(s"$outDir/tables.csv", res.tablesCsv)
    // after an evolve, the written datapackage must describe the MERGED
    // store schema (what the DB holds after the ALTERs), not just this
    // load — otherwise the next evolve re-ADDs columns that already exist
    Sinks.writeString(s"$outDir/datapackage.json", evolvedFields match {
      case Some(merged) =>
        Metadata.datapackage(merged, opts.mainTableName, res.names.toMap, statsByTable)
      case None =>
        Metadata.datapackage(res.groupedFields, opts.mainTableName, res.names.toMap,
          statsByTable)
    })
  }
}
