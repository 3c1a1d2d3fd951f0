package graft.plan

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model._
import graft.util.Cols.quoted

import scala.collection.immutable.ListMap
import scala.collection.mutable

/** The core flatten/normalize operator (SURVEY.md §2.3 P1-P10).
  *
  * Turns one DataFrame with arbitrarily nested schema (structs, arrays of
  * structs, arrays of scalars — the shape `spark.read.json` produces) into a
  * forest of flat DataFrames linked by surrogate keys, with the semantics of
  * the reference engine (flatterer — `/root/reference/docs/index.md:114-147`):
  *
  *   - sub-object       → promoted columns `parent<sep>child`
  *   - array of objects → child table, `_link` = `<parentLink>.<key>.<idx>`,
  *                        plus `_link_<ancestor>` FK columns for EVERY
  *                        ancestor (`/root/reference/docs/options.md:193-199`)
  *   - array of scalars → JSON-encoded string in the parent row
  *                        (`docs/changelog.md:191-197`), or a child table
  *                        with a `value` column under `arraysNewTable`
  *                        (`docs/options.md:644-661`)
  *   - empty objects    → no output row (`docs/changelog.md:279`)
  *
  * Everything is expressed as declarative DataFrame transformations
  * (`posexplode`, `getField`, `concat`) so Catalyst keeps column pruning /
  * predicate pushdown and whole-stage codegen — there is no per-document
  * driver-side walk. The planner is a pure function of (schema, options): it
  * never triggers a job itself except
  *   - [[LinkMode.Sequential]] root ids (zipWithIndex — golden-parity mode;
  *     use Monotonic or NaturalKey at scale), and
  *   - `inlineOneToOne` analysis (a global `max(size(arr))` aggregation per
  *     nesting level, mirroring the reference's analysis pass,
  *     `docs/options.md:624-642` — and fixing its documented multithread
  *     unsoundness, `docs/options.md:804`, since our aggregation is global).
  */
object FlattenPlanner {

  /** Internal working column names — prefixed to avoid colliding with data. */
  private val LINK = "__graft_link"
  private val POS  = "__graft_pos"
  private val ELEM = "__graft_elem"
  private val IDX  = "__graft_idx"
  private val VAL  = "__graft_value"

  /** One planned output table. `df` columns are in final output order. */
  final case class PlannedTable(name: String, title: String, df: DataFrame)

  /** Flatten `input` into an insertion-ordered map of table title → DataFrame.
    * Table order: main first, then child tables in depth-first field order —
    * the reference's "first seen" order (`docs/changelog.md:329`).
    */
  def flatten(input: DataFrame, opts: FlattenOptions = FlattenOptions()): ListMap[String, DataFrame] =
    ListMap(plan(input, opts).map(t => t.title -> t.df): _*)

  /** Variant-backed flatten (SURVEY.md §1.4): flatten a SCHEMALESS landing
    * zone — a Spark-4 `VariantType` column (e.g. `parse_json` over raw
    * text, or `to_variant_object` over heterogeneous structs) — without a
    * declared schema. ONE aggregation derives the merged schema of every
    * variant document (`schema_of_variant_agg`, the engine's shredding
    * primitive — the same infer-from-all-rows contract as the reference's
    * type guessing, `/root/reference/docs/index.md` §types), the variants
    * cast to that struct (typed per-path access; paths a document lacks
    * come back null, exactly like `spark.read.json`'s union schema), and
    * the existing planner takes over — every P1–P10 option applies
    * unchanged. Only the variant column is flattened; other columns of
    * `input` are ignored (project them into the documents first if they
    * belong to the output).
    *
    * Cost at scale: the schema aggregation is one corpus pass with a
    * map-side-combined schema merge (bytes: one merged-schema row per
    * partition), then the normal flatten scans — no driver-side document
    * walk anywhere.
    */
  def flattenVariant(input: DataFrame, variantCol: String,
      opts: FlattenOptions = FlattenOptions()): ListMap[String, DataFrame] = {
    val rawRow = input
      .select(schema_of_variant_agg(col(quoted(variantCol))).as("s"))
      .collect()(0)
    // schema_of_variant_agg over zero rows / an all-null column yields
    // the VOID schema (or NULL on some engines) — name that case
    // instead of NPEing on getString / falling into the misleading
    // "wrap scalar payloads in an object" branch below
    def emptyLandingZone(): Nothing =
      throw new IllegalArgumentException(
        s"flattenVariant: column $variantCol has no non-null variant " +
          "documents to infer a schema from (empty or all-null landing " +
          "zone) — nothing to flatten")
    if (rawRow.isNullAt(0)) emptyLandingZone()
    val raw = rawRow.getString(0)
    // the variant schema string spells structs OBJECT<...>; the DDL
    // parser wants STRUCT<...> (a plain token swap — OBJECT< cannot
    // occur inside a field name without backticks, which variant schema
    // strings don't emit)
    val ddl = raw.replace("OBJECT<", "STRUCT<")
    DataType.fromDDL(ddl) match {
      case st: StructType =>
        require(!input.columns.contains("__graft_doc"),
          "column name __graft_doc is reserved")
        val shredded = input
          .select(col(quoted(variantCol)).cast(st).as("__graft_doc"))
          .select(col("__graft_doc.*"))
        flatten(shredded, opts)
      case NullType => emptyLandingZone()
      case other => throw new IllegalArgumentException(
        s"flattenVariant: column $variantCol holds $other documents, not " +
          "objects — flatten needs object-typed documents (wrap scalar/" +
          "array payloads in an object first)")
    }
  }

  /** Full plan, including table name → title mapping (tables.csv control). */
  def plan(input: DataFrame, opts: FlattenOptions): Seq[PlannedTable] = {
    val spark = input.sparkSession

    // --- root `_link` generation (P7) -----------------------------------
    val withIdx: DataFrame = opts.linkMode match {
      case LinkMode.Sequential =>
        // Deterministic 0-based document index (golden parity,
        // `docs/changelog.md:309`). Costs one extra job over the scan.
        val schema2 = StructType(input.schema.fields :+ StructField(IDX, LongType, nullable = false))
        val rdd = input.rdd.zipWithIndex().map { case (r, i) => Row.fromSeq(r.toSeq :+ i) }
        spark.createDataFrame(rdd, schema2)
      case LinkMode.Monotonic =>
        input.withColumn(IDX, monotonically_increasing_id())
      case LinkMode.NaturalKey(c) =>
        input.withColumn(IDX, col(quoted(c)))
    }
    val rootLink = concat(lit(opts.idPrefix), col(quoted(IDX)).cast(StringType))
    val dataCols = input.schema.fields.map(f => col(quoted(f.name))).toSeq
    val root = withIdx.select(rootLink.as(LINK) +: dataCols: _*)

    // Root-level empty documents produce no row.
    val rootFiltered =
      if (opts.dropEmptyObjects && input.schema.fields.nonEmpty)
        root.where(anyNonNull(input.schema, n => col(quoted(n))))
      else root

    val out = mutable.ArrayBuffer.empty[PlannedTable]
    emitTable(out, opts,
      tableName = opts.mainTableName,
      df = rootFiltered,
      recType = input.schema,
      recCol = None,
      ancestors = Nil,
      pushdownIn = Nil)

    // --- tables.csv control (P8): titles + only_tables ------------------
    val titleByName = opts.tables.map(t => t.tableName -> t.tableTitle).toMap
    val listed = opts.tables.map(_.tableName).toSet
    val titled = out.toSeq
      .filter(t => !opts.onlyTables || opts.tables.isEmpty || listed.contains(t.name))
      .map(t => t.copy(title = titleByName.getOrElse(t.name, t.name)))
    // duplicate titles would silently drop tables from the result map
    val seenTitles = mutable.Set.empty[String]
    titled.map { t =>
      var title = t.title
      var k = 2
      while (seenTitles.contains(title)) { title = s"${t.title}_$k"; k += 1 }
      seenTitles += title
      t.copy(title = title)
    }
  }

  /** A3: report every top-level array-of-struct path's global max
    * cardinality and whether it qualifies for `inline_one_to_one`
    * (`/root/reference/docs/options.md:624-642`) — the same analysis the
    * planner runs internally, surfaced as a one-row-per-array DataFrame.
    * One aggregation job regardless of array count.
    */
  def oneToOneAnalysis(input: DataFrame, opts: FlattenOptions = FlattenOptions()): DataFrame = {
    import input.sparkSession.implicits._
    val walk = walkStruct(input.schema, Nil, opts)
    val cands = walk.children.filter(_._2.elementType.isInstanceOf[StructType])
    if (cands.isEmpty) return Seq.empty[(String, Int, Boolean)]
      .toDF("array_path", "max_size", "one_to_one")
    def field(path: Seq[String]): Column =
      path.tail.foldLeft(col(quoted(path.head)))(_.getField(_))
    val aggs = cands.zipWithIndex.map { case ((p, _), i) =>
      coalesce(max(size(field(p))), lit(0)).as(s"m$i") }
    val row = input.agg(aggs.head, aggs.tail: _*).collect()(0)
    cands.zipWithIndex.map { case ((p, _), i) =>
      val m = row.getInt(i)
      (p.mkString(opts.pathSeparator), m, m <= 1)
    }.toDF("array_path", "max_size", "one_to_one")
  }

  // ---------------------------------------------------------------------
  // Schema walk
  // ---------------------------------------------------------------------

  /** Walk result for one record struct: scalar leaves (incl. promoted
    * sub-object fields and JSON-encoded scalar arrays), child arrays, and
    * emit_obj structs. Order is depth-first field order.
    */
  private final case class Walk(
      scalars: Seq[(String, Seq[String])],
      children: Seq[(Seq[String], ArrayType)],
      emitObjs: Seq[(Seq[String], StructType)])

  private def walkStruct(st: StructType, prefix: Seq[String], opts: FlattenOptions): Walk = {
    val scalars  = mutable.ArrayBuffer.empty[(String, Seq[String])]
    val children = mutable.ArrayBuffer.empty[(Seq[String], ArrayType)]
    val emitObjs = mutable.ArrayBuffer.empty[(Seq[String], StructType)]
    st.fields.foreach { f =>
      val path = prefix :+ f.name
      f.dataType match {
        case s: StructType if opts.emitObj.contains(path) =>
          emitObjs += ((path, s))
        case s: StructType =>
          val w = walkStruct(s, path, opts)
          scalars ++= w.scalars; children ++= w.children; emitObjs ++= w.emitObjs
        case a @ ArrayType(_: StructType, _) =>
          children += ((path, a))
        case a: ArrayType if opts.arraysNewTable =>
          children += ((path, a))
        case _ =>
          scalars += ((path.mkString(opts.pathSeparator), path))
      }
    }
    Walk(scalars.toSeq, children.toSeq, emitObjs.toSeq)
  }

  // ---------------------------------------------------------------------
  // Recursive table emission
  // ---------------------------------------------------------------------

  /** Emit one table and recurse into its array children.
    *
    * @param df         rows of this table; contains LINK, `_link_<ancestor>`
    *                   FK columns, inherited pushdown columns, and the
    *                   record (top-level columns for the root, or the ELEM
    *                   struct column for child tables)
    * @param ancestors  ancestor table names, root-first
    * @param pushdownIn names of pushdown columns inherited from ancestors
    */
  private def emitTable(
      out: mutable.ArrayBuffer[PlannedTable],
      opts: FlattenOptions,
      tableName: String,
      df: DataFrame,
      recType: StructType,
      recCol: Option[String],
      ancestors: Seq[String],
      pushdownIn: Seq[String]): Unit = {

    def field(path: Seq[String]): Column = recCol match {
      case Some(rc) => path.foldLeft(col(quoted(rc)))(_.getField(_))
      case None     => path.tail.foldLeft(col(quoted(path.head)))(_.getField(_))
    }
    def fieldType(path: Seq[String]): DataType =
      path.foldLeft(recType: DataType) {
        case (s: StructType, name) => s(name).dataType
        case (ArrayType(e, _), name) => e match {
          case s: StructType => s(name).dataType
          case other         => other
        }
        case (other, _) => other
      }

    val walk0 = walkStruct(recType, Nil, opts)

    // --- inline_one_to_one analysis (P3/A3) -----------------------------
    // One aggregation job covering every candidate array at this level.
    val inlined: Set[Seq[String]] =
      if (opts.inlineOneToOne && walk0.children.nonEmpty) {
        val cands = walk0.children.filter(_._2.elementType.isInstanceOf[StructType])
        if (cands.isEmpty) Set.empty
        else {
          val aggs = cands.zipWithIndex.map { case ((p, _), i) => max(size(field(p))).as(s"m$i") }
          val row = df.agg(aggs.head, aggs.tail: _*).collect()(0)
          cands.zipWithIndex.collect {
            case ((p, _), i) if row.isNullAt(i) || row.getInt(i) <= 1 => p
          }.toSet
        }
      } else Set.empty

    // Resolve a leaf column, descending through inlined arrays via item 0.
    // `get` (not `getItem`): an inlined array may be EMPTY on a given row
    // (the 1:1 analysis only bounds it above), which must yield NULL, not
    // an ANSI INVALID_ARRAY_INDEX error.
    def leaf(path: Seq[String]): Column = {
      inlined.toSeq.filter(path.startsWith(_)).sortBy(-_.length).headOption match {
        case Some(p) => path.drop(p.length).foldLeft(get(field(p), lit(0)))(_.getField(_))
        case None    => field(path)
      }
    }

    // Merge inlined arrays' element fields into the scalar list (and hoist
    // their nested arrays as children of THIS table).
    val (walk, extraChildren) =
      if (inlined.isEmpty) (walk0, Nil)
      else {
        val scalars  = mutable.ArrayBuffer.empty[(String, Seq[String])]
        val children = mutable.ArrayBuffer.empty[(Seq[String], ArrayType)]
        scalars ++= walk0.scalars
        walk0.children.foreach { case (p, at) =>
          if (inlined.contains(p)) {
            val inner = walkStruct(at.elementType.asInstanceOf[StructType], p, opts)
            scalars ++= inner.scalars
            children ++= inner.children
          } else children += ((p, at))
        }
        (Walk(scalars.toSeq, children.toSeq, walk0.emitObjs), Nil)
      }
    val _ = extraChildren

    // --- scalar projection (P1/P2) --------------------------------------
    // Output order per the goldens (`fixtures/pushdown_expected/csv/
    // platforms.csv`): links, record fields, then inherited pushdown cols.
    val metaCols: Seq[Column] =
      if (opts.noLink) Nil
      else col(LINK).as("_link") +: ancestors.map(a => col(quoted(s"_link_$a")))

    // Promoted names can collide with literal keys (`{"a":{"b":1},"a_b":2}`
    // both yield `a_b`) or with the link/pushdown columns (a data field
    // literally named `_link`): suffix later occurrences — duplicate
    // column names would poison every sink and downstream select.
    val seenNames = mutable.Set.empty[String]
    if (!opts.noLink) { seenNames += "_link"; ancestors.foreach(a => seenNames += s"_link_$a") }
    seenNames ++= pushdownIn
    val scalarCols = walk.scalars.map { case (name0, path) =>
      var name = name0
      var k = 2
      while (seenNames.contains(name)) { name = s"${name0}_$k"; k += 1 }
      seenNames += name
      val c = fieldType(path) match {
        case _: ArrayType | _: MapType => to_json(leaf(path))
        case _                         => leaf(path)
      }
      c.as(name)
    }

    val projected = df.select(metaCols ++ scalarCols ++ pushdownIn.map(c => col(quoted(c))): _*)
    out += PlannedTable(tableName, tableName, applyFieldControl(tableName, projected, opts))

    // --- pushdown columns manufactured at this level (P6) ---------------
    val pushHere: Seq[(String, Column)] = opts.pushdown.flatMap { f =>
      walk.scalars.find(_._1 == f).map { case (_, path) => (s"${tableName}_$f", leaf(path)) }
    }

    // --- children (P1 recursion / P4 emit_obj / P5 arrays_new_table) ----
    val childAncestors = ancestors :+ tableName
    val fkForParent = s"_link_$tableName"

    def childTableName(keyPath: Seq[String]): String = {
      val base = keyPath.mkString(opts.pathSeparator)
      val named =
        if (tableName == opts.mainTableName) base
        else s"$tableName${opts.pathSeparator}$base"
      var name = opts.tablePrefix + named
      var k = 2
      while (out.exists(_.name == name)) { name = opts.tablePrefix + named + "_" + k; k += 1 }
      name
    }

    def emitChild(keyPath: Seq[String], elemType: DataType, oneToOneObj: Boolean): Unit = {
      val name = childTableName(keyPath)
      val arrCol = leaf(keyPath)
      val carried: Seq[Column] =
        ancestors.map(a => col(quoted(s"_link_$a"))) ++
          Seq(col(LINK).as(fkForParent)) ++
          pushdownIn.map(c => col(quoted(c))) ++
          pushHere.map { case (n, c) => c.as(n) }

      val exploded =
        if (oneToOneObj)
          df.where(arrCol.isNotNull)
            .select(carried ++ Seq(lit(0L).as(POS), arrCol.as(ELEM)): _*)
        else
          df.select(carried :+ posexplode(arrCol).as(Seq(POS, ELEM)): _*)

      val childLink = concat(
        col(quoted(fkForParent)), lit("." + keyPath.mkString(".") + "."), col(POS).cast(StringType))
      val withLink = exploded.withColumn(LINK, childLink)

      elemType match {
        case st: StructType =>
          val filtered =
            if (opts.dropEmptyObjects && st.fields.nonEmpty)
              withLink.where(anyNonNull(st, n => col(ELEM).getField(n)))
            else withLink
          emitTable(out, opts, name, filtered, st, Some(ELEM),
            childAncestors, pushdownIn ++ pushHere.map(_._1))
        case other =>
          // scalar array → single `value` column: strings verbatim, other
          // types JSON-encoded (docs/options.md:646)
          val valueCol = other match {
            case StringType                                => col(ELEM)
            case _: ArrayType | _: MapType | _: StructType => to_json(col(ELEM))
            case BooleanType                               => col(ELEM).cast(StringType)
            case _                                         => col(ELEM).cast(StringType)
          }
          val meta2: Seq[Column] =
            if (opts.noLink) Nil
            else col(LINK).as("_link") +: childAncestors.map(a => col(quoted(s"_link_$a")))
          val pushCols = (pushdownIn ++ pushHere.map(_._1)).map(c => col(quoted(c)))
          val tdf = withLink.withColumn(VAL, valueCol)
            .select((meta2 :+ col(VAL).as("value")) ++ pushCols: _*)
          out += PlannedTable(name, name, applyFieldControl(name, tdf, opts))
      }
    }

    walk.emitObjs.foreach { case (path, st) => emitChild(path, st, oneToOneObj = true) }
    walk.children.foreach { case (path, at) => emitChild(path, at.elementType, oneToOneObj = false) }
  }

  /** fields.csv control (P8): order, rename (`field_title`), only_fields.
    * Listed fields come first in listed order (renamed to their title);
    * unlisted fields are appended in discovery order unless `onlyFields`.
    */
  private def applyFieldControl(tableName: String, df: DataFrame, opts: FlattenOptions): DataFrame = {
    val specs = opts.fields.filter(_.tableName == tableName)
    if (specs.isEmpty && !opts.onlyFields) return df
    val present = df.columns.toSet
    val listedCols = specs.collect {
      case s if present.contains(s.fieldName) =>
        col(quoted(s.fieldName)).as(s.fieldTitle.getOrElse(s.fieldName))
    }
    val listedNames = specs.map(_.fieldName).toSet
    val rest =
      if (opts.onlyFields) Nil
      else df.columns.filterNot(listedNames.contains).map(c => col(quoted(c))).toSeq
    val all = listedCols ++ rest
    if (all.isEmpty) df else df.select(all: _*)
  }

  /** Predicate: at least one field of the struct is non-null. */
  private def anyNonNull(st: StructType, access: String => Column): Column =
    st.fields.map(f => access(f.name).isNotNull).reduce(_ || _)
}
