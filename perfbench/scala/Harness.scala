package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.Flatten
import graft.ops.{Pipeline, TextFilters}
import graft.sources.JsonInput
import graft.streaming.StreamingFlatten

/** The JVM side of the benchmark: builds the workload's standing state,
  * runs closed-loop passes through graft's public entry points until the
  * time budget is spent, optionally runs one traced pass, and writes raw
  * timings (and trace events) to `<work>/result.json`.
  *
  * Usage: Harness <plan.properties>. The plan is written by run.py.
  */
object Harness {

  final case class Pass(wallNs: Long, batchNs: Seq[Long], error: Option[String],
      extra: Seq[(String, String)] = Nil)

  trait Workload {
    /** Build the standing state from scratch (timed in set-up). */
    def standing(): Unit = ()
    /** Restore the standing state before a pass (untimed). */
    def reset(): Unit = ()
    def pass(out: String): Pass
    /** Counters read after the traced pass, outside its wall time. */
    def traceExtras(): Seq[(String, String)] = Nil
  }

  def main(args: Array[String]): Unit = {
    val props = new java.util.Properties()
    val in = Files.newBufferedReader(Paths.get(args(0)))
    try props.load(in) finally in.close()
    def p(k: String): String = Option(props.getProperty(k))
      .getOrElse(sys.error(s"plan is missing '$k'"))
    def list(k: String): Seq[String] = p(k).split(",").toSeq.filter(_.nonEmpty)
    val work = p("work")
    val cores = p("cores").toInt
    val seconds = p("seconds").toDouble
    val traced = p("trace") == "1"

    val spark = SparkSession.builder().master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReady = System.currentTimeMillis()

    val wl: Workload = p("workload") match {
      case "flatten_nested" => new FlattenWorkload(spark, list("in"), sqlite = false)
      case "export_sqlite" => new FlattenWorkload(spark, list("in"), sqlite = true)
      case "pipeline_loop" => new PipelineWorkload(spark, work, p("corpus"), p("eval"),
        list("in"), cores)
      case "stream_pipeline" => new StreamWorkload(spark, work, p("corpus"), p("eval"),
        list("in"))
      case other => sys.error(s"unknown workload '$other'")
    }

    def secs(f: => Unit): Double = {
      val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9
    }
    val standingS = (1 to p("standing_reps").toInt).map(_ => secs(wl.standing()))
    // warm-up: untimed passes over the same inputs (JIT, codegen caches);
    // only the first (cold) one counts towards set-up time. A failure here
    // is not fatal: the timed passes record it.
    val warmups = (1 to p("warm_passes").toInt).map { _ =>
      val out = Paths.get(work, "warm-out")
      val s = secs {
        wl.reset()
        try wl.pass(out.toString)
        catch { case e: Exception => System.err.println(s"warm-up pass failed: $e") }
      }
      deleteTree(out)
      s
    }

    // after each pass the output is handed to the checker (run.py), which
    // checks and removes it before the next pass starts
    val checker = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
    def runPass(i: Int): Pass = {
      wl.reset()
      System.gc()
      val out = s"$work/out/pass_$i"
      val pass = try Spans("pass")(wl.pass(out)) catch {
        case e: Throwable =>
          Pass(0L, Nil, Some(s"${e.getClass.getName}: ${e.getMessage}".take(2000)))
      }
      println(s"@@CHECK $i $out")
      System.out.flush()
      if (checker.readLine() == null) sys.error("the output checker went away")
      pass
    }
    // the measured time is the passes' own: resets and checks between
    // passes do not count towards `seconds`
    val passes = ArrayBuffer.empty[Pass]
    var measured = 0.0
    while (passes.isEmpty || measured < seconds) {
      val t = System.nanoTime()
      val pass = runPass(passes.size)
      measured += (if (pass.error.isEmpty) pass.wallNs else System.nanoTime() - t) / 1e9
      passes += pass
    }

    val traceJson = if (!traced) "null" else {
      val rec = new Recorder
      spark.sparkContext.addSparkListener(rec)
      spark.streams.addListener(rec.streams)
      Spans.enabled = true
      val i = passes.size
      val t = runPass(i)
      Spans.enabled = false
      val limit = System.currentTimeMillis() + 20000
      while (!rec.quiet(500) && System.currentTimeMillis() < limit) Thread.sleep(100)
      spark.sparkContext.removeSparkListener(rec)
      spark.streams.removeListener(rec.streams)
      val extra = if (t.error.isEmpty) wl.traceExtras() else Nil
      Json.obj("pass" -> passJson(t), "index" -> i.toString,
        "spans" -> Spans.json, "events" -> rec.json,
        "extra" -> Json.obj(extra: _*))
    }

    val result = Json.obj(
      "jvm_start_ms" -> java.lang.management.ManagementFactory.getRuntimeMXBean
        .getStartTime.toString,
      "session_ready_ms" -> sessionReady.toString,
      "standing_s" -> Json.arr(standingS.map(Json.num)),
      "warmup_s" -> Json.arr(warmups.map(Json.num)),
      "passes" -> Json.arr(passes.map(passJson)),
      "trace" -> traceJson)
    Files.writeString(Paths.get(s"$work/result.json"), result)
    spark.stop()
  }

  private def passJson(p: Pass): String = Json.obj(
    "wall_s" -> Json.num(p.wallNs / 1e9),
    "batch_s" -> Json.arr(p.batchNs.map(n => Json.num(n / 1e9))),
    "error" -> p.error.map(Json.str).getOrElse("null"),
    "extra" -> Json.obj(p.extra: _*))

  // ------------------------------------------------------------ helpers

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { f =>
      val dst = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(dst)
      else Files.copy(f, dst, StandardCopyOption.REPLACE_EXISTING)
    } finally s.close()
  }

  def treeBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  /** The quality rules both text workloads run with: every generated
    * fresh document passes them, the planted junk fails them. */
  val rules: TextFilters.Rules = TextFilters.Rules(minWords = 20, maxWords = 1000,
    minMeanWordLen = 2.0, maxMeanWordLen = 14.0, minAlphaWordRatio = 0.8,
    minStopwordHits = 2)

  val docSchema = "doc_id LONG, text STRING"
}

import Harness._

/** `flatten_nested` (csv + parquet) and `export_sqlite` (the CLI's
  * `--sqlite --xlsx` flag set, csv always on). */
final class FlattenWorkload(spark: SparkSession, files: Seq[String], sqlite: Boolean) extends Workload {

  private def run(in: Seq[String], out: String): Flatten.FlattenResult = {
    val df = Spans("sources.JsonInput.ndjson", "sources.infer_s") {
      JsonInput.ndjson(spark, in: _*)
    }
    Spans("api.Flatten.flattenToDir") {
      if (sqlite) Flatten.flattenToDir(df, out, csv = true, sqliteDb = true, xlsx = true)
      else Flatten.flattenToDir(df, out, csv = true, parquet = true)
    }
  }

  def pass(out: String): Pass = {
    val t = System.nanoTime()
    val res = run(files, out)
    val wall = System.nanoTime() - t
    val stats = if (!sqlite) Nil else graft.sinks.SqliteSink.lastStats.toSeq.map { s =>
      "sqlite" -> Json.obj("wall_ns" -> s.wallNanos.toString, "io_ns" -> s.ioNanos.toString,
        "table_fetch_wait_ns" -> s.tableFetchWaitNanos.toString,
        "index_fetch_wait_ns" -> s.indexFetchWaitNanos.toString,
        "index_sort_wait_ns" -> s.indexSortWaitNanos.toString)
    }
    Pass(wall, Seq(wall), None, Seq("tables" -> res.tables.size.toString) ++ stats)
  }
}

/** `pipeline_loop`: daily batches through `Pipeline.run`, kept rows to
  * parquet, admissions folded back with `Pipeline.fold`. */
final class PipelineWorkload(spark: SparkSession, work: String, corpusFile: String,
    evalFile: String, days: Seq[String], cores: Int)
    extends Workload {
  private val fpTable = "bench_fp"
  private val bandTable = "bench_bands"
  private val buckets = 8
  private val pristine = Paths.get(work, "pristine")
  private val warehouse = Paths.get(work, "warehouse")
  private var corpus: DataFrame = _
  private var eval: DataFrame = _

  private val cfg = Pipeline.Config(
    textCol = "text", idCol = "doc_id",
    rules = Some(rules),
    fingerprintTable = Some(fpTable),
    bandTable = Some(bandTable),
    nearDup = Pipeline.NearDup(threshold = 0.7, numHashes = 32, bands = 8,
      shingleSize = 3, maxBucket = 1000),
    mix = Some(Pipeline.Mix(
      budgets = (0 until 4).map(i => s"s$i" -> (1L << 50)).toMap,
      src = concat(lit("s"), pmod(col("doc_id"), lit(4L))),
      toks = length(col("text")).cast("long"),
      weights = Map("s0" -> 2.0), defaultWeight = 1.0,
      maxTokensPerBin = 4096, nShards = cores)),
    numBuckets = buckets)

  override def standing(): Unit = {
    Seq(corpus, eval).filter(_ != null).foreach(graft.util.Checkpoints.release)
    corpus = spark.read.schema(docSchema).json(corpusFile).localCheckpoint(true)
    eval = spark.read.schema("text STRING").json(evalFile).localCheckpoint(true)
    graft.ops.Dedup.writeFingerprintTable(corpus, "text", fpTable, numBuckets = buckets)
    graft.ops.Dedup.writeBandTable(corpus, "text", "doc_id", bandTable,
      numHashes = 32, bands = 8, shingleSize = 3, numBuckets = buckets)
    deleteTree(pristine)
    Seq(fpTable, bandTable).foreach(t => copyTree(warehouse.resolve(t), pristine.resolve(t)))
  }

  override def reset(): Unit = Seq(fpTable, bandTable).foreach { t =>
    deleteTree(warehouse.resolve(t))
    copyTree(pristine.resolve(t), warehouse.resolve(t))
    spark.catalog.refreshTable(t)
  }

  private def loop(in: Seq[String], out: String): Seq[Long] = {
    var standingDocs = corpus
    val admittedAll = ArrayBuffer.empty[DataFrame]
    try in.zipWithIndex.map { case (file, d) =>
      val t = System.nanoTime()
      Spans(s"day $d") {
        val batch = Spans("sources.JsonInput.ndjson", "sources.infer_s") {
          JsonInput.ndjson(spark, file)
        }
        val res = Spans("ops.Pipeline.run") {
          Pipeline.run(batch, cfg, corpus = Some(standingDocs), eval = Some(eval))
        }
        Spans("write kept", "sinks.parquet_s") {
          res.kept.write.mode("overwrite").parquet(s"$out/day=$d")
        }
        val admitted = Spans("admitted", "ops.fold_s") {
          batch.join(res.kept.select("doc_id"), Seq("doc_id"), "left_semi")
            .localCheckpoint(true)
        }
        Spans("ops.Pipeline.fold", "ops.fold_s")(Pipeline.fold(admitted, cfg))
        if (res.ownsKept) graft.util.Checkpoints.release(res.kept)
        admittedAll += admitted
        standingDocs = standingDocs.unionByName(admitted)
      }
      System.nanoTime() - t
    } finally admittedAll.foreach(graft.util.Checkpoints.release)
  }

  def pass(out: String): Pass = {
    val t = System.nanoTime()
    val b = loop(days, out)
    Pass(System.nanoTime() - t, b, None)
  }

  override def traceExtras(): Seq[(String, String)] = {
    val bands = spark.table(bandTable)
    val nulls = bands.where(col("bandn").isNull).count()
    Seq("band_rows" -> bands.count().toString, "bandn_null_rows" -> nulls.toString)
  }
}

/** `stream_pipeline`: a file-source stream through
  * `StreamingFlatten.streamingPipeline`; one micro-batch file dropped at
  * a time, each followed by `processAllAvailable()`. */
final class StreamWorkload(spark: SparkSession, work: String, corpusFile: String,
    evalFile: String, batches: Seq[String]) extends Workload {
  private val pristine = Paths.get(work, "pristine", "store")
  private val store = Paths.get(work, "store")
  private var eval: DataFrame = _
  private var runs = 0

  private def start(in: Path, storeDir: Path, out: String, ck: Path,
      ev: Option[DataFrame]) =
    StreamingFlatten.streamingPipeline(
      spark.readStream.schema(docSchema).json(in.toString), "text", "doc_id",
      storeDir.toString, out, ck.toString, rules = Some(rules), eval = ev,
      threshold = 0.7, numHashes = 32, bands = 8, shingleSize = 3,
      maxBucket = 1000, decontaminateGramSize = 13)

  private def fresh(name: String): Path = {
    runs += 1
    val p = Paths.get(work, "stream", s"$name-$runs")
    deleteTree(p)
    Files.createDirectories(p)
  }

  /** Seed the store through the stream itself: the corpus as one
    * micro-batch, its partition then renamed out of the batch-id range
    * a pass uses. */
  override def standing(): Unit = {
    if (eval != null) graft.util.Checkpoints.release(eval)
    eval = spark.read.schema("text STRING").json(evalFile).localCheckpoint(true)
    val dir = fresh("seed")
    val in = Files.createDirectories(dir.resolve("in"))
    Files.copy(Paths.get(corpusFile), in.resolve("corpus.ndjson"))
    val q = start(in, dir.resolve("store"), dir.resolve("out").toString,
      dir.resolve("ck"), None)
    try q.processAllAvailable() finally q.stop()
    deleteTree(pristine)
    Files.createDirectories(pristine)
    Files.move(dir.resolve("store").resolve("batch=0"), pristine.resolve("batch=900000"))
    deleteTree(dir)
  }

  override def reset(): Unit = {
    deleteTree(store)
    copyTree(pristine, store)
  }

  private def loop(files: Seq[String], out: String): (Long, Seq[Long]) = {
    val dir = fresh("pass")
    val in = Files.createDirectories(dir.resolve("in"))
    val t = System.nanoTime()
    val q = Spans("streaming.streamingPipeline") {
      start(in, store, out, dir.resolve("ck"), Some(eval))
    }
    try {
      val lat = files.zipWithIndex.map { case (f, b) =>
        val tmp = in.resolve(s".b$b.tmp")
        Files.copy(Paths.get(f), tmp)
        val tb = System.nanoTime()
        Spans(s"micro-batch $b", "streaming.jobs_s") {
          Files.move(tmp, in.resolve(f"b$b%03d.ndjson"), StandardCopyOption.ATOMIC_MOVE)
          q.processAllAvailable()
        }
        System.nanoTime() - tb
      }
      (System.nanoTime() - t, lat)
    } finally {
      q.stop()
      deleteTree(dir)
    }
  }

  def pass(out: String): Pass = {
    val (wall, lat) = loop(batches, out)
    Pass(wall, lat, None, Seq("store_bytes" -> treeBytes(store).toString))
  }
}
