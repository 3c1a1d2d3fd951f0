package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.api.Flatten
import graft.meta.Metadata
import graft.model.{FlattenOptions, LinkMode, TableSpec}
import graft.plan.FlattenPlanner

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean
import scala.jdk.CollectionConverters._

object FlattenToDirSpec {
  /** One-shot poison: the first evaluation of the poisoned row throws. */
  val armed = new AtomicBoolean(false)
}

/** `flattenToDir` end to end: the metadata observed on the sink writes
  * equals [[Metadata.analyze]]'s, the concurrent writes fail cleanly, and
  * the XLSX and backtick-key regressions stay fixed.
  */
class FlattenToDirSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  private def docs(lines: String*): DataFrame = {
    import spark.implicits._
    spark.read.json(lines.toDS())
  }

  // a zero-row child table (pets), an all-null column (z), date, number,
  // text and mixed string columns, and a renamed child table
  private def mixed: DataFrame = {
    import spark.implicits._
    spark.read.schema("id LONG, d STRING, n STRING, t STRING, mix STRING, z STRING, " +
      "kids ARRAY<STRUCT<k: STRING>>, pets ARRAY<STRUCT<p: LONG>>").json(Seq(
      """{"id": 1, "d": "2020-01-01", "n": "12", "t": "abc", "mix": "2020-01-01",
        | "kids": [{"k": "2021-02-03T04:05:06Z"}], "pets": []}""".stripMargin.replace("\n", ""),
      """{"id": 2, "d": "2021-12-31", "n": "3.5", "t": "x", "mix": "7",
        | "kids": [{"k": "2021-02-03"}, {"k": null}]}""".stripMargin.replace("\n", ""),
      """{"id": 3, "n": null, "t": "", "kids": null}""").toDS())
  }

  private val renamed = FlattenOptions(tables = Seq(TableSpec("kids", "children")))

  private def outDir(tag: String): Path =
    Files.createTempDirectory("flatten_to_dir").resolve(tag)

  private def analyzed(df: DataFrame, opts: FlattenOptions): Seq[Metadata.FieldMeta] =
    FlattenPlanner.plan(df, opts).flatMap(t => Metadata.analyze(t.name, t.df))

  /** Call sites of the jobs `body` submits, once the listener saw them all.
    * A SQL job run on an adaptive-execution thread carries no caller frame,
    * so a job's site also includes its SQL execution's call site.
    */
  private def jobSites(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[(String, String)]()
    val execs = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val marker = s"job-sites-${java.util.UUID.randomUUID()}"
    val seen = new AtomicBoolean(false)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val prop = (k: String) => Option(e.properties).map(_.getProperty(k, "")).getOrElse("")
        if (prop("spark.job.description") == marker) seen.set(true)
        else jobs.add(prop("spark.sql.execution.id") -> e.stageInfos.map(_.details).mkString("\n"))
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => execs.put(s.executionId.toString, s.details)
        case _ => ()
      }
    }
    sc.addSparkListener(listener)
    try {
      body
      // the listener sees events in order: once the marker job shows up,
      // every job `body` started has been seen
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.get && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.get, "listener never saw the marker job")
    } finally sc.removeSparkListener(listener)
    jobs.asScala.toSeq.map { case (exec, site) => site + "\n" + execs.getOrDefault(exec, "") }
  }

  private def analyzeJobs(sites: Seq[String]): Int =
    sites.count(_.contains("graft.meta.Metadata$.analyze"))

  private def sinkThreads: Seq[String] =
    Thread.getAllStackTraces.keySet.asScala.toSeq.filter(_.isAlive)
      .map(_.getName).filter(_.startsWith("flatten-sink"))

  private def assertNoSinkThreads(clue: String): Unit = {
    val deadline = System.nanoTime() + 10L * 1000000000L
    while (sinkThreads.nonEmpty && System.nanoTime() < deadline) Thread.sleep(10)
    assert(sinkThreads.isEmpty, s"$clue: pool threads left: $sinkThreads")
  }

  test("observed fields equal Metadata.analyze: zero-row table, all-null column, " +
      "type guesses, renamed table") {
    val df = mixed
    val expected = analyzed(df, renamed)
    val dir = outDir("observed")
    val res = Flatten.flattenToDir(df, dir.toString, renamed, parquet = true)
    assert(res.fields == expected)
    assert(Files.readString(dir.resolve("fields.csv")) == Metadata.fieldsCsv(expected))
    assert(res.names.contains("kids" -> "children"))
    assert(Files.exists(dir.resolve("csv/children.csv")))
    // the cases the comparison must cover are really there
    val byKey = expected.map(m => (m.tableName, m.fieldName) -> m).toMap
    assert(byKey("pets" -> "p").count == 0L)
    assert(byKey("main" -> "z").count == 0L && byKey("main" -> "z").fieldType == "text")
    assert(byKey("main" -> "d").fieldType == "date")
    assert(byKey("main" -> "n").fieldType == "number" && byKey("main" -> "n").count == 2L)
    assert(byKey("main" -> "mix").fieldType == "text")
    assert(byKey("kids" -> "k").fieldType == "datetime" && byKey("kids" -> "k").count == 2L)
    assertNoSinkThreads("after a good run")
  }

  test("preview == 0 submits no Metadata.analyze job; preview > 0 still does") {
    val df = mixed
    val observed = jobSites {
      Flatten.flattenToDir(df, outDir("no_analyze").toString, renamed)
    }
    assert(analyzeJobs(observed) == 0, observed.filter(_.contains("Metadata")).mkString("\n---\n"))
    var previewed: Flatten.FlattenResult = null
    val sites = jobSites {
      previewed = Flatten.flattenToDir(df, outDir("preview").toString,
        renamed.copy(preview = 1))
    }
    assert(analyzeJobs(sites) >= previewed.names.size)
    // counts still cover every row, not only the previewed one
    assert(previewed.fields == analyzed(df, renamed.copy(preview = 1)))
  }

  test("a failing table write: siblings cancelled, nothing persisted or running, " +
      "no datapackage.json, the next call succeeds") {
    val poison = udf { (n: Long) =>
      if (n == 2L && FlattenToDirSpec.armed.getAndSet(false))
        throw new IllegalStateException("poisoned row 2")
      n
    }
    // Monotonic links plan without a job, so the poison fires in a write
    val opts = renamed.copy(linkMode = LinkMode.Monotonic)
    val df = mixed.withColumn("id", poison(col("id")))
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val dir = outDir("poisoned")
    FlattenToDirSpec.armed.set(true)
    val e = try intercept[Throwable] {
      Flatten.flattenToDir(df, dir.toString, opts, parquet = true)
    } finally FlattenToDirSpec.armed.set(false)
    assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(c => Option(c.getMessage).exists(_.contains("poisoned row 2"))), e.toString)
    assert(spark.sparkContext.getPersistentRDDs.keySet == persisted)
    assertNoSinkThreads("after the failure")
    assert(!Files.exists(dir.resolve("datapackage.json")))

    val again = outDir("recovered")
    Flatten.flattenToDir(df, again.toString, opts, parquet = true)
    assert(Files.exists(again.resolve("datapackage.json")))
    assert(spark.sparkContext.getPersistentRDDs.keySet == persisted)
    assertNoSinkThreads("after the recovery run")
  }

  test("xlsx without csv into a directory that does not exist yet") {
    val dir = outDir("fresh").resolve("nested")
    val res = Flatten.flattenToDir(docs("""{"a": 1, "kids": [{"b": "x"}]}"""),
      dir.toString, csv = false, xlsx = true)
    assert(Files.size(dir.resolve("output.xlsx")) > 0)
    assert(res.fields.map(m => (m.tableName, m.fieldName, m.count)).contains(("kids", "b", 1L)))
  }

  test("a JSON key holding a backtick flattens to CSV with its fields.csv row") {
    val dir = outDir("backtick")
    Flatten.flattenToDir(docs("""{"c`d": "2020-01-01"}"""), dir.toString)
    val fields = Files.readAllLines(dir.resolve("fields.csv")).asScala
    assert(fields.contains("main,c`d,date,c`d,1"), fields.mkString("\n"))
    val rows = Files.readAllLines(dir.resolve("csv/main.csv")).asScala
    assert(rows.head == "_link,c`d" && rows(1) == "0,2020-01-01", rows.mkString("\n"))
  }
}
