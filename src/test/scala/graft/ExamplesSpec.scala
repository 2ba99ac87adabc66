package graft

import graft.examples._

import java.io.{ByteArrayOutputStream, PrintStream}

/** Every example in `graft.examples` runs here: each row calls the
  * example's `run` through [[Example.runIn]] on a fresh
  * `spark.newSession()` with the sf0.001 testdata, captures what it
  * prints, and pins its key output lines. After each example the session
  * must have no active streaming query.
  *
  * The sweep keeps the table honest: an example main under
  * `src/main/scala/graft/examples` that is neither a row nor excused
  * (with its reason) fails, a stale row or excuse fails, and so does a
  * session build, `spark.stop` or temp directory outside the runner and
  * the excused drivers.
  */
class ExamplesSpec extends SparkSpec {

  /** example -> text its output must contain */
  private val rows: Seq[(Example, Seq[String])] = Seq(
    AsOfEnrichment -> Seq(
      "|X  |2024-01-01 09:00:04|1       |10 |2024-01-01 09:00:01|101.0|",
      "|X  |2024-01-01 09:00:04|1  |10.0      |2024-01-01 09:00:02|101.5      |"),
    Bar1mLiveConsumer -> Seq("|b     |X     |9.0 |9.0 |9.0 |9.0  |1  |2024-01-01 00:03:00|",
      "|2024-01-01 00:02:00|12.0|12.0 |true  |"),
    BasicProduceConsume -> Seq("sensor=1 at=2024-01-01 00:01:00.0 celsius=22.5"),
    Configuration -> Seq("environment: Development",
      "schema-registry subjects: cfg-messages-key / cfg-messages-value"),
    ConfigurationMapping -> Seq("log level mapped to Spark: DEBUG"),
    ContinuationSchedule -> Seq("bars_1m_fill     role=Fill", "session-gated 1m bars (first 5):"),
    CurationJob -> Seq("|source|docs_kept|docs_in|avg_quality|"),
    CustomExecutor -> Seq("[exec] attempt 2 failed", "[exec] ok (attempt 3)", "result groups: 7"),
    DailyComparison -> Seq("|b     |X     |2024-01-02|21.0|17.0|17.0 |9.0       |8.0 |"),
    DedupRatesProducer -> Seq(
      """|+------+------+-------------------+----+
         ||b     |X     |2024-01-01 00:00:01|10.0|
         ||b     |X     |2024-01-01 00:00:02|11.0|
         ||b     |Y     |2024-01-01 00:00:01|20.0|
         |+------+------+-------------------+----+""".stripMargin),
    DesigntimeKsqlScript -> Seq("CREATE STREAM IF NOT EXISTS ORDER_SUMMARIES",
      "WHERE (STATUS = 'Completed')"),
    DesigntimeKsqlTumbling -> Seq("WINDOW TUMBLING (SIZE 1 MINUTES)"),
    EmbeddingIndexJob -> Seq("corpus: 500 vectors x 64 dims",
      "with exact re-rank of the top-50 candidates:"),
    ErrorHandling -> Seq("Processed order 1: 19.99\n", "Processed order 3: 7.25\n",
      "DLQ <- order 2 after 4 attempts: Amount cannot be negative"),
    ErrorHandlingDlq -> Seq("Processed order 3: 7.5", "|2  |Amount cannot be negative|0        |"),
    HeadersMeta -> Seq("topic=hm_messages offset=1000000"),
    HelloWorld -> Seq("Received: Hello World"),
    HoppingPull -> Seq("window=[2024-01-01 09:01:00.0 - 2024-01-01 09:06:00.0], count=1"),
    IncrementalIngestion -> Seq("corpus after ingestion: 100, 101, 201, 300"),
    ManualCommit -> Seq("[pass 2] resuming past seq=1000001",
      "order 3: redelivered, commit seq=1000002"),
    OptionsValidationTimeouts -> Seq(
      "failOnErrors: column 'id': type STRING does not match entity type INT"),
    OssBarsVerify -> Seq("VERIFY OK: cascade rollup == direct aggregation"),
    PullQuery -> Seq("count=3", "latest: Bar(S1,2024-01-01 09:02:00.0,101.2)"),
    QueryFilter -> Seq("filtered purchases > 100 (first 5):", "FileScan parquet [event_id",
      "PushedFilters: [IsNotNull(event_type), IsNotNull(value), EqualTo(event_type,purchase), GreaterThan(value,100.0)]"),
    ResponseInspect -> Seq("  loud: string", "FileScan parquet [event_type",
      "PushedFilters: [IsNotNull(value), GreaterThan(value,50.0)]"),
    RetryOnError -> Seq("Processed item 1 on attempt 3", "DLQ records: 0"),
    RowsLastAssignment -> Seq("|b     |X     |12.5    |3          |3         |"),
    RuntimeEvents -> Seq("restarts: 1", "processed after self-heal: 3 records",
      "observed lifecycle: query.started -> query.failed -> query.restarted"),
    SchemaAttributes -> Seq("subjects: market-trades-key, market-trades-value"),
    StartupWarmup -> Seq("dimension tables pinned; re-read is memory-speed:"),
    StateClear -> Seq("state/ exists after clear: false"),
    TableCacheLookup -> Seq("Rows: 2", "Lookup ref-001: value-1-updated"),
    ViewToQuery -> Seq("big_orders rows: ", "|o_custkey|cnt|"),
    WebCorpusPipeline -> Seq("crawl input: 500 documents", "mixture by source (tokens, epochs):"),
    Windowing -> Seq("Tumbling 5m (first 5 buckets):",
      "Hopping 5m/2m (each event lands in ceil(5/2)=3 windows):")
  )

  /** Example mains this spec does not run, each with its reason. */
  private val excused: Map[String, String] = Map(
    "StreamingScale" -> "an sf0.1+ measurement driver; BASELINE.md holds its numbers",
    "ProductionPipeline" -> "an sf0.1+ measurement driver; BASELINE.md holds its numbers",
    "ShardWriteScale" -> "an sf0.1+ measurement driver; BASELINE.md holds its numbers",
    "DumpBench" -> "an A/B tool that needs an output directory and query names"
  )

  private def name(e: Example): String = e.getClass.getSimpleName.stripSuffix("$")

  rows.foreach { case (example, pins) =>
    val file = s"examples/${name(example)}.scala"
    test(s"${name(example)} prints its key lines") {
      val session = spark.newSession()
      val out = new ByteArrayOutputStream
      Console.withOut(new PrintStream(out, true, "UTF-8")) {
        example.runIn(session, Array(testData("0.001")))
      }
      val text = out.toString("UTF-8")
      val missing = pins.filterNot(text.contains)
      assert(missing.isEmpty,
        s"$file: missing ${missing.mkString("[", "], [", "]")} in its output:\n$text")
      assert(session.streams.active.isEmpty,
        s"$file left ${session.streams.active.map(_.name).mkString(", ")} running")
    }
  }

  private val dir = "src/main/scala/graft/examples"

  // an example main: an object that extends the runner or defines `main`
  private val mainDecl = """\bextends\s+Example\b|\bdef\s+main\b""".r
  private val objectName = """\bobject\s+(\w+)""".r

  // what the runner owns: the session, its stop, the work directory
  private val lifecycle =
    """\bGraftSession\s*\.\s*local\b|\bspark\s*\.\s*stop\b|\bcreateTempDirectory\b""".r

  /** (file under graft/examples, object) -> lifecycle sites: the runner
    * and the excused drivers, which build their own session */
  private val lifecycleAllowed: Map[(String, String), Int] = Map(
    ("Example.scala", "Example") -> 3,
    ("StreamingScale.scala", "StreamingScale") -> 3,
    ("ProductionPipeline.scala", "ProductionPipeline") -> 2,
    ("ShardWriteScale.scala", "ShardWriteScale") -> 2,
    ("DumpBench.scala", "DumpBench") -> 2
  )

  test("the scan names the object that declares each example main") {
    val src =
      """object A extends Example {
        |  def run(spark: SparkSession, args: Array[String], work: String): Unit = ()
        |}
        |// object B extends Example
        |object C {
        |  def helper = 1
        |  def main(args: Array[String]): Unit = ()
        |}""".stripMargin
    assert(SourceSweep.find(mainDecl, src, objectName) == Seq(("A", 1), ("C", 7)))
  }

  test("every example main is run above or excused, and only the runner owns a session") {
    val mains = SourceSweep.sweep(dir, mainDecl, _ != "Example.scala", objectName)
      .keys.map { case (f, obj) => obj -> f }.toMap
    val listed = rows.map(r => name(r._1)) ++ excused.keys
    val unlisted = mains.toSeq.sorted.collect { case (obj, f) if !listed.contains(obj) =>
      s"examples/$f ($obj): an example main neither run by ExamplesSpec nor excused"
    }
    val stale = listed.filterNot(mains.contains).sorted
      .map(obj => s"$obj: listed in ExamplesSpec but no example main declares it")
    val lifecycleOffenders = SourceSweep.offenders(
      SourceSweep.sweep(dir, lifecycle, scope = objectName), lifecycleAllowed,
      "session, stop or temp dir", "extend Example and use its session and work dir")
    val offenders = unlisted ++ stale ++ lifecycleOffenders
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
