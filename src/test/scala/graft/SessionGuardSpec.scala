package graft

/** One session builder: every graft main, example, tool and the spec
  * session get their `SparkSession` from [[GraftSession.local]], so the
  * settings graft's plans depend on (extensions with the extremum
  * rewrite, the 16M object-hash fallback threshold, AQE, UTC, the
  * RocksDB state store) cannot be forgotten at a new call site. The
  * sweep scans `src/main/scala` and `src/test/scala` and fails on any
  * `SparkSession` builder outside `GraftSession.scala` and the
  * allowlist, which names each exception per enclosing `def` or
  * `test(...)` WITH its reason; an allowlist entry whose builder is
  * gone fails too. The settings checks pin what the spec session is.
  */
class SessionGuardSpec extends SparkSpec {

  /** The factory itself. */
  private val factory = ("src/main/scala/graft/GraftSession.scala", "local") -> 1

  /** (file, enclosing def or test) -> (builders, reason) */
  private val allowed: Map[(String, String), (Int, String)] = Map(
    ("src/test/scala/graft/ExtensionsSpec.scala",
      "registerAll covers an existing session, including the extremum rewrite") ->
      (1, "an extension-free session, so the test proves registerAll adds the " +
        "dialect and the rewrite (newSession would inherit the extensions)")
  )

  private val roots = Seq("src/main/scala", "src/test/scala")

  // `SparkSession.builder` / `SparkSession.Builder`, across line breaks
  private val builderCall = """\bSparkSession\s*\.\s*[Bb]uilder\b""".r

  test("the scan recognizes every builder shape and nothing else") {
    // spelled apart so this file carries no builder call of its own
    val b = "build" + "er"
    val src =
      s"""object X {
        |  def a = SparkSession.$b().getOrCreate()
        |  def c = SparkSession
        |      .$b()
        |      .master("local[2]")
        |  // def d = SparkSession.$b()
        |  /* def e = SparkSession.$b() */
        |  def f = new SparkSession.B${b.tail}()
        |  def g = GraftSession.local()
        |  def h = spark.newSession()
        |  test("a named test") { SparkSession.$b().getOrCreate() }
        |}""".stripMargin
    assert(SourceSweep.find(builderCall, src) ==
      Seq(("a", 2), ("c", 3), ("f", 8), ("a named test", 11)))
  }

  test("no SparkSession builder outside GraftSession and the allowlist") {
    val found = roots.flatMap { r =>
      SourceSweep.sweep(r, builderCall).map { case ((f, s), lines) => ((s"$r/$f", s), lines) }
    }.toMap
    val expected = allowed.map { case (k, (n, _)) => k -> n } + factory
    val offenders = SourceSweep.offenders(found, expected, "SparkSession builder",
      "use GraftSession.local")
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("the spec session carries GraftSession's settings") {
    assert(spark.conf.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold") == "16777216")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass").endsWith(
      "RocksDBStateStoreProvider"))
  }

  test("a session that never called registerAll plans the extremum rewrite") {
    val plan = spark.newSession()
      .sql("SELECT max(named_struct('a', 'v')) FROM VALUES (1) AS t(x)")
      .queryExecution.executedPlan.toString
    assert(plan.contains("max_by_object") && !plan.contains("SortAggregate"), plan)
  }
}
