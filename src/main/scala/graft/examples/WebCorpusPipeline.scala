package graft.examples

import graft.operators.{Curation, Dedup, HashFamily, TextAnalysis}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** End-to-end web-corpus preparation with the round-4 operator set —
  * the pipeline a training-data team actually runs, stage by stage:
  *
  *   1. URL-level dedup (canonical key collapses crawl variants);
  *   2. Gopher rule gates (named booleans — the drop REASON is logged);
  *   3. substring-level dedup by deletion (duplicated spans cut from
  *      non-canonical copies, Lee et al.);
  *   4. corpus mixing (per-source token budgets with epoch repeats).
  *
  * Every stage is scan-local or single-shuffle (see SCALE.md); the
  * whole pipeline is one lazy plan until the final action.
  *
  * Run: `sbt "runMain graft.examples.WebCorpusPipeline [sfDir]"`
  */
object WebCorpusPipeline extends Example {
  def run(spark: SparkSession, args: Array[String], work: String): Unit = {
    val sfDir = Example.sfDir(args)
    import spark.implicits._

    val docs = graft.sources.Tables.load(spark, sfDir, "documents")
    println(s"crawl input: ${docs.count()} documents")

    // 1. URL dedup: synthesize the crawl URL (testdata has none), keep
    // the first document per canonical URL
    val withUrl = docs.withColumn("url",
      concat(lit("HTTPS://Site.Example/"), col("source"), lit("/d?id="),
        (col("doc_id") % 400).cast("string"), lit("&utm_source=crawl")))
    val urlDeduped = withUrl
      .withColumn("canonical_url", Curation.canonicalizeUrl(col("url")))
      .groupBy(col("canonical_url"))
      .agg(graft.functions.BoundedHeap
        .minBy(struct(col("doc_id"), col("text"), col("source")), col("doc_id")).as("d"))
      .select(col("d.doc_id").as("doc_id"), col("d.text").as("text"), col("d.source").as("source"))
    println(s"after URL dedup: ${urlDeduped.count()}")

    // 2. Gopher gates — keep passers, log WHY the rest dropped
    val ruled = TextAnalysis.gopherRules(urlDeduped, "doc_id", "text")
    val failures = ruled.filter(!col("pass"))
      .select(
        when(!col("rule_word_count"), "word_count")
          .when(!col("rule_stopwords"), "stopwords")
          .when(!col("rule_alpha"), "alpha")
          .otherwise("other").as("dropped_by"))
      .groupBy("dropped_by").count()
    println("gate drops by reason:"); failures.show(truncate = false)
    val gated = urlDeduped.join(ruled.filter(col("pass")).select("doc_id"), "doc_id")

    // 3a. document-level near-dup removal: candidates → exact-Jaccard
    // confirm → components → keep the smallest id per cluster
    val docDeduped = Dedup.dropNearDuplicates(gated, "doc_id", "text")
    println(s"after near-dup removal: ${docDeduped.count()}")

    // 3b. substring-level dedup by deletion on the survivors:
    // non-canonical copies lose their duplicated spans
    val stripped = Dedup.stripDuplicatedSpans(docDeduped, "doc_id", "text")
    val cut = stripped.agg(sum("n_removed")).first().getLong(0)
    println(s"span dedup removed $cut duplicated tokens" +
      (if (cut == 0) " (doc-level removal already subsumed the copies at this corpus size)"
       else ""))

    // 4. mix to per-source token budgets (epoch-repeat scarce sources)
    val mixed = Curation.mixCorpus(
      stripped.withColumnRenamed("stripped_text", "text")
        .join(gated.select(col("doc_id"), col("source")), "doc_id"),
      "doc_id", "text", "source",
      targets = Map("src0" -> 400.0), defaultTarget = Some(120.0))
    println("mixture by source (tokens, epochs):")
    mixed.groupBy("source")
      .agg(sum("n_tokens").as("tokens"), max("copy").as("max_epoch"))
      .orderBy("source").show(5, truncate = false)
  }
}
