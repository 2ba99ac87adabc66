package graft.examples

import graft.{GraftSession, Profile}
import graft.sources.Tables
import graft.streaming.IncrementalGraph
import org.apache.spark.sql.functions._

/** Scale evidence for the incrementally-maintained link-graph store —
  * the [[IngestionScale]] protocol applied to [[IncrementalGraph]]:
  * feed crawl slices (id-range partitions of the deterministic
  * documents link graph) through `ingestBatch` and print, while the
  * accumulated store grows:
  *   - per-batch WALL seconds and scan BYTES ([[graft.Profile]] read bytes
  *     window) for the store's O(batch) stamped append;
  *   - the same for the naive arm a pipeline without the store pays —
  *     re-derive the edge set from EVERY document crawled so far and
  *     rewrite the graph (O(accumulated corpus) per batch);
  *   - a `rankSnapshot` every `SPARK_GRAFT_SNAP_EVERY` batches (default
  *     2) with its wall seconds and the store's edge count at that point
  *     (the honest cost model: PageRank is a whole-graph fixpoint, the
  *     store's job is flat ingest + an already-materialized edge list
  *     for the periodic global pass — so snapshot cost must track the
  *     CURRENT |E|, never the ingest history).
  *
  * The claims under test: ingest cost is pinned by |batch|, independent
  * of the accumulated graph size (the rebuild arm grows linearly with
  * the crawl), and periodic snapshot cost rides |E| only.
  *
  * Run: `SPARK_GRAFT_SF_DIR=/tmp/sf1 sbt -batch "runMain
  *       graft.examples.GraphIngestionScale"` (numbers in BASELINE.md).
  */
object GraphIngestionScale {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val batches = sys.env.getOrElse("SPARK_GRAFT_BATCHES", "6").toInt
    val spark = GraftSession.local()

    val profile = Profile.of(spark)
    def timedMb[A](body: => A): (A, Double, Double) = {
      val ((a, secs), cost) = profile.window {
        val t0 = System.nanoTime()
        val a = body
        (a, (System.nanoTime() - t0) / 1e9)
      }
      (a, secs, cost("read_bytes") / 1e6)
    }

    val root = java.nio.file.Files.createTempDirectory("graft_graph_scale").toString
    val store = s"$root/edges"

    val docs = Tables.load(spark, sfDir, "documents").select(col("doc_id"))
    val n = docs.count()
    def edgesOf(d: org.apache.spark.sql.DataFrame) = {
      val parts = Seq(2 -> 202, 3 -> 303, 5 -> 505).map { case (k, off) =>
        d.select(col("doc_id").as("src"), expr(s"(doc_id div $k + $off) % $n").as("dst"))
      } :+ d.select(col("doc_id").as("src"), (col("doc_id") % 10).as("dst"))
      parts.reduce(_ unionAll _).filter(col("src") =!= col("dst")).distinct()
    }

    val snapEvery = {
      val raw = sys.env.getOrElse("SPARK_GRAFT_SNAP_EVERY", "2")
      val v = raw.toIntOption.getOrElse(
        sys.error(s"SPARK_GRAFT_SNAP_EVERY must be an integer >= 1, got '$raw'"))
      require(v >= 1, s"SPARK_GRAFT_SNAP_EVERY must be >= 1, got $v")
      v
    }
    val per = n / batches
    println(f"graph ingestion scale: $sfDir, $n%d docs, $batches%d crawl slices, snapshot every $snapEvery%d")
    println("batch | ingest s | ingest MB | rebuild s | rebuild MB | store edges | snap s")
    for (b <- 0 until batches) {
      val lo = b * per
      val hi = if (b == batches - 1) n else (b + 1) * per
      val slice = docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
      val (_, is, imb) = timedMb {
        IncrementalGraph.ingestBatch(spark, edgesOf(slice), store, batchId = Some(b.toLong))
      }
      // naive arm: no store — re-derive the whole crawled-so-far graph
      // and rewrite it (what a pipeline pays per refresh without
      // incremental maintenance)
      val (_, rs, rmb) = timedMb {
        edgesOf(docs.filter(col("doc_id") < hi))
          .write.mode("overwrite").parquet(s"$root/rebuild")
      }
      val stored = IncrementalGraph.loadEdges(spark, store).count()
      // periodic whole-graph rank pass (the production cadence): its cost
      // must track the CURRENT |E| above, never the number of batches
      // ingested so far
      val snap =
        if ((b + 1) % snapEvery == 0 || b == batches - 1) {
          val (_, ss, _) = timedMb {
            IncrementalGraph.rankSnapshot(spark, store, iterations = 5).count()
          }
          f"$ss%6.2f"
        } else "     -"
      println(f"$b%5d | $is%8.2f | $imb%9.1f | $rs%9.2f | $rmb%10.1f | $stored%11d | $snap")
    }
    spark.stop()
  }
}
