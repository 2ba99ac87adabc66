package graft.tools

import graft.GraftSession
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Synthetic scale multiplier: reads a testdata sf directory and writes a
  * K× copy for data-bound benchmarking (the sf0.1 suite is setup-dominated —
  * 100× data costs only 1.42× wall, see BASELINE.md — so scale claims need a
  * dataset where data, not fixed overhead, dominates).
  *
  * `runMain graft.tools.ScaleUp <srcDir> <dstDir> <factor> [docFactor]`
  *
  * Replication is workload-shape-preserving, not naive copying:
  *
  *   - facts (`orders`+`lineitem`, key-consistently; `events`) replicate
  *     with primary keys offset by `replica * (max+1)` — joins keep their
  *     selectivity, dims stay dims (realistic: facts grow faster).
  *   - `documents` replicate with offset doc_ids and a per-replica
  *     character-rotation PAIR over two disjoint 10-letter alphabets
  *     (`translate`, up to 100 distinct transforms), so replicas share
  *     (essentially) no shingles: the duplicate/near-duplicate structure
  *     scales LINEARLY (same clusters ×K) instead of quadratically
  *     (every doc suddenly having K twins would inflate LSH buckets by K
  *     and candidate pairs by K² — a different workload, not a bigger one).
  *   - `embeddings` replicate with offset vec_ids and a per-replica
  *     deterministic sign flip per dimension: cosine WITHIN a replica is
  *     exactly preserved (signs cancel), cosine ACROSS replicas is
  *     decorrelated — ANN/near-dup structure again scales linearly.
  *   - dims (`region nation customer supplier part`) copy as-is.
  *
  * `events.ts` stays a raw INT64 nanos column so `Tables.load`'s
  * nanosAsLong path keeps reading the scaled directory unchanged.
  */
object ScaleUp {

  // two DISJOINT high-frequency letter sets; replica r applies rotation
  // r%10 over the first and (r/10)%10 over the second, giving 100 distinct
  // length-preserving transforms with no pair composing to another
  // (cross-replica exact text dups would need BOTH rotations equal)
  private val alphabet  = "aeiousnrtl"
  private val alphabet2 = "mcgwhdbpyk"
  // third rotation set for docFactor up to 1000 (sf100 ladder decade),
  // applied AFTER the first two with rotation r/100. It deliberately
  // OVERLAPS the first two (order of application is fixed, so the
  // composition is still a well-defined permutation): 'f' is outside
  // both base sets, so distinct r/100 values move 'f' to distinct
  // letters — all 1000 triples compose to distinct permutations — and
  // the other nine members are high-frequency letters, so replicas
  // sharing the first two rotations still diverge on essentially every
  // shingle (a surviving shingle needs NO letter from this set either).
  private val alphabet3 = "fsnrtlcgdb"

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val factor = args(2).toInt
    val docFactor = if (args.length > 3) args(3).toInt else factor
    require(factor >= 1 && docFactor >= 1, "factors must be >= 1")
    val maxDoc = alphabet.length * alphabet2.length * alphabet3.length
    require(docFactor <= maxDoc,
      s"docFactor > $maxDoc would repeat a rotation triple (exact cross-replica dups)")

    val spark = GraftSession.local()

    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")

    // replicate df K times with a __r replica-index column to derive offsets from
    def replicated(df: DataFrame, k: Int): DataFrame =
      df.withColumn("__r", explode(sequence(lit(0), lit(k - 1))))

    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head().getLong(0)

    // dims copy as-is
    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      write(spark.read.parquet(s"$src/$t.parquet"), t)
    }

    // orders + lineitem share the orderkey offset so the join keeps shape
    val orders = spark.read.parquet(s"$src/orders.parquet")
    val lineitem = spark.read.parquet(s"$src/lineitem.parquet")
    val oStride = maxOf(orders, "o_orderkey") + 1
    write(
      replicated(orders, factor)
        .withColumn("o_orderkey", col("o_orderkey") + col("__r") * oStride)
        .drop("__r"),
      "orders"
    )
    write(
      replicated(lineitem, factor)
        .withColumn("l_orderkey", col("l_orderkey") + col("__r") * oStride)
        .drop("__r"),
      "lineitem"
    )

    // events: raw INT64 nanos in, raw INT64 nanos out (Tables.load contract);
    // same timestamps across replicas = a denser stream, not a longer one
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val events = spark.read.parquet(s"$src/events.parquet")
    val eStride = maxOf(events, "event_id") + 1
    write(
      replicated(events, factor)
        .withColumn("event_id", col("event_id") + col("__r") * eStride)
        .drop("__r"),
      "events"
    )

    // documents: per-replica character rotation breaks cross-replica
    // shingle overlap; length (and so n_chars) is preserved by translate
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val dStride = maxOf(docs, "doc_id") + 1
    def rot(a: String, r: Int) = a.drop(r) + a.take(r)
    // replica r → rotation r%10 over alphabet, (r/10)%10 over alphabet2,
    // then r/100 over alphabet3 (identity for docFactor <= 100 — the
    // sf1/sf10 datasets are byte-identical to the two-pass form). The
    // first two sets are disjoint so their pair is order-independent;
    // the third is applied last in a FIXED order, and its distinctness
    // rides the 'f' argument on the alphabet3 declaration. Residual
    // shingle overlap between replicas sharing all-but-one rotation
    // needs a shingle with no letter from the differing set — rare for
    // these high-frequency sets, and a band match needs 4 consecutive
    // minhash agreements on top. Each pass is <= 10 when-branches, so
    // the expression stays codegen-friendly at docFactor 1000.
    def rotPass(base: Column, abc: String, idx: Column, count: Int): Column =
      (1 until count)
        .map(r => (idx === r, translate(base, abc, rot(abc, r))))
        .foldRight(base) { case ((cond, v), acc) => when(cond, v).otherwise(acc) }
    val pass1 = rotPass(col("text"), alphabet,
      pmod(col("__r"), lit(alphabet.length)),
      math.min(docFactor, alphabet.length))
    val pass2 = rotPass(pass1, alphabet2,
      pmod((col("__r") / alphabet.length).cast("int"), lit(alphabet2.length)),
      math.min((docFactor + alphabet.length - 1) / alphabet.length, alphabet2.length))
    val translated = rotPass(pass2, alphabet3,
      (col("__r") / (alphabet.length * alphabet2.length)).cast("int"),
      math.min((docFactor + 99) / 100, alphabet3.length))
    write(
      replicated(docs, docFactor)
        .withColumn("text", translated)
        .withColumn("doc_id", col("doc_id") + col("__r") * dStride)
        .drop("__r"),
      "documents"
    )

    // embeddings: per-(replica, dim) deterministic sign flip — intra-replica
    // cosine exact (signs cancel pairwise), cross-replica decorrelated
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val vStride = maxOf(emb, "vec_id") + 1
    val flipped = transform(
      col("embedding"),
      (x, d) =>
        (x * when(pmod(xxhash64(col("__r"), d), lit(2)) === 0, lit(1.0f)).otherwise(lit(-1.0f)))
          .cast("float")
    )
    write(
      replicated(emb, docFactor)
        .withColumn("embedding", flipped)
        .withColumn("vec_id", col("vec_id") + col("__r") * vStride)
        .drop("__r"),
      "embeddings"
    )

    println(s"[scaleup] wrote $dst at factor=$factor docFactor=$docFactor from $src")
    spark.stop()
  }
}
