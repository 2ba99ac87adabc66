package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE SHORT JSON summary line on stdout
  * (total seconds, query count, failures). The per-query seconds map is
  * written to BENCH_LAST.json only — stdout consumers keep a bounded
  * tail, and the full 87-query map does not fit it. Every timed run
  * also leaves one row of its [[Profile]] totals in BENCH_LAYERS_<sf>.tsv.
  *
  * Measurement protocol (BASELINE.md): the [[GraftSession]] session
  * (local[cores], shuffle partitions = cores, AQE on, UTC), noop-format
  * write to force full execution of every operator (a bare count()
  * would let Catalyst prune projections).
  * A session warm-up touches each table first so query 1 doesn't pay
  * JVM/codegen init.
  */
object Bench {
  // The settle rule (ROADMAP item 4b): re-time a query whose in-suite
  // time exceeds SettleTrigger × its reference, SettleRepeat times. The
  // trigger went 1.5 → 1.3 in r19: two rounds running, >1.3× movers
  // (q_classifier_auc_trained 1.39×, then q_graph_harmonic 1.49×) sat
  // just under the old trigger and never got a verdict.
  private val SettleTrigger = 1.3
  private val SettleRepeat = 5

  def main(args: Array[String]): Unit = {
    // Spark writes startup banners ("Setting default log level...") to
    // stdout, which breaks the driver's parse of the one-line JSON
    // contract. Route everything to stderr for the duration of the run
    // and print the JSON line on the real stdout at the end — it is then
    // the first AND only stdout line.
    val realOut = System.out
    System.setOut(System.err)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()

    warmUp(spark, sfDir)

    // SPARK_GRAFT_ONLY=q_a,q_b limits the run (local iteration on a hot
    // query); SPARK_GRAFT_REPEAT=n re-times each query n times and keeps
    // the minimum (steady-state cost, excludes first-run listing/JIT).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val repeat = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "1").toInt

    // The per-query map lives here; the path is anchored to the repo root
    // (BENCH_OUT override > user.dir, which sbt's fork sets to baseDirectory)
    // so launching Bench outside sbt still lands the file predictably.
    val benchOut = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_OUT",
      java.nio.file.Paths.get(sys.props("user.dir"), "BENCH_LAST.json").toString)

    // Settle-pass reference: SPARK_GRAFT_BENCH_REF (explicit override),
    // else the COMMITTED per-sf reference BENCH_REF_<sf>.json, resolved
    // from the repo root (user.dir) so output sent elsewhere keeps the
    // settle pass. This run's own BENCH_LAST files are never candidates:
    // two checkouts sharing an output dir would settle against each
    // other's runs. A candidate qualifies only if it was taken at this
    // sf AND on this core count (see settleRef); the summary line names
    // the reference used ("ref", or "none").
    val sfName = new java.io.File(sfDir).getName
    val cores = GraftSession.cores
    val repoDir = java.nio.file.Paths.get(sys.props("user.dir")).toAbsolutePath
    val benchOutPerSf = java.nio.file.Paths.get(benchOut).toAbsolutePath.getParent
      .resolve(s"BENCH_LAST_$sfName.json").toString
    val (refPath, refQueries) = settleRef(
      (sys.env.get("SPARK_GRAFT_BENCH_REF").toSeq :+
        repoDir.resolve(s"BENCH_REF_$sfName.json").toString)
        .map { p =>
          p -> (try new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")
                catch { case scala.util.control.NonFatal(_) => "" })
        },
      sfDir, cores)
    // Every timed run leaves one layer row, keyed by (query, run), in
    // BENCH_LAYERS_<sf>.tsv next to BENCH_LAST_<sf>.json: the Profile
    // totals of the run's window (jobs/stages/tasks, task run vs CPU ms,
    // shuffle/input/spill/read bytes, Catalyst phases, JIT/GC, codegen).
    // The window opens and closes outside the timed region.
    val profile = Profile.of(spark)
    val layers = scala.collection.mutable.ArrayBuffer.empty[String]
    // A failed run must not win min() with its (fast) time-to-throw:
    // only successful runs are timed (None otherwise).
    def timeRun(name: String, fn: (SparkSession, String) => DataFrame, run: String): Option[Double] = {
      val (secs, cost) = profile.window {
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          Some((System.nanoTime() - t0) / 1e9)
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name (run $run) failed: $e"); None
        }
      }
      layers += f"$name\t$run\t${secs.getOrElse(-1.0)}%.3f\t${cost.tsv}"
      secs
    }
    val selected = SparkEntry.benchQueries.toSeq
      .sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // a query with zero successes is reported in "failed", not in "queries"
    val results = selected.map { case (name, fn) =>
      name -> (1 to repeat).flatMap(i => timeRun(name, fn, i.toString)).minOption
    }
    val ok = results.collect { case (k, Some(v)) => k -> v }
    val failed = results.collect { case (k, None) => k }

    // Settle pass (BASELINE.md mover protocol, automated): any query
    // whose in-suite time regressed >SettleTrigger× vs the reference run
    // is re-timed warm in this same JVM (min of SettleRepeat runs) — the
    // hand re-runs of rounds 13-15 showed such movers are almost always
    // suite interference (GC, codegen-cache pressure from neighbors),
    // and the warm-solo minimum is the honest steady-state number. Both
    // values land in the JSON so the round capture needs no manual pass.
    // Skipped when REPEAT>1 (already steady-state) or under ONLY.
    val settled: Seq[(String, Double, Double, Double)] =
      if (repeat > 1 || only.isDefined) Seq.empty
      else ok.flatMap { case (name, inSuite) =>
        refQueries.get(name).collect {
          case ref if ref > 0 && inSuite > SettleTrigger * ref =>
            val fn = SparkEntry.benchQueries(name)
            (1 to SettleRepeat).flatMap(i => timeRun(name, fn, s"settle$i")).minOption
              .map(solo => (name, inSuite, solo, ref))
        }.flatten
      }
    // Verdict per settled mover (r16 VERDICT Next #5): "interference"
    // when the warm-solo minimum lands at-or-below the reference
    // (suite neighbors — GC, codegen cache — caused the in-suite blip),
    // "regression" when even solo stays above it. Tolerance 1.15×: the
    // warm-solo min still jitters a few percent run-to-run; movers whose
    // solo lands in (1.15×, SettleTrigger×] of the reference get a hard
    // regression verdict — at 1.3 that band is narrow, and a
    // genuine plan regression typically sits well above it (r19 ADVICE:
    // this comment used to claim such movers can't occur; they can, and
    // flagging them loudly is the point). A regression verdict is a FAILURE:
    // the query joins "failed" in both JSON lines so a real mover can
    // never hide in prose again.
    def verdict(solo: Double, ref: Double): String =
      if (solo <= ref * 1.15) "interference" else "regression"
    val regressed = settled.collect {
      case (k, _, solo, ref) if verdict(solo, ref) == "regression" => k
    }
    val settledJson = settled
      .map { case (k, inSuite, solo, ref) =>
        "\"" + k + "\":" +
          f"""{"in_suite":$inSuite%.3f,"solo":$solo%.3f,"ref":$ref%.3f,"verdict":"${verdict(solo, ref)}"}"""
      }
      .mkString("{", ",", "}")
    val qs = ok
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val failedJson = (failed ++ regressed.map(_ + ":regressed"))
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = ok.map(_._2).sum
    // Settle-ADJUSTED total (r19, the r18 verdict's ask): in-suite
    // totals have been interference-dominated two rounds running — the
    // adjusted number replaces every `interference`-settled mover's
    // in-suite time with its warm-solo minimum, i.e. the total the
    // suite would have recorded without the ambient blips. Regressions
    // are NOT adjusted (a real mover must stay visible).
    val soloByName = settled.collect {
      case (k, _, solo, ref) if verdict(solo, ref) == "interference" => k -> solo
    }.toMap
    val adjusted = ok.map { case (k, v) => soloByName.getOrElse(k, v) }.sum
    // stdout gets a SHORT summary line only: downstream captures keep a
    // bounded tail of stdout, and an 87-query map (~2 KB) overflows it.
    // The per-query detail goes to BENCH_LAST.json exclusively.
    val summary =
      f"""{"metric":"total","value":$total%.3f,"adjusted":$adjusted%.3f,"unit":"sec","n":${ok.size},"settled":${settled.size},"failed":$failedJson,"sf":"$sfDir","ref":"$refPath"}"""
    val full =
      f"""{"metric":"total","value":$total%.3f,"adjusted":$adjusted%.3f,"unit":"sec","queries":$qs,"settled":$settledJson,"failed":$failedJson,"sf":"$sfDir","cpus":$cores,"ref":"$refPath"}"""
    realOut.println(summary)
    // two copies: the legacy shared path (external consumers) AND the
    // per-sf stamp — so a later run at a DIFFERENT sf can neither
    // destroy this run's per-query evidence nor leave the next same-sf
    // run referenceless (r19 VERDICT #1); the layer table sits beside
    // the per-sf stamp
    val layersOut = java.nio.file.Paths.get(benchOutPerSf)
      .resolveSibling(s"BENCH_LAYERS_$sfName.tsv").toString
    val layersTsv = (("query" +: "run" +: "wall_s" +: Profile.Columns).mkString("\t") +: layers)
      .mkString("", "\n", "\n")
    Seq(benchOut -> (full + "\n"), benchOutPerSf -> (full + "\n"), layersOut -> layersTsv).foreach {
      case (p, text) =>
        try java.nio.file.Files.write(java.nio.file.Paths.get(p), text.getBytes("UTF-8"))
        catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[bench] file write failed ($p): $e")
        }
    }
    spark.stop()
  }

  /** JVM + codegen + file-listing warm-up, outside the timings: touches
    * each table of `sfDir` so query 1 doesn't pay it. */
  def warmUp(spark: SparkSession, sfDir: String): Unit =
    graft.sources.Tables.names.foreach(t => graft.sources.Tables.load(spark, sfDir, t).count())

  /** The settle reference for a run at `sfDir` on `cpus` cores: the
    * first of `candidates` ((path, file text), in preference order)
    * whose "sf" and "cpus" fields both match this run, with its
    * per-query seconds — ("none", empty) when none matches. A reference
    * from other hardware gives false verdicts (core-scaling kernels run
    * ×2-3 slower on 4 cores than on 32), and one without a "cpus" field
    * cannot show its hardware, so neither qualifies. Parsed with a
    * regex — Bench's own single-line format, no JSON dependency.
    */
  def settleRef(
      candidates: Seq[(String, String)],
      sfDir: String,
      cpus: Int
  ): (String, Map[String, Double]) = {
    def queries(txt: String): Map[String, Double] = {
      val from = txt.indexOf("\"queries\":")
      if (from < 0) Map.empty
      else {
        // bound the scan at the queries object's closing brace — the
        // file also carries a "settled" object whose numeric fields
        // would otherwise parse as phantom query entries. The queries
        // object is flat, so the first '}' after the key closes it.
        val end = txt.indexOf('}', from)
        val span = if (end < 0) txt.substring(from) else txt.substring(from, end + 1)
        "\"([A-Za-z0-9_]+)\":([0-9]+\\.[0-9]+)".r
          .findAllMatchIn(span)
          .map(m => m.group(1) -> m.group(2).toDouble)
          .toMap
      }
    }
    val sameCpus = ("\"cpus\":" + cpus + "(?![0-9])").r
    candidates.iterator
      .collect {
        case (path, txt) if txt.contains("\"sf\":\"" + sfDir + "\"") &&
            sameCpus.findFirstIn(txt).isDefined =>
          path -> queries(txt)
      }
      .find(_._2.nonEmpty)
      .getOrElse("none" -> Map.empty)
  }
}
