package graft

import graft.core.EntityModel
import graft.dsl.QueryModel
import graft.plans.Planner
import graft.sources.Lake
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.types.DecimalType

import scala.collection.concurrent.TrieMap

/** EF-style context — the Spark analog of the reference's `KsqlContext`
  * (`/root/reference/src/Context/KsqlContext.Model.cs:18-31`, lifecycle
  * `KsqlContext.Lifecycle.cs:363`): entities register in a model
  * registry, derived entities attach a query model (`ToQuery`,
  * `src/Core/Modeling/EntityBuilderToQueryExtensions.cs:11-29`), and
  * reads resolve through the planner.
  *
  * Where the reference's startup translates models to KSQL DDL and POSTs
  * them to ksqlDB, here a derived entity is just a named logical plan:
  * batch pulls lower it on demand (`Planner.batch`) and streaming
  * materializations lower it once (`Planner.streaming`) into a
  * supervised query. No SQL text, no schema-registry round-trips —
  * Catalyst sees the whole plan.
  */
final class GraftContext(
    val spark: SparkSession,
    resolve: String => DataFrame
) {

  // the reference's startup registers its function surface with ksqlDB;
  // here context construction injects the KSQL SQL dialect into the
  // session registry so `spark.sql("... UCASE(x) ... TOPK(v, 3)")`
  // works against registered entities out of the box
  GraftExtensions.registerAll(spark)

  private val entities = TrieMap.empty[String, EntityModel[_]]
  private val derived = TrieMap.empty[String, QueryModel]

  /** `modelBuilder.Entity<T>()` analog. */
  def register[T](model: EntityModel[T]): EntityModel[T] = {
    entities.put(model.name, model.validated)
    model
  }

  /** `.ToQuery(root => ...)` analog: a derived entity defined by a
    * query over registered entities.
    */
  def toQuery(name: String, model: QueryModel): Unit = {
    require(!derived.contains(name), s"derived entity '$name' already defined")
    derived.put(name, model)
  }

  /** ToQuery with projection validation against a target entity — the
    * reference validates at model-build time (`OnModelCreating` →
    * `ToQueryValidator`, SURVEY §3.1 step 1): the planned schema must
    * match the target POCO by name/order/type/decimal precision before
    * the derived entity is registered.
    */
  def toQueryAs[T](name: String, model: QueryModel, target: EntityModel[T]): Unit = {
    val planned = graft.plans.Planner.batch(model, catalog).schema
    graft.plans.ToQueryValidator.validate(planned, target)
    toQuery(name, model)
  }

  def entityModel(name: String): EntityModel[_] =
    entities.getOrElse(name, throw new NoSuchElementException(s"entity '$name' not registered"))

  /** Model snapshots for design-time tooling (KSQL script emission /
    * Avro export — the reference's `GetEntityModels`,
    * `src/Context/KsqlContext.Model.cs`).
    */
  def entityModels: Map[String, EntityModel[_]] = entities.toMap
  def derivedModels: Map[String, QueryModel] = derived.toMap

  /** Catalog the planner reads from: derived entities resolve
    * recursively through their own plans (views-over-views).
    */
  val catalog: String => DataFrame = { name =>
    derived.get(name) match {
      case Some(qm) => Planner.batch(qm, catalog)
      case None     => resolve(name)
    }
  }

  /** Batch pull of any entity or derived entity. Materialized sinks
    * (table cache analog) win over re-planning.
    */
  def set(name: String): DataFrame =
    materialized.get(name).map(_.apply()).getOrElse(catalog(name))

  // ---- materialization manager (the reference's Streamiz/RocksDB
  // table cache, `src/Cache/Core/TableCache.cs` — here: streaming
  // queries materializing into pull-readable sinks) ----
  private val materialized = TrieMap.empty[String, () => DataFrame]

  /** Materialize a LIVE table (EMIT CHANGES): complete-mode memory sink;
    * pulls read the in-memory table — the direct analog of the
    * reference's embedded KTable cache.
    */
  def materializeLive(name: String, aggregated: DataFrame): org.apache.spark.sql.streaming.StreamingQuery = {
    val q = aggregated.writeStream
      .format("memory")
      .queryName(s"__graft_$name")
      .outputMode("complete")
      .start()
    materialized.put(name, () => spark.table(s"__graft_$name"))
    q
  }

  /** Materialize a FINAL table (EMIT FINAL): append-mode parquet sink
    * sealed by the watermark; pulls read the directory.
    */
  def materializeFinal(name: String, finalized: DataFrame, root: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val path = s"$root/$name"
    val q = finalized.writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", s"$root/_chk/$name")
      .outputMode("append")
      .start()
    materialized.put(name, () => Lake.read(spark, path))
    q
  }

  /** Typed pull — `EventSet<T>` surface. */
  def eventSet[T](model: EntityModel[T]): EventSet[T] = {
    register(model)
    new EventSet[T](this, model)
  }
}

/** Typed entity-set facade — `EventSet<T>`
  * (`/root/reference/src/EntitySets/EventSet.cs`): ToListAsync (pull
  * scan), ForEachAsync (push consume), Map (client transform),
  * AddAsync (produce). Pull reads come from the entity's materialized
  * form exactly like the reference's RocksDB table cache
  * (`src/Cache/Core/TableCache.cs:44-53`) — here the parquet/sink
  * snapshot, with predicate pushdown instead of key-prefix scans.
  */
final class EventSet[T](ctx: GraftContext, val model: EntityModel[T]) {
  private implicit def enc: org.apache.spark.sql.Encoder[T] = model.encoder

  def toDS: Dataset[T] = rows.as[T](model.encoder)

  /** The entity's rows with each declared `decimal(col, p, s)` column
    * cast to its declared precision and scale: the encoder alone keeps
    * whatever decimal type the store holds. */
  private def rows: DataFrame =
    model.decimals.foldLeft(ctx.set(model.name)) { case (df, (c, (p, s))) =>
      if (df.columns.contains(c)) df.withColumn(c, df(c).cast(DecimalType(p, s))) else df
    }

  /** Driver-materialization budget for pull reads (session conf
    * `graft.pull.maxRows`, default 1,000,000). The reference's
    * ToListAsync scans a CLIENT-SIDE RocksDB cache
    * (`src/Cache/Core/TableCache.cs:44-53`) whose size the client
    * already paid for; a Spark pull targets a DISTRIBUTED table, where
    * an unbounded `collect()` of a fat snapshot OOMs the driver at
    * 100×. Pulls stream back one partition at a time
    * (`toLocalIterator`) and fail fast with the bounded alternatives —
    * [[latest]] (newest-N), [[toList(pkFilter*]] (key-prefix pull,
    * pushed to the scan), [[forEach]] (record-at-a-time) — once the
    * budget is crossed, instead of silently ballooning the driver heap.
    */
  private def pullCap: Long =
    ctx.spark.conf.getOption("graft.pull.maxRows").map(_.toLong).getOrElse(1000000L)

  private def boundedPull(ds: Dataset[T], what: String): Seq[T] = {
    val cap = pullCap
    val it = ds.toLocalIterator() // one partition on the driver at a time
    val buf = Seq.newBuilder[T]
    var n = 0L
    while (it.hasNext) {
      if (n >= cap)
        throw new IllegalStateException(
          s"$what exceeds the graft.pull.maxRows driver budget ($cap rows). " +
            "Pull bounded: latest(n) for newest-N, toList(pkFilter) for a " +
            "key-prefix scan, or forEach(...) to stream record-by-record; " +
            "or raise graft.pull.maxRows deliberately.")
      buf += it.next()
      n += 1
    }
    buf.result()
  }

  /** `ToListAsync()` — local materialization of the table snapshot,
    * bounded by [[pullCap]].
    */
  def toList(): Seq[T] = boundedPull(toDS, s"toList() on '${model.name}'")

  /** `ToListAsync(pkFilter)` — key-prefix pull: the filter parts are the
    * LEADING primary-key components, exactly the reference's NUL-joined
    * prefix scan (`ReadCachedEntitySet.cs:25-35` →
    * `TableCache.cs:43-53`, `string.Join(NUL, filter) + NUL` ordinal
    * prefix). The Spark form is equality on the leading key columns —
    * same restriction, but pushed down to the scan instead of a
    * store-side string match.
    */
  def toList(pkFilter: Seq[String]): Seq[T] = {
    require(model.hasKeys, s"entity '${model.name}' has no key for a prefix pull")
    require(
      pkFilter.nonEmpty && pkFilter.size <= model.keys.size,
      s"pkFilter must name 1..${model.keys.size} leading key parts"
    )
    import org.apache.spark.sql.functions.{col, lit}
    // cast the LITERAL to the key column's type: casting the column to
    // string would block parquet filter pushdown (UnwrapCast does not
    // unwrap to-string comparisons), turning the prefix pull into a
    // full scan. try_cast, because a non-parseable prefix must match
    // nothing (the reference's string prefix scan returns empty), not
    // raise an ANSI cast error
    val cond = model.keys
      .zip(pkFilter)
      .map { case (k, v) => col(k) === lit(v).try_cast(model.schema(k).dataType) }
      .reduce(_ && _)
    boundedPull(toDS.filter(cond), s"toList(pkFilter) on '${model.name}'")
  }

  /** `ForEachAsync(action)` — push-style consumption. Batch form
    * iterates the snapshot; streaming form is `writeStream.foreachBatch`
    * over the same dataset. `toLocalIterator` bounds driver memory to one
    * partition at a time (`ForEachAsync` streams record-by-record,
    * `EventSet.cs:214-307`) while keeping the dataset's ordering contract.
    */
  def forEach(action: T => Unit): Unit = {
    val it = toDS.toLocalIterator()
    while (it.hasNext) action(it.next())
  }

  /** `ForEachAsync(action, timeout)` (`EventSet.cs:214-229`): dispatch
    * stops when the deadline passes — the batch analog of cancelling the
    * consume loop. Iterates incrementally (no full collect) so the
    * timeout actually bounds work.
    */
  def forEach(action: T => Unit, timeout: scala.concurrent.duration.FiniteDuration): Unit = {
    val deadline = System.nanoTime + timeout.toNanos
    val it = toDS.toLocalIterator()
    while (it.hasNext && System.nanoTime < deadline) action(it.next())
  }

  /** Consume-side handler guard (`EventSet.ForEachAsync` error block,
    * `/root/reference/src/EntitySets/EventSet.cs:234-379`): the
    * per-record action runs under the ENTITY's error policy —
    *   - Skip: a failing record is dropped, consumption continues;
    *   - Retry: the action re-runs up to `retries` extra attempts
    *     (fixed backoff elided — deterministic tests), then the record
    *     goes to `onDlq`;
    *   - Dlq: one attempt, failures route straight to `onDlq`.
    * `onDlq` is the DLQ producer hook (see
    * [[graft.streaming.ErrorSink.envelope]] for the envelope shape).
    */
  def forEachGuarded(
      action: T => Unit,
      retries: Int = 2,
      onDlq: (T, Throwable) => Unit = (_, _) => ()
  ): Unit = {
    import graft.core.ErrorAction
    toDS.toLocalIterator().forEachRemaining { t =>
      model.errorAction match {
        case ErrorAction.Skip =>
          try action(t)
          catch { case _: Exception => () }
        case ErrorAction.Retry =>
          var attempt = 0
          var done = false
          while (!done) {
            try { action(t); done = true }
            catch {
              case e: Exception =>
                attempt += 1
                if (attempt > retries) { onDlq(t, e); done = true }
            }
          }
        case ErrorAction.Dlq =>
          try action(t)
          catch { case e: Exception => onDlq(t, e) }
      }
    }
  }

  /** Record metadata surfaced to [[forEachWithMeta]] — the reference's
    * `(entity, headers, meta)` consume tuple (`EventSet.cs:229-233`,
    * meta = offset/timestamp).
    */
  final case class RecordMeta(
      topic: String,
      offset: Long,
      timestampUtc: Option[java.sql.Timestamp]
  )

  /** `ForEachAsync((entity, headers, meta) => ...)` — headers come from a
    * `__headers` column when the backing store recorded them (see
    * [[graft.sources.ChangelogStore.add]]), offsets from `__seq` (the
    * produce sequence) or the iteration ordinal, the timestamp from the
    * entity's time key.
    */
  def forEachWithMeta(action: (T, Map[String, String], RecordMeta) => Unit): Unit = {
    import org.apache.spark.sql.functions._
    val df0 = rows
    // a log-backed set carries tombstones (__op = "d"); consumers see
    // LIVE records only — dispatching a delete as an upsert would
    // resurrect the key on replay
    val df = if (df0.columns.contains("__op")) df0.filter(col("__op") === "u") else df0
    val hasHeaders = df.columns.contains("__headers")
    val hasSeq = df.columns.contains("__seq")
    val tk = model.timeKey.filter(df.columns.contains)
    val ordered =
      if (hasSeq) df.orderBy(col("__seq"))
      else tk.fold(df)(t => df.orderBy(col(t)))
    val metaCols = Set("__headers", "__seq", "__op")
    val dataCols = df.columns.filterNot(metaCols).map(col)
    val emptyMap = org.apache.spark.sql.functions.map().cast("map<string,string>")
    val headersC =
      if (hasHeaders) coalesce(col("__headers"), emptyMap)
      else emptyMap
    val seqC = if (hasSeq) col("__seq").cast("long") else lit(-1L)
    val tsC = tk.map(t => col(t).cast("timestamp")).getOrElse(lit(null).cast("timestamp"))
    val sp = ctx.spark
    import sp.implicits._
    val tupEnc = org.apache.spark.sql.Encoders.tuple(
      model.encoder,
      implicitly[org.apache.spark.sql.Encoder[Map[String, String]]],
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.Encoders.TIMESTAMP
    )
    // toLocalIterator: one partition on the driver at a time (the reference
    // dispatches record-by-record, EventSet.cs:214-307). Ordering matches
    // the old collect() path: total when __seq exists; by the time key
    // (ties in partition order) when only a time key exists; bare partition
    // order otherwise — so fallback offsets `i` are only stable across runs
    // when __seq or a unique time key pins a total order
    val it = ordered
      .select(struct(dataCols.toIndexedSeq: _*).as("_1"), headersC.as("_2"), seqC.as("_3"), tsC.as("_4"))
      .as(tupEnc)
      .toLocalIterator()
    var i = 0L
    while (it.hasNext) {
      val (entity, headers, seq, ts) = it.next()
      val offset = if (seq >= 0) seq else i
      // record coordinate = the BOUND topic (EventSet.cs:229-233);
      // the entity name is only the fallback for unbound entities
      action(entity, headers,
        RecordMeta(model.topic.getOrElse(model.name), offset, Option(ts)))
      i += 1
    }
  }

  /** `Map` — client-side transform producing a new in-memory set
    * (`MappedEventSet` analog).
    */
  def map[U](f: T => U)(implicit uenc: org.apache.spark.sql.Encoder[U]): Dataset[U] =
    toDS.map(f)

  /** `Limit(n)` — newest N records by the entity's event-time column
    * (`EventSetLimitExtensions`: keeps the newest, not an arbitrary
    * head).
    */
  def latest(n: Int): Seq[T] = {
    val tk = model.timeKey.getOrElse(
      throw new IllegalArgumentException(s"entity '${model.name}' has no time key for latest()")
    )
    toDS.orderBy(org.apache.spark.sql.functions.col(tk).desc).limit(n).collect().toSeq
  }
}
