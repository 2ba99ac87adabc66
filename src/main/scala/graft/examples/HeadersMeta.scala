package graft.examples

import graft.GraftContext
import graft.core.EntityModel
import graft.sources.ChangelogStore
import org.apache.spark.sql.SparkSession

import java.sql.Timestamp

case class HmMessage(id: Int, sent_at: Timestamp, text: String)

/** The reference's headers-meta
  * (`/root/reference/examples/headers-meta/Program.cs`:
  * `AddAsync(msg, new() { ["cid"] = cid })` then
  * `ForEachAsync((m, headers, meta) => ...)` printing the correlation
  * id, partition, and offset): producer-set headers ride with the
  * record and the consume callback sees them plus record metadata.
  *
  * graft analog: `ChangelogStore.add(entity, rows, headers)` persists a
  * `__headers` map column; `EventSet.forEachWithMeta` surfaces
  * `(record, headers, RecordMeta(topic, offset, timestamp))` — offset
  * is the produce sequence (`__seq`), the stand-in for
  * partition/offset in a log-backed store.
  *
  * Run: `sbt "runMain graft.examples.HeadersMeta"`
  */
object HeadersMeta extends Example {
  def run(spark: SparkSession, args: Array[String], work: String): Unit = {
    import spark.implicits._

    val store = new ChangelogStore(spark, work)
    val messages = EntityModel[HmMessage]("hm_messages").key("id").timestamp("sent_at")
    // serve the LOG view (not the compacted snapshot): headers and the
    // produce sequence are record metadata, which compaction drops —
    // a headers-aware consumer reads the topic, not the table
    val ctx = new GraftContext(spark, name => store.log(name))

    val cid = java.util.UUID.randomUUID().toString.replace("-", "")
    store.add(
      "hm_messages",
      Seq(HmMessage(1, Timestamp.valueOf("2024-01-01 00:00:00"), "hello")).toDF(),
      headers = Map("cid" -> cid, "producer" -> "headers-meta-example")
    )

    ctx.eventSet(messages).forEachWithMeta { (m, headers, meta) =>
      println(
        s"Consumed: ${m.text} cid=${headers.getOrElse("cid", "<none>")} " +
          s"topic=${meta.topic} offset=${meta.offset} ts=${meta.timestampUtc.orNull}")
    }
  }
}
