package graft.examples

import graft.{GraftContext, GraftSession}
import graft.core.EntityModel
import graft.sources.ChangelogStore

import java.sql.Timestamp

case class Reading(sensor_id: Int, at: Timestamp, celsius: Double)

/** The reference's basic-produce-consume
  * (`/root/reference/examples/basic-produce-consume/Program.cs`):
  * produce a handful of keyed records — including an update to an
  * existing key and a tombstone — then consume the compacted snapshot.
  * `AddAsync` → `ChangelogStore.add`, delete → `remove` (tombstone),
  * `ForEachAsync` → `EventSet.forEach`; the snapshot is latest-by-key,
  * exactly a compacted topic's read view.
  *
  * Run: `sbt "runMain graft.examples.BasicProduceConsume"`
  */
object BasicProduceConsume {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    import spark.implicits._

    val root = java.nio.file.Files.createTempDirectory("graft_basic").toString
    val store = new ChangelogStore(spark, root)
    val readings = EntityModel[Reading]("readings").key("sensor_id").timestamp("at")
    val ctx = new GraftContext(spark, name => store.snapshot(name, readings.keys))

    def t(s: String) = Timestamp.valueOf(s)
    store.add("readings", Seq(
      Reading(1, t("2024-01-01 00:00:00"), 20.5),
      Reading(2, t("2024-01-01 00:00:01"), 21.0)
    ).toDF())
    store.add("readings", Seq(Reading(1, t("2024-01-01 00:01:00"), 22.5)).toDF()) // update key 1
    store.remove("readings", Seq(Tuple1(2)).toDF("sensor_id"))                    // tombstone key 2

    // the consumed snapshot sees ONE record: key 1's latest value
    ctx.eventSet(readings).forEach(r =>
      println(s"sensor=${r.sensor_id} at=${r.at} celsius=${r.celsius}"))

    spark.stop()
  }
}
