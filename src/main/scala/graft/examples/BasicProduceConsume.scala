package graft.examples

import graft.GraftContext
import graft.core.EntityModel
import graft.sources.ChangelogStore
import org.apache.spark.sql.SparkSession

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
object BasicProduceConsume extends Example {
  def run(spark: SparkSession, args: Array[String], work: String): Unit = {
    import spark.implicits._

    val store = new ChangelogStore(spark, work)
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
  }
}
