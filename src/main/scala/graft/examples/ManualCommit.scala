package graft.examples

import graft.GraftContext
import graft.core.EntityModel
import graft.sources.ChangelogStore
import org.apache.spark.sql.SparkSession

import java.sql.Timestamp

case class McOrder(order_id: Int, placed_at: Timestamp, amount: Double)
case class ConsumerOffset(group: String, committed_seq: Long)

/** The reference's manual-commit
  * (`/root/reference/examples/manual-commit/Program.cs`:
  * `ForEachAsync(..., autoCommit: false)` + `Commit(order)`): the
  * consumer owns its progress marker and only advances it after the
  * record is durably handled — at-least-once with explicit commit.
  *
  * Spark-first analog: streaming consumption gets this from
  * checkpointed offsets automatically; PULL-style consumption (this
  * example) keeps the committed position as its own keyed entity and
  * resumes strictly past it. Kill the process mid-loop and re-run:
  * every record at or below the committed `__seq` is skipped, the
  * uncommitted tail is redelivered.
  *
  * Run: `sbt "runMain graft.examples.ManualCommit"`
  */
object ManualCommit extends Example {
  def run(spark: SparkSession, args: Array[String], work: String): Unit = {
    import spark.implicits._

    val store = new ChangelogStore(spark, work)
    val orders = EntityModel[McOrder]("mc_orders").key("order_id").timestamp("placed_at")
    val offsets = EntityModel[ConsumerOffset]("mc_offsets").key("group")
    // orders are consumed from the LOG view so meta.offset is the stable
    // produce sequence (__seq); the offsets entity reads compacted
    val ctx = new GraftContext(spark, {
      case "mc_offsets" => store.snapshot("mc_offsets", offsets.keys)
      case name         => store.log(name)
    })

    def t(s: String) = Timestamp.valueOf(s)
    store.add("mc_orders", Seq(
      McOrder(1, t("2024-01-01 09:00:00"), 10.0),
      McOrder(2, t("2024-01-01 09:00:01"), 25.0),
      McOrder(3, t("2024-01-01 09:00:02"), 40.0)
    ).toDF())

    val group = "billing"
    def committed(): Long =
      if (!store.exists("mc_offsets")) -1L
      else ctx.eventSet(offsets).toList(Seq(group)).headOption.map(_.committed_seq).getOrElse(-1L)
    def commit(seq: Long): Unit =
      store.add("mc_offsets", Seq(ConsumerOffset(group, seq)).toDF())

    // first pass: handle records 1 and 2, commit after each; record 3's
    // handler "crashes" BEFORE the commit
    val resume1 = committed()
    println(s"[pass 1] resuming past seq=$resume1")
    ctx.eventSet(orders).forEachWithMeta { (o, _, meta) =>
      if (meta.offset > resume1) {
        if (o.order_id == 3) println(s"  order ${o.order_id}: crash before commit (seq=${meta.offset} NOT committed)")
        else { println(s"  order ${o.order_id}: handled, commit seq=${meta.offset}"); commit(meta.offset) }
      }
    }

    // second pass (the "restart"): only the uncommitted record replays
    val resume2 = committed()
    println(s"[pass 2] resuming past seq=$resume2")
    ctx.eventSet(orders).forEachWithMeta { (o, _, meta) =>
      if (meta.offset > resume2) {
        println(s"  order ${o.order_id}: redelivered, commit seq=${meta.offset}")
        commit(meta.offset)
      }
    }
  }
}
