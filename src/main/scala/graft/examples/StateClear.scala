package graft.examples

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The reference's streamiz-clear maintenance tool
  * (`/root/reference/examples/streamiz-clear/Program.cs`): clear the
  * local state caches (RocksDB) of a stopped streaming app so it
  * rebuilds from the changelog on next start.
  *
  * graft analog: Structured Streaming keeps ALL durable progress under
  * the checkpoint location — `offsets/`, `commits/`, `state/`. The
  * maintenance operation is: stop the query, then delete either just
  * `state/` (rebuild state, keep source progress) or the whole
  * checkpoint (full reprocess). This main runs a tiny stateful query,
  * stops it, inventories the checkpoint, and clears it.
  *
  * Run: `sbt "runMain graft.examples.StateClear"`
  */
object StateClear extends Example {
  private def du(p: Path): Long =
    Files.walk(p).iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  def run(spark: SparkSession, args: Array[String], work: String): Unit = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val ckpt = Paths.get(work, "ckpt")
    val mem = MemoryStream[Int]
    mem.addData(1 to 1000: _*) // before start: AvailableNow snapshots offsets at start
    // a stateful aggregation — this populates state/ in the checkpoint
    val q = mem.toDF().groupBy(col("value") % 10).count()
      .writeStream.format("noop").outputMode("update")
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    println("checkpoint inventory after run:")
    Files.list(ckpt).iterator.asScala.toSeq.sortBy(_.getFileName.toString).foreach { d =>
      println(f"  ${d.getFileName.toString}%-10s ${du(d)}%8d bytes")
    }

    // the streamiz-clear operation: state only (rebuild), offsets kept
    val state = ckpt.resolve("state")
    println(s"clearing ${state} (${du(state)} bytes) — next start rebuilds state, keeps offsets")
    Example.delete(state)
    println(s"state/ exists after clear: ${Files.exists(state)}")
  }
}
