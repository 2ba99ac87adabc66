package graft.examples

import graft.GraftContext
import graft.core.EntityModel
import graft.sources.ChangelogStore
import org.apache.spark.sql.SparkSession

import java.sql.Timestamp

case class HelloMessage(id: Int, created_at: Timestamp, text: String)

/** The reference's hello-world
  * (`/root/reference/examples/hello-world/Program.cs`): register an
  * entity, produce a message, consume it back. The topic becomes a
  * keyed changelog directory; `AddAsync` → `ChangelogStore.add`,
  * `ForEachAsync` → `EventSet.forEach`.
  *
  * Run: `sbt "runMain graft.examples.HelloWorld"`
  */
object HelloWorld extends Example {
  def run(spark: SparkSession, args: Array[String], work: String): Unit = {
    import spark.implicits._

    val store = new ChangelogStore(spark, work)
    val hello = EntityModel[HelloMessage]("hello_world").key("id").timestamp("created_at")

    val ctx = new GraftContext(spark, name => store.snapshot(name, hello.keys))
    val messages = ctx.eventSet(hello)

    // produce (AddAsync)
    store.add(
      "hello_world",
      Seq(HelloMessage(1, Timestamp.valueOf("2024-01-01 00:00:00"), "Hello World")).toDF()
    )

    // consume (ForEachAsync)
    messages.forEach(m => println(s"Received: ${m.text}"))
  }
}
