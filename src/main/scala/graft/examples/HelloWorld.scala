package graft.examples

import graft.{GraftContext, GraftSession}
import graft.core.EntityModel
import graft.sources.ChangelogStore

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
object HelloWorld {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    import spark.implicits._

    val root = java.nio.file.Files.createTempDirectory("graft_hello").toString
    val store = new ChangelogStore(spark, root)
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

    spark.stop()
  }
}
