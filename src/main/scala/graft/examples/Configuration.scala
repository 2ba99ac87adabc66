package graft.examples

import graft.core.EntityModel
import graft.sources.KafkaBinding
import org.apache.spark.sql.SparkSession

import java.sql.Timestamp

case class CfgMessage(id: Int, created_at: Timestamp, text: String)

/** The reference's configuration + configuration-mapping examples
  * (`/root/reference/examples/configuration/Program.cs` with
  * `appsettings.json` / `appsettings.Development.json` /
  * `appsettings.Production.json`): builder setup driven by a settings
  * profile, switching connection and logging between environments.
  *
  * graft analog: a profile is a plain `Map[String, String]` (load it
  * from properties/JSON/env as you like — shown here inline, selected
  * by `GRAFT_ENV`); Spark confs and `KafkaBinding.KafkaOptions` are
  * derived from it. The log level mapping mirrors
  * configuration-mapping's Development→Debug / Production→Information
  * switch.
  *
  * Run: `GRAFT_ENV=Production sbt "runMain graft.examples.Configuration"`
  */
object Configuration extends Example {
  private val profiles: Map[String, Map[String, String]] = Map(
    "Development" -> Map(
      "bootstrap.servers" -> "localhost:9092",
      "starting.offsets" -> "earliest",
      "max.offsets.per.trigger" -> "1000", // small batches while debugging
      "shuffle.partitions" -> "4",
      "log.level" -> "INFO"
    ),
    "Production" -> Map(
      "bootstrap.servers" -> "broker-1:9092,broker-2:9092,broker-3:9092",
      "starting.offsets" -> "latest",
      "max.offsets.per.trigger" -> "5000000", // backpressure bound at scale
      "shuffle.partitions" -> "32",
      "log.level" -> "WARN"
    )
  )

  private def env = sys.env.getOrElse("GRAFT_ENV", "Development")
  private def profile = profiles.getOrElse(env, profiles("Development"))

  /** The profile's log level is context-wide, so only the command-line
    * run applies it: `run` may share its context with other work.
    */
  override def main(args: Array[String]): Unit = Example.session { spark =>
    spark.sparkContext.setLogLevel(profile("log.level"))
    runIn(spark, args)
  }

  def run(spark: SparkSession, args: Array[String], work: String): Unit = {
    val cfg = profile
    println(s"environment: $env")
    spark.conf.set("spark.sql.shuffle.partitions", cfg("shuffle.partitions"))

    // connection options from the profile (KsqlDslOptions analog)
    val kafka = KafkaBinding.KafkaOptions(
      bootstrapServers = cfg("bootstrap.servers"),
      startingOffsets = cfg("starting.offsets"),
      maxOffsetsPerTrigger = Some(cfg("max.offsets.per.trigger").toLong)
    )

    val model = EntityModel[CfgMessage]("cfg_messages")
      .key("id").timestamp("created_at").toTopic("cfg-messages")

    println("resolved source options (DataStreamReader.options):")
    KafkaBinding.sourceOptions(model, kafka).toSeq.sorted
      .foreach { case (k, v) => println(f"  $k%-28s = $v") }
    val (keySubject, valueSubject) = KafkaBinding.subjects(model)
    println(s"schema-registry subjects: $keySubject / $valueSubject")
  }
}
