package graft.examples

import graft.core.EntityModel
import graft.sources.KafkaBinding
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

case class MappedMessage(id: Int, created_at: Timestamp, text: String)

/** The reference's configuration-mapping example
  * (`/root/reference/examples/configuration-mapping/Program.cs` +
  * `appsettings.json` / `appsettings.Development.json` /
  * `appsettings.Production.json`; marked DEPRECATED there in favor of
  * `configuration`, mirrored here for completeness): context options
  * built from LAYERED settings FILES — a base file plus an
  * environment-specific overlay whose keys win.
  *
  * graft analog: the settings files are JSON read through Spark itself
  * (`spark.read.json`, multiLine) — no extra config library — and the
  * overlay is a plain map merge. The resolved profile then drives the
  * log level and the `KafkaBinding.KafkaOptions` connection section,
  * exactly like [[Configuration]] does from its inline profiles.
  *
  * Run: `GRAFT_ENV=Production sbt "runMain graft.examples.ConfigurationMapping"`
  */
object ConfigurationMapping extends Example {

  /** Flatten one JSON settings object into dotted keys ("Logging.LogLevel
    * .Default" -> "Debug"), the shape .NET's ConfigurationBuilder exposes.
    */
  private def flatten(spark: SparkSession, path: String): Map[String, String] = {
    val df = spark.read.option("multiLine", "true").json(path)
    def walk(prefix: String, row: org.apache.spark.sql.Row,
        schema: org.apache.spark.sql.types.StructType): Map[String, String] =
      schema.fields.zipWithIndex.flatMap { case (f, i) =>
        val key = if (prefix.isEmpty) f.name else s"$prefix.${f.name}"
        f.dataType match {
          case s: org.apache.spark.sql.types.StructType =>
            if (row.isNullAt(i)) Map.empty[String, String]
            else walk(key, row.getStruct(i), s)
          case _ =>
            if (row.isNullAt(i)) Map.empty[String, String]
            else Map(key -> row.get(i).toString)
        }
      }.toMap
    val row = df.head()
    walk("", row, df.schema)
  }

  /** The mapped log level is context-wide, so only the command-line run
    * applies it: `run` may share its context with other work.
    */
  override def main(args: Array[String]): Unit = Example.session { spark =>
    Example.inWork(this)(work => spark.sparkContext.setLogLevel(resolve(spark, work)))
  }

  def run(spark: SparkSession, args: Array[String], work: String): Unit = resolve(spark, work)

  /** Prints the effective settings and the options they map to, and
    * returns the mapped Spark log level.
    */
  private def resolve(spark: SparkSession, work: String): String = {
    val env = sys.env.getOrElse("GRAFT_ENV", "Development")

    // the reference ships these as files next to the binary; written out
    // here so the example is self-contained and runnable anywhere
    Files.writeString(Paths.get(work, "appsettings.json"),
      """{"Logging": {"LogLevel": {"Default": "Debug", "Graft.Query": "Debug"}},
        | "Graft": {"Common": {"BootstrapServers": "localhost:9092",
        |                      "ClientId": "config-sample-app"},
        |           "SchemaRegistry": {"Url": "http://localhost:8085"}}}""".stripMargin)
    Files.writeString(Paths.get(work, "appsettings.Development.json"),
      """{"Logging": {"LogLevel": {"Default": "Debug", "Graft.Messaging": "Information"}}}""")
    Files.writeString(Paths.get(work, "appsettings.Production.json"),
      """{"Logging": {"LogLevel": {"Default": "Warning", "Graft.Messaging": "Warning",
        |                          "Graft.Query": "None"}}}""".stripMargin)

    // ConfigurationBuilder.AddJsonFile(base).AddJsonFile(env) — later wins
    val base = flatten(spark, s"$work/appsettings.json")
    val overlayPath = Paths.get(work, s"appsettings.$env.json")
    val overlay =
      if (Files.exists(overlayPath)) flatten(spark, overlayPath.toString)
      else Map.empty[String, String]
    val effective = base ++ overlay

    println(s"environment: $env")
    println("effective settings (base <- overlay):")
    effective.toSeq.sorted.foreach { case (k, v) => println(f"  $k%-40s = $v") }

    // the mapped sections drive the runtime, as in Program.cs:
    // Logging.LogLevel.Default -> engine log level
    val sparkLevel = effective("Logging.LogLevel.Default") match {
      case "Debug" => "DEBUG"
      case "Information" => "INFO"
      case "Warning" | "None" => "WARN"
      case other => other.toUpperCase
    }
    println(s"log level mapped to Spark: $sparkLevel")

    // Graft.Common / SchemaRegistry -> connection options
    val kafka = KafkaBinding.KafkaOptions(
      bootstrapServers = effective("Graft.Common.BootstrapServers"))
    val model = EntityModel[MappedMessage]("mapped_messages")
      .key("id").timestamp("created_at").toTopic("hello-world")
    println("resolved source options:")
    KafkaBinding.sourceOptions(model, kafka).toSeq.sorted
      .foreach { case (k, v) => println(f"  $k%-28s = $v") }
    println(s"schema registry: ${effective("Graft.SchemaRegistry.Url")}")
    sparkLevel
  }
}
