package graft.examples

import graft.core.EntityModel
import graft.sources.{AvroSchemaGen, KafkaBinding}
import org.apache.spark.sql.SparkSession

import java.sql.Timestamp

case class Trade(
    symbol: String,
    executed_at: Timestamp,
    price: BigDecimal,
    qty: Long,
    internal_note: String
)

/** The reference's schema-attributes
  * (`/root/reference/examples/schema-attributes/`: `[KsqlTopic]`,
  * `[KsqlKey]`, `[KsqlTimestamp]`, `[KsqlDecimal(p,s)]`,
  * `[KsqlIgnore]` driving topic binding and Schema Registry subjects).
  *
  * graft analog: the same declarations as `EntityModel` builder calls;
  * `AvroSchemaGen` emits the key/value Avro schemas and
  * `KafkaBinding.subjects` the `{topic}-key`/`{topic}-value` subject
  * names the reference registers.
  *
  * Run: `sbt "runMain graft.examples.SchemaAttributes"`
  */
object SchemaAttributes extends Example {
  def run(spark: SparkSession, args: Array[String], work: String): Unit = {
    val trades = EntityModel[Trade]("trades")
      .key("symbol")
      .timestamp("executed_at")
      .decimal("price", precision = 18, scale = 4)
      .ignore("internal_note")
      .toTopic("market-trades", parts = 6, rf = 3)
      .validated

    println(s"entity:   ${trades.name}")
    println(s"topic:    ${trades.topic.get} (partitions=${trades.partitions}, rf=${trades.replicationFactor})")
    println(s"subjects: ${KafkaBinding.subjects(trades).productIterator.mkString(", ")}")
    println(s"key avro:   ${AvroSchemaGen.keySchema(trades)}")
    println(s"value avro: ${AvroSchemaGen.valueSchema(trades)}")
  }
}
