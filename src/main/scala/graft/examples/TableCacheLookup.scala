package graft.examples

import graft.GraftContext
import graft.core.EntityModel
import graft.sources.ChangelogStore
import org.apache.spark.sql.SparkSession

case class RefData(ref_key: String, value: String)

/** The reference's table-cache-lookup
  * (`/root/reference/examples/table-cache-lookup/Program.cs`: snapshot
  * the TABLE-backed cache with `ToListAsync()`, then a key lookup):
  * a compacted reference table consumed as a local cache.
  *
  * graft analog: a `.asTable.cached` entity over a compacted changelog;
  * `toList()` is the snapshot (latest value per key — note ref-001 was
  * written twice and the cache holds v2), and `toList(Seq(key))` is
  * the key lookup, pushed down to the parquet scan instead of scanning
  * the local list.
  *
  * Run: `sbt "runMain graft.examples.TableCacheLookup"`
  */
object TableCacheLookup extends Example {
  def run(spark: SparkSession, args: Array[String], work: String): Unit = {
    import spark.implicits._

    val store = new ChangelogStore(spark, work)
    val refs = EntityModel[RefData]("ref_data").key("ref_key").asTable.cached
    val ctx = new GraftContext(spark, name => store.snapshot(name, refs.keys))

    store.add("ref_data", Seq(
      RefData("ref-001", "value-1"),
      RefData("ref-002", "value-2")
    ).toDF())
    store.add("ref_data", Seq(RefData("ref-001", "value-1-updated")).toDF())

    val set = ctx.eventSet(refs)
    val rows = set.toList()
    println(s"Rows: ${rows.size}")

    set.toList(Seq("ref-001")).headOption match {
      case Some(row) => println(s"Lookup ref-001: ${row.value}")
      case None      => println("Lookup ref-001: not found")
    }
  }
}
