package graft.examples

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's custom-executor example
  * (`/root/reference/examples/custom-executor/Program.cs`): implement
  * `IKsqlExecutor` and wrap statement execution with logging + bounded
  * retry.
  *
  * graft analog: execution goes through Spark actions, so the wrap
  * point is a function `DataFrame => A`. `LoggingRetryExecutor` logs a
  * preview of the plan, retries transient failures with the same
  * bounded loop the reference uses, and rethrows when attempts are
  * exhausted. (For CONSUME-side error policies — Skip/Retry/DLQ per
  * record — see `RetryOnError` and `ErrorHandlingDlq`; this wrapper is
  * the statement/action-level analog.)
  *
  * Run: `sbt "runMain graft.examples.CustomExecutor"`
  */
object CustomExecutor extends Example {
  final class LoggingRetryExecutor(maxAttempts: Int = 3) {
    def execute[A](df: DataFrame)(action: DataFrame => A): A = {
      val preview = df.queryExecution.logical.toString
        .linesIterator.next().take(80)
      println(s"[exec] $preview")
      var attempt = 1
      while (true) {
        try {
          val a = action(df)
          println(s"[exec] ok (attempt $attempt)")
          return a
        } catch {
          case e: Exception if attempt < maxAttempts =>
            println(s"[exec] attempt $attempt failed: ${e.getMessage.take(60)} — retrying")
            attempt += 1
          case e: Exception =>
            println(s"[exec] giving up after $attempt attempts")
            throw e
        }
      }
      sys.error("unreachable")
    }
  }

  def run(spark: SparkSession, args: Array[String], work: String): Unit = {
    // a transiently-failing action: the first TWO calls throw (a broker
    // rebalance, a flaky object store), the third succeeds
    val failures = new java.util.concurrent.atomic.AtomicInteger(2)
    val exec = new LoggingRetryExecutor(maxAttempts = 3)
    val df = spark.range(1000).select((col("id") % 7).as("k"))
      .groupBy("k").count()

    val rows = exec.execute(df) { d =>
      if (failures.getAndDecrement() > 0)
        throw new RuntimeException("transient: connection reset")
      d.count()
    }
    println(s"result groups: $rows")
  }
}
