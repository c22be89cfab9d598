package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XxHash64}
import org.apache.spark.sql.execution.SQLExecution

/** An order-independent fingerprint of a result: its row count and the
  * wrapping sum of a 64-bit hash of every row. */
final case class Digest(rows: Long, hashSum: Long) {
  override def toString: String = f"$rows%d:$hashSum%016x"
}

object Digest {

  /** Execute `df` once and fold its digest on the executors.
    *
    * The action runs the query's own physical plan (`queryExecution.toRdd`,
    * the same `execute()` path the noop sink takes), so a final sort or
    * limit is executed, not pruned. It runs under a SQL execution id, which
    * posts the usual SQL execution events, so query-execution listeners see
    * it like any other action. */
  def of(df: DataFrame, name: String): Digest = {
    val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[Row]].queryExecution
    SQLExecution.withNewExecutionId(qe, Some(name)) {
      val output = qe.executedPlan.output
      val parts = qe.toRdd.mapPartitions { rows =>
        val hash = UnsafeProjection.create(Seq(XxHash64(output, 42L)), output)
        var n = 0L
        var sum = 0L
        rows.foreach { r => n += 1; sum += hash(r).getLong(0) }
        Iterator.single((n, sum))
      }.collect()
      Digest(parts.map(_._1).sum, parts.map(_._2).sum)
    }
  }
}
