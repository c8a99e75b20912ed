package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.expressions.XXH64

/** Row count plus an order-independent digest of every output column. */
final case class Digest(rows: Long, hash: String)

object ContentHash {

  /** Executes `df`'s physical plan (the one `df.queryExecution.executedPlan`
    * already holds, so nothing is planned twice) and digests every column of
    * every row. Each row is hashed over its UnsafeRow bytes, so no column can
    * be pruned away; the row hashes are summed and xor-ed, so the digest
    * depends on the multiset of rows, not their order or partitioning.
    */
  def of(df: DataFrame): Digest = {
    val schema = df.schema
    val (rows, sum, xor) = df.queryExecution.toRdd.mapPartitions { it =>
      val project = UnsafeProjection.create(schema)
      var n = 0L
      var s = 0L
      var x = 0L
      it.foreach { r =>
        val u = project(r)
        val h = XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
        n += 1
        s += h
        x ^= h
      }
      Iterator.single((n, s, x))
    }.fold((0L, 0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2, a._3 ^ b._3))
    Digest(rows, f"$sum%016x$xor%016x")
  }
}
