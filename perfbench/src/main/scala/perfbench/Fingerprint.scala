package perfbench

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.types.DataType

/** Order-insensitive fingerprint of a query result: the row count and the
  * wrapping sum of a 64-bit hash of each row's UnsafeRow bytes, which
  * cover every output column. Summing makes the value independent of
  * partitioning and row order; hashing the bytes makes it sensitive to
  * every value, nested ones included. */
final case class Fingerprint(rows: Long, hash: Long) {
  def +(o: Fingerprint): Fingerprint = Fingerprint(rows + o.rows, hash + o.hash)
  def show: String = f"$rows:$hash%016x"
}

object Fingerprint {
  val Zero: Fingerprint = Fingerprint(0L, 0L)
  private val Seed = 0x5eedL

  /** Folds every row of `rdd` (rows typed by `types`) in one Spark job. */
  def of(rdd: RDD[InternalRow], types: Array[DataType]): Fingerprint =
    rdd.mapPartitions { it =>
      val toUnsafe = UnsafeProjection.create(types)
      var n = 0L
      var h = 0L
      it.foreach { r =>
        val u = toUnsafe(r)
        h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, Seed)
        n += 1
      }
      Iterator.single(Fingerprint(n, h))
    }.fold(Zero)(_ + _)
}
