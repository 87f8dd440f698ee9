package graft.functions

import java.security.MessageDigest
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.Encoder

/** Typed UDAF: MinHash signature of a *group* of documents — the signature
  * of the union of the documents' shingle sets (min commutes with union, so
  * partial aggregation is exact: merge = element-wise min; the shuffle
  * carries one NumHashes-long array per group × partition, never rows).
  *
  * Hashing matches TextHash exactly (md5 → top 14 hex digits → BIGINT →
  * (a_i*x + b_i) mod p), so the result is verifiable against the same
  * DuckDB oracle spelling used by d01_minhash_lsh.
  */
class MinHashAgg(k: Int) extends Aggregator[String, Array[Long], Array[Long]] {
  import TextHash._

  override def zero: Array[Long] = Array.fill(NumHashes)(Long.MaxValue)

  // One digest per task thread, reset between hashes: the round-1 spelling
  // allocated a MessageDigest AND a per-byte format string per shingle,
  // which made u02 cost 30.6 s at sf0.1 (vs 0.16 s for u03 on the same
  // table). The top 14 hex digits of an md5 are exactly the first 7 digest
  // bytes, so the value is assembled straight from the bytes — no hex
  // round-trip at all.
  @transient private lazy val localMd: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  private def hash56(s: String): Long = {
    val md = localMd.get()
    md.reset()
    val d = md.digest(s.getBytes("UTF-8"))
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v
  }

  override def reduce(acc: Array[Long], text: String): Array[Long] = {
    if (text == null) return acc // match the SQL oracle: NULL docs contribute nothing
    val tokens = text.split(" ")
    val n = math.max(1, tokens.length - (k - 1))
    var i = 0
    while (i < n) {
      val shingle = tokens.slice(i, i + k).mkString(" ")
      val x = hash56(shingle) % P
      var j = 0
      while (j < NumHashes) {
        val h = (A(j) * x + B(j)) % P
        if (h < acc(j)) acc(j) = h
        j += 1
      }
      i += 1
    }
    acc
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var j = 0
    while (j < NumHashes) { if (b(j) < a(j)) a(j) = b(j); j += 1 }
    a
  }

  override def finish(acc: Array[Long]): Array[Long] = acc

  override def bufferEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
}
