package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import net.jpountz.xxhash.XXHashFactory

/** Typed MinHash signature aggregator — the one custom UDAF the engine
  * needs (SURVEY §2.2: "a custom Aggregator[IN,BUF,OUT] is reserved for
  * minhash"). Aggregates a group's shingle byte strings into a fixed
  * `numHashes`-wide signature of per-seed minimum hashes.
  *
  * The buffer is a primitive Long array: constant size regardless of group
  * cardinality, and `merge` is elementwise min — associative and
  * commutative, so Spark runs it partial (map-side) + final like any
  * built-in aggregate. This is the property that makes minhash viable at
  * 100 TB: the shuffle carries 256 bytes per document, never shingles.
  *
  * Input is the shingle's UTF-8 bytes (`cast('binary')` on the string
  * column), not String: the untyped-UDAF bridge deserializes each input
  * row through the IN encoder, and BINARY is a straight byte copy of the
  * underlying UTF8String while STRING pays a full char decode plus a
  * `getBytes` re-encode per shingle — measured ~15% of aggregate time.
  *
  * Hashing uses lz4's XXHash64 (already on Spark's classpath — the same
  * library backing Spark's xxhash64 expression) with the seed as the
  * per-permutation salt, matching Dedup.minhashSignatures' xxhash64(seed,
  * shingle) semantics. DedupSimilaritySpec cross-checks both paths produce
  * identical signatures.
  */
class MinHashAggregator(numHashes: Int = 32)
    extends Aggregator[Array[Byte], Array[Long], Seq[Long]] {

  @transient private lazy val xx = XXHashFactory.fastestInstance().hash64()

  /** Per-permutation salts, precomputed once per executor: re-deriving
    * hashInt(seed) inside the per-shingle loop would allocate a ByteBuffer
    * and run an extra hash 32× per shingle (measured ~2× aggregate cost).
    * Matches Spark's xxhash64(lit(seed), col): the int seed hashes first
    * with default seed 42, its result seeds the string hash — exactly
    * Catalyst's XxHash64 fold over multiple children.
    */
  @transient private lazy val seedHashes: Array[Long] =
    Array.tabulate(numHashes)(s => hashInt(s, 42L))

  override def zero: Array[Long] = Array.fill(numHashes)(Long.MaxValue)

  override def reduce(buf: Array[Long], bytes: Array[Byte]): Array[Long] = {
    var s = 0
    while (s < numHashes) {
      val h = xx.hash(bytes, 0, bytes.length, seedHashes(s))
      if (h < buf(s)) buf(s) = h
      s += 1
    }
    buf
  }

  /** Catalyst XxHash64Function.hashInt: ints hash as 4-byte little-endian. */
  private def hashInt(i: Int, seed: Long): Long = {
    val bb = java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(i)
    xx.hash(bb.array(), 0, 4, seed)
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < numHashes) { if (b(i) < a(i)) a(i) = b(i); i += 1 }
    a
  }

  override def finish(buf: Array[Long]): Seq[Long] = buf.toSeq

  override def bufferEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Seq[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
}
