package graft.plans

import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** Serialized-once / deserialized-per-JVM carrier for a Bloom filter
  * embedded in a plan. The probe must ship to executors inside the
  * serialized task binary, so it carries the compact serialized bytes
  * (BloomFilter.writeTo form) and rebuilds the filter lazily on first
  * use in each JVM — never re-serializing the live object.
  */
final class BloomHolder(val bytes: Array[Byte]) extends Serializable {
  @transient lazy val bf: BloomFilter =
    BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))
}

/** The kernel of the probe [[Natives.bloomMightContain]] builds:
  * membership of a string key in a pre-built Bloom filter, inside the
  * scan's generated code (a filter this cheap must not break the
  * pipeline into an interpreted island).
  *
  * Contract: NO false negatives — every key inserted at build time
  * probes true — so a bloom-negative row is PROVABLY absent from the
  * build side and can be dropped before any shuffle. False positives
  * (rate set at build) merely survive to the exact verification join;
  * they cost candidate-join traffic, never correctness. This is the
  * classic big-data membership screen: the filter is megabytes where
  * the build side is terabytes, so the probe side prunes at scan
  * speed without shuffling either table.
  */
object BloomHolder {
  def apply(bf: BloomFilter): BloomHolder = {
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    new BloomHolder(bos.toByteArray)
  }

  def mightContain(key: UTF8String, bloom: BloomHolder): Boolean =
    bloom.bf.mightContainBinary(key.getBytes)
}
