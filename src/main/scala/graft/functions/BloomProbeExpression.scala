package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{BooleanType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** Sharded-Bloom membership probe as a static kernel:
  * `might_contain_sharded(digest)` against a broadcast array of B Bloom
  * filters, the hash-sharded form of Spark's built-in `might_contain`
  * ([[graft.operators.IncrementalDedup]] builds the array; one filter per
  * `MurmurHash3(digest) mod B` shard keeps each bit array under JVM
  * array / task-serialization limits at 10¹²-key scale).
  *
  * This sits on EVERY row of every incremental batch (the exact / line /
  * span dedup prefilters), which is why it is a kernel rather than a
  * Scala UDF: a UDF pays the InternalRow→Row encoder round-trip per row
  * and surfaces as a codegen barrier; this compiles to one static JVM call
  * inside the scan's WholeStageCodegen (PlanSpec pins the absence of
  * ScalaUDF nodes in the q51/q83 plans).
  *
  * The digest is read as a string: a column of another type (a `bigint`
  * hash) is cast to its string form at analysis, the form
  * [[graft.operators.IncrementalDedup.buildFilterArray]] keys every type
  * on, so build and probe agree whatever the digest's type.
  *
  * NULL digests probe to FALSE (not NULL) — the prefilter splits a batch
  * into `filter(probe)` / `filter(!probe)` branches and a NULL verdict
  * would silently drop the row from both.
  *
  * The kernel's object parameter is only the lightweight [[Broadcast]]
  * handle; the filter array ships once per executor via the broadcast
  * machinery, never with the task binary.
  */
object BloomMightContainSharded {

  /** Spark's xxhash64() default seed — the probe key below MUST equal the
    * build side's `xxhash64(digestCol)` column value bit-for-bit. */
  private val XxSeed = 42L

  /** Shard-route + probe, allocation-free: the filter key is
    * XXH64.hashUTF8String(digest, 42) — exactly the build side's
    * `xxhash64(digest)` ([[graft.operators.IncrementalDedup.buildFilterArray]]
    * inserts with `putLong`) — computed straight off the UTF8String's bytes
    * (the old string probe paid a toString + getBytes copy and hashed
    * 20-32 digest bytes per row). The shard router IS the build side's
    * [[graft.operators.IncrementalDedup.shardOf]] — one implementation, so
    * the two sides cannot drift (a divergent probe router would route to
    * the wrong filter: Bloom false negatives, silently admitted dups). */
  def probe(filters: Array[BloomFilter], d: UTF8String): Boolean = {
    val k = org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(d, XxSeed)
    filters(graft.operators.IncrementalDedup.shardOf(k, filters.length))
      .mightContainLong(k)
  }

  /** The kernel: a NULL digest probes to false. */
  def mightContain(d: UTF8String, bf: Broadcast[Array[BloomFilter]]): Boolean =
    d != null && probe(bf.value, d)

  def might_contain_sharded(digest: Column,
                            bf: Broadcast[Array[BloomFilter]]): Column =
    StaticKernel.column(args => StaticKernel.expr("might_contain_sharded", this, "mightContain",
      BooleanType, Seq(StringType), args, Seq(bf), nullSafe = false), digest)
}
