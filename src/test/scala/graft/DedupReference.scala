package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import operators.Dedup

/** Spec-side REFERENCE forms of the dedup kernels: independent,
  * deliberately plain implementations that the production paths are
  * pinned equal to. None of them runs in any operator. */
object DedupReference {

  /** Exploded 64-bit-hashed distinct shingles: (doc_id, gh), via the
    * fused graft_hash_shingles kernel, spread across cores before the
    * kernel (a small input is one parquet file = one partition). */
  def hashedShingleRows(docs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val p = docs.sparkSession.sparkContext.defaultParallelism
    docs.repartition(p, col("doc_id"))
      .select(col("doc_id"), explode(expr(s"graft_hash_shingles(text, ${Dedup.ShingleN})")).as("gh"))
  }

  /** (doc_id, sig): 64-perm MinHash signature via explode + 64
    * min-aggregates — the affinity-free form a reader can check next
    * to Spark's own xxhash64. Operators compute the same values per
    * row with the signature kernel ([[Dedup.rowMinhashSig]]): one
    * codegen'd loop per document, no explode, no 64-aggregate
    * shuffle. (The tempting one-projection nested-`transform` form is
    * a trap: Catalyst's projection collapse inlines the shingle-array
    * expression into the per-seed lambda, recomputing the shingling
    * 64x per document — measured 100x slower at sf0.1.) */
  def minhashSignatures(docs: DataFrame): DataFrame = {
    val aggs = (0 until Dedup.MinhashPerms).map(k =>
      min(xxhash64(col("gh"), lit(k))).as(s"mh_$k"))
    hashedShingleRows(docs).groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"),
        array((0 until Dedup.MinhashPerms).map(k => col(s"mh_$k")): _*).as("sig"))
  }

  /** The pre-blocked simhash band-JOIN form: every same-band pair as a
    * joined row, a candidate distinct, then the exact popcount
    * filter — the reference the blocked pair kernel is pinned to. */
  def dedupSimhashJoinForm(spark: SparkSession, dir: String): DataFrame = {
    val bands = Dedup.simhashBandsOf(Dedup.simhashSignatures(Tables.documents(spark, dir)))
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bits") === col("b.bits") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.sim").as("sim_a"), col("b.sim").as("sim_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .filter(col("hamming") <= Dedup.HammingMax)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }
}
