package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.MinHashSig
import graft.operators.Dedup

/** The native minhash_sig kernel must produce exactly the HOF
  * formulation's signature values for every document. */
class MinHashNativeSpec extends SparkSpec {

  /** The original composable (HOF) formulation: shingles → md5 hashes
    * → k permutation mins, the parity reference for the kernel. */
  private def minhashSignaturesHof(s: SparkSession, d: String): DataFrame = {
    val hashed = Dedup.shingled(s, d).select(col("doc_id"),
      transform(col("sh"), t => Dedup.h32(t)).as("hs"))
    hashed.select(col("doc_id") +:
      MinHashSig.defaultAB.zipWithIndex.map { case ((a, b), j) =>
        array_min(transform(col("hs"), h =>
          pmod(h * lit(a) + lit(b), lit(MinHashSig.DefaultP)))).as(s"h$j")
      }: _*)
  }

  test("native minhash signatures == HOF minhash signatures") {
    val native = Dedup.minhashSignatures(spark, sf0001)
    val hof = minhashSignaturesHof(spark, sf0001)
    assert(native.columns.sameElements(hof.columns))
    val n = native.count()
    assert(hof.count() == n && n > 500)
    // full-row equality: inner-join on all 17 columns keeps only rows
    // where every signature value matches
    val matched = native.join(hof, native.columns.toSeq).count()
    assert(matched == n, s"only $matched of $n signature rows identical")
  }
}
