package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Native simhash_sig kernel ≡ the composable SWAR aggregation, per
  * document, over the whole fixture corpus (both compute sign-of-sum
  * over the identical 64-bit md5 token hashes). */
class SimHashNativeSpec extends SparkSpec {

  test("native signature == SWAR signature for every doc") {
    val native = Dedup.simhashSignatures(spark, sf0001)
      .withColumnRenamed("simhash", "sig_native")
    val swar = Dedup.simhashSignaturesSwar(spark, sf0001)
      .withColumnRenamed("simhash", "sig_swar")
    val joined = native.join(swar, Seq("doc_id"), "full_outer").cache()
    // same doc set on both sides
    assert(joined.filter(col("sig_native").isNull ||
      col("sig_swar").isNull).count() == 0)
    // identical 64-bit values
    assert(joined.filter(col("sig_native") =!= col("sig_swar")).count() == 0)
    assert(joined.count() > 0)
  }

  test("empty token array yields NULL (never all-bits-set) signature") {
    // Without the sentinel, sign() on zero tokens emits 0xFFFF… (2·0 ≥ 0
    // for every bit) and all tokenless docs band-collide as Hamming-0
    // near-dups. NULL never joins, so they produce no candidate pairs.
    val sigs = spark.range(3).select(
      call_function("simhash_sig",
        array().cast("array<string>")).as("simhash"))
    assert(sigs.count() == 3)
    assert(sigs.filter(col("simhash").isNotNull).count() == 0)
    // and the interpreted path agrees with codegen
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    assert(graft.functions.SimHashSig(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        new GenericArrayData(Array.empty[Any]),
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType)))
      .eval(null) == null)
  }

  test("single-token signature equals the token's 64-bit md5 prefix") {
    // n=1: every set hash bit has count 1 (2·1 ≥ 1) and every clear
    // bit has 2·0 < 1, so the signature IS the token hash — pins the
    // kernel's hash/bit layout against an independent computation
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest("order".getBytes("UTF-8"))
    val expected = (0 until 8).map(i => (md(i) & 0xffL) << (56 - 8 * i))
      .reduce(_ | _)
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val got = graft.functions.SimHashKernel.sign(
      new GenericArrayData(Array[Any](UTF8String.fromString("order"))))
    assert(got == expected)
  }
}
