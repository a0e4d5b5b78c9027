package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.NormExprs

/** Randomized batch properties for the normalization layer — the
  * functions every uid/join key flows through. Each property generates
  * a few hundred adversarial strings (unicode, empties, whitespace,
  * punctuation runs), evaluates the Column expression over one
  * DataFrame, and checks every row against an independent plain-Scala
  * reference implementation of the documented semantics. */
class NormPropertySpec extends SparkSpec {

  private val gen: Gen[String] = Gen.frequency(
    3 -> Gen.asciiPrintableStr,
    2 -> Gen.alphaNumStr,
    1 -> Gen.listOf(Gen.oneOf(' ', '\t', '-', '_', '|', '.', ',', 'ß', 'é',
      '漢', '0', '9', 'a', 'Z')).map(_.mkString),
    1 -> Gen.const(""),
    1 -> Gen.numStr)

  /** Deterministic sample of n generated strings. */
  private def sample(n: Int): Seq[String] = {
    val seed = Seed(42L)
    Iterator.iterate((seed, List.empty[String])) { case (s, acc) =>
      val (v, next) = (gen.pureApply(Gen.Parameters.default, s), s.next)
      (next, v :: acc)
    }.drop(n).next()._2
  }

  private def eval(in: Seq[String],
                   f: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
      : Seq[(String, String)] = {
    import spark.implicits._
    in.toDF("s").select(col("s"), f(col("s")).as("out"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
  }

  test("slugify matches the reference semantics on random strings") {
    def ref(s: String): String =
      if (s == null) ""
      else "^_+|_+$".r.replaceAllIn(
        s.toLowerCase.replaceAll("[^a-z0-9]+", "_"), "")
    eval(sample(400), c => NormExprs.slugify(c)).foreach { case (in, out) =>
      assert(out == ref(in), s"slugify(${in.take(40)})")
    }
  }

  test("normZip matches digits-first5-zfill semantics on random strings") {
    def ref(s: String): String = {
      val digits = s.replaceAll("[^0-9]", "")
      if (digits.isEmpty) null
      else { val five = digits.take(5); "0" * (5 - five.length) + five }
    }
    eval(sample(400), NormExprs.normZip).foreach { case (in, out) =>
      assert(out == ref(in), s"normZip($in)")
    }
  }

  test("posMembers is always sorted, unique, and non-empty-element") {
    import spark.implicits._
    val rows = sample(300)
      .toDF("s").select(NormExprs.posMembers(col("s")).as("m"))
      .collect().map(_.getSeq[String](0))
    rows.foreach { m =>
      assert(m == m.sorted, s"not sorted: $m")
      assert(m.distinct == m, s"not unique: $m")
      assert(m.forall(v => v.nonEmpty && v == v.trim), s"dirty element: $m")
    }
  }

  test("uid minting is md5 of pipe-joined null-to-empty parts") {
    import spark.implicits._
    val pairs = sample(150).grouped(2).collect {
      case Seq(a, b) => (a, b)
    }.toSeq
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val got = pairs.toDF("a", "b")
      .select(col("a"), col("b"), NormExprs.uid(col("a"), col("b")).as("u"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    got.foreach { case (a, b, u) =>
      assert(u == md5hex(s"$a|$b"), s"uid($a, $b)")
    }
  }

  test("pround equals the floor-based reference on random doubles") {
    import spark.implicits._
    val seed = new scala.util.Random(7)
    val xs = Seq.fill(500)(seed.nextDouble() * 200000 - 100000)
    val got = xs.toDF("x")
      .select(col("x"), NormExprs.pround(col("x"), 2).as("r"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    got.foreach { case (x, r) =>
      assert(r == math.floor(x * 100.0 + 0.5) / 100.0, s"pround($x)")
    }
  }

  test("bloom law on hostile strings: every member probes true, prefilter = exact") {
    import spark.implicits._
    // hostile inserted set (empties, unicode, near-dupes) + a disjoint
    // probe set; the law that makes dedup_bloom_prefilter sound is
    // ONLY no-false-negatives — false positives are allowed and are
    // settled by the exact join, so the composed filter must equal
    // the plain NOT IN at any false-positive rate
    val members = sample(400).distinct
    val probes = sample(1200).map(_ + "probe").distinct
    val bf = members.toDF("v")
      .agg(call_function("bloom_build", col("v"),
        lit(1024L), lit(8192L)).as("bf"))
      .head().getAs[Array[Byte]](0)
    val mc = call_function("bloom_might_contain", lit(bf), col("v"))
    // (1) membership: no member may probe false
    val fn = members.toDF("v").filter(!mc).count()
    assert(fn == 0L, s"$fn bloom false negatives")
    // (2) composed prefilter ≡ exact NOT IN over a mixed stream
    val stream = (members ++ probes).toDF("v")
    val memberSet = members.toSet
    val exact = (members ++ probes).filterNot(memberSet).sorted
    val fast = stream.filter(!mc)
    val settled = stream.filter(mc)
      .join(members.toDF("v"), Seq("v"), "left_anti")
    val composed = fast.unionByName(settled)
      .collect().map(_.getString(0)).sorted.toSeq
    assert(composed == exact, "bloom prefilter diverged from exact anti-join")
  }
}
