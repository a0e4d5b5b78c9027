package graft

import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis

/** The native subword_encode kernel: greedy semantics pinned on
  * adversarial fixtures, reversibility over the whole corpus universe,
  * and a reference reimplementation parity sweep. */
class SubwordNativeSpec extends SparkSpec {

  import spark.implicits._

  private def encode(word: String, vocab: Seq[String]): Seq[String] = {
    Seq(word).toDF("word")
      .select(call_function("subword_encode", col("word"),
        lit(vocab.toArray)).as("t"))
      .collect().head.getSeq[String](0)
  }

  test("greedy longest-match semantics, including the non-optimal case") {
    assert(encode("customerjoin", Seq("customer", "join")) ==
      Seq("customer", "join"))
    // GREEDY, not optimal: "orders" wins at pos 0 even though
    // "order"+"scan" would need fewer fallback tokens
    assert(encode("orderscan", Seq("order", "orders", "scan")) ==
      Seq("orders", "c", "a", "n"))
    // mid-word matches after a fallback char
    assert(encode("xjoin", Seq("join")) == Seq("x", "join"))
    // no vocab at all → pure char fallback
    assert(encode("abc", Seq.empty) == Seq("a", "b", "c"))
    // vocab token == whole word
    assert(encode("join", Seq("join", "j")) == Seq("join"))
  }

  test("astral chars, null vocab, and null vocab elements") {
    // fallback advances whole code points: a surrogate pair survives
    val astral = "a" + new String(Character.toChars(0x1D54F)) + "b"
    assert(encode(astral, Seq("zz")).mkString == astral,
      "surrogate pair split by the single-char fallback")
    // null ELEMENTS in the vocab are skipped, not NPE'd
    val withNullElem = Seq("x").toDF("word")
      .select(call_function("subword_encode", col("word"),
        array(lit("x"), lit(null).cast("string"))).as("t"))
      .collect().head.getSeq[String](0)
    assert(withNullElem == Seq("x"))
    // NULL vocab literal → null result (SQL propagation), no crash
    val nullVocab = Seq("x").toDF("word")
      .select(call_function("subword_encode", col("word"),
        lit(null).cast("array<string>")).as("t"))
      .collect().head
    assert(nullVocab.isNullAt(0))
  }

  test("corpus universe: encoding is reversible and the oracle query consistent") {
    val rows = TextAnalysis.queries("text_subword_encode")(spark, sf0001)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (word, n, joined) =
        (r.getString(0), r.getInt(1), r.getString(2))
      val toks = joined.split('|')
      assert(toks.length == n, s"$word: n_tokens $n != ${toks.length}")
      assert(toks.mkString == word,
        s"$word: tokens do not concatenate back: $joined")
    }
    // the compound augmentation must actually produce multi-token
    // splits, or the query stops exercising the kernel
    assert(rows.count(_.getInt(1) > 1) > rows.length / 4,
      "almost everything single-token — fixture degenerated")
  }

  test("randomized parity: kernel == scala reference on arbitrary words") {
    val vocab = Seq("order", "orders", "scan", "jo", "join", "s", "can0")
    def reference(w: String): Seq[String] = {
      val maxLen = if (vocab.isEmpty) 0 else vocab.map(_.length).max
      val set = vocab.toSet
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var pos = 0
      while (pos < w.length) {
        val tok = (math.min(maxLen, w.length - pos) to 1 by -1).iterator
          .map(l => w.substring(pos, pos + l)).find(set.contains)
          .getOrElse(w.substring(pos, pos + 1))
        out += tok; pos += tok.length
      }
      out.toSeq
    }
    val rng = new scala.util.Random(42)
    val alphabet = "ordscanj0s"
    val words = (1 to 300).map(_ =>
      (1 to (1 + rng.nextInt(14))).map(_ =>
        alphabet(rng.nextInt(alphabet.length))).mkString)
    val got = words.toDF("word")
      .select(col("word"), call_function("subword_encode", col("word"),
        lit(vocab.toArray)).as("t"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    words.foreach { w =>
      assert(got(w) == reference(w), s"mismatch on '$w'")
    }
  }
}
