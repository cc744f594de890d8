package graft

import graft.functions.{SeriesFunctions => SF, TextFunctions => TF}
import org.apache.spark.sql.functions._

class TextFunctionsSpec extends SparkTestBase {
  import spark.implicits._

  test("tokenCount: whitespace tokens, empties dropped") {
    val df = Seq("a b  c", "  ", "", "one").toDF("text")
      .select(TF.tokenCount($"text").as("n"))
    assert(df.collect().map(_.getInt(0)).toSeq === Seq(3, 0, 0, 1))
  }

  test("bpeishTokenCount splits words, numbers, punctuation") {
    val df = Seq("hello, world42!").toDF("text")
      .select(TF.bpeishTokens($"text").as("t"), TF.bpeishTokenCount($"text").as("n"))
    val r = df.head()
    assert(r.getSeq[String](0) === Seq("hello", ",", "world", "42", "!"))
    assert(r.getInt(1) === 5)
  }

  test("stopwordRatio and punctRatio in [0,1]; quality bounded") {
    val df = Seq(
      "the quick brown fox is on the run and it jumps",
      "!!! ??? ...",
      ""
    ).toDF("text").select(
      TF.stopwordRatio($"text").as("sr"),
      TF.punctRatio($"text").as("pr"),
      TF.qualityScore($"text").as("q"))
    df.collect().foreach { r =>
      assert(r.getDouble(0) >= 0.0 && r.getDouble(0) <= 1.0)
      assert(r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0)
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0)
    }
    val rows = df.collect()
    assert(rows(0).getDouble(0) > 0.2) // stopword-rich text
    assert(rows(1).getDouble(1) > 0.5) // punctuation-heavy text
    assert(rows(0).getDouble(2) > rows(1).getDouble(2)) // fluent beats noise
  }

  test("langId picks marker language, und when no markers") {
    val df = Seq(
      "the cat and the dog went to the market for food",
      "der hund und die katze ist nicht zu hause",
      "el perro y la casa es un lugar en que vivimos",
      "xyzzy qwerty asdf"
    ).toDF("text").select(TF.langId($"text").as("l"))
    assert(df.collect().map(_.getString(0)).toSeq === Seq("en", "de", "es", "und"))
  }

  test("charFoldFingerprint: deterministic, order-sensitive, 59-bit range") {
    val df = Seq("a b c", "a b c", "c b a", "").toDF("text")
      .select(SF.charFoldFingerprint(TF.tokens($"text")).as("fp"))
    val fps = df.collect().map(_.getLong(0))
    assert(fps(0) === fps(1))
    assert(fps(0) !== fps(2))
    // portable-SQL contract: values stay non-negative below 2^59
    fps.foreach(fp => assert(fp >= 0L && fp < (1L << 59)))
  }

  test("wordShingles: n-grams with short-input fallback") {
    val df = Seq("a b c d", "a", "").toDF("text")
      .select(TF.wordShingles($"text", 2).as("sh"))
    val rows = df.collect().map(_.getSeq[String](0))
    assert(rows(0) === Seq("a b", "b c", "c d"))
    assert(rows(1) === Seq("a"))
    assert(rows(2) === Seq(""))
  }

  test("charShingles: n-char windows") {
    val df = Seq("abcd").toDF("text").select(TF.charShingles($"text", 3).as("sh"))
    assert(df.head().getSeq[String](0) === Seq("abc", "bcd"))
  }

  test("normalize: lowercases, collapses whitespace, strips stopwords") {
    val df = Seq("  The  Quick\tbrown FOX is on THE run  ").toDF("text")
      .select(TF.normalize($"text").as("n"))
    assert(df.head().getString(0) === "quick brown fox run")
  }

  test("normalize: all-stopword and blank inputs become empty strings") {
    val df = Seq("the a an and", "   ", "").toDF("text")
      .select(TF.normalize($"text").as("n"))
    assert(df.collect().map(_.getString(0)).toSeq === Seq("", "", ""))
  }

  test("redactPii: emails, IPv4s, and phones replaced; clean text untouched") {
    val df = Seq(
      "mail me at jo.doe+x@sub.example.org or call 555-123-4567",
      "server 192.168.1.254 responded; backup at 10.0.0.7",
      "nothing sensitive here 123 main street",
      "mixed a@b.co 1.2.3.4 999 888-7777").toDF("text")
      .select(TF.redactPii($"text").as("r"))
    val out = df.collect().map(_.getString(0)).toSeq
    assert(out(0) === "mail me at <EMAIL> or call <PHONE>")
    assert(out(1) === "server <IP> responded; backup at <IP>")
    assert(out(2) === "nothing sensitive here 123 main street")
    assert(out(3) === "mixed <EMAIL> <IP> <PHONE>")
  }

  test("redactPii: RFC-bounded email quantifiers stay linear on adversaries") {
    // pins the bounded-quantifier contract: an RFC-over-long local part
    // (>64 chars) still redacts (the trailing 64 chars + domain match;
    // the excess prefix survives), and the ReDoS adversary that took
    // 133 s under unbounded `+` (200 KB of class chars with no valid
    // tail) completes in interactive time. The wall bound is deliberately
    // loose (50x headroom) — it exists to catch a quadratic regression,
    // not to benchmark.
    val overlong = "a" * 100 + "@x.example.com"
    val got = Seq(overlong).toDF("text")
      .select(TF.redactPii($"text").as("r")).head().getString(0)
    assert(got === "a" * 36 + "<EMAIL>")
    val adversary = "a" * 100000 + "@" + "a" * 100000 // no TLD: zero matches
    val t0 = System.nanoTime()
    val n = Seq(adversary).toDF("text")
      .select(TF.piiHits($"text", TF.emailRe).as("n")).head().getInt(0)
    val sec = (System.nanoTime() - t0) / 1e9
    assert(n === 0)
    assert(sec < 10.0, f"adversarial scan took $sec%.1f s — quadratic regression?")
  }

  test("piiHits counts pattern occurrences") {
    val df = Seq("a@b.co c@d.net 1.2.3.4").toDF("text").select(
      TF.piiHits($"text", TF.emailRe).as("e"),
      TF.piiHits($"text", TF.ipv4Re).as("i"),
      TF.piiHits($"text", TF.phoneRe).as("p"))
    val r = df.head()
    assert((r.getInt(0), r.getInt(1), r.getInt(2)) === ((2, 1, 0)))
  }

  test("repetition ratios: distinct text 0, repeated text approaches 1") {
    val df = Seq(
      "a b c d",            // all distinct: rep1 = 0, rep2 = 0
      "spam spam spam spam", // rep1 = 3/4; bigrams all "spam spam": rep2 = 2/3
      "").toDF("text")
      .select(TF.unigramRepetition($"text").as("r1"),
        TF.bigramRepetition($"text").as("r2"))
    val rows = df.collect().map(r => (r.getDouble(0), r.getDouble(1)))
    assert(rows(0) === ((0.0, 0.0)))
    assert(math.abs(rows(1)._1 - 0.75) < 1e-9)
    assert(math.abs(rows(1)._2 - (1.0 - 1.0 / 3.0)) < 1e-9)
    assert(rows(2) === ((0.0, 0.0)))
  }
}
