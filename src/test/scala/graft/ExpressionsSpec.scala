package graft

import graft.functions.{Kernels, SeriesFunctions => SF, TextFunctions => TF}
import org.apache.spark.sql.functions._

/** Cross-checks the native Catalyst expressions against the builtin-only
  * compositions and the pure-Scala kernels, through the SQL surface.
  */
class ExpressionsSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val vecs = Seq(
    (1L, Seq(1.0, 2.0, 3.0), Seq(4.0, 6.0, 3.0)),
    (2L, Seq(0.0, 0.0), Seq(0.0, 0.0)),
    (3L, Seq(-1.5, 2.5, 0.0, 7.0), Seq(3.0, -2.0, 1.0, 0.5))
  ).toDF("id", "a", "b")

  test("native euclidean/sqdist/cosine/dot/manhattan match builtin tier") {
    val r = vecs.select(
      SF.euclidean($"a", $"b").as("e1"), SF.euclideanBuiltin($"a", $"b").as("e2"),
      SF.sqdist($"a", $"b").as("s1"), SF.sqdistBuiltin($"a", $"b").as("s2"),
      SF.cosine($"a", $"b").as("c1"), SF.cosineBuiltin($"a", $"b").as("c2"),
      SF.dotProduct($"a", $"b").as("d1"), SF.dotBuiltin($"a", $"b").as("d2")
    ).collect()
    r.foreach { row =>
      assert(math.abs(row.getDouble(0) - row.getDouble(1)) < 1e-12)
      assert(math.abs(row.getDouble(2) - row.getDouble(3)) < 1e-12)
      assert(math.abs(row.getDouble(4) - row.getDouble(5)) < 1e-12)
      assert(math.abs(row.getDouble(6) - row.getDouble(7)) < 1e-12)
    }
  }

  test("expressions usable from SQL after registration") {
    val d = spark.sql(
      "SELECT graft_euclidean(array(0.0d, 0.0d), array(3.0d, 4.0d)) AS d"
    ).head().getDouble(0)
    assert(d === 5.0)
    val dtw = spark.sql(
      "SELECT graft_dtw(array(0.0d, 0.0d, 1.0d), array(0.0d, 1.0d)) AS d"
    ).head().getDouble(0)
    assert(dtw === 0.0)
  }

  test("every function refuses one argument too many or too few, naming its signature") {
    // the accepted counts are read off the usage signature itself:
    // "graft_dtw(a, b[, band])" takes 2 or 3
    val fns = graft.functions.GraftFunctions.builders.map { case (name, _, usage) =>
      val sig = usage.split(" - ", 2).head
      val params = sig.substring(sig.indexOf('(') + 1, sig.lastIndexOf(')'))
      val required = params.takeWhile(_ != '[').split(",").count(_.trim.nonEmpty)
      (name, sig, required, required + params.count(_ == '['))
    }
    assert(fns.size === 25)
    for ((name, sig, min, max) <- fns; n <- Seq(min - 1, max + 1)) {
      val e = intercept[Exception] {
        spark.sql(s"SELECT $name(${Seq.fill(n)("1").mkString(", ")})")
      }
      assert(e.getMessage.contains(sig) && e.getMessage.contains(s"got $n"),
        s"$name with $n arguments: ${e.getMessage}")
    }
  }

  test("expression dtw/fastdtw agree with the Scala kernels") {
    val rnd = new scala.util.Random(5)
    val rows = (1 to 50).map { i =>
      (i.toLong,
        Seq.fill(1 + rnd.nextInt(20))(rnd.nextDouble() * 10),
        Seq.fill(1 + rnd.nextInt(20))(rnd.nextDouble() * 10))
    }.toDF("id", "a", "b")
    rows.select($"a", $"b",
      SF.dtw($"a", $"b").as("d"), SF.fastdtw($"a", $"b", 2).as("f"))
      .collect().foreach { r =>
        val a = r.getSeq[Double](0).toArray
        val b = r.getSeq[Double](1).toArray
        assert(math.abs(r.getDouble(2) - Kernels.dtw(a, b)) < 1e-12)
        assert(math.abs(r.getDouble(3) - Kernels.fastdtw(a, b, 2)) < 1e-12)
      }
  }

  test("float arrays implicitly cast to double (embeddings parity)") {
    val d = spark.read.parquet(s"$sf001/embeddings.parquet")
      .limit(2)
      .select(SF.euclidean($"embedding", $"embedding").as("d"))
      .collect()
    d.foreach(r => assert(r.getDouble(0) === 0.0))
  }

  test("simhash64: deterministic, identical inputs collide, hamming sane") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "completely different words entirely unrelated phrase")
    ).toDF("id", "text")
      .select($"id", SF.simhash64(TF.tokens($"text")).as("sig"))
    val sigs = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) === sigs(2L))
    val ham = java.lang.Long.bitCount(sigs(1L) ^ sigs(3L))
    assert(ham > 0)
  }

  test("shingle hashes: sorted, distinct, match wordShingles composition") {
    val df = Seq((1L, "a b c d"), (2L, "a"), (3L, "")).toDF("id", "text")
    val got = df.select($"id",
      SF.shingleHashes(TF.tokens($"text"), 2).as("hs"),
      sort_array(array_distinct(transform(
        array_distinct(TF.wordShingles($"text", 2)), t => xxhash64(t)))).as("expected"))
    got.collect().foreach { r =>
      assert(r.getSeq[Long](1) === r.getSeq[Long](2),
        s"id=${r.getLong(0)}")
    }
  }

  test("jaccardSorted matches set-based jaccard") {
    val df = Seq(
      (Seq(1L, 2L, 3L), Seq(2L, 3L, 4L)), // |I|=2 |U|=4 -> 0.5
      (Seq(1L), Seq(1L)), // 1.0
      (Seq(1L), Seq(2L)) // 0.0
    ).toDF("a", "b")
    val r = df.select(SF.jaccardSorted($"a", $"b").as("j")).collect().map(_.getDouble(0))
    assert(r(0) === 0.5 && r(1) === 1.0 && r(2) === 0.0)
  }

  test("minhash signature: more-similar sets share more signature slots") {
    val base = (1 to 100).map(_.toLong)
    val near = base.drop(5) ++ Seq(1001L, 1002L, 1003L, 1004L, 1005L)
    val far = (1001 to 1100).map(_.toLong)
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("id", "s")
      .select($"id", SF.minhash(sort_array(array_distinct($"s")), 64).as("sig"))
    val sigs = df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def overlap(a: Seq[Long], b: Seq[Long]) = a.zip(b).count { case (x, y) => x == y }
    assert(overlap(sigs(1L), sigs(2L)) > overlap(sigs(1L), sigs(3L)))
    assert(overlap(sigs(1L), sigs(3L)) <= 5) // disjoint sets: near-zero agreement
  }

  test("barrier is a transparent identity") {
    val r = vecs.select(SF.barrier($"id").as("id2"), $"id").collect()
    r.foreach(row => assert(row.getLong(0) === row.getLong(1)))
  }

  test("graft_repetition matches the declarative distinct-ratio forms") {
    import graft.functions.TextFunctions
    val docs = Seq(
      "a b c d", "spam spam spam spam", "", "one",
      "x y x y x y", "the the a a b").toDF("text")
      .select(TextFunctions.tokens($"text").as("tk"), $"text")
    val r = docs.select(
      call_function("graft_repetition", $"tk").as("native"),
      TextFunctions.unigramRepetitionFromTokens($"tk").as("d1"),
      TextFunctions.bigramRepetitionFromTokens($"tk").as("d2")).collect()
    r.foreach { row =>
      val n = row.getSeq[Double](0)
      assert(math.abs(n(0) - row.getDouble(1)) < 1e-12)
      assert(math.abs(n(1) - row.getDouble(2)) < 1e-12)
    }
  }

  test("graft_word_ngrams matches the declarative slice/concat_ws form") {
    import graft.functions.TextFunctions
    val n = 3
    val docs = Seq(
      "a b c d e", "x y x y x y x", "one two", "", "p q r")
      .toDF("text")
      .select(TextFunctions.tokens($"text").as("tk"))
    val declarative = when(size($"tk") >= n,
      array_distinct(transform(sequence(lit(1), size($"tk") - (n - 1)),
        i => concat_ws(" ", slice($"tk", i, lit(n))))))
      .otherwise(array().cast("array<string>"))
    val r = docs.select(
      call_function("graft_word_ngrams", $"tk", lit(n)).as("native"),
      declarative.as("decl")).collect()
    r.foreach { row =>
      assert(row.getSeq[String](0) === row.getSeq[String](1))
    }
  }

  test("graft_word_ngrams randomized parity: 300 docs, lengths straddling n") {
    val rnd = new scala.util.Random(1234)
    val vocab = Vector("a", "bb", "ccc", "dd", "e", "ff", "g")
    val n = 4
    val docs = (1 to 300).map { _ =>
      // lengths 0..9 straddle n=4, hitting the strict-empty branch often
      Seq.fill(rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }.toDF("text")
      .select(graft.functions.TextFunctions.tokens($"text").as("tk"))
    val declarative = when(size($"tk") >= n,
      array_distinct(transform(sequence(lit(1), size($"tk") - (n - 1)),
        i => concat_ws(" ", slice($"tk", i, lit(n))))))
      .otherwise(array().cast("array<string>"))
    docs.select(
      call_function("graft_word_ngrams", $"tk", lit(n)).as("native"),
      declarative.as("decl")).collect()
      .foreach(r => assert(r.getSeq[String](0) === r.getSeq[String](1)))
  }

  test("graft_word_ngrams skips null tokens exactly like concat_ws") {
    val n = 3
    val docs = Seq(
      Seq("a", null, "b", "c", "d"),
      Seq(null, null, "x", "y"),
      Seq("p", "q", null)).toDF("tk")
    val declarative = when(size($"tk") >= n,
      array_distinct(transform(sequence(lit(1), size($"tk") - (n - 1)),
        i => concat_ws(" ", slice($"tk", i, lit(n))))))
      .otherwise(array().cast("array<string>"))
    docs.select(
      call_function("graft_word_ngrams", $"tk", lit(n)).as("native"),
      declarative.as("decl")).collect()
      .foreach(r => assert(r.getSeq[String](0) === r.getSeq[String](1)))
  }

  test("graft_cosine_i8 randomized parity incl. zero vectors and length skew") {
    val rnd = new scala.util.Random(99)
    def vec(len: Int): Seq[Byte] = len match {
      case 0 => Seq.empty[Byte]
      case l if rnd.nextInt(10) == 0 => Seq.fill(l)(0.toByte) // zero-norm
      case l => Seq.fill(l)((rnd.nextInt(255) - 127).toByte)
    }
    val pairs = (1 to 400).map { _ =>
      (vec(rnd.nextInt(20)), vec(rnd.nextInt(20)))
    }.toDF("a", "b")
    pairs.select(
      call_function("graft_cosine_i8", $"a", $"b").as("native"),
      call_function("graft_cosine",
        $"a".cast("array<double>"), $"b".cast("array<double>")).as("cast_path"))
      .collect()
      .foreach { r =>
        // exact, not approximate: int8 sums are integers below 2^53
        assert(java.lang.Double.compare(r.getDouble(0), r.getDouble(1)) == 0)
      }
  }

  test("graft_shingle_hashes skips null tokens exactly like concat_ws " +
      "(parity with wordShingles/word_ngrams on nullable arrays)") {
    val n = 2
    val docs = Seq(
      Seq("a", null, "b", "c"),   // null mid-window
      Seq(null, null, "x"),       // leading nulls
      Seq("p", null),             // window collapses to one survivor
      Seq[String](null, null)     // all-null -> empty-string shingle
    ).toDF("tk")
    // declarative twin: concat_ws drops nulls; fewer than n tokens ->
    // one shingle of all tokens joined (the kernel's padded fallback)
    val decl = when(size($"tk") >= n,
      sort_array(array_distinct(transform(
        sequence(lit(1), size($"tk") - (n - 1)),
        i => xxhash64(concat_ws(" ", slice($"tk", i, lit(n))))))))
      .otherwise(array(xxhash64(concat_ws(" ", $"tk"))))
    docs.select(
      call_function("graft_shingle_hashes", $"tk", lit(n)).as("native"),
      decl.as("decl")).collect()
      .foreach(r => assert(r.getSeq[Long](0) === r.getSeq[Long](1)))
  }

  test("graft_shingle_hashes randomized parity with the declarative " +
      "hashed form: 300 nullable-token docs, lengths straddling n") {
    val rnd = new scala.util.Random(4321)
    val vocab = Vector("a", "bb", "ccc", "dd", "e", "ff", "g")
    val n = 3
    val docs = (1 to 300).map { _ =>
      // ~20% null tokens; lengths 0..7 straddle n=3 to hit the padded
      // <n fallback as often as the sliding window
      Seq.fill(rnd.nextInt(8))(
        if (rnd.nextInt(5) == 0) null else vocab(rnd.nextInt(vocab.size)))
    }.toDF("tk")
    val decl = when(size($"tk") >= n,
      sort_array(array_distinct(transform(
        sequence(lit(1), size($"tk") - (n - 1)),
        i => xxhash64(concat_ws(" ", slice($"tk", i, lit(n))))))))
      .otherwise(array(xxhash64(concat_ws(" ", $"tk"))))
    docs.select(
      call_function("graft_shingle_hashes", $"tk", lit(n)).as("native"),
      decl.as("decl")).collect()
      .foreach(r => assert(r.getSeq[Long](0) === r.getSeq[Long](1)))
  }

  test("graft_minhash_bands refuses a numBands that does not divide the " +
      "signature length (rows=0 would give every row identical keys — " +
      "an all-pairs bucket join at corpus scale)") {
    val sig = Seq(Tuple1(Seq(1L, 2L, 3L, 4L, 5L, 6L))).toDF("sig")
    // valid: 6 hashes / 3 bands = 2 rows per band
    val ok = sig.select(call_function("graft_minhash_bands", $"sig", lit(3)))
      .head().getSeq[Long](0)
    assert(ok.length === 3)
    // numBands > signature length: every band would fold zero hashes
    val tooMany = intercept[Exception] {
      sig.select(call_function("graft_minhash_bands", $"sig", lit(7)))
        .collect()
    }
    assert(tooMany.getMessage.contains("must divide"),
      s"got: ${tooMany.getMessage}")
    // non-divisor: tail hashes would be silently ignored
    val nonDivisor = intercept[Exception] {
      sig.select(call_function("graft_minhash_bands", $"sig", lit(4)))
        .collect()
    }
    assert(nonDivisor.getMessage.contains("must divide"))
    // empty signature: the k==0 refusal names the real hazard (identical
    // keys), not divisibility — "must divide (0)" would be misleading
    // since 0 IS divisible by any numBands (r18 advisory)
    val empty = intercept[Exception] {
      Seq(Tuple1(Seq.empty[Long])).toDF("sig")
        .select(call_function("graft_minhash_bands", $"sig", lit(3)))
        .collect()
    }
    assert(empty.getMessage.contains("empty signature") &&
      !empty.getMessage.contains("must divide"),
      s"got: ${empty.getMessage}")
  }

  test("DESCRIBE FUNCTION carries each registered function's usage text") {
    val desc = spark.sql("DESCRIBE FUNCTION graft_euclidean")
      .collect().map(_.getString(0)).mkString("\n")
    assert(desc.contains("Euclidean"),
      s"usage text missing from DESCRIBE FUNCTION output:\n$desc")
  }

  test("euclidean-threshold-to-sqdist rule fires in every comparison " +
      "orientation, including literal-on-left <= and >=") {
    // range-backed, not LocalRelation-backed: ConvertToLocalRelation
    // would constant-fold the whole filter away before the plan can be
    // inspected
    val df = spark.range(4).select($"id",
      array($"id".cast("double"), lit(1.0)).as("a"),
      array(lit(0.0), $"id".cast("double")).as("b"))
    def optimized(c: org.apache.spark.sql.Column): String =
      df.filter(c).queryExecution.optimizedPlan.toString
    val orientations = Seq(
      SF.euclidean($"a", $"b") < 2.0, SF.euclidean($"a", $"b") <= 2.0,
      SF.euclidean($"a", $"b") > 2.0, SF.euclidean($"a", $"b") >= 2.0,
      lit(2.0) < SF.euclidean($"a", $"b"), lit(2.0) <= SF.euclidean($"a", $"b"),
      lit(2.0) > SF.euclidean($"a", $"b"), lit(2.0) >= SF.euclidean($"a", $"b"))
    orientations.zipWithIndex.foreach { case (cond, i) =>
      val plan = optimized(cond)
      assert(plan.contains("graft_sqdist") && !plan.contains("graft_euclidean"),
        s"orientation $i not rewritten:\n$plan")
    }
    // and the rewrite preserves the selected rows (sqrt monotone)
    val viaRule = df.filter(lit(2.0) <= SF.euclidean($"a", $"b"))
      .select($"id").collect().map(_.getLong(0)).sorted.toSeq
    val bruteForce = df.collect().filter { r =>
      val a = r.getSeq[Double](1).toArray; val b = r.getSeq[Double](2).toArray
      2.0 <= Kernels.euclidean(a, b)
    }.map(_.getLong(0)).sorted.toSeq
    assert(viaRule === bruteForce && bruteForce.nonEmpty)
    // a negative threshold stays un-rewritten (squaring would flip it)
    assert(optimized(SF.euclidean($"a", $"b") > -1.0)
      .contains("graft_euclidean"))
  }

  test("graft_har_series matches the declarative transform(sequence) form") {
    val L = 23
    val ids = spark.range(8).select(($"id" * 997 + 5).as("sid"))
    val declarative = transform(sequence(lit(0), lit(L - 1)),
      t => sin(t.cast("double") * 0.11 + pmod($"sid", lit(6)).cast("double")) +
        (pmod(xxhash64($"sid", t), lit(1000)).cast("double") / 1000.0 - 0.5) * 0.4)
    val r = ids.select(
      call_function("graft_har_series", $"sid", lit(L)).as("native"),
      declarative.as("decl")).collect()
    r.foreach { row =>
      val n = row.getSeq[Double](0); val d = row.getSeq[Double](1)
      assert(n.length === L && d.length === L)
      n.zip(d).foreach { case (x, y) => assert(math.abs(x - y) < 1e-12) }
    }
  }
}
