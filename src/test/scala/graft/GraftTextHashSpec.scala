package graft

import org.apache.spark.sql.functions._

/** Equivalence proofs for the r21 native text-hash expressions: each is
  * asserted bit-identical to the interpreted higher-order-function form it
  * replaced (the exact SQL that shipped through round 20 and that the
  * DuckDB oracle mirrors), over synthetic rows covering the edge cases —
  * empty inputs, below-threshold lengths, duplicates, multi-byte UTF-8. */
class GraftTextHashSpec extends SparkSpec {

  private def withToks(texts: Seq[String]) = {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .withColumn("toks", split(trim(col("text")), "\\s+"))
  }

  private val texts = Seq(
    "",                                  // empty → single empty token
    "one two",                           // below 3-gram threshold
    "a b c",                             // exactly one trigram
    "the quick brown fox jumps over the lazy dog the quick brown fox",
    "dup dup dup dup dup",               // duplicate shingles
    "über straße naïve café déjà vu encore une fois voilà",  // multi-byte
    (1 to 200).map(i => s"w${i % 37}").mkString(" "))        // longer doc

  test("graft_ngrams3 ≡ transform(sequence, concat_ws) trigrams") {
    val df = withToks(texts)
      .withColumn("native", expr("graft_ngrams3(toks)"))
      .withColumn("legacy", expr(
        """CASE WHEN size(toks) >= 3
             THEN transform(sequence(0, size(toks)-3),
                            i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))
             ELSE array() END"""))
    assert(df.filter(not(col("native") <=> col("legacy"))).count() == 0)
  }

  test("graft_ngrams(toks, k) ≡ transform(sequence, concat_ws(slice)) for k=2,8") {
    val df = withToks(texts)
      .withColumn("n2", expr("graft_ngrams(toks, 2)"))
      .withColumn("l2", expr(
        """CASE WHEN size(toks) >= 2
             THEN transform(sequence(0, size(toks)-2),
                            i -> concat_ws(' ', toks[i], toks[i+1]))
             ELSE array() END"""))
      .withColumn("n8", expr("graft_ngrams(toks, 8)"))
      .withColumn("l8", expr(
        """CASE WHEN size(toks) >= 8
             THEN transform(sequence(0, size(toks)-8),
                            i -> concat_ws(' ', slice(toks, i+1, 8)))
             ELSE array() END"""))
      // the 1-based strideWindows form: sequence(1, size-L+1), slice(i, L)
      .withColumn("s8", expr(
        """CASE WHEN size(toks) >= 8
             THEN transform(sequence(1, size(toks) - 7),
                            i -> concat_ws(' ', slice(toks, i, 8)))
             ELSE array() END"""))
    assert(df.filter(not(col("n2") <=> col("l2"))).count() == 0)
    assert(df.filter(not(col("n8") <=> col("l8"))).count() == 0)
    assert(df.filter(not(col("n8") <=> col("s8"))).count() == 0)
  }

  test("graft_minhash ≡ the md5-slice aggregate fold, all 16 sigs") {
    val base = withToks(texts)
      .withColumn("sh", expr("array_distinct(graft_ngrams3(toks))"))
      .withColumn("sigs", expr("graft_minhash(sh)"))
    val legacy = (0 until 4).foldLeft(base) { (df, sd) =>
      df.withColumn(s"mn$sd", expr(
        s"""IF(size(sh) = 0, NULL,
              aggregate(transform(sh, x -> md5(concat('$sd|', x))),
                named_struct('m0', '{', 'm1', '{', 'm2', '{', 'm3', '{'),
                (a, h) -> named_struct(
                  'm0', least(a.m0, substring(h, 1, 8)),
                  'm1', least(a.m1, substring(h, 9, 8)),
                  'm2', least(a.m2, substring(h, 17, 8)),
                  'm3', least(a.m3, substring(h, 25, 8)))))"""))
    }
    val mismatches = (0 until 16).map { k =>
      val (sd, c) = (k / 4, k % 4)
      legacy.filter(not(
        col("sigs").getItem(k) <=> col(s"mn$sd").getField(s"m$c"))).count()
    }
    assert(mismatches.forall(_ == 0), s"sig mismatches per k: $mismatches")
  }

  test("graft_winnow ≡ the interpreted Rabin-Karp/window-min pipeline") {
    val df = withToks(texts :+ "0123456789")   // exactly 10 chars: below 11
      .withColumn("norm",
        regexp_replace(lower(trim(col("text"))), "\\s+", " "))
      .withColumn("native", expr("graft_winnow(norm)"))
      .withColumn("legacy", expr(
        """CASE WHEN length(norm) >= 11 THEN
             flatten(transform(
               array(transform(sequence(1, length(norm)),
                 p -> CAST(ascii(substring(norm, p, 1)) AS BIGINT))),
               cps -> flatten(transform(
                 array(transform(sequence(0, size(cps) - 8),
                   p -> aggregate(sequence(1, 8), 0L,
                     (acc, i) -> (acc * 257 + cps[p + i - 1]) % 2147483647))),
                 hashes -> array_distinct(transform(sequence(0, size(hashes) - 4),
                   q -> array_min(slice(hashes, q + 1, 4))))))))
           ELSE array() END"""))
    assert(df.filter(not(col("native") <=> col("legacy"))).count() == 0)
  }

  test("graft_ngrams refuses k < 1 at analysis time") {
    val df = withToks(texts)
    Seq(0, -1).foreach { k =>
      val e = intercept[org.apache.spark.sql.AnalysisException](
        df.select(expr(s"graft_ngrams(toks, $k)")))
      assert(e.getMessage.contains("k >= 1"), e.getMessage)
    }
    // k = 1 is the smallest valid window: one gram per token
    assert(df.select(expr("size(graft_ngrams(toks, 1)) = size(toks)").as("ok"))
      .filter(not(col("ok"))).count() == 0)
  }

  test("graft_minhash skips null elements; all-null input is 16 NULL sigs") {
    val row = withToks(Seq("x")).select(
      expr("graft_minhash(array('a', NULL, 'b'))").as("withNull"),
      expr("graft_minhash(array('a', 'b'))").as("plain"),
      expr("graft_minhash(array(CAST(NULL AS STRING), NULL))").as("allNull"),
      expr("graft_minhash(CAST(array() AS array<string>))").as("empty"))
      .head()
    assert(row.getSeq[String](0) == row.getSeq[String](1))
    assert(row.getSeq[String](2) == row.getSeq[String](3))
    assert(row.getSeq[String](3).size == 16 && row.getSeq[String](3).forall(_ == null))
  }

  test("each graft_* function is registered under its own expression class") {
    graft.functions.GraftFunctions.register(spark)
    val registry = spark.sessionState.functionRegistry
    Seq(
      "graft_dot" -> classOf[graft.functions.QuantizedDot],
      "graft_minhash" -> classOf[graft.functions.MinhashSigs],
      "graft_winnow" -> classOf[graft.functions.WinnowFps],
      "graft_ngrams3" -> classOf[graft.functions.Ngrams3],
      "graft_ngrams" -> classOf[graft.functions.NgramsK]).foreach { case (f, c) =>
      val info = registry.lookupFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier(f))
      assert(info.map(_.getClassName).contains(c.getName), s"$f: $info")
    }
  }
}
