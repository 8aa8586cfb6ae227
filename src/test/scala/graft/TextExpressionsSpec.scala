package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Equivalence pins for the native text-analysis expressions
  * ([[graft.functions.TextExpressions]]): each expression must agree
  * bit-for-bit with the built-in composition it replaced, over an
  * edge-case corpus (empty / whitespace-only / non-space-whitespace
  * boundaries / CJK / non-BMP surrogate pairs / NULL) AND the real
  * sf0.001 documents table, on both the codegen and interpreted
  * paths. The compositions here are the pre-round-13 operator bodies
  * verbatim — they are the spec.
  */
class TextExpressionsSpec extends SparkSpec {
  import spark.implicits._

  private val edge = Seq(
    "", " ", "   ", "\t", "a", " a ", "  a  b\t c\n", "\ta b\t",
    "a\u000bb", "\f\r", "the cat and the dog of a house",
    " the the a a ", "der hund und die katze und das haus",
    "el que la los", "le des la les", "a_b-c.d efg_2 !!",
    "你好世界这是中文", "mixed 中文 and english the of",
    "héllo wörld the", "emoji 👍 pair a👍b x",
    "ends with space ", " starts", "double  space", "punct!,;: only",
    null.asInstanceOf[String])

  private def corpus: DataFrame = {
    val e = edge.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id") + 1000L as "doc_id", col("text"))
    e.unionByName(real)
  }

  // the pre-round-13 composed formulations, verbatim
  private def occOld(text: Column, pat: String): Column =
    ((length(text) - length(replace(text, lit(pat), lit("")))) / pat.length).cast("long")

  private def langScoreOld(text: Column, lang: String): Column =
    if (lang == "zh")
      length(regexp_replace(text, "[^\\u4e00-\\u9fff]", "")).cast("long")
    else {
      val padded = concat(lit(" "), text, lit(" "))
      graft.functions.TextExpressions.langMarkers(lang)
        .map(occOld(padded, _)).reduce(_ + _)
    }

  private def bothPaths(assertion: => Unit): Unit = {
    assertion // codegen path
    val key = "spark.sql.codegen.factoryMode"
    try {
      spark.conf.set(key, "NO_CODEGEN")
      assertion // interpreted path
    } finally spark.conf.unset(key)
  }

  test("lang_scores agrees with the 16-replace composition, both paths") {
    graft.functions.TextExpressions.install(spark)
    val langs = Seq("de", "en", "es", "fr", "zh")
    bothPaths {
      val rows = corpus.select(
        (Seq(col("doc_id"), call_function("lang_scores", col("text")).as("ls")) ++
          langs.map(l => langScoreOld(col("text"), l).as(s"old_$l"))): _*)
      val bad = rows.filter(
        langs.map(l => !(col(s"ls.score_$l") <=> col(s"old_$l"))).reduce(_ || _))
      assert(bad.count() === 0, bad.collect().take(3).mkString("; "))
    }
  }

  test("lang_scores.lang_pred replicates the CASE-chain argmax, both paths") {
    graft.functions.TextExpressions.install(spark)
    val langs = Seq("de", "en", "es", "fr", "zh")
    bothPaths {
      val scored = corpus.select(
        (col("doc_id") +: col("text") +:
          langs.map(l => langScoreOld(col("text"), l).as(s"score_$l"))): _*)
      val best = langs.map(l => col(s"score_$l")).reduce((a, b) => greatest(a, b))
      val oldPred = langs.foldRight(lit("und")) { (l, acc) =>
        when(col(s"score_$l") === best && best > 0, lit(l)).otherwise(acc)
      }
      val bad = scored
        .select(col("doc_id"), oldPred.as("old_pred"),
          call_function("lang_scores", col("text")).getField("lang_pred").as("new_pred"))
        .filter(!(col("old_pred") <=> col("new_pred")))
      assert(bad.count() === 0, bad.collect().take(3).mkString("; "))
    }
  }

  test("text_quality agrees with the regex composition, both paths") {
    graft.functions.TextExpressions.install(spark)
    bothPaths {
      val t = col("text")
      val bad = corpus.select(col("doc_id"),
          call_function("text_quality", t).as("q"),
          length(t).cast("long").as("old_chars"),
          size(split(trim(t), "\\s+")).cast("long").as("old_tokens"),
          length(regexp_replace(t, "[^a-zA-Z]", "")).cast("long").as("old_alpha"),
          occOld(t, " ").as("old_spaces"))
        .filter(!(col("q.n_chars") <=> col("old_chars")) ||
          !(col("q.n_tokens") <=> col("old_tokens")) ||
          !(col("q.n_alpha") <=> col("old_alpha")) ||
          !(col("q.n_spaces") <=> col("old_spaces")))
      assert(bad.count() === 0, bad.collect().take(3).mkString("; "))
    }
  }

  test("token_counts agrees with the split/regexp composition, both paths") {
    graft.functions.TextExpressions.install(spark)
    bothPaths {
      val t = col("text")
      val bad = corpus.select(col("doc_id"),
          call_function("token_counts", t).as("tc"),
          size(split(trim(t), "\\s+")).cast("long").as("old_ws"),
          size(regexp_extract_all(t, lit("[a-zA-Z0-9_]+|[^a-zA-Z0-9_\\s]"), lit(0)))
            .cast("long").as("old_bpe"),
          length(t).cast("long").as("old_chars"))
        .filter(!(col("tc.ws_tokens") <=> col("old_ws")) ||
          !(col("tc.bpeish_tokens") <=> col("old_bpe")) ||
          !(col("tc.n_chars") <=> col("old_chars")))
      assert(bad.count() === 0, bad.collect().take(3).mkString("; "))
    }
  }

  test("rolling_fp agrees with the split-HOF fold, both paths") {
    graft.functions.TextExpressions.install(spark)
    bothPaths {
      val t = col("text")
      val oldFp = aggregate(
        transform(split(t, ""), c => ascii(c).cast("long")),
        lit(0L),
        (h, c) => (h * 31 + c) % 1000000007L)
      val bad = corpus
        .select(col("doc_id"), call_function("rolling_fp", t).as("fp"), oldFp.as("old_fp"))
        .filter(!(col("fp") <=> col("old_fp")))
      assert(bad.count() === 0, bad.collect().take(3).mkString("; "))
    }
  }

  test("char_shingles agrees with the distinct-transform composition, both paths") {
    graft.functions.TextExpressions.install(spark)
    // the pre-round-14 composed formulation, verbatim
    def shinglesOld(c: Column, n: Int): Column = {
      val cnt = length(c) - (n - 1)
      when(cnt >= 1,
        array_distinct(transform(sequence(lit(1), cnt), i => c.substr(i, lit(n)))))
        .otherwise(array().cast("array<string>"))
    }
    for (n <- Seq(1, 3, 5)) bothPaths {
      val rows = corpus.select(col("doc_id"),
        call_function("char_shingles", col("text"), lit(n)).as("nw"),
        shinglesOld(col("text"), n).as("old"))
      val bad = rows.filter(!(col("nw") <=> col("old")))
      assert(bad.count() === 0,
        s"n=$n: " + bad.collect().take(3).mkString("; "))
    }
  }

  test("arr_jaccard agrees with size(intersect)/size(union), both paths") {
    graft.functions.TextExpressions.install(spark)
    val pairs = corpus.as("a")
      .crossJoin(corpus.limit(6).as("b"))
      .select(
        call_function("char_shingles", col("a.text"), lit(3)).as("x"),
        call_function("char_shingles", col("b.text"), lit(3)).as("y"))
    bothPaths {
      val rows = pairs.select(
        call_function("arr_jaccard", col("x"), col("y")).as("nw"),
        try_divide(size(array_intersect(col("x"), col("y"))).cast("double"),
          size(array_union(col("x"), col("y"))).cast("double")).as("old"))
      // NaN <=> NaN is true under Spark's null-safe equality
      val bad = rows.filter(!(col("nw") <=> col("old")))
      assert(bad.count() === 0, bad.collect().take(3).mkString("; "))
    }
  }

  test("url_domains agrees with the regexp_extract_all composition, both paths") {
    graft.functions.TextExpressions.install(spark)
    // URL-specific adversarial strings on top of the shared edge set:
    // backtracking hosts, trailing dots/dashes, double www, schemes
    // mid-word, 1-letter TLDs, paths with stop chars, adjacency
    val urlEdge = Seq(
      "plain http://a.bc tail", "https://x.y.z.co/p/q?r=1 done",
      "www.foo.com", "www.foo.com/", "www.foo.com/a_b-c.d/e",
      "http://www.bar.org and www.www.baz.io x",
      "see http://no-tld or http://.com or http://a. stop",
      "http://trail.com. next", "http://dash-host.net- y",
      "https://UPPER.CoM mixed", "HTTPS://nope.com WWW.nope.com",
      "wwww.notwww.com but www.yes.ab ok",
      "http://1.2.3.4/path http://num3rix.9x.dev",
      "a.b.c www. http:// https:/x http//y.com",
      "http://host.comma,rest www.tld.a www.tld.ab",
      "tight:http://t.co/x,www.u.org|end",
      "http://a-.b.--c.d.ee//double//slash/ tail",
      "url at end http://end.io", "www.end.io")
    val docs = urlEdge.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
      .unionByName(corpus.filter(col("text").isNotNull)
        .selectExpr("doc_id + 5000 AS doc_id",
          """concat(text, ' see https://host', doc_id % 23, '.example.com/p/',
            |doc_id % 5, ' and www.ref', doc_id % 11, '.org ') AS text"""
            .stripMargin.replace("\n", "")))
      .unionByName(Seq((9999L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val pat = graft.operators.TextAnalysisOps.UrlPattern
    val composed = transform(
      regexp_extract_all(col("text"), lit(pat), lit(0)),
      u => regexp_replace(regexp_replace(regexp_replace(u,
        "^https?://", ""), "^www\\.", ""), "/.*$", ""))
    bothPaths {
      val rows = docs.select(col("doc_id"),
        call_function("url_domains", col("text")).as("nw"), composed.as("old"))
      val bad = rows.filter(!(col("nw") <=> col("old")))
      assert(bad.count() === 0, bad.collect().take(5).mkString("; "))
    }
  }

  test("char_entropy: hand-computed values, codepoint bigrams, both paths") {
    graft.functions.TextExpressions.install(spark)
    def ent(texts: String*): Seq[(Long, Long)] = {
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      graft.operators.TextAnalysisOps.charEntropy(df, "doc_id", "text")
        .orderBy("doc_id")
        .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    }
    bothPaths {
      // "aaaa": 3 identical bigrams -> H = 0
      // "abab": bigrams ab,ba,ab -> p = (2/3, 1/3), H = ln3 - (2/3)ln2
      val h2 = math.floor(
        ((2.0 / 3.0) * math.log(3.0 / 2.0) +
          (1.0 / 3.0) * math.log(3.0)) * 1e6).toLong
      assert(ent("aaaa", "abab", "x", "") ===
        Seq((3L, 0L), (3L, h2), (0L, 0L), (0L, 0L)))
      // non-BMP: "a👍b" is 3 CODEPOINTS -> 2 distinct bigrams, H = ln 2
      assert(ent("a👍b") ===
        Seq((2L, math.floor(math.log(2.0) * 1e6).toLong)))
      // NULL text coalesces to (0, 0) — the oracle's
      // LEFT JOIN + COALESCE shape, never a NULL row
      assert(ent(null.asInstanceOf[String]) === Seq((0L, 0L)))
    }
  }

  test("operator plans stay inside whole-stage codegen") {
    graft.functions.TextExpressions.install(spark)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for (df <- Seq(
        graft.operators.TextAnalysisOps.langId(docs, "doc_id", "text"),
        graft.operators.TextAnalysisOps.qualityScore(docs, "doc_id", "text"),
        graft.operators.TextAnalysisOps.tokenStats(docs, "doc_id", "text"),
        graft.operators.TextAnalysisOps.charEntropy(docs, "doc_id", "text"),
        graft.operators.TextAnalysisOps.fingerprints(docs, "doc_id", "text"))) {
      // "*(n)" is the WholeStageCodegen marker in the simple-string
      // plan rendering; the projection carrying the text expression
      // must sit inside a codegen span
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("*(1) Project"), plan.take(500))
      assert(!plan.toLowerCase.contains("scalaudf"), plan.take(500))
    }
  }
}
