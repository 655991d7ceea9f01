package graft

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.expressions.VectorFunctions
import graft.operators.Similarity

class VectorExprSpec extends SparkSpec {

  test("SimHash64 is bit-identical to the composable fold") {
    import graft.core.Tables
    import graft.operators.Dedup
    val docs = Tables.load(spark, sf, "documents").limit(200)
    val both = docs.select(
      Dedup.simhash(col("text")).as("fused"),
      Dedup.simhashComposable(col("text")).as("composed"))
    assert(both.filter(!(col("fused") <=> col("composed"))).count() == 0)
  }

  test("md5 MinHash and SimHash arms are bit-identical to the relational md5 formulas") {
    import graft.operators.Dedup
    import graft.expressions.{MinHashFunctions, TextFunctions}
    import org.apache.spark.sql.DataFrame
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    def md5Long(c: org.apache.spark.sql.Column, from: Int) =
      conv(substring(md5(c), from, 15), 16, 10).cast("long")
    // references: the relational md5 pipelines over (id, text) — explode,
    // hash, aggregate; a doc without shingles/tokens has no row
    def minhashRef(df: DataFrame, n: Int, k: Int): DataFrame =
      df.select(col("id"), explode(Dedup.shingles(spark, col("text"), n)).as("sh"))
        .select(col("id"), explode(sequence(lit(0), lit(k - 1))).as("seed"),
          col("sh"))
        .select(col("id"), col("seed"),
          md5Long(concat(col("seed").cast("string"), lit(":"), col("sh")), 1)
            .as("h"))
        .groupBy("id", "seed").agg(min(col("h")).as("m"))
        .groupBy("id")
        .agg(transform(array_sort(collect_list(struct(col("seed"), col("m")))),
          x => x.getField("m")).as("ref"))
    def simhashRef(df: DataFrame): DataFrame = {
      val hv = df.select(col("id"), explode(split(lower(col("text")), "\\s+")).as("t"))
        .select(col("id"), md5Long(col("t"), 1).as("v1"), md5Long(col("t"), 16).as("v2"))
      val sums = (0 until 64).map { b =>
        val (src, sh) = if (b < 60) (col("v1"), b) else (col("v2"), b - 60)
        sum(when(shiftrightunsigned(src, sh).bitwiseAND(lit(1L)) === 1, 1)
          .otherwise(-1)).as(s"_c$b")
      }
      val packed = (0 until 64).foldLeft(lit(0L))((acc, b) =>
        shiftleft(acc, 1).bitwiseOR(
          when(col(s"_c$b") >= 0, lit(1L)).otherwise(lit(0L))))
      hv.groupBy("id").agg(sums.head, sums.tail: _*)
        .select(col("id"), packed.as("ref"))
    }
    // fused null ⇔ no reference row; otherwise the values must be equal
    def mismatches(fused: DataFrame, ref: DataFrame): Long =
      fused.join(ref, Seq("id"), "full_outer")
        .filter(!(col("fused") <=> col("ref"))).count()

    val edge = Seq(null, "", " ", "\t", " \n  ", "a", "a b", " a b c",
      "a b c ", "a  b   c  d", "  lead and trail  ", "one two three",
      "a b a b a b a b", "x y z x y z x y z", "Hello WORLD hello world HELLO",
      "naïve café déjà vu", "東京 タワー 日本語 の テキスト", "emoji 😀 text 😀 here",
      "Straße STRASSE straße", "ǅemal ÅNGSTRÖM", "a\u00a0b c")
    val token = Gen.oneOf("the", "a", "Of", "near", "dup", "x", "X", "naïve",
      "café", "東京", "😀", "ÅNG", "straße", "ǅ", "a\u00a0b", "")
    val sep = Gen.oneOf(" ", "  ", "\t", "\n", " \t ")
    val text = for {
      len <- Gen.choose(0, 12)
      toks <- Gen.listOfN(len, token)
      seps <- Gen.listOfN(len + 1, sep)
      lead <- Gen.oneOf("", " ", "\t")
      trail <- Gen.oneOf("", " ", "\n")
    } yield lead + toks.zip(seps).map { case (t, s) => t + s }.mkString.trim + trail
    val sampled = Gen.listOfN(300, text)
      .pureApply(Gen.Parameters.default, Seed(20261019L))
    // the sf0.01 corpus next to the suite's sf0.001 one
    val docs = Tables.load(spark, new java.io.File(sf).getParent + "/sf0.01",
        "documents")
      .select(col("doc_id").as("id"), col("text"))
    val all = docs.union((edge ++ sampled).zipWithIndex
      .map { case (t, i) => (-1L - i, t) }.toDF("id", "text"))
    for ((n, k) <- Seq((3, 32), (1, 8), (5, 16))) {
      val fused = all.select(col("id"),
        MinHashFunctions.signature(spark, col("text"), n, k, md5 = true).as("fused"))
      assert(fused.filter(col("fused").isNotNull).count() > docs.count() / 2,
        s"n=$n: the md5 MinHash arm must sign most documents")
      assert(mismatches(fused, minhashRef(all, n, k)) == 0,
        s"md5 MinHash mismatch at n=$n, k=$k")
    }
    val fused = all.select(col("id"),
      TextFunctions.simhash(spark, col("text"), md5 = true).as("fused"))
    assert(mismatches(fused, simhashRef(all)) == 0, "md5 SimHash mismatch")
    // the families differ: md5 = true is not a silent alias of xxhash
    assert(all.filter(TextFunctions.simhash(spark, col("text"), md5 = true) =!=
      TextFunctions.simhash(spark, col("text"))).count() > 0)
  }

  test("RollingFingerprint is bit-identical to the composable fold") {
    import graft.core.Tables
    import graft.operators.TextAnalysis
    val docs = Tables.load(spark, sf, "documents")
    val both = docs.select(
      TextAnalysis.fingerprint(col("text")).as("fused"),
      TextAnalysis.fingerprintComposable(col("text")).as("composed"))
    assert(both.filter(!(col("fused") <=> col("composed"))).count() == 0)
    // edge cases: empty, whitespace-led/trailed, multi-space
    import spark.implicits._
    val edge = Seq("", " ", "a  b", " x ", "Hello WORLD").toDF("text")
    val e = edge.select(
      TextAnalysis.fingerprint(col("text")).as("fused"),
      TextAnalysis.fingerprintComposable(col("text")).as("composed"))
    assert(e.filter(!(col("fused") <=> col("composed"))).count() == 0)
  }


  test("WordShingles is bit-identical to the composable form") {
    import graft.operators.Dedup
    import graft.expressions.TextFunctions
    val docs = Tables.load(spark, sf, "documents")
    for (n <- Seq(1, 3, 5)) {
      val both = docs.select(
        TextFunctions.wordShingles(spark, col("text"), n).as("fused"),
        Dedup.shinglesComposable(col("text"), n).as("composed"))
      assert(both.filter(!(col("fused") <=> col("composed"))).count() == 0,
        s"shingle mismatch at n=$n")
    }
    // edge cases: null, empty, whitespace-only/tab-only (split("", \s+) =
    // [""]; trailing spaces keep empty tokens), fewer tokens than n,
    // repeated shingles (distinct order), mixed case
    import spark.implicits._
    val edge = Seq(null, "", " ", "\t", "a", "a b", "a  b c ", " x y z",
      "a b a b a b", "Hello WORLD hello world HELLO world").toDF("text")
    val e = edge.select(
      TextFunctions.wordShingles(spark, col("text"), 2).as("fused"),
      Dedup.shinglesComposable(col("text"), 2).as("composed"))
    assert(e.filter(!(col("fused") <=> col("composed"))).count() == 0)
  }

  test("WordSpans is bit-identical to the composable form") {
    import graft.operators.Dedup
    import graft.expressions.TextFunctions
    val docs = Tables.load(spark, sf, "documents")
    for (span <- Seq(1, 7, 10)) {
      val both = docs.select(
        TextFunctions.wordSpans(spark, col("text"), span).as("fused"),
        Dedup.spansComposable(col("text"), span).as("composed"))
      assert(both.filter(!(col("fused") <=> col("composed"))).count() == 0,
        s"span mismatch at span=$span")
    }
    // the tab-only doc exercises the trim-strips-only-spaces quirk: it
    // passes the blank guard and emits quirky empty-token spans — both
    // forms must agree on that too
    import spark.implicits._
    val edge = Seq(null, "", " ", "\t", "\t\n", "a", " x ", "a  b c ",
      "One two THREE four five six seven eight nine ten eleven").toDF("text")
    val e = edge.select(
      TextFunctions.wordSpans(spark, col("text"), 3).as("fused"),
      Dedup.spansComposable(col("text"), 3).as("composed"))
    assert(e.filter(!(col("fused") <=> col("composed"))).count() == 0)
  }

  test("WordWindowHashes is bit-identical to the composable form") {
    import graft.operators.Dedup
    import graft.expressions.TextFunctions
    val docs = Tables.load(spark, sf, "documents")
    for (w <- Seq(1, 4, 8)) {
      val both = docs.select(
        TextFunctions.wordWindowHashes(spark, col("text"), w).as("fused"),
        Dedup.windowHashesComposable(col("text"), w).as("composed"))
      assert(both.filter(!(col("fused") <=> col("composed"))).count() == 0,
        s"window-hash mismatch at w=$w")
    }
    // null → empty (never null out), empty-token quirks, fewer tokens than
    // w, case folding (hash is over the LOWERCASED window)
    import spark.implicits._
    val edge = Seq(null, "", " ", "\t", "a", "a b", "a  b c ", " x y z",
      "a b a b a b", "Hello WORLD hello world HELLO world").toDF("text")
    val e = edge.select(
      TextFunctions.wordWindowHashes(spark, col("text"), 2).as("fused"),
      Dedup.windowHashesComposable(col("text"), 2).as("composed"))
    assert(e.filter(!(col("fused") <=> col("composed"))).count() == 0)
  }

  test("TextStats-derived metrics are bit-identical to the composable forms") {
    import graft.operators.TextAnalysis
    import spark.implicits._
    val edge = Seq(null, "", " ", "\t", "a", "a  b c ", " the the the ",
      "the of and to in is that it for a", "Hello WORLD hello world",
      "el la de y que", "der die das und zu", "123 #$% abc123 ---",
      "one two one two one two one two").toDF("text")
    val docs = Tables.load(spark, sf, "documents").select("text")
      .unionAll(edge)
      .select(col("text"), TextAnalysis.stats(col("text")).as("_st"))
    val pairs: Seq[(String, org.apache.spark.sql.Column, org.apache.spark.sql.Column)] =
      Seq(("lang", TextAnalysis.langIdFrom(col("_st")),
          TextAnalysis.langIdComposable(col("text"))),
        ("swr_es", TextAnalysis.stopwordRatioComposable(col("text"), "es"),
          col("_st").getField("sw_es").cast("double") /
            greatest(col("_st").getField("n_tokens"), lit(1))),
        ("gopher", TextAnalysis.gopherFilterFrom(col("_st")),
          TextAnalysis.gopherFilterComposable(col("text")))) ++
      TextAnalysis.qualityMetricsFrom(col("_st"))
        .zip(TextAnalysis.qualityMetricsComposable(col("text")))
        .map { case ((n, f), (_, c)) => (n, f, c) } ++
      TextAnalysis.tokenCountsFrom(col("_st"))
        .zip(TextAnalysis.tokenCountsComposable(col("text")))
        .map { case ((n, f), (_, c)) => (n, f, c) } ++
      TextAnalysis.repetitionMetricsFrom(col("_st"))
        .zip(TextAnalysis.repetitionMetricsComposable(col("text")))
        .map { case ((n, f), (_, c)) => (n, f, c) } ++
      TextAnalysis.gopherMetricsFrom(col("_st"))
        .zip(TextAnalysis.gopherMetricsComposable(col("text")))
        .map { case ((n, f), (_, c)) => (n, f, c) }
    pairs.foreach { case (name, fused, composed) =>
      val bad = docs.filter(!(fused <=> composed)).count()
      assert(bad == 0, s"metric $name: $bad mismatching docs")
    }
  }

  test("CollapseRepeats is bit-identical to the composable form") {
    import graft.operators.TextAnalysis
    import spark.implicits._
    val edge = Seq(null, "", " ", "a", "a a", "a a a b b a",
      "Fast FAST fast table", " x x ", "a  a b").toDF("text")
    val docs = Tables.load(spark, sf, "documents").select("text").unionAll(edge)
    val both = docs.select(
      TextAnalysis.dedupConsecutiveTokens(col("text")).as("fused"),
      TextAnalysis.dedupConsecutiveTokensComposable(col("text")).as("composed"))
    assert(both.filter(!(col("fused") <=> col("composed"))).count() == 0)
  }

  test("FloatVectorDot is bit-identical to the composable fold") {
    val e = Tables.load(spark, sf, "embeddings").limit(100)
    val both = e.select(
      Similarity.dot(col("embedding"), col("embedding")).as("fold"),
      VectorFunctions.dot(spark, col("embedding"), col("embedding")).as("native"))
      .collect()
    assert(both.forall(r => r.getDouble(0) == r.getDouble(1))) // exact, no epsilon
  }

  test("vec_dot callable from SQL after registration") {
    VectorFunctions.register(spark)
    Tables.load(spark, sf, "embeddings").limit(5).createOrReplaceTempView("emb5")
    val r = spark.sql("SELECT vec_dot(embedding, embedding) d FROM emb5").collect()
    assert(r.forall(_.getDouble(0) >= 0.0))
  }

  test("fused text functions callable from SQL after registration") {
    graft.expressions.TextFunctions.register(spark)
    Tables.load(spark, sf, "documents").limit(5).createOrReplaceTempView("docs5")
    val r = spark.sql(
      """SELECT text_stats(text).n_tokens AS n,
                size(word_shingles(text, 3)) AS sh,
                size(word_spans(text, 10)) AS sp,
                collapse_repeats(text) AS cr
         FROM docs5""").collect()
    assert(r.length == 5 && r.forall(x => x.getInt(0) >= 1 && !x.isNullAt(3)))
  }

  test("codegen path active (no fallback exception) on wide scan") {
    val e = Tables.load(spark, sf, "embeddings")
    val n = e.select(VectorFunctions.dot(spark, col("embedding"), col("embedding")).as("d"))
      .filter(col("d") > 0).count()
    assert(n > 0)
  }

  test("QuantizeInt8 matches the composable form on data and edge vectors") {
    import graft.operators.Similarity
    val e = Tables.load(spark, sf, "embeddings")
    val diff = e.select(
        Similarity.quantizeInt8(col("embedding")).as("f"),
        Similarity.quantizeInt8Composable(col("embedding")).as("c"))
      .filter(not(col("f") <=> col("c"))).count()
    assert(diff == 0)
    // edges: empty vector, zero vector, null element, NULL vector
    val edge = spark.sql(
      """SELECT v FROM VALUES
         (array(CAST(0.0 AS FLOAT), CAST(0.0 AS FLOAT))),
         (array(CAST(1.5 AS FLOAT), CAST(NULL AS FLOAT), CAST(-3.0 AS FLOAT))),
         (CAST(array() AS ARRAY<FLOAT>)),
         (CAST(NULL AS ARRAY<FLOAT>)) AS t(v)""")
    val edgeDiff = edge.select(
        Similarity.quantizeInt8(col("v")).as("f"),
        Similarity.quantizeInt8Composable(col("v")).as("c"))
      .filter(not(col("f") <=> col("c"))).count()
    assert(edgeDiff == 0)
  }

  test("LshBits is bit-identical to the composable plane fold, every table") {
    import graft.operators.Similarity
    val e = Tables.load(spark, sf, "embeddings")
    for (t <- 0 until 4) {
      val diff = e.select(
          Similarity.lshBucket(col("embedding"), planes = 4, dim = 64, table = t).as("f"),
          Similarity.lshBucketComposable(col("embedding"), planes = 4, dim = 64, table = t).as("c"))
        .filter(col("f") =!= col("c")).count()
      assert(diff == 0, s"table $t")
    }
  }

  test("LshBits rejects non-float arrays and matches composable on malformed lengths") {
    import graft.operators.Similarity
    // array<double> input must be an analysis error, not silent garbage
    val doubles = spark.sql("SELECT array(CAST(1.0 AS DOUBLE)) AS v")
    intercept[org.apache.spark.sql.AnalysisException] {
      doubles.select(Similarity.lshBucket(col("v"), planes = 4, dim = 64)).collect()
    }
    // short / long / empty vectors: zip_with null-pads → every bit 0 in the
    // composable form; the fused expression must agree, not partial-dot
    val malformed = spark.sql(
      """SELECT v FROM VALUES
         (array(CAST(1.5 AS FLOAT), CAST(-2.0 AS FLOAT))),
         (CAST(array() AS ARRAY<FLOAT>)) AS t(v)""")
    val diff = malformed.select(
        Similarity.lshBucket(col("v"), planes = 4, dim = 64).as("f"),
        Similarity.lshBucketComposable(col("v"), planes = 4, dim = 64).as("c"))
      .filter(col("f") =!= col("c")).count()
    assert(diff == 0)
  }
}
