package graft.expressions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen note (applies to every fused expression in this file): instead
  * of CodegenFallback — which forces the surrounding operator to materialize
  * a full InternalRow per row and crosses an interpreted `eval` boundary
  * with boxed results — each expression generates a direct call to its own
  * compiled `compute(UTF8String)` via `ctx.addReferenceObj`, the same
  * technique [[LshBits]] uses for its plane matrix. The operator stays
  * inside whole-stage codegen (no fallback boundary in the plan), inputs
  * and outputs stay unboxed, and the per-document loop runs as ordinary
  * JIT-compiled JVM code; the one virtual call per ROW is noise against the
  * per-token work inside. */

/** Fused rolling-hash document fingerprint — bit-identical to the
  * composable form in [[graft.operators.TextAnalysis.fingerprintComposable]]
  * (and its DuckDB oracle): tokens = split(lower(text), \s+) with Spark's
  * limit=-1 semantics; per token acc₀=7, acc = (acc·131 + codepoint) mod
  * 1e9+7 over characters (empty token contributes one 0 char, matching
  * ascii(substring(t,1,1)) of ""); per doc acc₀=0, acc = (acc·31 + key) mod
  * 1e9+7 over tokens.
  *
  * The composable form walks interpreted higher-order lambdas per CHARACTER
  * (~2 s at sf0.1 for 1.5 MB of text); this is one compiled pass. */
case class RollingFingerprint(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_fingerprint"

  private val M = 1000000007L

  def compute(u: UTF8String): Long = {
    val text = u.toString.toLowerCase
    // Spark split(str, re) = java split(re, -1): keeps leading/trailing empties
    val toks = text.split("\\s+", -1)
    var acc = 0L
    var t = 0
    while (t < toks.length) {
      val tok = toks(t)
      var key = 7L
      if (tok.isEmpty) key = (key * 131) % M // ascii("") = 0
      else {
        var i = 0
        while (i < tok.length) {
          val cp = tok.codePointAt(i)
          key = (key * 131 + cp) % M
          i += Character.charCount(cp)
        }
      }
      acc = (acc * 31 + key) % M
      t += 1
    }
    acc
  }

  override protected def nullSafeEval(v: Any): Any =
    compute(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val self = ctx.addReferenceObj("fp", this, classOf[RollingFingerprint].getName)
      s"${ev.value} = $self.compute($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Fused 64-bit SimHash over whitespace tokens (split(lower(text), \s+)
  * with limit=-1): bit b of the fingerprint is set iff Σ_tokens ±1 ≥ 0, the
  * sign taken from the token's per-bit hash; bits packed b=0 first via
  * shiftleft|or. Hash families:
  *  - xxhash64 (default) — bit-identical to the composable form in
  *    [[graft.operators.Dedup.simhashComposable]]: +1 iff xxhash64(token,
  *    b) ≥ 0, replicating Spark's two-child fold (hashUnsafeBytes(token,
  *    42) then hashInt(b, ·));
  *  - md5 (`md5 = true`, cross-engine reproducible): +1 iff bit b of
  *    `conv(substring(md5(token), 1, 15), 16, 10)` is set for b < 60, and
  *    bit b − 60 of `conv(substring(md5(token), 16, 15), 16, 10)` for
  *    b ≥ 60.
  * The composable form walks a 64-wide zip_with lambda per token
  * (interpreted); this is one compiled pass with a 64-int counter array. */
case class SimHash64(child: Expression, md5: Boolean = false)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = if (md5) "simhash64_md5" else "simhash64"

  def compute(u: UTF8String): Long = {
    val text = u.toString.toLowerCase
    val toks = text.split("\\s+", -1)
    val counters = new Array[Int](64)
    val digest = if (md5) java.security.MessageDigest.getInstance("MD5") else null
    var t = 0
    while (t < toks.length) {
      val tok = UTF8String.fromString(toks(t))
      if (md5) {
        val d = java.nio.ByteBuffer.wrap(digest.digest(tok.getBytes))
        // bits 0-59: hex digits 1-15; bits 60-63: the low nibble of 16-30
        val bits = (d.getLong(0) >>> 4) | (((d.getLong(8) >>> 8) & 0xFL) << 60)
        var b = 0
        while (b < 64) {
          if (((bits >>> b) & 1L) == 1L) counters(b) += 1 else counters(b) -= 1
          b += 1
        }
      } else {
        val base = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
          tok.getBaseObject, tok.getBaseOffset, tok.numBytes(), 42L)
        var b = 0
        while (b < 64) {
          val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashInt(b, base)
          if (h >= 0) counters(b) += 1 else counters(b) -= 1
          b += 1
        }
      }
      t += 1
    }
    var acc = 0L
    var b = 0
    while (b < 64) {
      acc = (acc << 1) | (if (counters(b) >= 0) 1L else 0L)
      b += 1
    }
    acc
  }

  override protected def nullSafeEval(v: Any): Any =
    compute(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val self = ctx.addReferenceObj("simhash", this, classOf[SimHash64].getName)
      s"${ev.value} = $self.compute($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Fused distinct word n-gram shingles — bit-identical to the composable
  * form in [[graft.operators.Dedup.shinglesComposable]]: tokens =
  * split(lower(text), \s+) with Spark's limit=-1 semantics (leading/trailing
  * empty tokens KEPT), shingle i = tokens[i..i+n) joined with single spaces,
  * array_distinct first-occurrence order; fewer than n tokens (or null
  * text) → empty array, matching the when/otherwise guard.
  *
  * The composable form embeds the regex split inside a transform lambda;
  * interpreted higher-order functions get no common-subexpression reuse, so
  * the split re-ran once PER SHINGLE INDEX — O(tokens²) regex work per doc
  * (~4 s of the sf0.1 decontaminate bench). This is one compiled pass. */
case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression {
  require(n >= 1, s"word_shingles needs n >= 1, got $n")

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StringType, containsNull = false)
  override def prettyName: String = "word_shingles"
  override def nullable: Boolean = false

  // shared immutable instance: null/short docs produce the SAME empty array
  def emptyArray: ArrayData = WordShingles.Empty

  def compute(u: UTF8String): ArrayData = {
    val seen = WordShingles.distinct(u.toString, n)
    if (seen.isEmpty) return WordShingles.Empty
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(out)
  }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) WordShingles.Empty else compute(v.asInstanceOf[UTF8String])
  }

  // null input maps to the empty array (never null out), so the default
  // null-propagating nullSafeCodeGen does not fit — generate the branch
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val self = ctx.addReferenceObj("shingles", this, classOf[WordShingles].getName)
    val jt = CodeGenerator.javaType(dataType)
    ev.copy(code = code"""
      ${c.code}
      $jt ${ev.value} = ${c.isNull} ? ($jt) $self.emptyArray()
        : ($jt) $self.compute(${c.value});
      """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WordShingles {
  private val Empty = new GenericArrayData(Array.empty[Any])

  /** The distinct shingles of `text`, first-occurrence order; empty when
    * it has fewer than n tokens. Shared with the md5 [[MinHashSignature]]. */
  def distinct(text: String, n: Int): java.util.LinkedHashSet[String] = {
    val toks = text.toLowerCase.split("\\s+", -1)
    val seen = new java.util.LinkedHashSet[String]
    var i = 0
    while (i <= toks.length - n) {
      val sb = new java.lang.StringBuilder(toks(i))
      var j = 1
      while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
      seen.add(sb.toString)
      i += 1
    }
    seen
  }
}

/** Fused non-overlapping token spans — bit-identical to the composable form
  * in [[graft.operators.Dedup.spansComposable]]: tokens = split(text, \s+)
  * with limit=-1 (original case preserved), chunk j = tokens[j·span ..
  * (j+1)·span) joined with single spaces, ceil(len/span) chunks; blank
  * guard replicates length(trim(text)) > 0 — Spark trim strips ONLY ASCII
  * spaces, so the guard is "contains any non-space char" (a tab-only doc
  * passes the guard and yields its quirky empty-token spans, as the
  * composable form does). Null text → empty array (when/otherwise). */
case class WordSpans(child: Expression, span: Int)
    extends UnaryExpression {
  require(span >= 1, s"word_spans needs span >= 1, got $span")

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StringType, containsNull = false)
  override def prettyName: String = "word_spans"
  override def nullable: Boolean = false

  def emptyArray: ArrayData = WordSpans.Empty

  def compute(u: UTF8String): ArrayData = {
    val s = u.toString
    var nonSpace = false
    var c = 0
    while (c < s.length && !nonSpace) { if (s.charAt(c) != ' ') nonSpace = true; c += 1 }
    if (!nonSpace) return WordSpans.Empty
    val toks = s.split("\\s+", -1)
    val nch = ((toks.length + span - 1) / span).max(1)
    val out = new Array[Any](nch)
    var j = 0
    while (j < nch) {
      val from = j * span
      val until = math.min(from + span, toks.length)
      val sb = new java.lang.StringBuilder(toks(from))
      var i = from + 1
      while (i < until) { sb.append(' ').append(toks(i)); i += 1 }
      out(j) = UTF8String.fromString(sb.toString)
      j += 1
    }
    new GenericArrayData(out)
  }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) WordSpans.Empty else compute(v.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val self = ctx.addReferenceObj("spans", this, classOf[WordSpans].getName)
    val jt = CodeGenerator.javaType(dataType)
    ev.copy(code = code"""
      ${c.code}
      $jt ${ev.value} = ${c.isNull} ? ($jt) $self.emptyArray()
        : ($jt) $self.compute(${c.value});
      """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WordSpans {
  private val Empty = new GenericArrayData(Array.empty[Any])
}

/** Fused per-position window hashes — the candidate-generation primitive
  * for exact-substring dedup (Lee et al. 2022 "Deduplicating Training Data
  * Makes Language Models Better": remove every ≥w-token run that occurs
  * verbatim more than once in the corpus). Element i is
  * xxhash64(seed 42) of the w-token window starting at token i of
  * split(lower(text), \s+) — bit-identical to Spark's
  * `xxhash64(array_join(slice(tokens, i+1, w), " "))`, the composable form
  * in [[graft.operators.Dedup.windowHashesComposable]] (parity-spec'd).
  * Fewer than w tokens (or null text) → empty array.
  *
  * Why fused, and why hashes not strings: a corpus-scale occurrence list
  * carries one row per TOKEN POSITION — emitting the w-token shingle text
  * would multiply the exploded volume by ~w× the document size; 8 bytes
  * per position keeps the global first-occurrence groupBy narrow. The
  * composable form re-runs the regex split per window index (no
  * common-subexpression reuse in interpreted lambdas) — O(tokens²) regex
  * work per doc; this is one compiled pass. */
case class WordWindowHashes(child: Expression, w: Int)
    extends UnaryExpression {
  require(w >= 1, s"word_window_hashes needs w >= 1, got $w")

  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "word_window_hashes"
  override def nullable: Boolean = false

  def emptyArray: ArrayData = WordWindowHashes.Empty

  def compute(u: UTF8String): ArrayData = {
    val toks = u.toString.toLowerCase.split("\\s+", -1)
    if (toks.length < w) return WordWindowHashes.Empty
    val out = new Array[Long](toks.length - w + 1)
    var i = 0
    while (i < out.length) {
      val sb = new java.lang.StringBuilder(toks(i))
      var j = 1
      while (j < w) { sb.append(' ').append(toks(i + j)); j += 1 }
      val win = UTF8String.fromString(sb.toString)
      out(i) = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        win.getBaseObject, win.getBaseOffset, win.numBytes(), 42L)
      i += 1
    }
    new GenericArrayData(out)
  }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) WordWindowHashes.Empty
    else compute(v.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val self = ctx.addReferenceObj("winhashes", this,
      classOf[WordWindowHashes].getName)
    val jt = CodeGenerator.javaType(dataType)
    ev.copy(code = code"""
      ${c.code}
      $jt ${ev.value} = ${c.isNull} ? ($jt) $self.emptyArray()
        : ($jt) $self.compute(${c.value});
      """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WordWindowHashes {
  private val Empty = new GenericArrayData(Array.empty[Any])
}

/** One-pass fused primitives behind every per-document text metric
  * (language ID, quality, Gopher stats, repetition, token counts —
  * reference shapes: Rae et al. 2021 Gopher rules; graphique has no text
  * pipeline, this is the beyond-reference tier). Bit-identical to the
  * composable forms in [[graft.operators.TextAnalysis]] (parity-spec'd):
  * tokens = split(lower(text), \s+) with limit=-1 semantics, n_chars =
  * CODEPOINT count of the original text (Spark length()), token lengths in
  * codepoints, rlike = Java find(), n-gram stats over space-joined grams.
  *
  * Why fused: the composable metrics reference the token array many times
  * inside one projection and inside transform lambdas; interpreted
  * higher-order functions get no common-subexpression reuse, so the regex
  * split re-ran per reference AND per n-gram index — the five text gate
  * queries cost ~3 min of pure projection at sf0.1 (5k docs). One compiled
  * pass per row; consumers project this struct ONCE and derive each metric
  * with plain arithmetic on its fields. */
case class TextStats(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = TextStats.schema
  override def prettyName: String = "text_stats"

  def compute(u: UTF8String): InternalRow = {
    val orig = u.toString
    val nChars = orig.codePointCount(0, orig.length)
    val lower = orig.toLowerCase
    val toks = lower.split("\\s+", -1)
    val n = toks.length
    var sumTokLen = 0L
    var alphaWords = 0
    var symbolWords = 0
    var swEn = 0; var swEs = 0; var swDe = 0
    val distinct = new java.util.HashSet[String]
    var i = 0
    while (i < n) {
      val t = toks(i)
      sumTokLen += t.codePointCount(0, t.length)
      if (TextStats.Alpha.matcher(t).find()) alphaWords += 1
      if (!TextStats.Alnum.matcher(t).find()) symbolWords += 1
      if (TextStats.SwEn.contains(t)) swEn += 1
      if (TextStats.SwEs.contains(t)) swEs += 1
      if (TextStats.SwDe.contains(t)) swDe += 1
      distinct.add(t)
      i += 1
    }
    var stopHits = 0
    val swIt = TextStats.SwEn.iterator()
    while (swIt.hasNext) if (distinct.contains(swIt.next())) stopHits += 1
    // n-gram multiplicity stats over space-joined grams (wordNgrams shape:
    // fewer than n tokens -> zero grams)
    var topBigram = 0
    val nBigrams = if (n >= 2) n - 1 else 0
    if (n >= 2) {
      val counts = new java.util.HashMap[String, Int]
      var j = 0
      while (j < n - 1) {
        val g = toks(j) + " " + toks(j + 1)
        val c = counts.merge(g, 1, (a, b) => a + b)
        if (c > topBigram) topBigram = c
        j += 1
      }
    }
    var dupTrigrams = 0
    val nTrigrams = if (n >= 3) n - 2 else 0
    if (n >= 3) {
      val counts = new java.util.HashMap[String, Int]
      var j = 0
      while (j < n - 2) {
        counts.merge(toks(j) + " " + toks(j + 1) + " " + toks(j + 2), 1,
          (a, b) => a + b)
        j += 1
      }
      val it = counts.values().iterator()
      while (it.hasNext) { val c = it.next(); if (c > 1) dupTrigrams += c }
    }
    var bpeIsh = 0
    val m = TextStats.BpeIsh.matcher(lower)
    while (m.find()) bpeIsh += 1
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nChars, n, distinct.size, swEn, swEs, swDe, stopHits,
        sumTokLen, alphaWords, symbolWords, topBigram, nBigrams,
        dupTrigrams, nTrigrams, bpeIsh))
  }

  override protected def nullSafeEval(v: Any): Any =
    compute(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val self = ctx.addReferenceObj("textStats", this, classOf[TextStats].getName)
      val jt = CodeGenerator.javaType(dataType)
      s"${ev.value} = ($jt) $self.compute($c);"
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Fused consecutive-token collapse — bit-identical to the composable form
  * in [[graft.operators.TextAnalysis.dedupConsecutiveTokensComposable]]:
  * tokens = split(lower(text), \s+) with limit=-1, keep token i iff i = 0
  * or it differs from token i−1, join with single spaces. Null text → ""
  * (concat_ws never returns null). The composable form's filter lambda
  * re-evaluates the split per element via element_at. */
case class CollapseRepeats(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.StringType
  override def prettyName: String = "collapse_repeats"
  override def nullable: Boolean = false

  def compute(u: UTF8String): UTF8String = {
    val toks = u.toString.toLowerCase.split("\\s+", -1)
    val sb = new java.lang.StringBuilder(toks(0))
    var i = 1
    while (i < toks.length) {
      if (toks(i) != toks(i - 1)) sb.append(' ').append(toks(i))
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) UTF8String.EMPTY_UTF8 else compute(v.asInstanceOf[UTF8String])
  }

  // null input maps to "" (concat_ws semantics), so the default
  // null-propagating codegen does not fit
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val self = ctx.addReferenceObj("collapse", this, classOf[CollapseRepeats].getName)
    val jt = CodeGenerator.javaType(dataType)
    ev.copy(code = code"""
      ${c.code}
      $jt ${ev.value} = ${c.isNull}
        ? org.apache.spark.unsafe.types.UTF8String.EMPTY_UTF8
        : $self.compute(${c.value});
      """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TextStats {
  import org.apache.spark.sql.types._

  /** Single source of truth for the stopword heuristics (TextAnalysis
    * derives its Column-level sets from this). */
  val Stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "es" -> Seq("el", "la", "de", "y", "que", "en", "un", "es", "se", "no"),
    "de" -> Seq("der", "die", "das", "und", "zu", "in", "den", "von", "ist", "mit"))

  private[expressions] val SwEn = new java.util.HashSet[String]
  private[expressions] val SwEs = new java.util.HashSet[String]
  private[expressions] val SwDe = new java.util.HashSet[String]
  Stopwords("en").foreach(SwEn.add); Stopwords("es").foreach(SwEs.add)
  Stopwords("de").foreach(SwDe.add)

  private[expressions] val Alpha = java.util.regex.Pattern.compile("[a-z]")
  private[expressions] val Alnum = java.util.regex.Pattern.compile("[a-z0-9]")
  private[expressions] val BpeIsh =
    java.util.regex.Pattern.compile("[a-z]+|[0-9]+|[^a-z0-9 ]")

  val schema: StructType = StructType(Seq(
    StructField("n_chars", IntegerType, nullable = false),
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("n_distinct", IntegerType, nullable = false),
    StructField("sw_en", IntegerType, nullable = false),
    StructField("sw_es", IntegerType, nullable = false),
    StructField("sw_de", IntegerType, nullable = false),
    StructField("stop_hits_en", IntegerType, nullable = false),
    StructField("sum_tok_len", LongType, nullable = false),
    StructField("alpha_words", IntegerType, nullable = false),
    StructField("symbol_words", IntegerType, nullable = false),
    StructField("top_bigram", IntegerType, nullable = false),
    StructField("n_bigrams", IntegerType, nullable = false),
    StructField("dup_trigrams", IntegerType, nullable = false),
    StructField("n_trigrams", IntegerType, nullable = false),
    StructField("bpe_ish", IntegerType, nullable = false)))
}

object TextFunctions {
  def register(spark: SparkSession): Unit = {
    Registration.ensure(spark, "rolling_fingerprint")(
      exprs => RollingFingerprint(exprs(0)))
    Registration.ensure(spark, "simhash64")(exprs => SimHash64(exprs(0)))
    Registration.ensure(spark, "simhash64_md5")(
      exprs => SimHash64(exprs(0), md5 = true))
    Registration.ensure(spark, "word_shingles")(exprs => WordShingles(exprs(0),
      Registration.intArg(exprs(1), "word_shingles", "n")))
    Registration.ensure(spark, "word_spans")(exprs => WordSpans(exprs(0),
      Registration.intArg(exprs(1), "word_spans", "span")))
    Registration.ensure(spark, "word_window_hashes")(
      exprs => WordWindowHashes(exprs(0),
        Registration.intArg(exprs(1), "word_window_hashes", "w")))
    Registration.ensure(spark, "text_stats")(exprs => TextStats(exprs(0)))
    Registration.ensure(spark, "collapse_repeats")(
      exprs => CollapseRepeats(exprs(0)))
  }

  def fingerprint(spark: SparkSession, text: Column): Column = {
    register(spark)
    call_function("rolling_fingerprint", text)
  }

  def simhash(spark: SparkSession, text: Column, md5: Boolean = false): Column = {
    register(spark)
    call_function(if (md5) "simhash64_md5" else "simhash64", text)
  }

  def wordShingles(spark: SparkSession, text: Column, n: Int): Column = {
    register(spark)
    call_function("word_shingles", text, org.apache.spark.sql.functions.lit(n))
  }

  def wordSpans(spark: SparkSession, text: Column, span: Int): Column = {
    register(spark)
    call_function("word_spans", text, org.apache.spark.sql.functions.lit(span))
  }

  def wordWindowHashes(spark: SparkSession, text: Column, w: Int): Column = {
    register(spark)
    call_function("word_window_hashes", text,
      org.apache.spark.sql.functions.lit(w))
  }

  def textStats(spark: SparkSession, text: Column): Column = {
    register(spark)
    call_function("text_stats", text)
  }

  def collapseRepeats(spark: SparkSession, text: Column): Column = {
    register(spark)
    call_function("collapse_repeats", text)
  }
}
