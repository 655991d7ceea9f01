package graft.expressions

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused MinHash signature over word n-gram shingles of a text column.
  *
  * The composable form — split → transform(slice, array_join) →
  * array_distinct → explode → k seeded hashes → 64-way min aggregate —
  * walks interpreted higher-order-function lambdas per shingle and runs a
  * wide hash aggregate; measured ~6-7 s at sf0.1 with the work itself being
  * trivial (5k docs × ~50 tokens). This expression does the whole sketch in
  * ONE compiled pass per row — tokenize, hash each distinct shingle once
  * (xxhash64 of its bytes), then fold k seeded re-hashes of that 8-byte
  * value into a k-long min array — no explode, no shuffle, no allocation
  * per element beyond the token split. Per-row linear work: exactly what a
  * 1000-executor map stage wants (reference minhash: coady/graphique has no
  * sketch tier; SURVEY §2.11 custom-expression tier).
  *
  * Hash families (deterministic; a doc with no shingles yields null):
  *  - xxhash64 (default): base = xxhash64(shingle bytes, seed 42) —
  *    identical to Spark's `xxhash64(col)`; component i =
  *    XXH64.hashLong(base, i). Tokens skip empty strings.
  *  - md5 (`md5 = true`, the cross-engine reproducible family): component
  *    i = min over [[WordShingles]]' distinct shingles (empty tokens kept)
  *    of `conv(substring(md5("i:" ‖ shingle), 1, 15), 16, 10)` — the
  *    digest's first 8 bytes big-endian, shifted right by 4. Any engine
  *    with md5 recomputes it relationally (the DuckDB oracles do).
  */
case class MinHashSignature(child: Expression, n: Int, k: Int,
                            md5: Boolean = false)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = if (md5) "minhash_sig_md5" else "minhash_sig"
  override def nullable: Boolean = true

  @transient private lazy val seedPrefixes =
    Array.tabulate(k)(c => s"$c:".getBytes(StandardCharsets.UTF_8))

  /** Null when the doc has no shingles. */
  def compute(u: UTF8String): GenericArrayData =
    if (md5) computeMd5(u) else computeXx(u)

  private def computeMd5(u: UTF8String): GenericArrayData = {
    val shingles = WordShingles.distinct(u.toString, n)
    if (shingles.isEmpty) return null
    val mins = Array.fill(k)(Long.MaxValue)
    val digest = MessageDigest.getInstance("MD5")
    val it = shingles.iterator()
    while (it.hasNext) {
      val bytes = it.next().getBytes(StandardCharsets.UTF_8)
      var c = 0
      while (c < k) {
        digest.update(seedPrefixes(c))
        val h = ByteBuffer.wrap(digest.digest(bytes)).getLong >>> 4
        if (h < mins(c)) mins(c) = h
        c += 1
      }
    }
    new GenericArrayData(mins)
  }

  private def computeXx(u: UTF8String): GenericArrayData = {
    val text = u.toString.toLowerCase
    // whitespace tokenization, empty tokens skipped (matches split(lower, \s+))
    val toks = text.split("\\s+").filter(_.nonEmpty)
    if (toks.length < n) return null
    val mins = Array.fill(k)(Long.MaxValue)
    val seen = new java.util.HashSet[Long]()
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i + n <= toks.length) {
      sb.setLength(0)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      val shingle = UTF8String.fromString(sb.toString)
      val base = XXH64.hashUnsafeBytes(
        shingle.getBaseObject, shingle.getBaseOffset, shingle.numBytes(), 42L)
      if (seen.add(base)) { // distinct shingles, as array_distinct did
        var c = 0
        while (c < k) {
          val h = XXH64.hashLong(base, c)
          if (h < mins(c)) mins(c) = h
          c += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def nullSafeEval(v: Any): Any =
    compute(v.asInstanceOf[UTF8String])

  // compute() itself returns null for sub-n-token docs, so the generated
  // code must re-derive isNull from the result (nullSafeCodeGen would pin
  // isNull to the child's and hand a null value downstream as non-null)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val self = ctx.addReferenceObj("minhash", this, classOf[MinHashSignature].getName)
    val jt = CodeGenerator.javaType(dataType)
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.isNull} = ${c.isNull};
      $jt ${ev.value} = null;
      if (!${ev.isNull}) {
        ${ev.value} = ($jt) $self.compute(${c.value});
        ${ev.isNull} = ${ev.value} == null;
      }
      """)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashFunctions {
  /** Idempotent session registration; usable via Column API ([[signature]])
    * and SQL (`minhash_sig(text, n, k)`, `minhash_sig_md5(text, n, k)`). */
  def register(spark: SparkSession): Unit =
    for ((name, md5) <- Seq("minhash_sig" -> false, "minhash_sig_md5" -> true))
      Registration.ensure(spark, name)(
        exprs => MinHashSignature(exprs(0),
          Registration.intArg(exprs(1), name, "n"),
          Registration.intArg(exprs(2), name, "k"), md5))

  def signature(spark: SparkSession, text: Column, n: Int, k: Int,
                md5: Boolean = false): Column = {
    register(spark)
    call_function(if (md5) "minhash_sig_md5" else "minhash_sig", text,
      org.apache.spark.sql.functions.lit(n), org.apache.spark.sql.functions.lit(k))
  }
}
