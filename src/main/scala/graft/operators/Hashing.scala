package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The ONE cross-engine hash primitive: a slice of md5 hex digits folded to
  * a long. Every probabilistic operator that needs oracle adjudication
  * (sampling buckets, LSH planes, multimodal headers) derives from this,
  * the md5 families of the fused MinHash/SimHash sketches compute the same
  * fold over the raw digest, and every DuckDB oracle mirrors it with
  * list_reduce over strpos('0123456789abcdef', …).
  *
  * INVARIANT: `len` ≤ 15 hex digits (60 bits) so the value fits a signed
  * long exactly in BOTH engines — widening a slice past 15 digits silently
  * breaks oracle parity, which is why this lives in one place.
  */
object Hashing {
  def md5Long(c: Column, from: Int = 1, len: Int = 15): Column = {
    require(len >= 1 && len <= 15, s"md5Long len $len would overflow a signed long")
    require(from >= 1 && from + len - 1 <= 32, s"md5Long slice [$from,+$len] outside 32 hex digits")
    conv(substring(md5(c), from, len), 16, 10).cast("long")
  }
}
