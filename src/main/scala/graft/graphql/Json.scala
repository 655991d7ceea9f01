package graft.graphql

import java.util.Base64

/** Minimal JSON writer for response serialization (§1.2 scalar codecs:
  * timestamps/dates ISO, decimals as strings, binary as base64). */
object Json {
  def write(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case f: Float => num(f.toDouble)
    case d: Double => num(d)
    case d: java.math.BigDecimal => quote(d.toPlainString)
    case d: BigDecimal => quote(d.bigDecimal.toPlainString)
    case t: java.sql.Timestamp => quote(t.toLocalDateTime.toString)
    case t: java.time.LocalDateTime => quote(t.toString)
    case t: java.time.Instant => quote(t.toString)
    case d: java.sql.Date => quote(d.toLocalDate.toString)
    case d: java.time.LocalDate => quote(d.toString)
    case t: java.time.LocalTime => quote(t.toString)
    case d: java.time.Duration =>
      quote(isoDuration(0, d.toDays, d.getSeconds % 86400L, d.getNano))
    case p: java.time.Period =>
      quote(isoDuration(p.getYears * 12 + p.getMonths, p.getDays, 0, 0))
    case i: org.apache.spark.unsafe.types.CalendarInterval =>
      // month-day-nano semantics: months always rendered, even when zero
      // (reference Duration codec, scalars.py:34-42)
      quote(isoDuration(i.months, i.days, i.microseconds / 1000000L,
        (i.microseconds % 1000000L) * 1000L, forceMonths = true))
    case b: Array[Byte] => quote(Base64.getEncoder.encodeToString(b))
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${quote(k.toString)}:${write(x)}" }.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(write).mkString("[", ",", "]")
    case a: Array[_] => a.map(write).mkString("[", ",", "]")
    case r: org.apache.spark.sql.Row =>
      r.schema.fieldNames.zip(r.toSeq)
        .map { case (k, x) => s"${quote(k)}:${write(x)}" }.mkString("{", ",", "}")
    case other => quote(other.toString)
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  /** ISO-8601 duration (reference Duration scalar, scalars.py:25-56):
    * `P[nM][nD][T[nH][nM][n[.f]S]]`; zero → "P0D"; `forceMonths` renders
    * the month component even when 0 (month-day-nano contract). */
  def isoDuration(months: Long, days: Long, secs: Long, nanos: Long,
                  forceMonths: Boolean = false): String = {
    val sb = new StringBuilder("P")
    if (months != 0 || forceMonths) sb.append(months).append('M')
    if (days != 0) sb.append(days).append('D')
    var s = secs
    val h = s / 3600; s %= 3600
    val m = s / 60; s %= 60
    if (h != 0 || m != 0 || s != 0 || nanos != 0) {
      sb.append('T')
      if (h != 0) sb.append(h).append('H')
      if (m != 0) sb.append(m).append('M')
      if (s != 0 || nanos != 0) {
        if (nanos == 0) sb.append(s)
        else sb.append(java.math.BigDecimal.valueOf(s * 1000000000L + nanos, 9)
          .stripTrailingZeros().toPlainString)
        sb.append('S')
      }
    }
    if (sb.length == 1) sb.append("0D")
    sb.toString
  }

  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append("\"").toString
  }

  /** Ordered object writer (selection order is significant in GraphQL). */
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${quote(k)}:$v" }.mkString("{", ",", "}")

  /** Strict JSON reader → [[GVal]] (the variable/argument value AST the
    * executor already consumes) — for HTTP request bodies
    * `{"query": ..., "variables": ..., "operationName": ...}`. Integral
    * numbers → GInt, others → GFloat; objects preserve key order (GObj is
    * ordered). Throws IllegalArgumentException with position on malformed
    * input. */
  def parse(text: String): GVal = {
    val p = new JsonReader(text)
    val v = p.value()
    p.skipWs()
    if (!p.atEnd) p.fail("trailing content")
    v
  }

  private final class JsonReader(s: String) {
    private var i = 0
    private var depth = 0
    def atEnd: Boolean = i >= s.length
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"JSON error at offset $i: $msg")
    // depth cap: untrusted HTTP bodies must exhaust the parser's patience,
    // not the JVM stack (StackOverflowError is not an Exception and would
    // escape the transport's error envelope)
    private def push(): Unit = {
      depth += 1
      if (depth > 256) fail("nesting too deep (max 256)")
    }
    private def pop(): Unit = depth -= 1
    def skipWs(): Unit =
      while (i < s.length && (s(i) == ' ' || s(i) == '\t' || s(i) == '\n' || s(i) == '\r')) i += 1
    private def expect(c: Char): Unit = {
      if (atEnd || s(i) != c) fail(s"expected '$c'")
      i += 1
    }
    def value(): GVal = {
      skipWs()
      if (atEnd) fail("unexpected end of input")
      s(i) match {
        case '{' => obj()
        case '[' => arr()
        case '"' => GVal.GStr(string())
        case 't' => lit("true", GVal.GBool(true))
        case 'f' => lit("false", GVal.GBool(false))
        case 'n' => lit("null", GVal.GNull)
        case c if c == '-' || (c >= '0' && c <= '9') => number()
        case c => fail(s"unexpected character '$c'")
      }
    }
    private def lit(word: String, v: GVal): GVal = {
      if (!s.startsWith(word, i)) fail(s"expected '$word'")
      i += word.length; v
    }
    private def obj(): GVal = {
      push()
      expect('{'); skipWs()
      val fields = Seq.newBuilder[(String, GVal)]
      if (!atEnd && s(i) == '}') { i += 1; pop(); return GVal.GObj(fields.result()) }
      while (true) {
        skipWs()
        val k = string()
        skipWs(); expect(':')
        fields += (k -> value())
        skipWs()
        if (atEnd) fail("unterminated object")
        s(i) match {
          case ',' => i += 1
          case '}' => i += 1; pop(); return GVal.GObj(fields.result())
          case c => fail(s"expected ',' or '}', got '$c'")
        }
      }
      GVal.GObj(fields.result()) // unreachable
    }
    private def arr(): GVal = {
      push()
      expect('['); skipWs()
      val items = Seq.newBuilder[GVal]
      if (!atEnd && s(i) == ']') { i += 1; pop(); return GVal.GList(items.result()) }
      while (true) {
        items += value()
        skipWs()
        if (atEnd) fail("unterminated array")
        s(i) match {
          case ',' => i += 1
          case ']' => i += 1; pop(); return GVal.GList(items.result())
          case c => fail(s"expected ',' or ']', got '$c'")
        }
      }
      GVal.GList(items.result()) // unreachable
    }
    private def string(): String = {
      expect('"')
      val sb = new StringBuilder
      while (!atEnd && s(i) != '"') {
        if (s(i) == '\\') {
          i += 1
          if (atEnd) fail("unterminated escape")
          s(i) match {
            case '"' => sb.append('"')
            case '\\' => sb.append('\\')
            case '/' => sb.append('/')
            case 'b' => sb.append('\b')
            case 'f' => sb.append('\f')
            case 'n' => sb.append('\n')
            case 'r' => sb.append('\r')
            case 't' => sb.append('\t')
            case 'u' =>
              if (i + 4 >= s.length) fail("truncated \\u escape")
              sb.append(Integer.parseInt(s.substring(i + 1, i + 5), 16).toChar)
              i += 4
            case c => fail(s"bad escape '\\$c'")
          }
          i += 1
        } else { sb.append(s(i)); i += 1 }
      }
      expect('"')
      sb.toString
    }
    private def number(): GVal = {
      val start = i
      if (!atEnd && s(i) == '-') i += 1
      while (!atEnd && s(i) >= '0' && s(i) <= '9') i += 1
      var isFloat = false
      if (!atEnd && s(i) == '.') {
        isFloat = true; i += 1
        while (!atEnd && s(i) >= '0' && s(i) <= '9') i += 1
      }
      if (!atEnd && (s(i) == 'e' || s(i) == 'E')) {
        isFloat = true; i += 1
        if (!atEnd && (s(i) == '+' || s(i) == '-')) i += 1
        while (!atEnd && s(i) >= '0' && s(i) <= '9') i += 1
      }
      val tok = s.substring(start, i)
      if (tok.isEmpty || tok == "-") fail("malformed number")
      if (isFloat) GVal.GFloat(tok.toDouble)
      else try GVal.GInt(tok.toLong)
      catch { case _: NumberFormatException => GVal.GFloat(tok.toDouble) }
    }
  }
}

/** Lazily-rendered JSON response tree: eager string fragments interleaved
  * with DEFERRED fragment iterators. The executor materializes rows eagerly
  * (inside the request's persist/cache scope) but defers rendering the big
  * leaf value arrays — so the HTTP layer can pull fragments straight into
  * chunked transfer frames and serializer-side memory stays O(chunk)
  * instead of O(response). `render` collapses the tree for embedded/spec
  * callers; byte-identical to the streamed concatenation by construction
  * (same fragments, same order). */
sealed trait JsonStream {
  def fragments: Iterator[String]
  def render: String = {
    val sb = new java.lang.StringBuilder
    fragments.foreach(sb.append(_))
    sb.toString
  }
}

object JsonStream {
  final case class Frag(s: String) extends JsonStream {
    def fragments: Iterator[String] = Iterator.single(s)
  }
  final case class Defer(f: () => Iterator[String]) extends JsonStream {
    def fragments: Iterator[String] = f()
  }
  final case class Cat(parts: Seq[JsonStream]) extends JsonStream {
    def fragments: Iterator[String] = parts.iterator.flatMap(_.fragments)
  }

  /** Resolver arms overwhelmingly produce small eager strings; the
    * companion-scope conversion lets them stay written as strings while
    * the spine's type is JsonStream. */
  import scala.language.implicitConversions
  implicit def fromString(s: String): JsonStream = Frag(s)

  /** Ordered object over stream values (GraphQL selection order). */
  def obj(fields: Seq[(String, JsonStream)]): JsonStream =
    Cat(Frag("{") +: fields.zipWithIndex.map { case ((k, v), i) =>
      Cat(Seq(Frag((if (i == 0) "" else ",") + Json.quote(k) + ":"), v))
    } :+ Frag("}"))

  def arr(items: Seq[JsonStream]): JsonStream =
    Cat(Frag("[") +: items.zipWithIndex.map { case (v, i) =>
      if (i == 0) v else Cat(Seq(Frag(","), v))
    } :+ Frag("]"))

  /** Deferred JSON array over ALREADY-MATERIALIZED scalar values: nothing
    * is stringified until the fragment iterator is pulled, one element at
    * a time — the O(chunk) path for column `values` leaves. The input must
    * be collected data (never a lazy Spark handle): rendering happens
    * after the request's persist scope closes. */
  def lazyArr(values: scala.collection.Iterable[Any]): JsonStream =
    Defer(() => Iterator.single("[") ++
      values.iterator.zipWithIndex.map { case (v, i) =>
        (if (i == 0) "" else ",") + Json.write(v)
      } ++ Iterator.single("]"))
}
