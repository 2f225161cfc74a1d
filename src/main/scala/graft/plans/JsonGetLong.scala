package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: `json_long(json, 'key')` — the integer
  * value of a top-level JSON object member as a LONG, equal to
  * `TRY_CAST(get_json_object(json, '$.key') AS BIGINT)` (first
  * NON-NULL-valued occurrence on duplicate keys — a `"k": null` member
  * does not settle the lookup, matching Jackson's write-nothing path
  * evaluation; NULL on absent key / corrupt JSON / non-integer value —
  * the p5 reject-unparseable semantics; try_cast because ANSI CAST
  * throws on the non-integer images this returns NULL for).
  *
  * Why native: `get_json_object` runs a full Jackson tokenizer per row —
  * object mapper state, token events, a string materialization, then a
  * cast re-parse. For the single-scalar probe a validity gate needs, that
  * is ~all waste: this expression walks the UTF8 bytes once, skipping
  * non-matching members structurally (strings with escapes, nested
  * objects/arrays by depth, literals, numbers) and parsing the matched
  * integer in place — no allocation, no boxing on the hot path, inside
  * whole-stage codegen. Measured on p5 at sf5 (5M events):
  * get_json_object 4.5s / from_json(pruned) 2.3s / this 0.6s, against
  * DuckDB's 0.93s — the per-byte JSON term the r11 verdict priced now
  * favors Spark. The DuckDB oracle keeps replaying
  * `CAST(json_extract_string(..) AS BIGINT)` — values equal by
  * construction, every query stays hash-exact (JsonGetLongSpec pins
  * parity against get_json_object across the adversarial shapes:
  * escapes, nesting, key-lookalike payloads, duplicates, overflow).
  */
case class JsonGetLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"json_long requires (STRING, STRING), got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "json_long"

  protected override def nullSafeEval(json: Any, key: Any): Any =
    JsonGetLong.evalJsonLong(
      json.asInstanceOf[UTF8String], key.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (j, k) => {
      val tmp = ctx.freshName("jsonLong")
      s"""
         |java.lang.Long $tmp = graft.plans.JsonGetLong.evalJsonLong($j, $k);
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $tmp.longValue(); }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JsonGetLong =
    copy(left = newLeft, right = newRight)
}

object JsonGetLong {

  /** Single-pass scan. Returns null (boxed) for: not a top-level object,
    * absent key, corrupt JSON, non-integer value, long overflow — each a
    * case where `CAST(get_json_object(..) AS BIGINT)` is also NULL.
    *
    * Jackson's path evaluation iterates the WHOLE top-level object (that
    * is how the duplicate-key rule works), so a document that goes bad
    * AFTER the matched member — truncation, a trailing comma, a malformed
    * sibling value — is NULL under get_json_object even though the match
    * itself was clean. This scan therefore keeps validating members until
    * the enclosing object closes before releasing a matched value; bytes
    * after the closing '}' are never read, also like Jackson. */
  def evalJsonLong(json: UTF8String, key: UTF8String): java.lang.Long = {
    val b = json.getBytes
    val kb = key.getBytes
    val n = b.length
    var i = skipWs(b, 0, n)
    if (i >= n || b(i) != '{') return null
    i += 1
    var first = true
    var found: java.lang.Long = null
    var settled = false // a non-null-literal match decided the lookup
    while (i < n) {
      i = skipWs(b, i, n)
      if (i < n && b(i) == '}') return found // object closed well-formed
      if (!first) {
        if (i >= n || b(i) != ',') return null
        i = skipWs(b, i + 1, n)
        // a trailing comma ({"k":5,}) is a Jackson parse error -> NULL
        if (i < n && b(i) == '}') return null
      }
      first = false
      // member key
      if (i >= n || b(i) != '"') return null
      val keyStart = i + 1
      i = skipString(b, i, n)
      if (i < 0) return null
      val keyEnd = i - 1 // position of closing quote
      i = skipWs(b, i, n)
      if (i >= n || b(i) != ':') return null
      i = skipWs(b, i + 1, n)
      if (i >= n) return null
      val matches = !settled && keyEnd - keyStart == kb.length && {
        var j = 0
        var eq = true
        while (eq && j < kb.length) {
          // an escaped key never byte-equals an unescaped probe; a false
          // negative there matches Jackson only for keys that NEED no
          // escape, which is the documented contract (plain identifiers)
          if (b(keyStart + j) != kb(j)) eq = false
          j += 1
        }
        eq
      }
      // a matched member whose value is the JSON null literal does NOT
      // settle the lookup: Jackson's path evaluation writes nothing for
      // it and a later duplicate still matches (found by the randomized
      // parity property — {"k": null, "k": 7} is 7 under
      // get_json_object). Any other matched value decides, integer or
      // not.
      val isNullLit = i + 3 < n && b(i) == 'n' && b(i + 1) == 'u' &&
        b(i + 2) == 'l' && b(i + 3) == 'l'
      if (matches && !isNullLit) {
        val v = parseLongValue(b, i, n)
        // a non-integer matched image fails the CAST whether or not the
        // tail is well-formed — NULL either way, so settle immediately
        if (v == null) return null
        found = v
        settled = true
      }
      // depth = 1, not 0: Jackson counts DOCUMENT depth, and the
      // top-level object this scanner is inside is already level 1 — an
      // array nested 1000 deep beside k sits at document depth 1001 and
      // throws there, so it must be NULL here (boundary pinned at
      // 998..1002 by the parity spec; found by ADVICE r13)
      i = skipValue(b, i, n, depth = 1)
      if (i < 0) return null
    }
    null // ran off the end: truncated document, Jackson throws -> NULL
  }

  private def skipWs(b: Array[Byte], start: Int, n: Int): Int = {
    var i = start
    while (i < n && (b(i) == ' ' || b(i) == '\t' || b(i) == '\n' || b(i) == '\r')) i += 1
    i
  }

  /** From the opening quote past the closing quote; -1 if unterminated. */
  private def skipString(b: Array[Byte], start: Int, n: Int): Int = {
    var i = start + 1
    while (i < n) {
      if (b(i) == '\\') i += 2
      else if (b(i) == '"') return i + 1
      else i += 1
    }
    -1
  }

  /** Jackson's default nesting cap (StreamReadConstraints 2.15+): deeper
    * documents throw there, so they must be NULL here too — and the cap
    * also bounds this scanner's recursion, so an adversarial
    * 100k-deep "[[[[..." can never stack-overflow an executor. */
  private val MAX_DEPTH = 1000

  /** Past one JSON value of any type, VALIDATING it per the JSON grammar
    * (exact literals, no leading-zero numbers, balanced well-formed
    * structures, nesting within [[MAX_DEPTH]]); -1 on corrupt input.
    * Strictness matters for parity: a malformed value anywhere in the
    * top-level object makes Jackson throw, so get_json_object is NULL
    * even when the probed key matched cleanly earlier in the stream. */
  private def skipValue(b: Array[Byte], start: Int, n: Int, depth: Int = 0): Int = {
    // `depth` is the DOCUMENT depth of the enclosing container (the
    // top-level object = 1). Jackson increments on every START_OBJECT /
    // START_ARRAY and throws when the NEW depth exceeds the cap, so the
    // check fires on structure-open with depth + 1 — a scalar at the cap
    // itself is fine on both sides (boundary pinned 998..1002 in the
    // parity spec).
    if (start >= n) return -1
    b(start) match {
      case '"' => skipString(b, start, n)
      case '{' =>
        if (depth + 1 > MAX_DEPTH) return -1
        var i = skipWs(b, start + 1, n)
        if (i < n && b(i) == '}') return i + 1
        var more = true
        while (more) {
          if (i >= n || b(i) != '"') return -1
          i = skipString(b, i, n)
          if (i < 0) return -1
          i = skipWs(b, i, n)
          if (i >= n || b(i) != ':') return -1
          i = skipValue(b, skipWs(b, i + 1, n), n, depth + 1)
          if (i < 0) return -1
          i = skipWs(b, i, n)
          if (i < n && b(i) == ',') i = skipWs(b, i + 1, n)
          else more = false
        }
        if (i < n && b(i) == '}') i + 1 else -1
      case '[' =>
        if (depth + 1 > MAX_DEPTH) return -1
        var i = skipWs(b, start + 1, n)
        if (i < n && b(i) == ']') return i + 1
        var more = true
        while (more) {
          i = skipValue(b, i, n, depth + 1)
          if (i < 0) return -1
          i = skipWs(b, i, n)
          if (i < n && b(i) == ',') i = skipWs(b, i + 1, n)
          else more = false
        }
        if (i < n && b(i) == ']') i + 1 else -1
      case 't' => expectLiteral(b, start, n, "true")
      case 'f' => expectLiteral(b, start, n, "false")
      case 'n' => expectLiteral(b, start, n, "null")
      case _ => skipNumber(b, start, n)
    }
  }

  /** Past the exact literal iff it ends at a delimiter; -1 otherwise. */
  private def expectLiteral(b: Array[Byte], start: Int, n: Int, lit: String): Int = {
    if (start + lit.length > n) return -1
    var j = 0
    while (j < lit.length) {
      if (b(start + j) != lit.charAt(j)) return -1
      j += 1
    }
    val i = start + lit.length
    if (i < n && !isDelim(b(i))) -1 else i
  }

  /** Past one JSON number (RFC 8259 grammar: no leading zeros, no bare
    * '.', optional frac/exp) ending at a delimiter; -1 otherwise. */
  private def skipNumber(b: Array[Byte], start: Int, n: Int): Int = {
    var i = start
    if (i < n && b(i) == '-') i += 1
    if (i >= n || b(i) < '0' || b(i) > '9') return -1
    if (b(i) == '0') i += 1 // a leading 0 must stand alone ("007" throws)
    else while (i < n && b(i) >= '0' && b(i) <= '9') i += 1
    if (i < n && b(i) == '.') {
      i += 1
      if (i >= n || b(i) < '0' || b(i) > '9') return -1
      while (i < n && b(i) >= '0' && b(i) <= '9') i += 1
    }
    if (i < n && (b(i) == 'e' || b(i) == 'E')) {
      i += 1
      if (i < n && (b(i) == '+' || b(i) == '-')) i += 1
      if (i >= n || b(i) < '0' || b(i) > '9') return -1
      while (i < n && b(i) >= '0' && b(i) <= '9') i += 1
    }
    if (i < n && !isDelim(b(i))) -1 else i
  }

  private def isDelim(c: Byte): Boolean =
    c == ',' || c == '}' || c == ']' ||
      c == ' ' || c == '\t' || c == '\n' || c == '\r'

  /** The matched member's value as a long: a bare JSON integer, or a
    * quoted string whose image survives `TRY_CAST(.. AS BIGINT)` —
    * which trims surrounding whitespace and accepts an explicit '+'
    * sign and leading zeros ("  +5 " -> 5, "007" -> 7), unlike the bare
    * JSON number grammar. Anything else — float, exponent, literal,
    * structure, overflow — is null. Structural validity of the value
    * (and the rest of the document) is the caller's skipValue pass;
    * this only decides the cast image. */
  private def parseLongValue(b: Array[Byte], start: Int, n: Int): java.lang.Long = {
    var i = start
    val quoted = i < n && b(i) == '"'
    if (quoted) {
      i += 1
      // the cast's trimAll on the string image
      while (i < n && isCastTrimWs(b(i))) i += 1
    }
    var neg = false
    if (i < n && (b(i) == '-' || (quoted && b(i) == '+'))) {
      neg = b(i) == '-'
      i += 1
    }
    if (i >= n || b(i) < '0' || b(i) > '9') return null
    // negative accumulation: |Long.MinValue| > Long.MaxValue, so this is
    // the only orientation that parses the full domain edge-exactly
    var acc = 0L
    while (i < n && b(i) >= '0' && b(i) <= '9') {
      val d = b(i) - '0'
      if (acc < (Long.MinValue + d) / 10) return null // overflow -> null
      acc = acc * 10 - d
      i += 1
    }
    if (quoted) {
      while (i < n && isCastTrimWs(b(i))) i += 1
      if (i >= n || b(i) != '"') return null
      i += 1
    }
    // the value must END here (else it was 1.5, 1e3, 12abc, ...)
    i = skipWs(b, i, n)
    if (i < n && b(i) != ',' && b(i) != '}') return null
    if (neg) acc
    else if (acc == Long.MinValue) null // +9223372036854775808 overflows
    else -acc
  }

  private def isWs(c: Byte): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r'

  /** The trim predicate of the CAST route's `UTF8String.trimAll` —
    * `Character.isWhitespace || Character.isISOControl` over the ASCII
    * range (trimAll feeds each raw BYTE to those predicates, so a
    * negative/continuation byte — any multi-byte UTF-8 char — is never
    * trimmed there either; sign-extension makes it a negative codepoint
    * both predicates reject). Wider than JSON's structural whitespace
    * [[isWs]]: `"5"` and `"\f5"` cast to 5, so the quoted-value
    * trim here must accept them too for value parity. */
  private def isCastTrimWs(c: Byte): Boolean =
    c >= 0 && (Character.isWhitespace(c.toInt) || Character.isISOControl(c.toInt))

  private[plans] val builder = (exprs: Seq[Expression]) =>
    JsonGetLong(exprs.head, exprs(1))
}
