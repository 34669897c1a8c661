package graft.plans

import org.apache.spark.unsafe.types.UTF8String

/** `graft_json_long(json, key)`: the fast path for the hottest JSON
  * shape a telemetry pipeline has, extracting ONE top-level integer
  * field from small JSON objects. `get_json_object` routes every row through a streaming
  * Jackson parse — measured 54 s for 10M tiny `{"k": NN}` documents at
  * sf10 while DuckDB's yyjson does the same in 0.24 s (224×, the
  * single worst ratio in the r15 sweep). This is a single depth-aware
  * byte scan (~GB/s).
  *
  * Semantics — equal to `try_cast(get_json_object(col, '$.key') AS
  * bigint)` (spec-asserted against the Jackson path on the events
  * corpus plus adversarial documents; try_cast, not cast, because the
  * ANSI default makes a plain cast throw on non-integer values —
  * NULL-on-malformed is this function's posture):
  *  - only DEPTH-1 keys match (nested objects/arrays are skipped by
  *    depth tracking; key hits inside string values are skipped by
  *    string tracking, including backslash escapes);
  *  - the value must be an optionally-signed integer (optional
  *    whitespace around ':'); floats, strings, null, objects → NULL —
  *    the same result the Jackson path's long cast produces; leading
  *    zeros on the raw number token (`007`) are rejected like Jackson
  *    rejects them (quoted `"007"` still coerces — string-cast rules);
  *  - malformed JSON → NULL (get_json_object's posture). DOCUMENTED
  *    DIVERGENCE, malformed input only: when a valid `key: value` pair
  *    precedes a LATER malformation (e.g. a trailing comma after it),
  *    this scan returns the value it already proved well-formed while
  *    the Jackson path NULLs the whole document — whole-document
  *    validation would cost the full parse this scan exists to
  *    avoid, and no well-formed document is affected (spec-asserted:
  *    JsonLongFieldSpec covers both shapes);
  *  - values outside Long range → NULL (the string cast's posture).
  */
object JsonLongField {

  /** The field `key` (UTF-8 bytes) of `json`, or null. */
  def extract(json: UTF8String, key: Array[Byte]): java.lang.Long = extract(json.getBytes, key)

  /** Depth-aware scan: find `"key"` at depth 1, outside strings, then
    * parse an optionally-signed integer after the colon. Returns a
    * boxed Long or null. */
  def extract(b: Array[Byte], key: Array[Byte]): java.lang.Long = {
    val n = b.length
    var i = 0
    // must be an object at the top
    while (i < n && isWs(b(i))) i += 1
    if (i >= n || b(i) != '{') return null
    i += 1
    var depth = 1
    while (i < n) {
      val c = b(i)
      if (c == '"') {
        // a string: either a key (at any depth) or a string value
        val start = i + 1
        var j = start
        var matched = depth == 1
        var k = 0
        while (j < n && b(j) != '"') {
          if (b(j) == '\\') { j += 2; matched = false }
          else {
            if (matched && (k >= key.length || b(j) != key(k))) matched = false
            k += 1
            j += 1
          }
        }
        if (j >= n) return null // unterminated string
        matched = matched && k == key.length
        i = j + 1
        // is this string a KEY (followed by ':')? skip ws
        var t = i
        while (t < n && isWs(b(t))) t += 1
        val isKey = t < n && b(t) == ':'
        if (isKey && matched && depth == 1) {
          // parse the value after ':' + ws
          t += 1
          while (t < n && isWs(b(t))) t += 1
          if (t >= n) return null
          if (b(t) == '"') {
            // a QUOTED value: try_cast coerces numeric strings
            // ('"12"' → 12, with surrounding spaces and +/- allowed),
            // so mirror that — content with escapes is never numeric
            var e = t + 1
            while (e < n && b(e) != '"') {
              if (b(e) == '\\') return null
              e += 1
            }
            // a value at end-of-input means the object never closed —
            // Jackson NULLs the whole (truncated) document (r17)
            if (e >= n - 1) return null
            return parseLongRange(b, t + 1, e, trimmed = true)
          }
          var neg = false
          if (b(t) == '-') { neg = true; t += 1 }
          if (t >= n || b(t) < '0' || b(t) > '9') return null
          var e = t
          while (e < n && b(e) >= '0' && b(e) <= '9') e += 1
          // a leading zero on a multi-digit token is malformed JSON
          // (Jackson rejects `007` → get_json_object NULLs the whole
          // document; r17, per advice) — the QUOTED path above keeps
          // accepting "007" because the string cast does
          if (b(t) == '0' && e - t > 1) return null
          // an integer must END here (",", "}", ws) — "12.5" is a
          // float — and END-OF-INPUT is a truncated document (the
          // object never closed; Jackson NULLs it; r17)
          if (e >= n) return null
          if (isWs(b(e))) {
            // ws is only a SEPARATOR, not a terminator: the object must
            // continue with ',' or '}' after it — a pure-ws tail is the
            // same truncated document as digits-at-EOF ({"k": 7 ␠ →
            // Jackson NULLs), and any other byte after a completed
            // value is malformed ({"k": 7 x}) (r18, per advice)
            var w = e
            while (w < n && isWs(b(w))) w += 1
            if (w >= n || (b(w) != ',' && b(w) != '}')) return null
          } else if (b(e) != ',' && b(e) != '}') return null
          return parseDigits(b, t, e, neg)
        }
        if (isKey) i = t + 1 // continue after the colon
      } else if (c == '{' || c == '[') { depth += 1; i += 1 }
      else if (c == '}' || c == ']') { depth -= 1; i += 1; if (depth == 0) return null }
      else i += 1
    }
    null
  }

  private def isWs(c: Byte): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r'

  /** Parse [from, to) as an optionally-signed integer; `trimmed` allows
    * surrounding whitespace (the string-cast posture). Null unless the
    * WHOLE range is consumed. */
  private def parseLongRange(b: Array[Byte], from: Int, to: Int,
                             trimmed: Boolean): java.lang.Long = {
    var t = from
    var e = to
    if (trimmed) {
      while (t < e && isWs(b(t))) t += 1
      while (e > t && isWs(b(e - 1))) e -= 1
    }
    if (t >= e) return null
    var neg = false
    if (b(t) == '-') { neg = true; t += 1 }
    else if (b(t) == '+') t += 1
    if (t >= e) return null
    var i = t
    while (i < e && b(i) >= '0' && b(i) <= '9') i += 1
    if (i != e) return null // non-digit inside → not an integer
    parseDigits(b, t, e, neg)
  }

  /** Digits [from, to) → Long with java.lang.Long.parseLong's
    * negative-accumulator idiom: covers Long.MinValue exactly;
    * overflow → NULL (the string-cast posture). */
  private def parseDigits(b: Array[Byte], from: Int, to: Int,
                          neg: Boolean): java.lang.Long = {
    if (from >= to) return null
    val limit = if (neg) Long.MinValue else -Long.MaxValue
    val multmin = limit / 10
    var acc = 0L
    var t = from
    while (t < to) {
      val d = b(t) - '0'
      if (acc < multmin) return null
      acc = acc * 10
      if (acc < limit + d) return null
      acc -= d
      t += 1
    }
    java.lang.Long.valueOf(if (neg) acc else -acc)
  }
}
