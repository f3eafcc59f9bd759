package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** Structure-aware JSON member removal for the attribute-pop step of the
  * ingest projection (reference models.py:59-60: `attrs.pop("latitude")` /
  * `attrs.pop("longitude")` — *top-level* keys only).
  *
  * A regex cannot anchor to JSON nesting depth: it would also strip
  * `latitude` inside a nested object (`{"zone":{"latitude":1}}`) and skip
  * array/object-valued members. This is a single-pass scanner that tracks
  * strings/escapes and brace depth, splices the named top-level members
  * out, and keeps every remaining member's text verbatim (no value
  * re-serialization → no JSON canonicalization surprises, SURVEY.md §7.4;
  * only inter-member separators are normalized to `,`).
  */
object JsonOps {

  def popLatLon(json: String): String = popTopLevel(json, "latitude", "longitude")

  /** The static target of [[Kernels.popLatLon]]. */
  def popLatLon(json: UTF8String): UTF8String = UTF8String.fromString(popLatLon(json.toString))

  /** Remove top-level members named `k1`/`k2` from a JSON object text.
    * Non-object or malformed input is returned unchanged (the reference
    * only ever pops from a dict). */
  def popTopLevel(json: String, k1: String, k2: String): String = {
    if (json == null) return null
    val n = json.length
    var i = 0
    var malformed = false

    def skipWs(): Unit = { while (i < n && Character.isWhitespace(json.charAt(i))) i += 1 }

    // assumes json.charAt(i) == '"'; returns raw key text (escapes kept)
    def parseString(): String = {
      val start = i + 1
      i += 1
      while (i < n && json.charAt(i) != '"') {
        if (json.charAt(i) == '\\') i += 1
        i += 1
      }
      if (i >= n) { malformed = true; "" }
      else { val s = json.substring(start, i); i += 1; s }
    }

    def skipValue(): Unit = {
      skipWs()
      if (i >= n) { malformed = true; return }
      json.charAt(i) match {
        case '"' => parseString(); ()
        case '{' | '[' =>
          var depth = 0
          var inStr = false
          var done = false
          while (!done && i < n) {
            val c = json.charAt(i)
            if (inStr) {
              if (c == '\\') i += 1
              else if (c == '"') inStr = false
            } else c match {
              case '"' => inStr = true
              case '{' | '[' => depth += 1
              case '}' | ']' => depth -= 1; if (depth == 0) done = true
              case _ => ()
            }
            i += 1
          }
          if (!done) malformed = true
        case _ => // number / true / false / null
          while (i < n && ",}]".indexOf(json.charAt(i)) < 0 &&
            !Character.isWhitespace(json.charAt(i))) i += 1
      }
    }

    skipWs()
    if (i >= n || json.charAt(i) != '{') return json
    i += 1
    skipWs()
    if (i < n && json.charAt(i) == '}') return json // empty object

    val kept = new java.util.ArrayList[String]()
    var loop = true
    while (loop && !malformed) {
      skipWs()
      if (i >= n || json.charAt(i) != '"') malformed = true
      else {
        val mStart = i
        val key = parseString()
        skipWs()
        if (i >= n || json.charAt(i) != ':') malformed = true
        else {
          i += 1
          skipValue()
          if (!malformed) {
            if (key != k1 && key != k2) kept.add(json.substring(mStart, i).trim)
            skipWs()
            if (i < n && json.charAt(i) == ',') i += 1
            else if (i < n && json.charAt(i) == '}') loop = false
            else malformed = true
          }
        }
      }
    }
    if (malformed) json
    else {
      val sb = new java.lang.StringBuilder(n)
      sb.append('{')
      var j = 0
      while (j < kept.size()) {
        if (j > 0) sb.append(',')
        sb.append(kept.get(j))
        j += 1
      }
      sb.append('}').toString
    }
  }

  /** True iff the text parses as a JSON value (object/array/scalar). Used
    * for the reference's drop-on-unserializable branch (__init__.py:212-216):
    * rows whose attributes are not valid JSON are dropped with a warning
    * rather than failed. */
  def isValidJson(json: String): Boolean = {
    if (json == null) return false
    try {
      val f = new com.fasterxml.jackson.core.JsonFactory()
      val p = f.createParser(json)
      try {
        var t = p.nextToken()
        if (t == null) return false
        p.skipChildren()
        // no trailing garbage
        p.nextToken() == null
      } finally p.close()
    } catch { case _: Exception => false }
  }

  /** The static target of [[Kernels.isValidJson]]. */
  def isValidJson(json: UTF8String): Boolean = isValidJson(json.toString)
}
