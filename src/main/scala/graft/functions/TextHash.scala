package graft.functions

import java.nio.charset.StandardCharsets
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass MinHash signature kernel.
  *
  * Semantics (kept bit-compatible with the DuckDB oracle SQL in
  * operators/Dedup.scala): tokens = text split on single spaces (empty
  * tokens preserved); shingles = adjacent token 2-grams, or [text] when
  * fewer than 2 tokens; per shingle two md5 hex digests of "0:"+s and
  * "1:"+s; signature slot k∈[0,4) = min over shingles of hex0[8k, 8k+8),
  * slots [4,8) likewise from hex1. Hex is lowercase, so byte order =
  * lexicographic string order.
  *
  * Composing this from built-ins needs `transform`/`aggregate`
  * higher-order functions, which Spark evaluates interpreted (no
  * whole-stage codegen) and which allocate an intermediate array per
  * pass — 18 passes for 8 slots. This native expression is one compiled
  * loop: no intermediate arrays, md5 via a thread-local MessageDigest. */
object TextHash {

  private val digest = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))
  private val HEX = "0123456789abcdef".toCharArray
  private val P0 = "0:".getBytes(StandardCharsets.US_ASCII)
  private val P1 = "1:".getBytes(StandardCharsets.US_ASCII)

  private def md5Hex(prefix: Array[Byte], s: Array[Byte], from: Int, len: Int): Array[Char] = {
    val md = digest.get()
    md.reset()
    md.update(prefix)
    md.update(s, from, len)
    val d = md.digest()
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      out(i * 2) = HEX((d(i) >> 4) & 0xf)
      out(i * 2 + 1) = HEX(d(i) & 0xf)
      i += 1
    }
    out
  }

  /** Update mins(base..base+3) with the 4 slices of one 32-hex digest. */
  private def updateMins(mins: Array[String], base: Int, hex: Array[Char]): Unit = {
    var k = 0
    while (k < 4) {
      val sub = new String(hex, k * 8, 8)
      if (mins(base + k) == null || sub.compareTo(mins(base + k)) < 0) mins(base + k) = sub
      k += 1
    }
  }

  /** The kernel: text → 8-element signature array. */
  def minhash8(text: UTF8String): ArrayData = {
    if (text == null) return null
    val bytes = text.getBytes
    val mins = new Array[String](8)

    def addShingle(from: Int, len: Int): Unit = {
      updateMins(mins, 0, md5Hex(P0, bytes, from, len))
      updateMins(mins, 4, md5Hex(P1, bytes, from, len))
    }

    // single-space tokenization over UTF-8 bytes (0x20 never appears in a
    // multi-byte UTF-8 sequence, so byte scanning is codepoint-safe). A
    // 2-gram shingle w[i] + " " + w[i+1] is exactly the contiguous byte
    // span from the start of token i to the end of token i+1, because
    // tokens are separated by single spaces — no concatenation needed.
    var spaces = 0
    var i = 0
    while (i < bytes.length) { if (bytes(i) == ' '.toByte) spaces += 1; i += 1 }
    if (spaces == 0) addShingle(0, bytes.length) // < 2 tokens → [text]
    else {
      var prevStart = 0 // start of token idx-1
      var curStart = 0 // start of token idx
      var idx = 0
      var j = 0
      while (j <= bytes.length) {
        if (j == bytes.length || bytes(j) == ' '.toByte) { // token idx ends at j
          if (idx >= 1) addShingle(prevStart, j - prevStart)
          prevStart = curStart
          curStart = j + 1
          idx += 1
        }
        j += 1
      }
    }
    new GenericArrayData(mins.map(m => if (m == null) null else UTF8String.fromString(m)))
  }

  /** 16-bit SimHash kernel: ONE md5 per token, all 16 bits derived from
    * the digest's first 16 hex digits in the same pass.
    *
    * Semantics (bit-compatible with the DuckDB oracle in
    * operators/TextOps.scala): tokens = text split on single spaces
    * (empties preserved); bit j∈[1,16] counts +1 when hex digit j of
    * md5(token) has its high bit set (digit ≥ 8), else −1; the output
    * character is '1' when the sum over tokens is > 0. The composed
    * form evaluated `md5(token)` 16 times per token inside an
    * interpreted `aggregate` higher-order function — a 16× constant
    * factor plus interpretation overhead on a 100 TB map stage. */
  def simhash16(text: UTF8String): UTF8String = {
    if (text == null) return null
    val bytes = text.getBytes
    val counts = new Array[Int](16)
    def addToken(from: Int, len: Int): Unit = {
      val md = digest.get()
      md.reset()
      md.update(bytes, from, len)
      val d = md.digest()
      var j = 0
      while (j < 16) {
        // hex digit j = high nibble of byte j/2 when j is even
        val nib = if ((j & 1) == 0) (d(j >> 1) >> 4) & 0xf else d(j >> 1) & 0xf
        counts(j) += (if ((nib & 8) != 0) 1 else -1)
        j += 1
      }
    }
    var start = 0
    var i = 0
    while (i <= bytes.length) {
      if (i == bytes.length || bytes(i) == ' '.toByte) {
        addToken(start, i - start)
        start = i + 1
      }
      i += 1
    }
    val out = new Array[Byte](16)
    var j = 0
    while (j < 16) {
      out(j) = if (counts(j) > 0) '1'.toByte else '0'.toByte
      j += 1
    }
    UTF8String.fromBytes(out)
  }

  /** 64-bit SimHash kernel — the scale-ready width (band space 2¹⁶ with
    * 4×16-bit bands, vs 2⁴ for the 16-bit signature's 4-bit bands): ONE
    * md5 per token, all 64 bits derived from the digest's first 8 bytes
    * in the same compiled pass.
    *
    * Semantics (bit-compatible with the DuckDB oracle in
    * operators/Dedup.scala): tokens = text split on single spaces
    * (empties preserved); bit j∈[1,64] counts +1 when bit (4−((j−1) mod
    * 4)) of hex digit ⌈j/4⌉ of md5(token) is set — i.e. the digest's
    * first 64 bits read most-significant-first — else −1; the output
    * character is '1' when the sum over tokens is > 0. Bits 1,5,9,…,61
    * are exactly [[simhash16]]'s bits 1…16 (the high bit of each of the
    * first 16 hex digits), so the widening refines the 16-bit signature
    * rather than replacing its geometry. */
  def simhash64(text: UTF8String): UTF8String = {
    if (text == null) return null
    val bytes = text.getBytes
    val counts = new Array[Int](64)
    def addToken(from: Int, len: Int): Unit = {
      val md = digest.get()
      md.reset()
      md.update(bytes, from, len)
      val d = md.digest()
      var j = 0
      while (j < 64) {
        // bit j = bit (7 − (j mod 8)) of digest byte j/8 — the first 64
        // digest bits in order, most-significant-first
        val bit = (d(j >> 3) >> (7 - (j & 7))) & 1
        counts(j) += (if (bit != 0) 1 else -1)
        j += 1
      }
    }
    var start = 0
    var i = 0
    while (i <= bytes.length) {
      if (i == bytes.length || bytes(i) == ' '.toByte) {
        addToken(start, i - start)
        start = i + 1
      }
      i += 1
    }
    val out = new Array[Byte](64)
    var j = 0
    while (j < 64) {
      out(j) = if (counts(j) > 0) '1'.toByte else '0'.toByte
      j += 1
    }
    UTF8String.fromBytes(out)
  }

  /** Token/2-gram statistics kernel: [n_tokens, n_2grams, n_uniq_2grams]
    * in ONE compiled pass. The composed form — `transform(sequence(...))`
    * + `array_distinct` — is an interpreted higher-order function whose
    * per-element lambda interpretation costs ~µs: ~1.7 ms/row on the
    * fixture docs, which turns a 100 TB quality-filter map stage into
    * the pipeline bottleneck. Tokens split on single spaces (empties
    * preserved); a 2-gram is the contiguous byte span from token i's
    * start to token i+1's end (single-space separation), matching
    * `concat_ws(' ', w[i], w[i+1])`. */
  def gram2Stats(text: UTF8String): ArrayData = {
    if (text == null) return null
    val bytes = text.getBytes
    var nTokens = 1
    var i = 0
    while (i < bytes.length) { if (bytes(i) == ' '.toByte) nTokens += 1; i += 1 }
    var n2 = 0L
    var uniq = 0L
    if (nTokens >= 2) {
      val seen = new java.util.HashSet[String]()
      var prevStart = 0
      var curStart = 0
      var idx = 0
      var j = 0
      while (j <= bytes.length) {
        if (j == bytes.length || bytes(j) == ' '.toByte) {
          if (idx >= 1) {
            n2 += 1
            if (seen.add(new String(bytes, prevStart, j - prevStart,
              StandardCharsets.UTF_8))) uniq += 1
          }
          prevStart = curStart
          curStart = j + 1
          idx += 1
        }
        j += 1
      }
    }
    new GenericArrayData(Array[Any](nTokens.toLong, n2, uniq))
  }

  /** k-word shingle list in ONE compiled pass: each shingle is the
    * contiguous byte span from token i's start to token i+k−1's end
    * (single-space separation), so no concatenation happens at all —
    * matching `concat_ws(' ', w[i], ..., w[i+k-1])` with out-of-range
    * elements skipped. Fewer than k tokens → one shingle = the whole
    * text. Replaces the interpreted `transform(sequence(...))` HOF in
    * the shingle-explode operators. */
  def shinglesK(text: UTF8String, k: Int): ArrayData = {
    if (text == null) return null
    val bytes = text.getBytes
    var n = 1
    var i = 0
    while (i < bytes.length) { if (bytes(i) == ' '.toByte) n += 1; i += 1 }
    if (n <= k) return new GenericArrayData(Array[Any](text.copy()))
    val starts = new Array[Int](n)
    var idx = 1
    i = 0
    while (i < bytes.length) {
      if (bytes(i) == ' '.toByte) { starts(idx) = i + 1; idx += 1 }
      i += 1
    }
    def tokenEnd(t: Int): Int = if (t < n - 1) starts(t + 1) - 1 else bytes.length
    val out = new Array[Any](n - k + 1)
    var t = 0
    while (t <= n - k) {
      out(t) = UTF8String.fromBytes(
        java.util.Arrays.copyOfRange(bytes, starts(t), tokenEnd(t + k - 1)))
      t += 1
    }
    new GenericArrayData(out)
  }

  /** Count of tokens contained in a fixed word set, one compiled pass —
    * replaces the interpreted `size(filter(w, _.isin(...)))` HOF in the
    * stopword-density signals. */
  def tokenSetCount(text: UTF8String, words: Array[Array[Byte]]): Long = {
    val bytes = text.getBytes
    var count = 0L
    var start = 0
    var i = 0
    def matches(from: Int, len: Int): Boolean = {
      var w = 0
      while (w < words.length) {
        val cand = words(w)
        if (cand.length == len) {
          var k = 0
          var ok = true
          while (ok && k < len) { ok = cand(k) == bytes(from + k); k += 1 }
          if (ok) return true
        }
        w += 1
      }
      false
    }
    while (i <= bytes.length) {
      if (i == bytes.length || bytes(i) == ' '.toByte) {
        if (matches(start, i - start)) count += 1
        start = i + 1
      }
      i += 1
    }
    count
  }

  /** Min-shingle fingerprint kernel (winnowing-style): min over md5 of
    * k-word shingles, ONE md5 per shingle in one compiled pass.
    *
    * Semantics (bit-compatible with the DuckDB oracle in
    * operators/TextOps.scala): tokens split on single spaces (empties
    * preserved); when the doc has ≥ k tokens there are n−k+1 shingles of
    * k adjacent tokens joined by single spaces — i.e. the contiguous
    * byte span from the start of token i to the end of token i+k−1;
    * with < k tokens the single shingle is the whole text (concat_ws
    * skips the missing tokens). Digests compare as unsigned bytes, which
    * equals lowercase-hex lexicographic order; only the min is hexified. */
  def minShingleFp(text: UTF8String, k: Int): UTF8String = {
    if (text == null) return null
    val bytes = text.getBytes
    // token start offsets (single-space split; 0x20 never occurs inside
    // a multi-byte UTF-8 sequence, so byte scanning is codepoint-safe)
    var n = 1
    var i = 0
    while (i < bytes.length) { if (bytes(i) == ' '.toByte) n += 1; i += 1 }
    val starts = new Array[Int](n)
    var idx = 1
    i = 0
    while (i < bytes.length) {
      if (bytes(i) == ' '.toByte) { starts(idx) = i + 1; idx += 1 }
      i += 1
    }
    def tokenEnd(t: Int): Int = if (t < n - 1) starts(t + 1) - 1 else bytes.length
    val md = digest.get()
    var min: Array[Byte] = null
    def addSpan(from: Int, to: Int): Unit = {
      md.reset()
      md.update(bytes, from, to - from)
      val d = md.digest()
      if (min == null) min = d
      else {
        var c = 0
        var stop = false
        while (c < 16 && !stop) {
          val cmp = (d(c) & 0xff) - (min(c) & 0xff)
          if (cmp < 0) { min = d; stop = true }
          else if (cmp > 0) stop = true
          else c += 1
        }
      }
    }
    if (n <= k) addSpan(0, bytes.length)
    else {
      var t = 0
      while (t <= n - k) { addSpan(starts(t), tokenEnd(t + k - 1)); t += 1 }
    }
    val out = new Array[Byte](32)
    i = 0
    while (i < 16) {
      out(i * 2) = HEX((min(i) >> 4) & 0xf).toByte
      out(i * 2 + 1) = HEX(min(i) & 0xf).toByte
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** First 60 bits of md5(text) as a non-negative long — numerically
    * equal to `conv(substring(md5(text), 1, 15), 16, 10)`: the first 15
    * hex digits ARE the digest's top 60 bits, i.e. its first 8 bytes
    * read big-endian, shifted right 4. One digest, no hex string, no
    * base conversion — the shuffle-fingerprint path stays an exact
    * bijection of the oracle's `substring(md5(x), 1, 15)` grouping
    * (a prefix collision merges the same keys on both engines) at a
    * fraction of the built-in md5→substring→conv chain's cost. */
  def md5Prefix64(text: UTF8String): Long = {
    val md = digest.get()
    md.reset()
    val d = md.digest(text.getBytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }
}
