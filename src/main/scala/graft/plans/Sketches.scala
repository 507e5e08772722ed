package graft.plans

import java.security.MessageDigest
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Row-local kernels behind graft's native scalar functions: static
  * methods that [[NativeFn]] calls once per row, from generated code
  * and from interpreted eval alike (the rows are in [[GraftFunctions]]).
  *
  * Most replace a higher-order-function formulation (`transform` /
  * `aggregate` over shingles or vectors). Those are interpreter-bound:
  * every lambda node re-walks per element, and the md5/xxhash
  * sub-expressions evaluate interpreted inside the HOF. At sf0.1 the
  * minhash+simhash pair cost ~37s of a 77s bench. These kernels compute
  * the identical values (same md5("p:shingle") keying, same md5 token
  * hashing, same left-to-right folds) in tight JVM loops; the specs
  * hold them equal to the HOF forms.
  */
object Sketches {
  private val md5Local = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }
  private val HexDigits = "0123456789abcdef".toCharArray

  private def hex(bytes: Array[Byte]): UTF8String = {
    val out = new Array[Byte](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      out(2 * i) = HexDigits((bytes(i) >> 4) & 0xf).toByte
      out(2 * i + 1) = HexDigits(bytes(i) & 0xf).toByte
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  private def ltUnsigned(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < a.length) {
      val x = a(i) & 0xff; val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    false
  }

  /** Cosine similarity of two double vectors: the dot product and both
    * norms in one left-to-right pass over the common prefix. The folds
    * run in the order of `aggregate(zip_with(...))` and DuckDB's
    * `list_sum`, so on equal-length vectors the result is bit-identical
    * to the oracle's. As a kernel it stays inside the codegen stage of
    * the O(N²) candidate joins it serves, where the HOF form would
    * walk an interpreted lambda tree per pair. */
  def cosine(xs: ArrayData, ys: ArrayData): Double = {
    val n = math.min(xs.numElements(), ys.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = xs.getDouble(i); val y = ys.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Dot product of two double vectors — [[cosine]]'s loop without the
    * norms, folded left-to-right like DuckDB's `list_sum`. One kernel
    * covers dot(a,b), squared norms (dot(x,x)) and, by the identity
    * argmin |x−c|² = argmin (c·c − 2x·c), L2 codebook assignment — so
    * PQ-style quantization needs no second distance primitive. */
  def dot(xs: ArrayData, ys: ArrayData): Double = {
    val n = math.min(xs.numElements(), ys.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) { dot += xs.getDouble(i) * ys.getDouble(i); i += 1 }
    dot
  }

  /** MinHash signature: for p in 0..perms-1, min over shingles of
    * md5(p + ":" + shingle) as lowercase hex — byte-for-byte the value
    * the HOF form (and the DuckDB oracle) computes. A NULL shingle is
    * skipped, as `array_min` skips the NULL md5 it gives. Called from
    * generated code, one call per row. */
  def minhashSig(shingles: ArrayData, perms: Int): ArrayData = {
    val md = md5Local.get()
    val mins = new Array[Array[Byte]](perms)
    val prefixes = new Array[Array[Byte]](perms)
    var p = 0
    while (p < perms) { prefixes(p) = (p.toString + ":").getBytes; p += 1 }
    var i = 0
    val n = shingles.numElements()
    while (i < n) {
      if (!shingles.isNullAt(i)) {
        val s = shingles.getUTF8String(i).getBytes
        p = 0
        while (p < perms) {
          md.reset()
          md.update(prefixes(p))
          md.update(s)
          val d = md.digest()
          if (mins(p) == null || ltUnsigned(d, mins(p))) mins(p) = d
          p += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins.map(m => if (m == null) null else hex(m)))
  }

  /** Distinct word k-grams (space-joined, first-occurrence order) — the
    * value-identical native form of
    * `array_distinct(transform(sequence(...), concat_ws(slice(...))))`.
    * That HOF chain evaluates interpreted per row; in the dedup operators
    * it sits under a self-join (so it runs once per join SIDE) which made
    * shingling, not joining, the dominant cost at sf0.1. A NULL token
    * is skipped, as `concat_ws` skips it: the gram joins the window's
    * non-NULL tokens (an all-NULL window is the empty string). */
  def wordShingles(tokens: ArrayData, k: Int): ArrayData = {
    val n = tokens.numElements()
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[UTF8String](n * 2)
    var i = 0
    while (i <= n - k) {
      var len = 0
      var present = 0
      var j = 0
      while (j < k) {
        if (!tokens.isNullAt(i + j)) {
          len += tokens.getUTF8String(i + j).numBytes(); present += 1
        }
        j += 1
      }
      val out = new Array[Byte](len + math.max(present - 1, 0))
      var pos = 0
      var first = true
      j = 0
      while (j < k) {
        if (!tokens.isNullAt(i + j)) {
          if (!first) { out(pos) = ' '.toByte; pos += 1 }
          first = false
          val t = tokens.getUTF8String(i + j)
          t.writeToMemory(out, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + pos)
          pos += t.numBytes()
        }
        j += 1
      }
      seen.add(UTF8String.fromBytes(out))
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[AnyRef]])
  }

  /** Fused posting-key kernel for the plain inverted-index dedup forms
    * ([[graft.operators.Dedup.ngramJaccardPairs]] /
    * `ngramContainmentPairs`): (keyPrefix, text) → array<bigint> of
    * xxhash64(keyPrefix ++ gram) for each DISTINCT word k-gram, in one
    * pass over the text bytes. Value-identical to the chain it
    * replaces — `xxhash64(concat_ws("|", grp, gram))` over
    * `explode(graft_shingles(filter(split(lower(text), " "), t -> t <>
    * ''), k))` — by construction:
    *  - lowercase is [[lower]], the call `lower()` makes;
    *  - `split(s, " ")` splits on single 0x20 bytes (a space never
    *    occurs inside a UTF-8 multibyte sequence), and the `t <> ''`
    *    filter drops the empties consecutive/leading/trailing spaces
    *    produce — so scanning for 0x20-separated non-empty byte runs
    *    yields the identical token list;
    *  - grams dedupe on their BYTES (k tokens space-joined), exactly
    *    [[wordShingles]]' LinkedHashSet — never on the hash, so a
    *    64-bit collision between distinct grams still contributes two
    *    array entries (same count `size(g)` the packed key carries);
    *  - the key hash is [[XXH64]] seed-42 over keyPrefix ++ gram
    *    bytes, the bytes `concat_ws` would have built (callers pass
    *    keyPrefix = "grp|", or "" for a NULL group — concat_ws skips
    *    nulls).
    * Output array length == distinct gram count (the n_g the packed
    * posting key needs); fewer than k tokens → empty array. */
  def gramKeys(keyPrefix: UTF8String, text: UTF8String, k: Int): ArrayData = {
    val bytes = lower(text).getBytes
    val spans = tokenSpans(bytes)
    val ntok = spans.length / 2
    if (ntok < k) return new GenericArrayData(Array.emptyLongArray)
    val pre = keyPrefix.getBytes
    val preLen = pre.length
    // one reusable buffer: [prefix][gram]; the gram region doubles as
    // the dedup probe (wrapped, copy only on first occurrence)
    var maxGram = 0
    var i = 0
    while (i <= ntok - k) {
      var len = k - 1
      var j = 0
      while (j < k) { len += spans(2 * (i + j) + 1) - spans(2 * (i + j)); j += 1 }
      if (len > maxGram) maxGram = len
      i += 1
    }
    val buf = new Array[Byte](preLen + maxGram)
    System.arraycopy(pre, 0, buf, 0, preLen)
    val seen = new java.util.HashSet[UTF8String](ntok * 2)
    val out = new Array[Long](ntok - k + 1)
    var nout = 0
    i = 0
    while (i <= ntok - k) {
      var pos = preLen
      var j = 0
      while (j < k) {
        if (j > 0) { buf(pos) = 0x20; pos += 1 }
        val tl = spans(2 * (i + j) + 1) - spans(2 * (i + j))
        System.arraycopy(bytes, spans(2 * (i + j)), buf, pos, tl)
        pos += tl
        j += 1
      }
      val gramLen = pos - preLen
      // membership probe wraps the reusable buffer (no allocation);
      // the stored copy is taken only on first occurrence
      if (!seen.contains(UTF8String.fromBytes(buf, preLen, gramLen))) {
        seen.add(UTF8String.fromBytes(
          java.util.Arrays.copyOfRange(buf, preLen, pos)))
        out(nout) = org.apache.spark.sql.catalyst.expressions.XXH64
          .hashUnsafeBytes(buf,
            org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, pos, 42L)
        nout += 1
      }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, nout))
  }

  /** `lower(text)` as SQL computes it under the default collation and
    * ICU case mappings: ASCII folds byte by byte, anything else is
    * lowercased by ICU over the string made valid (an invalid UTF-8
    * sequence becomes U+FFFD). `UTF8String.toLowerCase` differs there:
    * it decodes invalid bytes its own way and lowercases with the JVM. */
  private def lower(text: UTF8String): UTF8String =
    org.apache.spark.sql.catalyst.util.CollationAwareUTF8String.toLowerCase(text)

  /** Shared byte-level whitespace tokenizer: spans of non-0x20 bytes
    * (split(" ") + drop-empties, byte-exact — see [[gramKeys]]).
    * Returns packed spans: [s0,e0,s1,e1,...], length 2·ntok. */
  private def tokenSpans(bytes: Array[Byte]): Array[Int] = {
    val n = bytes.length
    var cap = 64
    var spans = new Array[Int](cap)
    var m = 0
    var i = 0
    while (i < n) {
      if (bytes(i) == 0x20) i += 1
      else {
        val s = i
        while (i < n && bytes(i) != 0x20) i += 1
        if (m + 2 > cap) { cap *= 2; spans = java.util.Arrays.copyOf(spans, cap) }
        spans(m) = s; spans(m + 1) = i; m += 2
      }
    }
    java.util.Arrays.copyOf(spans, m)
  }

  /** Top 60 bits of an md5 digest — the value of
    * `CAST(CONV(SUBSTRING(MD5(x), 1, 15), 16, 10) AS BIGINT)` (15 hex
    * chars = the digest's first 7.5 bytes = big-endian u64 >>> 4). */
  private def md5Top60(d: Array[Byte]): Long = {
    var u = 0L
    var i = 0
    while (i < 8) { u = (u << 8) | (d(i) & 0xffL); i += 1 }
    u >>> 4
  }

  /** Row-local kernel for
    * [[graft.operators.TextStats.duplicateNgramFraction]]: text →
    * array of the DISTINCT md5 digests (16-byte binary) of its word
    * n-grams, tokenized like `filter(split(text, ' '), x -> x <> '')`
    * (NO lowercase — that form never lowercased) and keyed like
    * `md5(array_join(slice(w, i, n), ' '))` (the digest bytes are the
    * hex string's value 1:1). Because the array is per-doc distinct,
    * the caller's old global `.distinct()` Exchange is dropped
    * outright — (doc, digest) rows come out of the explode already
    * unique. Fewer than n tokens → empty array. Invalid UTF-8 is
    * re-encoded first, as `split` decodes and re-encodes it. */
  def md5GramSet(text: UTF8String, n: Int): ArrayData = {
    val bytes =
      (if (text.isValid) text else UTF8String.fromString(text.toString)).getBytes
    val spans = tokenSpans(bytes)
    val ntok = spans.length / 2
    if (ntok < n) return new GenericArrayData(Array.empty[Any])
    val md = md5Local.get()
    var maxGram = 0
    var i = 0
    while (i <= ntok - n) {
      var len = n - 1
      var j = 0
      while (j < n) { len += spans(2 * (i + j) + 1) - spans(2 * (i + j)); j += 1 }
      if (len > maxGram) maxGram = len
      i += 1
    }
    val buf = new Array[Byte](maxGram)
    val seen = new java.util.LinkedHashSet[java.nio.ByteBuffer](ntok * 2)
    i = 0
    while (i <= ntok - n) {
      var pos = 0
      var j = 0
      while (j < n) {
        if (j > 0) { buf(pos) = 0x20; pos += 1 }
        val s = spans(2 * (i + j)); val tl = spans(2 * (i + j) + 1) - s
        System.arraycopy(bytes, s, buf, pos, tl)
        pos += tl
        j += 1
      }
      md.reset()
      md.update(buf, 0, pos)
      seen.add(java.nio.ByteBuffer.wrap(md.digest()))
      i += 1
    }
    val out = new Array[Any](seen.size())
    val it = seen.iterator()
    i = 0
    while (it.hasNext) { out(i) = it.next().array(); i += 1 }
    new GenericArrayData(out)
  }

  /** Row-local kernel for [[graft.operators.Dedup.substringDedup]]:
    * tokens (array<string>, the caller's lowercased token column) →
    * array<long> of the 60-bit md5 window hashes in POSITION order —
    * element i is `CAST(CONV(SUBSTRING(MD5(array_join(slice(w, i+1,
    * k), ' ')), 1, 15), 16, 10) AS BIGINT)`, so `posexplode` yields
    * the identical (pos, gh) rows the interpreted
    * transform+md5+conv chain produced. A NULL token is skipped, as
    * `array_join` skips it: the window joins its non-NULL tokens only
    * (an all-NULL window hashes the empty string). Fewer than k tokens
    * → empty array (callers gate on `size(w) >= k` anyway). */
  def winHashes(tokens: ArrayData, k: Int): ArrayData = {
    val ntok = tokens.numElements()
    if (ntok < k) return new GenericArrayData(Array.emptyLongArray)
    val md = md5Local.get()
    val toks = new Array[UTF8String](ntok)
    var i = 0
    while (i < ntok) {
      if (!tokens.isNullAt(i)) toks(i) = tokens.getUTF8String(i)
      i += 1
    }
    val out = new Array[Long](ntok - k + 1)
    var maxGram = 0
    i = 0
    while (i <= ntok - k) {
      var len = k - 1
      var j = 0
      while (j < k) {
        if (toks(i + j) != null) len += toks(i + j).numBytes()
        j += 1
      }
      if (len > maxGram) maxGram = len
      i += 1
    }
    val buf = new Array[Byte](maxGram)
    i = 0
    while (i <= ntok - k) {
      var pos = 0
      var first = true
      var j = 0
      while (j < k) {
        val t = toks(i + j)
        if (t != null) {
          if (!first) { buf(pos) = 0x20; pos += 1 }
          first = false
          t.writeToMemory(buf,
            org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + pos)
          pos += t.numBytes()
        }
        j += 1
      }
      md.reset()
      md.update(buf, 0, pos)
      out(i) = md5Top60(md.digest())
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Row-local fold for [[graft.operators.Corpus.hashEmbed]]: text →
    * array<struct<d int, v bigint>> of the doc's NONZERO feature-hash
    * cells, ascending d. Per token t of `tokens(text)` (lowercase
    * whitespace tokens — [[gramKeys]]' byte-exact tokenization over
    * `lower(text)`), h = md5-60-bit(t), d = h mod dim, sgn = bit 12 of
    * h, v(d) = Σ sgn. The old form exploded one row per TOKEN and paid
    * a (doc_id, dim) groupBy Exchange for an aggregation that is
    * entirely WITHIN-doc — this computes the same cells row-locally,
    * removing that shuffle outright (guide §2.4). */
  def hashEmbedCells(text: UTF8String, dim: Int): ArrayData = {
    val bytes = lower(text).getBytes
    val spans = tokenSpans(bytes)
    val ntok = spans.length / 2
    val md = md5Local.get()
    val acc = new Array[Long](dim)
    var i = 0
    while (i < ntok) {
      md.reset()
      md.update(bytes, spans(2 * i), spans(2 * i + 1) - spans(2 * i))
      val h = md5Top60(md.digest())
      val d = (h % dim).toInt // h >= 0, so % == pmod
      acc(d) += (if (((h >> 12) & 1L) == 1L) 1L else -1L)
      i += 1
    }
    var nz = 0
    i = 0
    while (i < dim) { if (acc(i) != 0L) nz += 1; i += 1 }
    val out = new Array[Any](nz)
    var o = 0
    i = 0
    while (i < dim) {
      if (acc(i) != 0L) {
        out(o) = new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(Array[Any](i, acc(i)))
        o += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Hyperplane-LSH bucket: same deterministic LCG plane family as
    * operators.Ann's HOF form — w(p,d) = lcg(p*1024+d) scaled to
    * [-1,1) — evaluated in one fused loop. */
  def lshBucket(vec: ArrayData, planes: Int): Long = {
    val n = vec.numElements()
    var bucket = 0L
    var p = 0
    while (p < planes) {
      var s = 0.0
      var d = 0
      while (d < n) {
        val seed = (1103515245L * (p * 1024 + d) + 12345L) % 2147483648L
        s += vec.getDouble(d) * ((seed.toDouble / 2147483648.0) * 2.0 - 1.0)
        d += 1
      }
      // NaN sets the bit: SQL orders NaN above every value
      if (!(s < 0.0)) bucket |= (1L << p)
      p += 1
    }
    bucket
  }

  /** 128-bit digest of a double vector's packed bytes: per element one
    * tag byte (0 = null, 1 = value) + the 8 big-endian bytes of
    * `doubleToLongBits`, md5'd, lowercase hex. Replaces the decimal
    * string rendering (`md5(concat_ws(",", transform(x, CAST AS
    * STRING)))`) that cost ~1.5 KB of formatting per 64-dim row — this
    * packs 9 bytes/element in a tight loop. The tag byte also fixes a
    * correctness hole in the string form: `concat_ws` DROPS null
    * elements, so [1.0, null] and [1.0] collided into one gid; here
    * they digest differently. Internal-only value (a grouping key for
    * exact-duplicate vectors), so no cross-engine contract — returned
    * as the RAW 16 digest bytes (not hex): the gid rides every
    * downstream shuffle and join key in the embedding-dedup family,
    * and binary16 is half the bytes of the hex rendering with memcmp
    * comparisons. */
  def vecDigest(vec: ArrayData): Array[Byte] = {
    val md = md5Local.get()
    md.reset()
    val n = vec.numElements()
    val buf = new Array[Byte](9 * n) // zero-initialized: null = 9 zero bytes
    var i = 0
    while (i < n) {
      if (!vec.isNullAt(i)) {
        val base = 9 * i
        buf(base) = 1
        var bits = java.lang.Double.doubleToLongBits(vec.getDouble(i))
        var j = 8
        while (j >= 1) { buf(base + j) = (bits & 0xff).toByte; bits >>>= 8; j -= 1 }
      }
      i += 1
    }
    md.digest(buf)
  }

  /** 60-bit average-hash (aHash) over a raw byte buffer treated as a
    * 1-D grayscale strip: the buffer splits into 60 equal cells
    * (cell j = bytes [⌊jL/60⌋, ⌊(j+1)L/60⌋)), bit j is 1 iff cell j's
    * mean ≥ the global mean. Comparisons are exact integer
    * cross-multiplies (cellSum·L ≥ total·cellCnt — no floats), so any
    * engine reproduces the hash bit-for-bit. 60 bits (not the
    * classical 64) keeps every intermediate in signed-64 range on both
    * sides, the [[simhash64]] discipline, and lets the phash ride the
    * same 4×15-bit banding helpers. Safe for payloads up to ~10⁸
    * bytes (255·L² < 2⁶³). Empty buffer → 0. The DECODE step
    * (image codec → pixel buffer) is the multimodal stub; this kernel
    * is the real arithmetic a decoded grayscale buffer would get. */
  def phash60(bytes: Array[Byte]): Long = {
    val L = bytes.length
    if (L == 0) return 0L
    val cellSum = new Array[Long](60)
    val cellCnt = new Array[Long](60)
    var total = 0L
    var j = 0
    while (j < 60) {
      var i = (j.toLong * L / 60).toInt
      val end = ((j + 1).toLong * L / 60).toInt
      cellCnt(j) = end - i
      while (i < end) { cellSum(j) += bytes(i) & 0xff; i += 1 }
      total += cellSum(j)
      j += 1
    }
    var out = 0L
    j = 0
    while (j < 60) {
      if (cellCnt(j) > 0 && cellSum(j) * L >= total * cellCnt(j))
        out |= 1L << j
      j += 1
    }
    out
  }

  /** 60-bit difference-hash (dHash), [[phash60]]'s gradient sibling:
    * 61 cells, bit j is 1 iff cell j+1's mean strictly exceeds cell
    * j's — exact integer cross-multiply, empty cells count as mean 0
    * via sum 0 / cnt 0 (0 > s·0 is false, s·c > 0·c is true iff
    * s,c > 0). Captures byte-gradient structure that aHash's global
    * threshold misses. Empty buffer → 0. */
  def dhash60(bytes: Array[Byte]): Long = {
    val L = bytes.length
    if (L == 0) return 0L
    val s = new Array[Long](61)
    val c = new Array[Long](61)
    var j = 0
    while (j < 61) {
      var i = (j.toLong * L / 61).toInt
      val end = ((j + 1).toLong * L / 61).toInt
      c(j) = end - i
      while (i < end) { s(j) += bytes(i) & 0xff; i += 1 }
      j += 1
    }
    var out = 0L
    j = 0
    while (j < 60) {
      if (s(j + 1) * c(j) > s(j) * c(j + 1)) out |= 1L << j
      j += 1
    }
    out
  }

  /** 60-bit token hash: the first 15 hex digits of md5(token) — i.e. the
    * big-endian first 8 digest bytes shifted right 4. md5-derived so any
    * engine (the DuckDB oracle included) reproduces it exactly. */
  def tokenHash60(token: UTF8String): Long = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(token.getBytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  /** 60-bit SimHash over tokens (multiplicity-weighted), bit j from the
    * sign of Σ ±1 by bit j of [[tokenHash60]] — engine-portable (pure
    * md5), so near-dup results are oracle-checkable cross-engine. A
    * NULL token votes as hash 0 (−1 on every bit), as the SQL form's
    * `IF(NULL, 1, -1)` does. */
  def simhash64(tokens: ArrayData): Long = {
    val counts = new Array[Int](60)
    var i = 0
    val n = tokens.numElements()
    while (i < n) {
      val h = if (tokens.isNullAt(i)) 0L else tokenHash60(tokens.getUTF8String(i))
      var j = 0
      while (j < 60) {
        if (((h >>> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
        j += 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 60) {
      if (counts(j) >= 0) out |= (1L << j)
      j += 1
    }
    out
  }

  /** Hashed char-trigram linear-model score — the inference kernel of a
    * fasttext-style text classifier (quality gate / topic filter), run
    * row-local in the scan stage with zero shuffle. Normalization is
    * byte-level (ASCII lowercase, keep only [a-z ] — the corpus is
    * ASCII; multibyte UTF-8 bytes are ≥ 0x80 and drop out exactly like
    * the oracle's `regexp_replace(lower(text),'[^a-z ]','','g')`).
    * Feature = every char trigram with multiplicity, bucketed by the
    * polynomial hash (c1·961 + c2·31 + c3) mod |w|; the score is the
    * EXACT integer sum of the bucket weights (milli-units), so the
    * result is order-, partition- and engine-independent — no float
    * folds. Returns [score_milli, n_grams]. Weights are a plugged-in
    * table (a trained model ships here as a broadcast constant); the
    * gate query uses the deterministic LCG family in [[lcgWeights]] so
    * the DuckDB oracle can derive the same table in SQL. */
  def ngramScoreMilli(text: UTF8String, w: Array[Long]): ArrayData = {
    val bytes = text.getBytes
    val d = w.length
    val norm = new Array[Byte](bytes.length)
    var m = 0
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      if (b >= 'A' && b <= 'Z') { norm(m) = (b + 32).toByte; m += 1 }
      else if ((b >= 'a' && b <= 'z') || b == ' ') { norm(m) = b.toByte; m += 1 }
      i += 1
    }
    var milli = 0L
    i = 0
    while (i + 2 < m) {
      val h = (norm(i) * 961 + norm(i + 1) * 31 + norm(i + 2)) % d
      milli += w(h)
      i += 1
    }
    new GenericArrayData(Array(milli, math.max(m - 2, 0).toLong))
  }

  /** Deterministic stand-in weight table for [[ngramScoreMilli]]'s gate
    * query: w(b) = (b·69069 + 362437) mod 2001 − 1000 ∈ [−1000, 1000]
    * milli-units — reproducible in one line of SQL on any engine. */
  def lcgWeights(d: Int): Array[Long] =
    Array.tabulate(d)(b => (b.toLong * 69069L + 362437L) % 2001L - 1000L)

  /** Landmark audio fingerprints (the Shazam shape) over a raw byte
    * buffer treated as a 1-D signal: frame into `frameBytes` chunks
    * (partial tail dropped), per-frame energy = exact unsigned byte
    * sum (the decode stub's stand-in for spectral magnitude), PEAKS =
    * strict interior local maxima, and each peak pairs with its next
    * ≤ `fanout` peaks within `maxDt` frames. A landmark encodes as
    * (q(e₁)·16 + q(e₂))·(maxDt+1) + dt with q(e) = e / qDiv — all
    * integer arithmetic, so any engine reproduces the set exactly.
    * Returns the DISTINCT fingerprints ascending (one row's worth of
    * index keys, deduped at the source so the inverted-index join
    * never sees within-track multiplicity). Fewer than 3 frames → no
    * peaks → empty. */
  def audioFp(bytes: Array[Byte], frameBytes: Int, fanout: Int,
      maxDt: Int, qDiv: Int): ArrayData = {
    val n = bytes.length / frameBytes
    if (n < 3) return new GenericArrayData(Array.empty[Any])
    val e = new Array[Long](n)
    var f = 0
    while (f < n) {
      var s = 0L
      var i = f * frameBytes
      val end = i + frameBytes
      while (i < end) { s += bytes(i) & 0xff; i += 1 }
      e(f) = s
      f += 1
    }
    var nPeaks = 0
    val peaks = new Array[Int](n)
    f = 1
    while (f < n - 1) {
      if (e(f) > e(f - 1) && e(f) > e(f + 1)) { peaks(nPeaks) = f; nPeaks += 1 }
      f += 1
    }
    val fps = new java.util.TreeSet[java.lang.Long]()
    var i = 0
    while (i < nPeaks) {
      var k = 1
      while (k <= fanout && i + k < nPeaks) {
        val dt = peaks(i + k) - peaks(i)
        if (dt <= maxDt)
          fps.add(
            ((e(peaks(i)) / qDiv) * 16L + e(peaks(i + k)) / qDiv)
              * (maxDt + 1) + dt)
        k += 1
      }
      i += 1
    }
    val out = new Array[Any](fps.size)
    val it = fps.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next().longValue(); j += 1 }
    new GenericArrayData(out)
  }

  /** Row-local char-entropy statistics: per-code-point counts folded to
    * (n_chars, n_distinct_chars, Σ c·round(ln c, 6) as DECIMAL(38,6))
    * in ONE pass over the string — replaces the per-CHARACTER
    * explode+two-shuffle formulation (12.5M exploded rows at sf0.1)
    * with a scan-stage kernel; the final entropy expression stays in
    * SQL unchanged.
    *
    * Exactness contract (must stay bit-identical to
    * `SUM(c * CAST(ROUND(LN(CAST(c AS DOUBLE)), 6) AS DECIMAL(38,6)))`
    * grouped per code point):
    *  - "char" = one Unicode code point, exactly what
    *    `substring(text, i, 1)` yields (UTF8String counts code points);
    *  - ROUND(double, 6) then the DECIMAL(38,6) cast both go through
    *    the Double.toString-based BigDecimal, mirrored two-step here
    *    (the [[graft.plans.GramAgg]] discipline);
    *  - c · dec is exact integer arithmetic on 1e-6 units with overflow
    *    escalation to BigInteger, so the sum is exact at any doc size.
    */
  def charEntropyStats(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val s = text.toString
    // ASCII fast path: a 128-slot array instead of a boxed map — the
    // corpus is overwhelmingly ASCII and the per-char cost drops to an
    // array increment; non-ASCII code points take the map.
    val ascii = new Array[Long](128)
    var counts: java.util.HashMap[Integer, Long] = null
    var i = 0
    var n = 0L
    while (i < s.length) {
      val c = s.charAt(i)
      if (c < 128) { ascii(c) += 1L; i += 1 }
      else {
        val cp = s.codePointAt(i)
        i += Character.charCount(cp)
        if (counts == null) counts = new java.util.HashMap[Integer, Long]()
        counts.merge(cp, 1L, (a, b) => a + b)
      }
      n += 1L
    }
    if (counts == null) counts = new java.util.HashMap[Integer, Long]()
    var a = 0
    while (a < 128) {
      if (ascii(a) > 0L) counts.put(a, ascii(a))
      a += 1
    }
    // memo round(ln(c), 6) units per distinct count value — counts
    // repeat heavily across a doc's alphabet
    val lnUnits = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    var unitsLo = 0L
    var unitsBig: java.math.BigInteger = null
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next()
      var u = lnUnits.get(c: java.lang.Long)
      if (u == null) {
        val r = new java.math.BigDecimal(
            java.lang.Double.toString(math.log(c.toDouble)))
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        val dec = new java.math.BigDecimal(java.lang.Double.toString(r))
          .setScale(6, java.math.RoundingMode.HALF_UP)
        u = java.lang.Long.valueOf(dec.unscaledValue().longValueExact())
        lnUnits.put(c, u)
      }
      try {
        val term = Math.multiplyExact(c, u.longValue())
        unitsLo = Math.addExact(unitsLo, term)
      } catch { case _: ArithmeticException =>
        if (unitsBig == null) unitsBig = java.math.BigInteger.ZERO
        unitsBig = unitsBig
          .add(java.math.BigInteger.valueOf(unitsLo))
          .add(java.math.BigInteger.valueOf(c)
            .multiply(java.math.BigInteger.valueOf(u.longValue())))
        unitsLo = 0L
      }
    }
    var total = java.math.BigInteger.valueOf(unitsLo)
    if (unitsBig != null) total = total.add(unitsBig)
    val bd = new java.math.BigDecimal(total, 6)
    val dec =
      if (bd.precision() > 38) null // DECIMAL(38,6) SUM overflow → null
      else org.apache.spark.sql.types.Decimal(bd, 38, 6)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n, counts.size().toLong, dec))
  }
}
