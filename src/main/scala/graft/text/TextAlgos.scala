package graft.text

/** Deterministic text/vector algorithms used by the dedup, similarity and
  * fingerprinting operators. All pure functions — safe inside typed Dataset
  * map stages at any parallelism. Hashing is splitmix64-style mixing (public
  * domain constants), NOT Scala's hashCode (which is JVM-stable but weakly
  * mixed).
  */
object TextAlgos {

  def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** Stable 64-bit string hash (FNV-1a folded through mix64). */
  def hashString(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i).toLong
      h *= 0x100000001b3L
      i += 1
    }
    mix64(h)
  }

  def tokenize(text: String): Array[String] =
    if (text == null || text.isEmpty) Array.empty
    else text.trim.split("\\s+").filter(_.nonEmpty)

  /** Word w-shingles as 64-bit hashes (deduplicated). */
  def shingleHashes(tokens: Array[String], w: Int): Array[Long] =
    shingleHashesOrdered(tokens, w).distinct

  /** MinHash signature of k permutations via k independent mixes of each
    * shingle hash (one-pass, O(shingles * k)).
    */
  def minhash(shingles: Array[Long], k: Int): Array[Long] = {
    val sig = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < shingles.length) {
      val s = shingles(i)
      var p = 0
      while (p < k) {
        val h = mix64(s ^ mix64(p.toLong * 0x9e3779b97f4a7c15L))
        if (h < sig(p)) sig(p) = h
        p += 1
      }
      i += 1
    }
    sig
  }

  /** LSH band keys: hash each band of `rows` consecutive signature slots;
    * docs sharing any band key are candidate pairs.
    */
  def bandKeys(sig: Array[Long], bands: Int): Array[Long] = {
    val rows = sig.length / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = mix64(b.toLong)
      var r = 0
      while (r < rows) { h = mix64(h ^ sig(b * rows + r)); r += 1 }
      out(b) = h
      b += 1
    }
    out
  }

  /** Exact Jaccard similarity of two shingle-hash sets, scaled to 0..1000
    * (integer — engine-independent comparison).
    */
  def jaccardX1000(a: Array[Long], b: Array[Long]): Int = {
    if (a.isEmpty && b.isEmpty) return 1000
    if (a.isEmpty || b.isEmpty) return 0
    val setB = b.toSet
    var inter = 0
    var i = 0
    while (i < a.length) { if (setB.contains(a(i))) inter += 1; i += 1 }
    val union = a.length + b.length - inter
    (inter.toLong * 1000L / union).toInt
  }

  /** 64-bit SimHash over token hashes (unweighted). */
  def simhash(tokens: Array[String]): Long = {
    val counts = new Array[Int](64)
    var i = 0
    while (i < tokens.length) {
      val h = hashString(tokens(i))
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** Codegen entry point for the `graft_simhash64` Catalyst expression
    * (graft.functions.SimHash64): called from generated Java via the
    * static forwarder, one UTF8String→String conversion, no boxing.
    */
  def simhashUtf8(s: org.apache.spark.unsafe.types.UTF8String): Long =
    simhash(tokenize(s.toString))

  /** Codegen entry point for `graft_cosine_x10000`
    * (graft.functions.CosineX10000): identical accumulation order to
    * `cosine`, so expression and typed paths are bit-identical.
    */
  def cosineX10000ArrayData(
      a: org.apache.spark.sql.catalyst.util.ArrayData,
      b: org.apache.spark.sql.catalyst.util.ArrayData): Long =
    math.floor(cosine(a.toFloatArray(), b.toFloatArray()) * 10000).toLong

  /** Winnowing document fingerprint (Schleimer/Wilkerson/Aiken, SIGMOD'03):
    * k-gram rolling hashes, min per sliding window of `w`, deduplicated.
    */
  def winnow(tokens: Array[String], k: Int, w: Int): Array[Long] = {
    val grams = shingleHashesOrdered(tokens, k)
    if (grams.isEmpty) return Array.empty
    if (grams.length <= w) return Array(grams.min)
    val out = scala.collection.mutable.LinkedHashSet.empty[Long]
    var i = 0
    while (i + w <= grams.length) {
      var m = grams(i)
      var j = i + 1
      while (j < i + w) { if (grams(j) < m) m = grams(j); j += 1 }
      out += m
      i += 1
    }
    out.toArray
  }

  /** Ordered (non-deduplicated) k-gram hashes for winnowing — public so
    * `graft.Verify` can materialize them for the DuckDB winnow oracle.
    */
  def shingleHashesOrdered(tokens: Array[String], w: Int): Array[Long] = {
    if (tokens.length < w) return Array.empty
    val out = new Array[Long](tokens.length - w + 1)
    var i = 0
    while (i + w <= tokens.length) {
      var h = 0L
      var j = 0
      while (j < w) { h = mix64(h ^ hashString(tokens(i + j))); j += 1 }
      out(i) = h
      i += 1
    }
    out
  }

  /** Euclidean (L2) distance of two float vectors, computed in double
    * with sequential accumulation (ref uses L2 with an accept threshold,
    * signature_module_main.py:106).
    */
  def l2(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val d = a(i).toDouble - b(i).toDouble
      acc += d * d
      i += 1
    }
    math.sqrt(acc)
  }

  /** Codegen entry point for `graft_hyperplane_bucket`
    * (graft.functions.HyperplaneBucket).
    */
  def hyperplaneBucketArrayData(
      a: org.apache.spark.sql.catalyst.util.ArrayData,
      nPlanes: Int,
      planeOffset: Int): Int =
    hyperplaneBucket(a.toFloatArray(), nPlanes, planeOffset)

  private val sha256Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("SHA-256")
  }

  /** Codegen entry point for `graft_count_vec` (graft.functions.CountVec):
    * feature-hash histogram of a token array — token t increments dimension
    * (first 4 sha256(utf8(t)) bytes as unsigned big-endian) mod dims. This
    * is bit-identical to the SQL formulation
    * `pmod(conv(substring(sha2(t, 256), 1, 8), 16, 10), dims)` (first 8 hex
    * chars = first 4 digest bytes) and to the DuckDB oracle's
    * `substring(sha256(t), 1, 8)::... % dims`, so the expression can replace
    * the fold without touching any oracle. Null tokens are skipped — in the
    * SQL fold their null dimension matches no bucket.
    */
  def countVecArrayData(
      toks: org.apache.spark.sql.catalyst.util.ArrayData,
      dims: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val counts = new Array[Long](dims)
    val md = sha256Local.get()
    var i = 0
    val n = toks.numElements()
    while (i < n) {
      if (!toks.isNullAt(i)) {
        md.reset()
        val d = md.digest(toks.getUTF8String(i).getBytes)
        val u = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
          ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        counts((u % dims).toInt) += 1L
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(counts)
  }

  /** Codegen entry point for `graft_cos2_x10000` (graft.functions.
    * Cos2X10000): floor(cos²(a,b) · 10000) over two long-count vectors in
    * EXACT integer arithmetic — dot and norms are exact longs, and Java
    * integer division on the nonnegative operands IS floor division, so
    * the result is bit-identical to the SQL-fold formulation
    * `(dot² · 10000 - pmod(..)) / (na · nb)` and to DuckDB `//`.
    * Zero-norm vectors score 0 (the convention RagOps documents).
    */
  def cos2X10000LongArrayData(
      a: org.apache.spark.sql.catalyst.util.ArrayData,
      b: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
    val n = a.numElements()
    var dot = 0L; var na = 0L; var nb = 0L
    var i = 0
    while (i < n) {
      val x = a.getLong(i); val y = b.getLong(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0L || nb == 0L) 0L
    else if (dot <= 30000000L && na <= Long.MaxValue / nb)
      dot * dot * 10000L / (na * nb)
    else {
      // exact big-integer fallback: for heavy count vectors dot²·10⁴ (or
      // na·nb) wraps 2^63 in long arithmetic — wrap would return garbage
      // silently where DuckDB raises; stay exact instead (result ≤ 10000)
      val d = java.math.BigInteger.valueOf(dot)
      d.multiply(d).multiply(java.math.BigInteger.valueOf(10000L))
        .divide(java.math.BigInteger.valueOf(na)
          .multiply(java.math.BigInteger.valueOf(nb)))
        .longValueExact()
    }
  }

  /** Codegen entry point for `graft_l2_x10000`
    * (graft.functions.L2X10000): floor(l2 * 10000), integer-scaled for
    * engine-independent comparison.
    */
  def l2X10000ArrayData(
      a: org.apache.spark.sql.catalyst.util.ArrayData,
      b: org.apache.spark.sql.catalyst.util.ArrayData): Long =
    math.floor(l2(a.toFloatArray(), b.toFloatArray()) * 10000).toLong

  /** Canonical decimal string of a double — Python `str(float(x))` /
    * DuckDB `CAST(double AS VARCHAR)` format: shortest-roundtrip digits,
    * fixed notation for 1e-4 <= |x| < 1e16 (with a trailing `.0` for
    * integral values), otherwise `d[.ddd]e±XX` scientific with a
    * two-digit-minimum exponent; `inf`/`-inf`/`nan` spelled lowercase.
    * This is the engine's cross-system numeric canonicalization for
    * signature hashing (the reference's `str(float(val))`,
    * ref: agents/knowledge_graph_agent/utils.py:49-63).
    *
    * Digits come from `Double.toString`, then are SHORTENED to the true
    * shortest round-tripping form: on JDK 17 `Double.toString` is the
    * pre-Ryū algorithm, which for some doubles (16/17-digit normals,
    * subnormals like 4.9E-324) emits one more digit than necessary
    * (JDK-4511638, fixed in JDK 19) — a shorter form is accepted iff one
    * of the two truncation grid neighbours parses back to the identical
    * double, choosing the nearer when both do. Parity with DuckDB is
    * pinned by FunctionsSpec, a ScalaCheck shortest-form property and
    * the q41 oracle.
    */
  def canonDouble(d: Double): String = {
    if (d != d) "nan"
    else if (d == Double.PositiveInfinity) "inf"
    else if (d == Double.NegativeInfinity) "-inf"
    else if (d == 0.0) { if (1.0 / d < 0) "-0.0" else "0.0" }
    else {
      val neg = d < 0
      val s = java.lang.Double.toString(math.abs(d))
      val ei = s.indexOf('E')
      val (mant, e10) =
        if (ei >= 0) (s.substring(0, ei), s.substring(ei + 1).toInt) else (s, 0)
      val dot = mant.indexOf('.')
      var digits = mant.substring(0, dot) + mant.substring(dot + 1)
      var exp = dot - 1 + e10
      val lead = digits.indexWhere(_ != '0')
      if (lead > 0) { digits = digits.substring(lead); exp -= lead }
      digits = digits.substring(0, digits.lastIndexWhere(_ != '0') + 1)
      // Shorten to the true shortest round-tripping form. A one-digit-
      // shorter representation exists iff one of the two m-digit grid
      // neighbours of the value round-trips (parse intervals are
      // contiguous, so if ANY m-digit decimal parses back to d, the
      // nearest one — floor or ceil of the truncation — does too). Two
      // parseDouble probes per attempt; the first attempt fails for the
      // overwhelming majority of values (Double.toString is usually
      // already shortest), so the hot signature-hash path never touches
      // BigDecimal (the old exact-expansion built 300+-digit values for
      // small magnitudes). When BOTH neighbours round-trip, pick the one
      // nearer to d (ties: even last digit) — the same choice Python
      // repr / DuckDB make.
      val ad = math.abs(d)
      var shortening = digits.length > 1
      while (shortening) {
        val m = digits.length - 1
        val e10 = exp - m + 1
        val lo = digits.substring(0, m)
        val hi = (lo.toLong + 1).toString // <=16 digits, fits a Long
        val loOk = java.lang.Double.parseDouble(lo + "E" + e10) == ad
        val hiOk = java.lang.Double.parseDouble(hi + "E" + e10) == ad
        if (!loOk && !hiOk) shortening = false
        else {
          val useHi =
            if (loOk && hiOk) {
              val dd = new java.math.BigDecimal(ad) // rare: both in interval
              val dLo = dd.subtract(new java.math.BigDecimal(lo + "E" + e10)).abs
              val dHi = new java.math.BigDecimal(hi + "E" + e10).subtract(dd).abs
              val c = dLo.compareTo(dHi)
              if (c != 0) c > 0 else (hi.last - '0') % 2 == 0
            } else hiOk
          val cand = if (useHi) hi else lo
          exp = (cand.length - 1) + e10
          digits = cand.substring(0, cand.lastIndexWhere(_ != '0') + 1)
          shortening = digits.length > 1
        }
      }
      // nearest-at-final-length correction: JDK-4511638 can also mis-round
      // the LAST digit — the emitted decimal round-trips but is not the
      // nearest grid point (e.g. …449116e+25 where repr() says …449117).
      // If a same-magnitude neighbour also round-trips, move to the one
      // nearest the exact value (ties: even last digit). Two parseDouble
      // probes; the (rare) multi-candidate case alone pays for BigDecimal.
      {
        val e10 = exp - digits.length + 1
        val cur = digits.toLong // <=17 digits, fits a Long
        val cands = Seq(cur - 1, cur, cur + 1).filter(c =>
          c > 0 && java.lang.Double.parseDouble(c.toString + "E" + e10) == ad)
        if (cands.length > 1) {
          val dd = new java.math.BigDecimal(ad)
          def dist(c: Long) =
            dd.subtract(new java.math.BigDecimal(c.toString + "E" + e10)).abs
          val chosen = cands.map(c => (c, dist(c))).reduce { (x, y) =>
            val cmp = x._2.compareTo(y._2)
            if (cmp < 0) x else if (cmp > 0) y
            else if (x._1 % 2 == 0) x else y
          }._1
          val cs = chosen.toString
          exp = (cs.length - 1) + e10
          digits = cs.substring(0, cs.lastIndexWhere(_ != '0') + 1)
        }
      }
      val sb = new StringBuilder
      if (neg) sb.append('-')
      if (exp >= -4 && exp < 16) {
        if (exp >= digits.length - 1)
          sb.append(digits).append("0" * (exp - digits.length + 1)).append(".0")
        else if (exp >= 0)
          sb.append(digits.substring(0, exp + 1)).append('.').append(digits.substring(exp + 1))
        else
          sb.append("0.").append("0" * (-exp - 1)).append(digits)
      } else {
        sb.append(digits.charAt(0))
        if (digits.length > 1) sb.append('.').append(digits.substring(1))
        sb.append('e').append(if (exp >= 0) '+' else '-')
        val ae = math.abs(exp)
        if (ae < 10) sb.append('0')
        sb.append(ae)
      }
      sb.toString
    }
  }

  /** Codegen entry point for `graft_canon_double`. */
  def canonDoubleUtf8(d: Double): org.apache.spark.unsafe.types.UTF8String =
    org.apache.spark.unsafe.types.UTF8String.fromString(canonDouble(d))

  /** Cosine similarity of two float vectors, computed in double. */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      dot += a(i).toDouble * b(i).toDouble
      na += a(i).toDouble * a(i).toDouble
      nb += b(i).toDouble * b(i).toDouble
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Deterministic hyperplane coefficient in [-1, 1) for (plane, dim) —
    * exposed so the DuckDB oracle SQL can inline the exact same literals
    * (Double.toString is shortest-roundtrip in Java 17, so the SQL parse
    * recovers the identical double).
    */
  def hyperplaneCoef(p: Int, d: Int): Double =
    (mix64(p.toLong * 0x632be59bd9b4e019L ^ d.toLong * 0x9e3779b97f4a7c15L) >> 11).toDouble / (1L << 52).toDouble

  /** Sign-bit LSH bucket of a vector under `nPlanes` deterministic random
    * hyperplanes (plane coefficients derived from mix64 of (plane, dim)).
    * `planeOffset` selects the plane family: table t of a multi-table
    * (OR-amplified) LSH index uses planes [t*nPlanes, (t+1)*nPlanes) —
    * disjoint coefficient streams from the same mix64 derivation, so
    * every table is independent but fully deterministic.
    */
  def hyperplaneBucket(v: Array[Float], nPlanes: Int, planeOffset: Int = 0): Int = {
    var bucket = 0
    var p = 0
    while (p < nPlanes) {
      var dot = 0.0
      var d = 0
      while (d < v.length) {
        dot += hyperplaneCoef(planeOffset + p, d) * v(d)
        d += 1
      }
      if (dot >= 0) bucket |= (1 << p)
      p += 1
    }
    bucket
  }
}
