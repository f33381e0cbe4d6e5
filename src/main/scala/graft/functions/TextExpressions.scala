package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlShims.{column => toCol, expression => toExpr}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the text-dedup hot path.
  *
  * The higher-order-function formulations (TextAnalysis.shingles,
  * Dedup.minhashSig/simhashCounts) are pure built-ins but evaluate
  * interpreted, one expression-tree dispatch per array element per lane —
  * measured ~20 ms/doc for a 64-lane MinHash at sf0.1 (~100 s for 5k docs).
  * These expressions do the same arithmetic in ONE eval call with primitive
  * loops: ~1000× fewer dispatches. They reproduce the HOF results exactly
  * (same xxhash64 seeds, same Carter-Wegman lane construction), which the
  * test suite asserts.
  *
  * Codegen: the per-element loop gains nothing from being inlined into
  * generated Java (it is already a primitive loop the JIT compiles), but a
  * CodegenFallback expression would kick its WHOLE stage out of
  * WholeStageCodegen — deoptimizing every neighboring expression in the
  * projection. So each expression generates a single virtual call to its
  * own `compute` via `addReferenceObj`: the stage stays fused, the loop
  * stays JIT-compiled Scala, one call per row.
  */

/** Word n-gram shingles of a space-tokenized string. */
case class WordShingles(child: Expression, n: Int, distinct: Boolean)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "word_shingles"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"word_shingles expects string, got ${child.dataType.simpleString}")

  private val space = UTF8String.fromString(" ")

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("wordShingles", this, classOf[WordShingles].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $self.compute($v);")
  }

  def compute(input: UTF8String): ArrayData = {
    val tokens = input.split(space, -1)
    if (tokens.length < n) return new GenericArrayData(Array.empty[Any])
    val nOut = tokens.length - n + 1
    val arr = new Array[AnyRef](nOut)
    val parts = new Array[UTF8String](n)
    var i = 0
    while (i < nOut) {
      var k = 0
      while (k < n) { parts(k) = tokens(i + k); k += 1 }
      arr(i) = UTF8String.concatWs(space, parts: _*)
      i += 1
    }
    if (!distinct) new GenericArrayData(arr)
    else {
      val set = new java.util.LinkedHashSet[AnyRef](java.util.Arrays.asList(arr: _*))
      new GenericArrayData(set.toArray)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** xxhash64 of each word n-gram shingle, in the same single pass that
  * builds it — the "grams travel as hashes, not text" doctrine
  * (cf. doc_decontam) applied at the expression layer. Hash values equal
  * Spark's `xxhash64(shingle)` (seed 42 over the UTF-8 bytes,
  * spec-asserted), so a consumer can mix this with the column-function
  * form. Used by the fuzzy-dedup verification join: candidate pairs
  * intersect long arrays (8 bytes/element, primitive equality) instead
  * of shuffling ~20-byte shingle strings twice.
  */
case class WordShingleHashes(child: Expression, n: Int, distinct: Boolean)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "word_shingle_hashes"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"word_shingle_hashes expects string, got ${child.dataType.simpleString}")

  private val space = UTF8String.fromString(" ")

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("wordShingleHashes", this,
      classOf[WordShingleHashes].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $self.compute($v);")
  }

  def compute(input: UTF8String): ArrayData = {
    val tokens = input.split(space, -1)
    if (tokens.length < n) return new GenericArrayData(Array.empty[Any])
    val nOut = tokens.length - n + 1
    val parts = new Array[UTF8String](n)
    val hashes = new Array[Long](nOut)
    var i = 0
    while (i < nOut) {
      var k = 0
      while (k < n) { parts(k) = tokens(i + k); k += 1 }
      val s = UTF8String.concatWs(space, parts: _*)
      // Spark's xxhash64(string): XXH64 over the UTF-8 bytes, seed 42
      hashes(i) = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      i += 1
    }
    if (!distinct) new GenericArrayData(hashes)
    else {
      val set = new java.util.LinkedHashSet[java.lang.Long]()
      var j = 0
      while (j < nOut) { set.add(hashes(j)); j += 1 }
      val out = new Array[Any](set.size())
      val it = set.iterator()
      var m = 0
      while (it.hasNext) { out(m) = it.next().longValue(); m += 1 }
      new GenericArrayData(out)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Chained-xxhash64 gram keys over per-token hashes: token j hashes once
  * (xxhash64 of its UTF-8 bytes, seed 42) and gram i is Catalyst's
  * multi-argument chain `xxhash64(th_i, ..., th_{i+n-1})` (seed 42,
  * hashLong folded left-to-right) — bit-identical to the HOF pair
  * `transform(toks, t -> xxhash64(t))` + `transform(sequence(1, size(th)
  * - (n-1)), i -> xxhash64(element_at(th, i), ...))` the strip/containment
  * family evaluated interpretively (one expression-tree dispatch per token
  * per gram) on every corpus pass. One compiled loop per document:
  * O(bytes) token hashing + n long-mixes per gram, no per-gram string
  * re-concatenation. Element i (0-based) is the gram starting at token
  * i+1 (1-based), exactly the `posexplode` contract the callers rely on;
  * fewer than n tokens yields an empty array (the callers filter
  * `size(toks) >= n` anyway — sequence() would DESCEND there). The keys
  * are grouping-only 8-byte longs (never output) — the accepted
  * hashed-gram doctrine documented at the call sites.
  */
case class TokenGramHashes(child: Expression, n: Int, distinct: Boolean)
    extends UnaryExpression {
  require(n >= 1, "gram width must be at least 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "token_gram_hashes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"token_gram_hashes expects array<string>, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("tokenGramHashes", this,
      classOf[TokenGramHashes].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $self.compute($v);")
  }

  def compute(arr: ArrayData): ArrayData = {
    val nToks = arr.numElements()
    if (nToks < n) return new GenericArrayData(Array.empty[Any])
    val th = new Array[Long](nToks)
    var j = 0
    while (j < nToks) {
      // xxhash64(t): null child leaves the seed untouched (Catalyst's
      // null-skip), non-null hashes the UTF-8 bytes at seed 42
      th(j) = if (arr.isNullAt(j)) 42L
      else {
        val s = arr.getUTF8String(j)
        XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      }
      j += 1
    }
    val nOut = nToks - n + 1
    val out = new Array[Long](nOut)
    var i = 0
    while (i < nOut) {
      var h = 42L
      var k = 0
      while (k < n) { h = XXH64.hashLong(th(i + k), h); k += 1 }
      out(i) = h
      i += 1
    }
    if (!distinct) new GenericArrayData(out)
    else {
      // mirror array_distinct: first occurrence order
      val set = new java.util.LinkedHashSet[java.lang.Long]()
      var m = 0
      while (m < nOut) { set.add(out(m)); m += 1 }
      val o = new Array[Any](set.size())
      val it = set.iterator()
      var p = 0
      while (it.hasNext) { o(p) = it.next().longValue(); p += 1 }
      new GenericArrayData(o)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Distinct character n-grams of a string (native twin of
  * TextAnalysis.trigramsOf — the interpreted per-character `substr`
  * transform dominated the language-ID profile build).
  */
case class CharNGrams(child: Expression, n: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "char_ngrams"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"char_ngrams expects string, got ${child.dataType.simpleString}")

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("charNGrams", this, classOf[CharNGrams].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $self.compute($v);")
  }

  def compute(input: UTF8String): ArrayData = {
    // operate on code points via String to match substr semantics
    val s = input.toString
    if (s.length < n) return new GenericArrayData(Array.empty[Any])
    val set = new java.util.LinkedHashSet[AnyRef]()
    var i = 0
    while (i + n <= s.length) {
      set.add(UTF8String.fromString(s.substring(i, i + n)))
      i += 1
    }
    new GenericArrayData(set.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** MinHash signature over a string array: lane_i = min over elements of
  * hashInt(i, xxhash64_bytes(s, 42)) — one byte-hash per element plus one
  * cheap int-mix per lane, with INDEPENDENT lanes. (A Carter-Wegman
  * `h1 + i*h2` shortcut was tried first: for large i the element with the
  * smallest h2 wins every lane, correlating the sketch lanes and inflating
  * union-sketch jaccard estimates to ~1.0 — caught by AggregatesSpec.)
  * Identical to the HOF formulation `xxhash64(s, lit(i))` in
  * Dedup.minhashSig (Catalyst chains: seed 42 → bytes → int).
  */
case class MinHashSignature(child: Expression, k: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "minhash_sig"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig expects array<string>, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("minhashSig", this, classOf[MinHashSignature].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $self.compute($v);")
  }

  def compute(arr: ArrayData): ArrayData = {
    val mins = Array.fill[Long](k)(Long.MaxValue)
    val nElems = arr.numElements()
    var e = 0
    while (e < nElems) {
      val s = arr.getUTF8String(e)
      // replicate Catalyst xxhash64(s, lit(i)): seed 42 → bytes → int chain
      val hs = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), 42L)
      var i = 0
      while (i < k) {
        val v = XXH64.hashInt(i, hs)
        if (v < mins(i)) mins(i) = v
        i += 1
      }
      e += 1
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Per-lane md5 minima of a string array, all lanes in ONE pass: lane i
  * holds the lexicographic minimum of `md5("i:" + element)` hex strings —
  * byte-for-byte the value `min(md5(concat_ws(":", lane, sh)))` computes
  * (Spark md5 = lowercase hex over UTF-8 bytes; hex ASCII makes String
  * ordering equal byte ordering), so the cross-engine md5-minhash queries
  * keep their DuckDB oracles. Replaces the explode(lanes)×explode(sh) +
  * groupBy formulation, which blew each document up |sh|·k rows and
  * shuffled them into a hash aggregate just to take per-lane minima —
  * this computes the same k strings in a narrow projection at scan
  * speed, so building a corpus signature INDEX (dedup_incremental) costs
  * a scan, not a shuffle. Empty input (doc shorter than the shingle
  * width) yields an empty array: posexplode then drops the doc, exactly
  * like the exploded formulation did.
  */
case class MinHashMd5Lanes(child: Expression, k: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "minhash_md5_lanes"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_md5_lanes expects array<string>, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("mhMd5", this, classOf[MinHashMd5Lanes].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $self.compute($v);")
  }

  private val hexDigits = "0123456789abcdef".toCharArray

  def compute(arr: ArrayData): ArrayData = {
    val nElems = arr.numElements()
    if (nElems == 0) return new GenericArrayData(Array.empty[Any])
    val md = java.security.MessageDigest.getInstance("MD5")
    val mins = new Array[String](k)
    var e = 0
    while (e < nElems) {
      val sh = arr.getUTF8String(e).getBytes
      var i = 0
      while (i < k) {
        md.reset()
        // UTF-8 bytes of s"$i:$shingle" — identical to concat_ws(":", ...)
        md.update(String.valueOf(i).getBytes(
          java.nio.charset.StandardCharsets.UTF_8))
        md.update(':'.toByte)
        md.update(sh)
        val d = md.digest()
        val hex = new Array[Char](32)
        var b = 0
        while (b < 16) {
          hex(b * 2) = hexDigits((d(b) >> 4) & 0xf)
          hex(b * 2 + 1) = hexDigits(d(b) & 0xf)
          b += 1
        }
        val h = new String(hex)
        if (mins(i) == null || h.compareTo(mins(i)) < 0) mins(i) = h
        i += 1
      }
      e += 1
    }
    new GenericArrayData(mins.map(UTF8String.fromString(_): Any))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Per-document md5 feature-bucket counts, in ONE pass: bucket of token t
  * = first 12 hex chars of md5(t) parsed as an integer (< 2^48, exact) mod
  * `nBuckets` — byte-identical to the composed Catalyst chain
  * `pmod(conv(substring(md5(tok), 1, 12), 16, 10) :: long, nBuckets)`
  * (spec-pinned), which is the cross-engine hash the DSIR row's DuckDB
  * oracle replays. The composed form materialized a 32-char hex STRING per
  * token, re-parsed 12 chars of it back into a long, and pushed every
  * token through an explode + hash-aggregate just to count per-bucket
  * occurrences; this computes the bucket from the raw digest bytes (first
  * 6 bytes big-endian — no hex round trip) and counts into a fixed
  * `nBuckets` array in-row, so the feature table costs a narrow projection
  * + an explode of ≤ nBuckets entries per document, no token-grain
  * aggregate. Output entries are (b, c) structs with c > 0, ascending b —
  * the same grain `groupBy(doc_id, b).count` produced.
  */
case class Md5BucketCounts(child: Expression, nBuckets: Int)
    extends UnaryExpression {
  require(nBuckets >= 1 && nBuckets <= (1 << 20),
    "nBuckets must be in [1, 2^20]")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("b", LongType, nullable = false),
    StructField("c", LongType, nullable = false))), containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "md5_bucket_counts"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"md5_bucket_counts expects array<string>, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("md5BucketCounts", this,
      classOf[Md5BucketCounts].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $self.compute($v);")
  }

  def compute(arr: ArrayData): ArrayData = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val counts = new Array[Long](nBuckets)
    val nToks = arr.numElements()
    var i = 0
    while (i < nToks) {
      // a null token would md5 to null and land in a null group — the
      // callers feed split() output, which never contains nulls; skip to
      // keep the expression total
      if (!arr.isNullAt(i)) {
        md.reset()
        md.update(arr.getUTF8String(i).getBytes)
        val d = md.digest()
        // first 12 hex chars == first 6 digest bytes, big-endian (< 2^48)
        val v = ((d(0) & 0xffL) << 40) | ((d(1) & 0xffL) << 32) |
          ((d(2) & 0xffL) << 24) | ((d(3) & 0xffL) << 16) |
          ((d(4) & 0xffL) << 8) | (d(5) & 0xffL)
        counts((v % nBuckets).toInt) += 1L
      }
      i += 1
    }
    var nOut = 0
    var b = 0
    while (b < nBuckets) { if (counts(b) > 0) nOut += 1; b += 1 }
    val out = new Array[Any](nOut)
    var o = 0
    b = 0
    while (b < nBuckets) {
      if (counts(b) > 0) {
        out(o) = org.apache.spark.sql.catalyst.InternalRow(b.toLong, counts(b))
        o += 1
      }
      b += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** md5-vote SimHash fingerprint, emitted as chunk values for pigeonhole
  * banding, all in ONE pass: bit k of the fingerprint is the strict-
  * majority vote over elements of "md5(\"k:\" + element) starts with hex
  * 0-7" (+1/-1 — equivalently, the high bit of the first digest byte is
  * 0), and the bits pack into `bits/chunkBits` chunk values
  * (chunk c = Σ 1<<(k%chunkBits) over its set bits). Byte-identical to
  * the exploded substring(md5(concat_ws(":",k,sh)),1,1) IN ('0'..'7')
  * vote chain (spec-pinned), so `dedup_simhash_md5`'s DuckDB oracle is
  * unchanged — but the fingerprint build is a narrow projection instead
  * of a |shingles|×bits row blowup through TWO hash-aggregate shuffles.
  */
case class SimHashMd5Chunks(child: Expression, bits: Int, chunkBits: Int)
    extends UnaryExpression {
  require(bits % chunkBits == 0, "bits must divide into whole chunks")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "simhash_md5_chunks"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash_md5_chunks expects array<string>, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("shMd5", this, classOf[SimHashMd5Chunks].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $self.compute($v);")
  }

  def compute(arr: ArrayData): ArrayData = {
    val nElems = arr.numElements()
    if (nElems == 0) return new GenericArrayData(Array.empty[Any])
    val md = java.security.MessageDigest.getInstance("MD5")
    val votes = new Array[Int](bits)
    var e = 0
    while (e < nElems) {
      val sh = arr.getUTF8String(e).getBytes
      var k = 0
      while (k < bits) {
        md.reset()
        md.update(String.valueOf(k).getBytes(
          java.nio.charset.StandardCharsets.UTF_8))
        md.update(':'.toByte)
        md.update(sh)
        // first hex digit in 0-7 <=> high bit of first byte is 0
        if ((md.digest()(0) & 0x80) == 0) votes(k) += 1 else votes(k) -= 1
        k += 1
      }
      e += 1
    }
    val nChunks = bits / chunkBits
    val chunks = new Array[Any](nChunks)
    var c = 0
    while (c < nChunks) {
      var cv = 0L
      var j = 0
      while (j < chunkBits) {
        if (votes(c * chunkBits + j) > 0) cv |= (1L << j)
        j += 1
      }
      chunks(c) = cv
      c += 1
    }
    new GenericArrayData(chunks)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** 64-bit SimHash over a string array (xxhash64 seed 42, matching Catalyst's
  * default-seed xxhash64 and therefore Dedup's HOF formulation): bit j of
  * the result is the majority vote of bit j over all element hashes.
  */
case class SimHash64(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "simhash64"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash64 expects array<string>, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("simhash", this, classOf[SimHash64].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $self.compute($v);")
  }

  def compute(arr: ArrayData): Long = {
    val counts = new Array[Long](64)
    val nElems = arr.numElements()
    var e = 0
    while (e < nElems) {
      val s = arr.getUTF8String(e)
      val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), 42L)
      var j = 0
      while (j < 64) {
        counts(j) += (h >>> j) & 1L
        j += 1
      }
      e += 1
    }
    var fp = 0L
    var j = 0
    while (j < 64) {
      if (counts(j) * 2 > nElems) fp |= (1L << j)
      j += 1
    }
    fp
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** COUNT-ONLY array intersection — `size(array_intersect(a, b))` without
  * materializing the intersection. The dedup verification joins compute
  * exactly this over every candidate pair (the hottest inner loop in the
  * near-dup family), and `array_intersect` allocates a result ArrayData
  * plus a second pass just to have `size` read its length. Semantics are
  * bit-identical to the composed form (spec-pinned on randomized inputs):
  * distinct elements of `a` also present in `b` are counted, a null
  * element counts once iff present on both sides, a null ARRAY yields
  * null. Long arrays (the shingle-hash path) count through an
  * open-addressing long table — no boxing; string arrays go through a
  * hash set of UTF8String.
  */
case class IntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "intersect_count"

  private def elemType: DataType =
    left.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(a, _), ArrayType(b, _)) if a == b &&
          (a == LongType || a == StringType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        "intersect_count expects two arrays of matching long/string " +
          s"element type, got ${l.simpleString} and ${r.simpleString}")
    }

  override def nullSafeEval(l: Any, r: Any): Any =
    compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("intersectCount", this,
      classOf[IntersectCount].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $self.compute($a, $b);")
  }

  def compute(a: ArrayData, b: ArrayData): Int = elemType match {
    case LongType => computeLong(a, b)
    case _ => computeGeneric(a, b)
  }

  /** Open-addressing table of b's longs (power-of-two size, linear
    * probing, tombstone-free removal by count-once flagging): one long[]
    * + one boolean[] per call, zero boxing.
    */
  private def computeLong(a: ArrayData, b: ArrayData): Int = {
    val nB = b.numElements()
    var cap = 8
    while (cap < nB * 2) cap <<= 1
    val keys = new Array[Long](cap)
    val used = new Array[Boolean](cap)
    val counted = new Array[Boolean](cap)
    val mask = cap - 1
    var bHasNull = false
    var i = 0
    while (i < nB) {
      if (b.isNullAt(i)) bHasNull = true
      else {
        val v = b.getLong(i)
        var slot = (java.lang.Long.hashCode(v) & 0x7fffffff) & mask
        while (used(slot) && keys(slot) != v) slot = (slot + 1) & mask
        keys(slot) = v; used(slot) = true
      }
      i += 1
    }
    var count = 0
    var aNullCounted = false
    i = 0
    val nA = a.numElements()
    while (i < nA) {
      if (a.isNullAt(i)) {
        if (!aNullCounted && bHasNull) count += 1
        aNullCounted = true
      } else {
        val v = a.getLong(i)
        var slot = (java.lang.Long.hashCode(v) & 0x7fffffff) & mask
        while (used(slot) && keys(slot) != v) slot = (slot + 1) & mask
        if (used(slot) && !counted(slot)) { counted(slot) = true; count += 1 }
      }
      i += 1
    }
    count
  }

  private def computeGeneric(a: ArrayData, b: ArrayData): Int = {
    val set = new java.util.HashSet[Any]()
    var bHasNull = false
    b.foreach(elemType, (_, v) =>
      if (v == null) bHasNull = true else set.add(v))
    var count = 0
    var aNullCounted = false
    a.foreach(elemType, (_, v) =>
      if (v == null) {
        if (!aNullCounted && bHasNull) count += 1
        aNullCounted = true
      } else if (set.remove(v)) count += 1)
    count
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

/** Unicode NFC normalization — the canonical-composition pass a text
  * pipeline runs before any hashing/dedup (the same logical string
  * arrives as composed U+00E9 from one crawler and decomposed
  * e + U+0301 from another; every downstream fingerprint diverges unless
  * spelling is canonicalized first). Fast path: `Normalizer.isNormalized`
  * is a scan with NO allocation, and real corpus text is almost always
  * already NFC — so the common case returns the input UTF8String
  * untouched and only the rare decomposed row pays the
  * String→normalize→UTF8String round trip. Same codegen shape as the
  * rest of this file: one virtual call, stage stays fused. Oracle twin:
  * DuckDB's `nfc_normalize` (both implement Unicode canonical
  * composition; the differential rows pin them equal).
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "nfc_normalize"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"nfc_normalize expects string, got ${child.dataType.simpleString}")

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("nfcNormalize", this, classOf[NfcNormalize].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $self.compute($v);")
  }

  def compute(input: UTF8String): UTF8String = {
    val s = input.toString
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC))
      input
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TextFunctions {
  def word_shingles(text: Column, n: Int, distinct: Boolean = false): Column =
    toCol(WordShingles(toExpr(text), n, distinct))
  def word_shingle_hashes(text: Column, n: Int,
      distinct: Boolean = false): Column =
    toCol(WordShingleHashes(toExpr(text), n, distinct))
  def token_gram_hashes(toks: Column, n: Int,
      distinct: Boolean = false): Column =
    toCol(TokenGramHashes(toExpr(toks), n, distinct))
  def char_ngrams(text: Column, n: Int): Column =
    toCol(CharNGrams(toExpr(text), n))
  def nfc_normalize(text: Column): Column =
    toCol(NfcNormalize(toExpr(text)))
  def minhash_sig(shingles: Column, k: Int): Column =
    toCol(MinHashSignature(toExpr(shingles), k))
  def minhash_md5_lanes(shingles: Column, k: Int): Column =
    toCol(MinHashMd5Lanes(toExpr(shingles), k))
  def md5_bucket_counts(toks: Column, nBuckets: Int): Column =
    toCol(Md5BucketCounts(toExpr(toks), nBuckets))
  def simhash_md5_chunks(shingles: Column, bits: Int, chunkBits: Int): Column =
    toCol(SimHashMd5Chunks(toExpr(shingles), bits, chunkBits))

  /** Spark's native BloomFilterAggregate (the engine's own runtime-filter
    * sketch — TypedImperativeAggregate over an org.apache.spark.util
    * .sketch.BloomFilter), not exposed as a SQL/DataFrame function, so
    * wired through the shim. `hashed` must be xxhash64 longs.
    */
  def bloom_filter_agg(hashed: Column, items: Long, bits: Long): Column =
    toCol(new org.apache.spark.sql.catalyst.expressions.aggregate
      .BloomFilterAggregate(toExpr(hashed),
        org.apache.spark.sql.catalyst.expressions.Literal(items),
        org.apache.spark.sql.catalyst.expressions.Literal(bits))
      .toAggregateExpression())

  /** Probe companion of [[bloom_filter_agg]]: true iff `hashed` may be in
    * the filter (no false negatives; bounded false positives).
    */
  def might_contain(bf: Column, hashed: Column): Column =
    toCol(org.apache.spark.sql.catalyst.expressions
      .BloomFilterMightContain(toExpr(bf), toExpr(hashed)))

  def intersect_count(a: Column, b: Column): Column =
    toCol(IntersectCount(toExpr(a), toExpr(b)))

  def simhash64(shingles: Column): Column =
    toCol(SimHash64(toExpr(shingles)))
}
