package graft.plans

import java.util.LinkedHashSet

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.ColumnExpr.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Lenient unwrapping of integer literals passed to registered function
  * builders — SQL callers may hand any integral type (e.g. a BIGINT
  * literal), and a bare asInstanceOf[Int] would throw an opaque
  * ClassCastException. */
private[plans] object ExprArgs {
  def toInt(a: Any): Int = a match {
    case i: Int => i
    case l: Long => l.toInt
    case s: Short => s.toInt
    case b: Byte => b.toInt
    case other => throw new IllegalArgumentException(
      s"expected an integer literal, got $other")
  }
  def toLong(a: Any): Long = a match {
    case l: Long => l
    case i: Int => i.toLong
    case s: Short => s.toLong
    case b: Byte => b.toLong
    case other => throw new IllegalArgumentException(
      s"expected an integer literal, got $other")
  }
}

/** Native text tokenization/shingling for the dedup hot paths.
  *
  * Why custom Expressions (SURVEY.md §7.3 preference order b): the HOF
  * composition in [[graft.functions.TextFunctions]] —
  * `filter(split(lower(text)))` and the zip-of-shifted-slices shingler —
  * evaluates interpreted lambda frames per token and allocates several
  * intermediate arrays per row. Tokenization runs on EVERY document of a
  * corpus in the minhash/simhash pipelines (and 3x per doc in minhash:
  * signature stage + both sides of the exact-verify join), so at 100 TB
  * this is a scan-dominant cost. Each expression below is one pass over
  * the string's UTF-8 bytes inside whole-stage codegen.
  *
  * Parity contract (required by the DuckDB oracles): tokens are maximal
  * runs of [a-z0-9] bytes in `UTF8String.toLowerCase` output — the exact
  * semantics of `filter(split(lower(text), "[^a-z0-9]+"), len > 0)`.
  * Multi-byte UTF-8 units always have the high bit set, so treating
  * non-[a-z0-9] BYTES as separators is identical to the per-CHARACTER
  * regex. Verified against the HOF forms in NativeExprSpec.
  */
object TextNative {

  private[plans] def tokenize(s: UTF8String): Array[UTF8String] = {
    val b = s.toLowerCase.getBytes
    val out = new java.util.ArrayList[UTF8String]()
    var i = 0
    var start = -1
    while (i <= b.length) {
      val isTok = i < b.length && {
        val c = b(i)
        (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')
      }
      if (isTok) { if (start < 0) start = i }
      else if (start >= 0) {
        out.add(UTF8String.fromBytes(b, start, i - start))
        start = -1
      }
      i += 1
    }
    out.toArray(new Array[UTF8String](out.size()))
  }

  private[plans] val space = UTF8String.fromString(" ")

  private val md5 = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))

  /** The first 60 bits of md5(bytes) as a non-negative long — the binary
    * twin of `conv(substring(md5(x), 1, 15), 16, 10)` (15 hex chars =
    * first 7.5 digest bytes), without materializing the hex string. */
  private[plans] def md5Hash60(bytes: Array[Byte], offset: Int, len: Int): Long = {
    val d = md5.get()
    d.reset()
    d.update(bytes, offset, len)
    val h = d.digest()
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (h(i) & 0xffL); i += 1 }
    v >>> 4
  }

  /** BPE token COUNT — the budget-counting hot path: identical
    * semantics to `size(bpeEncode(...))` without materializing the
    * token array (pinned equal in BpeSpec). */
  def bpeCount(text: Column, merges: Seq[(String, String)]): Column =
    column(BpeCount(expression(text), merges.map { case (a, b) => s"$a $b" }.mkString(",")))

  /** BPE token array for a document under a learned merge table — one
    * native pass (tokenize + greedy merges); see [[BpeEncode]] for the
    * cross-engine representation contract. */
  def bpeEncode(text: Column, merges: Seq[(String, String)]): Column =
    column(BpeEncode(expression(text), merges.map { case (a, b) => s"$a $b" }.mkString(",")))

  /** Ordered word tokens (duplicates kept) — native twin of
    * [[graft.functions.TextFunctions.tokens]]. */
  def tokens(text: Column): Column =
    column(WordTokens(expression(text)))

  /** DISTINCT word n-gram shingles — native fusion of
    * `array_distinct(TextFunctions.shingles(text, n))`. */
  def shingles(text: Column, n: Int): Column =
    column(WordShingles(expression(text), n))

  /** Whole-document 60-bit portable SimHash in one pass — native fusion of
    * tokenize → md5-prefix hash per token → per-bit ±1 majority vote. */
  def simhash60(text: Column): Column =
    column(SimHash60(expression(text)))

  /** Highest multiplicity of any token in the array (the repetition
    * measure in quality gating) in one pass — native fusion of
    * explode + per-token count + max + join-back. */
  def topTokenCount(toks: Column): Column =
    column(TopTokenCount(expression(toks)))

  /** Token windows joined with spaces, duplicates kept and order
    * preserved — one pass per document. `step == n` gives non-overlapping
    * chunks INCLUDING a partial tail (the line/paragraph analog for
    * token-stream corpora: ceil(tokens/n) chunks); `step < n` gives
    * sliding n-grams over full windows only (the with-duplicates twin of
    * [[shingles]], for repetition measures). */
  def chunks(text: Column, n: Int, step: Int): Column =
    column(WordChunks(expression(text), n, step))

  /** Canonical text normalization in one pass: Unicode NFC composition,
    * Unicode lowercase, whitespace collapse, trim — the normalize-before-
    * hash step that keeps byte-level dedup from treating 'Café'/'Cafe
    * +U0301' as different documents. Oracle twin:
    * `trim(regexp_replace(lower(nfc_normalize(text)), '[ \\t\\n\\r]+', ' ', 'g'))`. */
  def normalizeText(text: Column): Column =
    column(NormalizeText(expression(text)))

  /** MinHash signature (array of k minima) over a shingle array in one
    * pass — native fusion of explode + k min-aggregates + re-group. */
  def minhashSig(shingles: Column, numHashes: Int): Column =
    column(MinHashSig(expression(shingles), numHashes))

  /** LSH band hashes (array of `bands` xxhash64 values over consecutive
    * r-runs of the minhash signature) in the same single pass. Returning
    * the band array from ONE expression matters: a generator fed
    * per-band expressions that each reference the signature column gets
    * projection-collapsed into `bands` copies of the whole signature
    * computation — this shape is evaluated exactly once per row. */
  def minhashBands(shingles: Column, numHashes: Int, bands: Int): Column =
    column(MinHashBands(expression(shingles), numHashes, bands))
}

case class WordTokens(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_tokens expects string, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_tokens"

  def compute(s: UTF8String): ArrayData =
    new GenericArrayData(TextNative.tokenize(s).asInstanceOf[Array[Any]])

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordTokens", this, classOf[WordTokens].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): WordTokens =
    copy(child = newChild)
}

/** 60-bit portable SimHash of a document: tokenize, 60-bit md5-prefix
  * hash per token (duplicates counted), per-bit majority vote (+1/-1,
  * ties → 0), assembled low-bit-first. One pass per document inside
  * whole-stage codegen — replaces an explode + 60-column aggregate +
  * join (i.e. a full shuffle) with a scalar projection. Zero tokens → 0.
  * Bit-identical to the portable explode/agg shape and to the DuckDB
  * oracle (verified in NativeExprSpec / the d_simhash correctness row). */
case class SimHash60(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_simhash60 expects string, got ${other.simpleString}")
  }
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "graft_simhash60"

  def compute(s: UTF8String): Long = {
    val toks = TextNative.tokenize(s)
    val votes = new Array[Int](60)
    var t = 0
    while (t < toks.length) {
      val b = toks(t).getBytes
      val h = TextNative.md5Hash60(b, 0, b.length)
      var bit = 0
      while (bit < 60) {
        votes(bit) += (if (((h >>> bit) & 1L) == 1L) 1 else -1)
        bit += 1
      }
      t += 1
    }
    var sim = 0L
    var bit = 0
    while (bit < 60) {
      if (votes(bit) > 0) sim |= (1L << bit)
      bit += 1
    }
    sim
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("simhash60", this, classOf[SimHash60].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash60 =
    copy(child = newChild)
}

/** MinHash signature over a shingle-set array: k minima of k hash
  * functions derived by double hashing — per shingle, two engine xxhash64
  * values (`xxhash64(s, 0)` / `xxhash64(s, 1)` bit-identically, via the
  * same XXH64 kernel the builtin uses), then k rotate-xor mixes. Fuses
  * explode + k min-aggregates + regroup (a shuffle of every shingle row)
  * into one scalar pass per document. Same mix formula as the previous
  * column pipeline, including Java's shift-count-mod-64 for rot=0. */
case class MinHashSig(child: Expression, numHashes: Int) extends UnaryExpression {
  require(numHashes >= 1, s"numHashes must be >= 1, got $numHashes")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash_sig expects array<string>, got ${other.simpleString}")
  }
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_sig"

  def compute(v: ArrayData): ArrayData = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val n = v.numElements()
    var i = 0
    while (i < n) {
      // xxhash64(s, 0) == hashInt(0, hashUTF8String(s, 42)): the builtin
      // folds children left-to-right from seed 42, and the int literal
      // hashes via the int kernel.
      val sHash = XXH64.hashUTF8String(v.getUTF8String(i), 42L)
      val x1 = XXH64.hashInt(0, sHash)
      val x2 = XXH64.hashInt(1, sHash)
      var k = 0
      while (k < numHashes) {
        val rot = k % 64
        val m = x1 ^ ((x2 << rot) | (x2 >>> (64 - rot)))
        if (m < mins(k)) mins(k) = m
        k += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minhashSig", this, classOf[MinHashSig].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** Band hashes of the minhash signature, fused with [[MinHashSig]]'s
  * pass: band j = the engine xxhash64 fold (seed 42, long kernel) over
  * minima [j*r, (j+1)*r) — bit-identical to
  * `xxhash64(element_at(sig, j*r+1), ..., element_at(sig, j*r+r))`. */
case class MinHashBands(child: Expression, numHashes: Int, bands: Int)
    extends UnaryExpression {
  require(bands >= 1 && numHashes % bands == 0,
    s"numHashes=$numHashes must divide into bands=$bands")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_minhash_bands expects array<string>, got ${other.simpleString}")
  }
  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_bands"

  @transient private lazy val sig = MinHashSig(child, numHashes)

  def compute(v: ArrayData): ArrayData = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val mins = sig.compute(v)
    val r = numHashes / bands
    val out = new Array[Long](bands)
    var j = 0
    while (j < bands) {
      var h = 42L
      var i = 0
      while (i < r) { h = XXH64.hashLong(mins.getLong(j * r + i), h); i += 1 }
      out(j) = h
      j += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minhashBands", this, classOf[MinHashBands].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashBands =
    copy(child = newChild)
}

/** Max multiplicity of any element of a string array: one hash-map pass
  * per row. Empty array → 0. */
case class TopTokenCount(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_top_token_count expects array<string>, got ${other.simpleString}")
  }
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "graft_top_token_count"

  def compute(v: ArrayData): Long = {
    val counts = new java.util.HashMap[UTF8String, Long]()
    var best = 0L
    var i = 0
    val n = v.numElements()
    while (i < n) {
      val t = v.getUTF8String(i)
      val c = counts.merge(t, 1L, (a, b) => a + b)
      if (c > best) best = c
      i += 1
    }
    best
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("topTokenCount", this, classOf[TopTokenCount].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): TopTokenCount =
    copy(child = newChild)
}

/** Token windows joined with spaces — duplicates kept, order preserved.
  * Two modes (see [[TextNative.chunks]]): `step == n` → non-overlapping
  * chunks with the partial tail included (zero tokens → empty array);
  * `step < n` → sliding full windows only. One tokenize pass per row
  * inside whole-stage codegen. */
case class WordChunks(child: Expression, n: Int, step: Int)
    extends UnaryExpression {
  require(n >= 1, s"chunk size must be >= 1, got $n")
  require(step >= 1 && step <= n,
    s"step must be in [1, n=$n], got $step")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_chunks expects string, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_chunks"

  def compute(s: UTF8String): ArrayData = {
    val toks = TextNative.tokenize(s)
    val space = TextNative.space
    val out = new java.util.ArrayList[UTF8String]()
    var i = 0
    if (step == n) {
      while (i < toks.length) {
        val len = math.min(n, toks.length - i)
        val parts = new Array[UTF8String](len)
        System.arraycopy(toks, i, parts, 0, len)
        out.add(UTF8String.concatWs(space, parts: _*))
        i += n
      }
    } else {
      while (i + n <= toks.length) {
        val parts = new Array[UTF8String](n)
        System.arraycopy(toks, i, parts, 0, n)
        out.add(UTF8String.concatWs(space, parts: _*))
        i += step
      }
    }
    new GenericArrayData(out.toArray(new Array[UTF8String](out.size()))
      .asInstanceOf[Array[Any]])
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordChunks", this, classOf[WordChunks].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): WordChunks =
    copy(child = newChild)
}

/** NFC + Unicode lowercase + whitespace collapse + trim in one pass.
  * Parity contract (required by the DuckDB oracle): NFC (not NFKC —
  * DuckDB only ships nfc_normalize), java.lang.String.toLowerCase with
  * Locale.ROOT (Unicode default casing, matching utf8proc's lower), and
  * the collapse class is explicitly [ \t\n\r] (identical regex semantics
  * in both engines). */
case class NormalizeText(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_norm_text expects string, got ${other.simpleString}")
  }
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_norm_text"

  def compute(s: UTF8String): UTF8String = {
    val composed = java.text.Normalizer
      .normalize(s.toString, java.text.Normalizer.Form.NFC)
      .toLowerCase(java.util.Locale.ROOT)
    val sb = new java.lang.StringBuilder(composed.length)
    var i = 0
    var pendingSpace = false
    while (i < composed.length) {
      val c = composed.charAt(i)
      if (c == ' ' || c == '\t' || c == '\n' || c == '\r') {
        if (sb.length() > 0) pendingSpace = true // leading runs -> trim
      } else {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.append(c)
      }
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("normalizeText", this, classOf[NormalizeText].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): NormalizeText =
    copy(child = newChild)
}

case class WordShingles(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"shingle size must be >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_shingles expects string, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingles"

  def compute(s: UTF8String): ArrayData = {
    val toks = TextNative.tokenize(s)
    val space = TextNative.space
    if (toks.length < n) {
      // HOF-parity fallback: one shingle of all tokens ("" when none)
      return new GenericArrayData(
        Array[Any](UTF8String.concatWs(space, toks: _*)))
    }
    val seen = new LinkedHashSet[UTF8String]()
    var i = 0
    while (i + n <= toks.length) {
      val parts = new Array[UTF8String](n)
      System.arraycopy(toks, i, parts, 0, n)
      seen.add(UTF8String.concatWs(space, parts: _*))
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[Any]])
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordShingles", this, classOf[WordShingles].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

/** Shared merge-table machinery for [[BpeEncode]]/[[BpeCount]] — parse
  * once per expression instance, apply per word. Production merge
  * tables run 10k–50k rules, so the per-word scan carries a 64-bit
  * character-set prefilter: a rule `(a)(b)` can only match a word whose
  * characters are a superset of the rule's, and merging never ADDS
  * characters (merged symbols are concatenations), so one mask AND
  * skips the vast majority of rules without touching the string. The
  * applied semantics are bit-identical to the unfiltered scan
  * (BpeSpec pins a 10k-rule table against its live-rule subset). */
private[plans] object BpeRules {
  def parse(spec: String, fn: String): Array[(String, String)] =
    spec.split(',').filter(_.nonEmpty).map { m =>
      m.split(' ') match {
        case Array(a, b) => (s"($a)($b)", s"($a$b)")
        case _ => throw new IllegalArgumentException(
          s"$fn: malformed merge '$m' (want 'left right')")
      }
    }

  private def charMask(s: String): Long = {
    var m = 0L
    var i = 0
    while (i < s.length) { m |= 1L << (s.charAt(i) % 64); i += 1 }
    m
  }

  def masks(rules: Array[(String, String)]): Array[Long] =
    rules.map { case (from, _) => charMask(from) }

  /** One word in the cross-engine paren representation with every
    * matching merge applied in learned-rank order. */
  def encodeWord(w: String, rules: Array[(String, String)],
                 masks: Array[Long]): String = {
    val sb = new java.lang.StringBuilder(w.length * 3)
    var i = 0
    while (i < w.length) { sb.append('(').append(w.charAt(i)).append(')'); i += 1 }
    var enc = sb.toString
    val wm = charMask(enc)
    var r = 0
    while (r < rules.length) {
      if ((masks(r) & ~wm) == 0L) {
        val rule = rules(r)
        if (enc.contains(rule._1)) enc = enc.replace(rule._1, rule._2)
      }
      r += 1
    }
    enc
  }
}

/** Byte-pair encoding of a document as ONE native pass: tokenize (the
  * [[TextNative.tokenize]] parity semantics), then greedily apply a
  * FIXED merge table to each word in learned-rank order. The
  * representation contract is the cross-engine one: a word is its
  * characters each wrapped in parens — `hello` → `(h)(e)(l)(l)(o)` —
  * and applying merge (a, b) is a plain left-to-right non-overlapping
  * string replace of `(a)(b)` with `(ab)`, which is exactly Sennrich's
  * one-pass pair merge (wrapping makes adjacent matches share no
  * characters, so `a b a b` merges twice in one pass) AND exactly what
  * the DuckDB oracle replays with nested `replace(...)` calls —
  * bit-identical token streams by construction.
  *
  * `spec` is the learned table as "a b,c d,…" (symbols are [a-z0-9]+
  * runs and their concatenations — never contain space or comma). */
case class BpeEncode(child: Expression, spec: String) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_bpe_encode expects string, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_bpe_encode"

  @transient private lazy val rules: Array[(String, String)] =
    BpeRules.parse(spec, prettyName)

  @transient private lazy val masks: Array[Long] = BpeRules.masks(rules)

  @transient private lazy val unwrap = java.util.regex.Pattern.compile("\\)\\(")

  def compute(s: UTF8String): ArrayData = {
    val words = TextNative.tokenize(s)
    val out = new java.util.ArrayList[UTF8String]()
    var wi = 0
    while (wi < words.length) {
      val enc = BpeRules.encodeWord(words(wi).toString, rules, masks)
      val toks = unwrap.split(enc.substring(1, enc.length - 1))
      var t = 0
      while (t < toks.length) { out.add(UTF8String.fromString(toks(t))); t += 1 }
      wi += 1
    }
    new GenericArrayData(out.toArray(new Array[UTF8String](out.size()))
      .asInstanceOf[Array[Any]])
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeEncode", this, classOf[BpeEncode].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeEncode =
    copy(child = newChild)
}

/** BPE token COUNT of a document — the budget-counting hot path fused:
  * same tokenize + merge semantics as [[BpeEncode]], but the per-word
  * token count is read off the encoded representation (separator count
  * + 1) without materializing any token string or array. One long per
  * document inside whole-stage codegen. */
case class BpeCount(child: Expression, spec: String) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_bpe_count expects string, got ${other.simpleString}")
  }
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "graft_bpe_count"

  @transient private lazy val rules: Array[(String, String)] =
    BpeRules.parse(spec, prettyName)

  @transient private lazy val masks: Array[Long] = BpeRules.masks(rules)

  def compute(s: UTF8String): Long = {
    val words = TextNative.tokenize(s)
    var total = 0L
    var wi = 0
    while (wi < words.length) {
      val enc = BpeRules.encodeWord(words(wi).toString, rules, masks)
      // tokens = ")(" separators + 1
      var seps = 0L
      var j = enc.indexOf(")(")
      while (j >= 0) { seps += 1; j = enc.indexOf(")(", j + 1) }
      total += seps + 1
      wi += 1
    }
    total
  }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeCount", this, classOf[BpeCount].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeCount =
    copy(child = newChild)
}
