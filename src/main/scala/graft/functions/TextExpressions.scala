package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Word-shingle generator (UDTF-shaped Catalyst `Generator`, the
  * escalation path SURVEY §2.11 names for the J-family parsers).
  *
  * Emits every DISTINCT k-word shingle of the whitespace-tokenized
  * input — the distinct set a downstream `.distinct()` would produce
  * for (doc, shingle) pairs, but deduped inside the per-row loop, so
  * no shuffle is needed at all (the dedup key is per-document by
  * construction). One tight loop per row instead of an interpreted
  * lambda per shingle plus an exchange (measured ~2-3× on the
  * shingle-heavy dedup queries before counting the saved shuffle).
  *
  * Tokenization matches `TextOps.tokens`: trim, split on `\s+`.
  */
case class WordShingles(child: Expression, k: Int)
    extends UnaryExpression with Generator with CodegenFallback {

  override def elementSchema: StructType =
    StructType(StructField("s", StringType) :: Nil)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_shingles expects a string column, got ${child.dataType}")

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val raw = child.eval(input)
    if (raw == null) return Nil
    // Replicate Spark's trim/split semantics exactly (and therefore
    // the DuckDB oracle's): UTF8String.trim strips only spaces (Java
    // String.trim would also strip tabs/newlines), and split uses
    // limit -1 (keeps trailing empty tokens) like Spark's StringSplit.
    val toks = raw.asInstanceOf[UTF8String].trim().toString.split("\\s+", -1)
    if (toks.length < k) return Nil
    val n = toks.length - k + 1
    val seen = new java.util.LinkedHashSet[String]()
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < n) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[InternalRow](seen.size)
    val it = seen.iterator()
    var r = 0
    while (it.hasNext) {
      out(r) = InternalRow(UTF8String.fromString(it.next()))
      r += 1
    }
    out
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Word-shingle FINGERPRINT generator: emits the 32-bit fingerprint of
  * every DISTINCT k-word shingle — numerically identical to
  * `CAST(CONV(SUBSTRING(md5(shingle), 1, 8), 16, 10) AS BIGINT)` over
  * distinct [[WordShingles]] output (the digest's first 4 bytes,
  * big-endian unsigned), but hashed AND deduped inside the generator
  * loop. The dedup family (q45–q47) then shuffles, joins, and
  * aggregates compact longs instead of ~20-char shingle strings, with
  * no distinct exchange at all (dedup is per-document by
  * construction). The DuckDB oracle derives the same values from the
  * string shingles — {distinct fp} == {fp of distinct shingles} as a
  * set. */
case class ShingleFingerprints(child: Expression, k: Int)
    extends UnaryExpression with Generator with CodegenFallback {

  override def elementSchema: StructType =
    StructType(StructField("fp", LongType) :: Nil)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_shingle_fps expects a string column, got ${child.dataType}")

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val raw = child.eval(input)
    if (raw == null) return Nil
    // identical tokenization to WordShingles (and TextOps.tokens)
    val toks = raw.asInstanceOf[UTF8String].trim().toString.split("\\s+", -1)
    if (toks.length < k) return Nil
    val md = java.security.MessageDigest.getInstance("MD5")
    val n = toks.length - k + 1
    // dedup SHINGLES (not fps): distinct-fp-of-occurrences and
    // fp-of-distinct-shingles are the same set, and hashing each
    // distinct shingle once is also the cheapest order of operations
    val seenShingles = new java.util.HashSet[String]()
    val fps = new java.util.LinkedHashSet[java.lang.Long]()
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < n) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      val s = sb.toString
      if (seenShingles.add(s)) {
        val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val fp = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
                 ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        fps.add(fp)
      }
      i += 1
    }
    val out = new Array[InternalRow](fps.size)
    val it = fps.iterator()
    var r = 0
    while (it.hasNext) {
      out(r) = InternalRow(it.next().longValue())
      r += 1
    }
    out
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Winnowing-fingerprint generator (the MOSS scheme, Schleimer et al.
  * SIGMOD'03): md5 every k-char gram of the normalized text, slide a
  * w-position window, keep each window's minimum hash; the distinct
  * minima are the document's fingerprint set (any match of length
  * ≥ w+k-1 shares one).
  *
  * This replaces the explode(sequence)+window-min formulation — one row
  * per CHARACTER plus a per-doc sort (VERDICT r1's q55 scale-killer) —
  * with one tight loop per document: no generated position rows, no
  * window exchange/sort, and within-doc dedup happens in the loop so no
  * downstream `distinct` shuffle is needed. Emits the exact values of
  * `md5(substring(norm, pos, k))` minimized over
  * `ROWS BETWEEN CURRENT ROW AND w-1 FOLLOWING` (trailing windows
  * truncate), so the DuckDB oracle SQL is unchanged.
  */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends UnaryExpression with Generator with CodegenFallback {

  override def elementSchema: StructType =
    StructType(StructField("fp", StringType) :: Nil)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_winnow expects a string column, got ${child.dataType}")

  private val hexDigits = "0123456789abcdef".toCharArray

  private def hex(d: Array[Byte]): String = {
    val out = new Array[Char](d.length * 2)
    var i = 0
    while (i < d.length) {
      val b = d(i) & 0xff
      out(i * 2) = hexDigits(b >>> 4)
      out(i * 2 + 1) = hexDigits(b & 0xf)
      i += 1
    }
    new String(out)
  }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val raw = child.eval(input)
    if (raw == null) return Nil
    val norm = raw.asInstanceOf[UTF8String].toString
    val md = java.security.MessageDigest.getInstance("MD5")
    // Gram positions are CODE-POINT based — matching Spark's
    // substring()/length() and the DuckDB oracle. Pure-ASCII docs
    // (byte length == UTF-16 length ⇒ no multi-byte, no surrogates)
    // hash UTF-8 byte slices directly; otherwise index by code point
    // so astral characters are neither split nor double-counted.
    val bytes = norm.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val ascii = bytes.length == norm.length && !norm.exists(Character.isSurrogate)
    val cps: Array[Int] = if (ascii) null else norm.codePoints().toArray
    val cpLen = if (ascii) norm.length else cps.length
    val n = cpLen - k + 1
    if (n <= 0) return Nil
    val hashes = new Array[String](n)
    var i = 0
    while (i < n) {
      val digest =
        if (ascii) { md.update(bytes, i, k); md.digest() }
        else md.digest(new String(cps, i, k)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      hashes(i) = hex(digest)
      i += 1
    }
    // per-position window minimum (w is small — linear scan beats a
    // deque at w=4), deduped per doc as we go
    val seen = new java.util.LinkedHashSet[String]()
    i = 0
    while (i < n) {
      var m = hashes(i)
      var j = i + 1
      val end = math.min(i + w, n)
      while (j < end) {
        if (hashes(j).compareTo(m) < 0) m = hashes(j)
        j += 1
      }
      seen.add(m)
      i += 1
    }
    val out = new Array[InternalRow](seen.size)
    val it = seen.iterator()
    var r = 0
    while (it.hasNext) {
      out(r) = InternalRow(UTF8String.fromString(it.next()))
      r += 1
    }
    out
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TextExpressions {

  /** Validated positive-int-literal extraction for generator params. */
  private def intLit(fn: String, name: String, e: Expression): Int = e match {
    case l if l.foldable =>
      l.eval(null) match {
        case i: Int if i >= 1 => i
        case other => throw new IllegalArgumentException(
          s"$fn $name must be a positive INT literal, got $other")
      }
    case _ => throw new IllegalArgumentException(
      s"$fn $name must be a literal, not a column")
  }

  /** Builders shared by per-session registration and the
    * [[graft.GraftExtensions]] injection path. Literal params are
    * validated here so SQL callers get an analysis-time message, not a
    * ClassCastException. */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_shingles" -> { exprs =>
      require(exprs.length == 2,
        s"graft_shingles(text, k) expects 2 arguments, got ${exprs.length}")
      WordShingles(exprs.head, intLit("graft_shingles", "k", exprs(1)))
    },
    "graft_shingle_fps" -> { exprs =>
      require(exprs.length == 2,
        s"graft_shingle_fps(text, k) expects 2 arguments, got ${exprs.length}")
      ShingleFingerprints(exprs.head,
        intLit("graft_shingle_fps", "k", exprs(1)))
    },
    "graft_winnow" -> { exprs =>
      require(exprs.length == 3,
        s"graft_winnow(norm, k, w) expects 3 arguments, got ${exprs.length}")
      WinnowFingerprints(exprs.head,
        intLit("graft_winnow", "k", exprs(1)),
        intLit("graft_winnow", "w", exprs(2)))
    })
}
