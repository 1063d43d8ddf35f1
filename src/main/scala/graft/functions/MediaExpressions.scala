package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{BinaryType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Frame-sampling generator over an opaque media payload (q66's
  * kernel, VERDICT r5 "What's wrong" #2): decode once, slice
  * fixed-size frames, emit every `stride`-th as (frame_idx, frame_md5,
  * frame_chars) — the keyframe-extraction access pattern, with
  * fingerprints instead of frame bytes so the output exchange stays
  * narrow however fat the payloads are.
  *
  * As a Catalyst `Generator` the whole pass stays inside Tungsten rows
  * (the `WinnowFingerprints` pattern) — the previous typed
  * `Dataset.mapPartitions` formulation paid an encoder round-trip
  * (DeserializeToObject/SerializeFromObject) per row for identical
  * per-row work; PlanSpec asserts the object boundary is gone.
  *
  * Frame boundaries are CODEPOINTS of the UTF-8-decoded payload, not
  * bytes or UTF-16 units, so the oracle's substring() character
  * arithmetic is bit-identical on any text (the codec seam: a real
  * video path swaps decoded-frame boundaries in here).
  */
case class FrameSample(child: Expression, frameChars: Int, stride: Int)
    extends UnaryExpression with Generator with CodegenFallback {

  override def elementSchema: StructType = StructType(
    StructField("frame_idx", LongType) ::
    StructField("frame_md5", StringType) ::
    StructField("frame_chars", LongType) :: Nil)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_frames expects a binary column, got ${child.dataType}")

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

  // one digest per thread, reset per frame — the per-task codec-context
  // slot the mapPartitions formulation had; per-row getInstance would
  // pay a JCA provider lookup on every input row of the hot path.
  // ThreadLocal (not a plain lazy val) because one Expression instance
  // can be evaluated by several task threads concurrently.
  @transient private lazy val localMd =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val raw = child.eval(input)
    if (raw == null) return Nil
    val payload = raw.asInstanceOf[Array[Byte]]
    val text = new String(payload, java.nio.charset.StandardCharsets.UTF_8)
    val cps = text.codePoints().toArray
    val nFrames = (cps.length + frameChars - 1) / frameChars
    if (nFrames <= 0) return Nil
    val md = localMd.get()
    (0 until nFrames by stride).iterator.map { i =>
      val from = i * frameChars
      val until = math.min(from + frameChars, cps.length)
      val frame = new String(cps, from, until - from)
      md.reset()
      val digest = md.digest(
        frame.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      InternalRow(i.toLong, UTF8String.fromString(hex(digest)),
        (until - from).toLong)
    }
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MediaExpressions {

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

  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_frames" -> { exprs =>
      require(exprs.length == 3,
        s"graft_frames(payload, frameChars, stride) expects 3 arguments, " +
          s"got ${exprs.length}")
      FrameSample(exprs.head,
        intLit("graft_frames", "frameChars", exprs(1)),
        intLit("graft_frames", "stride", exprs(2)))
    })
}
