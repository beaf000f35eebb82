package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Real audio-container header decode over an opaque BINARY payload — the
  * audio sibling of `ImageDimsExpr` (ref: the multimodal north-star; the
  * reference corpus is text-only, so the container formats come from the
  * public RIFF/WAVE spec). Parses the actual bytes:
  *
  *   - RIFF envelope: `RIFF` + little-endian u32 size + `WAVE`.
  *   - A real chunk walk: each chunk is 4 ASCII id bytes + LE u32 size +
  *     body, and — the classic RIFF subtlety — an odd-sized body is padded
  *     to an even boundary, so the walk advances by `8 + size + (size&1)`.
  *     Unknown chunks (LIST, cue, bext, ...) are skipped by size, exactly
  *     what a production demuxer does.
  *   - `fmt ` chunk (≥16 bytes): audio_format/channels as LE u16,
  *     sample_rate LE u32, block_align/bits_per_sample LE u16.
  *   - `data` chunk: size alone is enough for duration —
  *     n_samples = data_size / block_align (sample frames),
  *     duration_ms = n_samples * 1000 / sample_rate, both exact integer
  *     divisions so engines can never disagree on a rounded double.
  *
  * Both `fmt ` and `data` must be present and sane (block_align > 0,
  * sample_rate > 0) or the payload yields NULL — a 100 TB corpus always
  * contains garbage rows; decode degrades to a filterable null, never a
  * task failure. All multi-byte reads here are LITTLE-endian, the mirror
  * image of the PNG/JPEG/MP4 parsers' big-endian reads.
  */
case class AudioMetaExpr(child: Expression) extends UnaryExpression {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = AudioMetaExpr.Schema
  override def prettyName: String = "graft_audio_meta"

  override protected def nullSafeEval(input: Any): Any =
    AudioMetaExpr.parse(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |${ev.value} = graft.functions.AudioMetaExpr.parse($a);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object AudioMetaExpr {

  val Schema: StructType = StructType(Seq(
    StructField("format", StringType),
    StructField("audio_format", IntegerType),
    StructField("channels", IntegerType),
    StructField("sample_rate", IntegerType),
    StructField("bits_per_sample", IntegerType),
    StructField("n_samples", LongType),
    StructField("duration_ms", LongType)))

  private val Wav = UTF8String.fromString("wav")

  @inline private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xFF
  @inline private def le16(b: Array[Byte], i: Int): Int =
    u8(b, i) | (u8(b, i + 1) << 8)
  @inline private def le32(b: Array[Byte], i: Int): Long =
    u8(b, i).toLong | (u8(b, i + 1).toLong << 8) |
      (u8(b, i + 2).toLong << 16) | (u8(b, i + 3).toLong << 24)
  @inline private def tag(b: Array[Byte], i: Int, t: Int): Boolean =
    (u8(b, i) << 24 | u8(b, i + 1) << 16 | u8(b, i + 2) << 8 | u8(b, i + 3)) == t

  private final val RIFF = 0x52494646
  private final val WAVE = 0x57415645
  private final val FMT = 0x666D7420
  private final val DATA = 0x64617461

  // called from generated Java code — must stay a static-forwardable
  // companion method
  def parse(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 12) return null
    if (!tag(b, 0, RIFF) || !tag(b, 8, WAVE)) return null
    var pos = 12
    var fmtPos = -1
    var dataSize = -1L
    while (pos + 8 <= b.length && (fmtPos < 0 || dataSize < 0)) {
      val size = le32(b, pos + 4)
      if (tag(b, pos, FMT)) {
        if (size < 16 || pos + 8 + 16 > b.length) return null
        fmtPos = pos + 8
      } else if (tag(b, pos, DATA)) {
        dataSize = size
      }
      // RIFF pad rule: odd-sized chunk bodies are followed by one pad byte
      val adv = 8L + size + (size & 1L)
      if (adv <= 0 || pos + adv > Int.MaxValue) return null
      pos += adv.toInt
    }
    if (fmtPos < 0 || dataSize < 0) return null
    val audioFormat = le16(b, fmtPos)
    val channels = le16(b, fmtPos + 2)
    val rate = le32(b, fmtPos + 4)
    val block = le16(b, fmtPos + 12)
    val bits = le16(b, fmtPos + 14)
    if (block <= 0 || rate <= 0 || rate > Int.MaxValue) return null
    val nSamples = dataSize / block
    val durMs = nSamples * 1000L / rate
    new GenericInternalRow(Array[Any](
      Wav, audioFormat, channels, rate.toInt, bits, nSamples, durMs))
  }
}

/** Real ISO-BMFF (MP4) box-structure decode over an opaque BINARY
  * payload — the video sibling of `ImageDimsExpr`, from the public
  * ISO/IEC 14496-12 layout. Parses the actual bytes:
  *
  *   - Top-level box walk: big-endian u32 size + 4-byte type; size == 1
  *     means a 64-bit `largesize` follows the type (handled — large mdat
  *     boxes are routine past 4 GiB), size == 0 means "to end of file".
  *   - `ftyp` must come first; its major brand is surfaced as a string.
  *   - Inside `moov`: a child walk finds `mvhd` (version 0: u32
  *     timescale/duration at +20/+24; version 1: 64-bit times — timescale
  *     u32 at +28, duration u64 at +32) and counts `trak` children.
  *   - duration_ms = duration * 1000 / timescale, exact integer division.
  *
  * Missing/truncated boxes, a zero timescale, or a walk that runs past
  * the payload end yield NULL, never a task failure. */
case class VideoMetaExpr(child: Expression) extends UnaryExpression {

  override def nullIntolerant: Boolean = true
  override def dataType: DataType = VideoMetaExpr.Schema
  override def prettyName: String = "graft_video_meta"

  override protected def nullSafeEval(input: Any): Any =
    VideoMetaExpr.parse(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |${ev.value} = graft.functions.VideoMetaExpr.parse($a);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VideoMetaExpr {

  val Schema: StructType = StructType(Seq(
    StructField("format", StringType),
    StructField("brand", StringType),
    StructField("mvhd_version", IntegerType),
    StructField("timescale", LongType),
    StructField("duration", LongType),
    StructField("duration_ms", LongType),
    StructField("n_tracks", IntegerType)))

  private val Mp4 = UTF8String.fromString("mp4")

  @inline private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xFF
  @inline private def be32(b: Array[Byte], i: Int): Long =
    (u8(b, i).toLong << 24) | (u8(b, i + 1) << 16) | (u8(b, i + 2) << 8) | u8(b, i + 3)
  @inline private def be64(b: Array[Byte], i: Int): Long =
    (be32(b, i) << 32) | be32(b, i + 4)
  @inline private def typ(b: Array[Byte], i: Int): Long = be32(b, i + 4)

  private final val FTYP = 0x66747970L
  private final val MOOV = 0x6D6F6F76L
  private final val MVHD = 0x6D766864L
  private final val TRAK = 0x7472616BL

  // called from generated Java code — must stay a static-forwardable
  // companion method
  def parse(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 16) return null
    // ftyp first (the spec requires it); major brand = bytes 8..11
    if (be32(b, 0) < 16 || typ(b, 0) != FTYP) return null
    val brand = UTF8String.fromBytes(java.util.Arrays.copyOfRange(b, 8, 12))
    // top-level walk to moov, honoring 64-bit largesize and size-0 boxes
    var pos = 0L
    var moovPos = -1L
    var moovEnd = -1L
    while (moovPos < 0 && pos + 8 <= b.length) {
      val s32 = be32(b, pos.toInt)
      val size =
        if (s32 == 1L) { if (pos + 16 > b.length) return null; be64(b, pos.toInt + 8) }
        else if (s32 == 0L) b.length - pos // "to end of file"
        else s32
      if (size < 8 || pos + size > b.length) return null
      if (typ(b, pos.toInt) == MOOV) { moovPos = pos; moovEnd = pos + size }
      pos += size
    }
    if (moovPos < 0) return null
    // child walk inside moov: find mvhd, count trak
    var cp = moovPos + 8
    var version = -1
    var timescale = -1L
    var duration = -1L
    var nTracks = 0
    while (cp + 8 <= moovEnd) {
      val cs = be32(b, cp.toInt)
      if (cs < 8 || cp + cs > moovEnd) return null
      val t = typ(b, cp.toInt)
      if (t == MVHD && version < 0) {
        val base = cp.toInt + 8
        version = u8(b, base)
        if (version == 0) {
          if (cp + 8 + 4 + 16 > moovEnd) return null
          timescale = be32(b, base + 12)
          duration = be32(b, base + 16)
        } else if (version == 1) {
          if (cp + 8 + 4 + 28 > moovEnd) return null
          timescale = be32(b, base + 20)
          duration = be64(b, base + 24)
        } else return null
      } else if (t == TRAK) nTracks += 1
      cp += cs
    }
    if (version < 0 || timescale <= 0 || duration < 0) return null
    new GenericInternalRow(Array[Any](
      Mp4, brand, version, timescale, duration,
      duration * 1000L / timescale, nTracks))
  }
}

object MediaFunctions {
  val AudioName = "graft_audio_meta"
  val VideoName = "graft_video_meta"

  val audioBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 1, s"$AudioName expects 1 argument")
    AudioMetaExpr(args.head)
  }

  val videoBuilder: Seq[Expression] => Expression = { args =>
    require(args.length == 1, s"$VideoName expects 1 argument")
    VideoMetaExpr(args.head)
  }

  def audioMeta(payload: Column): Column = FunctionTable.call(audioBuilder, payload)
  def videoMeta(payload: Column): Column = FunctionTable.call(videoBuilder, payload)
}
