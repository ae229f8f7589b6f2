package graft.multimodal

import scala.collection.mutable.ArrayBuffer

/** REAL H.264/AVC (ITU-T H.264 / ISO 14496-10) Annex B parsing and I_PCM
  * frame decode — pure JVM, no native codec.
  *
  * What is REAL here (the full container-to-samples path of the standard):
  *  - Annex B byte-stream framing: start-code scan (00 00 01 with optional
  *    leading zeros), NAL unit headers, trailing-zero trim;
  *  - emulation-prevention: RBSP ↔ NAL escaping (insert/strip 0x03 after
  *    00 00 before a byte ≤ 0x03) — exercised for real because PCM sample
  *    bytes of 0x00..0x03 occur in the synthetic payloads;
  *  - Exp-Golomb entropy primitives ue(v)/se(v) and fixed-width u(n);
  *  - SPS parsing (profile/level, log2_max_frame_num, pic_order_cnt_type,
  *    MB-grid dimensions, frame_mbs_only, cropping flag);
  *  - PPS parsing (entropy mode, slice groups, QP init, deblocking flags);
  *  - IDR slice-header parsing (first_mb, slice_type, frame_num,
  *    idr_pic_id, dec_ref_pic_marking, slice_qp_delta);
  *  - macroblock layer with I_PCM macroblocks (mb_type 25 in I slices):
  *    pcm alignment, raw 4:2:0 sample read, MB-raster plane placement,
  *    4:2:0 chroma upsampling and the JFIF YCbCr→RGB used by [[Jpeg]].
  *
  * The DOCUMENTED BOUNDARY (DESIGN.md r8 decision record): entropy-coded
  * macroblock types — CAVLC residual decoding and CABAC — are NOT
  * implemented; a non-I_PCM mb_type throws with a pointer here rather than
  * silently stubbing. I_PCM is the standard's own uncompressed macroblock
  * (every conformant decoder must support it), so streams produced by
  * [[encodePcm]] are genuine H.264 the same way q184's four-uniform-block
  * images are genuine JPEG: the parsing machinery is the real thing, the
  * sample payload is chosen for an exact oracle.
  *
  * Timing: an ELEMENTARY stream carries no timestamps (timing lives in the
  * container — cf. [[Avi]]'s scale/rate); [[frameStats]] assigns the fixed
  * 25 fps ⇒ 40 ms/frame that level-1.0 baseline defaults to, documented
  * here and mirrored by the oracle.
  */
object H264 {

  /** Annex B elementary stream: a start code within the first bytes. */
  def isAnnexB(b: Array[Byte]): Boolean =
    (b.length >= 4 && b(0) == 0 && b(1) == 0 && b(2) == 0 && b(3) == 1) ||
      (b.length >= 3 && b(0) == 0 && b(1) == 0 && b(2) == 1)

  // ------------------------------------------------------------------
  // RBSP bit I/O
  // ------------------------------------------------------------------

  private[multimodal] final class BitWriter {
    private val out = new ArrayBuffer[Byte]()
    private var cur = 0
    private var nBits = 0
    def bit(b: Int): Unit = {
      cur = (cur << 1) | (b & 1); nBits += 1
      if (nBits == 8) { out += cur.toByte; cur = 0; nBits = 0 }
    }
    def u(n: Int, v: Long): Unit = { var i = n - 1; while (i >= 0) { bit(((v >> i) & 1L).toInt); i -= 1 } }
    /** Exp-Golomb unsigned: ⌈log₂(v+1)⌉−1 zeros, then v+1 in binary. */
    def ue(v: Long): Unit = {
      require(v >= 0, s"ue($v)")
      val x = v + 1
      val len = 63 - java.lang.Long.numberOfLeadingZeros(x)
      u(len, 0); u(len + 1, x)
    }
    /** Exp-Golomb signed: v>0 → 2v−1, v≤0 → −2v. */
    def se(v: Long): Unit = ue(if (v > 0) 2 * v - 1 else -2 * v)
    def alignZero(): Unit = while (nBits != 0) bit(0)
    def rawByte(b: Byte): Unit = { require(nBits == 0, "rawByte unaligned"); out += b }
    /** rbsp_trailing_bits: stop bit then zero-fill to alignment. */
    def trailing(): Unit = { bit(1); alignZero() }
    def toBytes: Array[Byte] = { require(nBits == 0, "unterminated RBSP"); out.toArray }
  }

  private[multimodal] final class BitReader(rbsp: Array[Byte]) {
    private var pos = 0
    private var nBits = 0
    def bit(): Int = {
      if (pos >= rbsp.length) throw new IllegalArgumentException("H264: RBSP overrun")
      val b = (rbsp(pos) >> (7 - nBits)) & 1
      nBits += 1
      if (nBits == 8) { nBits = 0; pos += 1 }
      b
    }
    def u(n: Int): Long = { var v = 0L; var i = 0; while (i < n) { v = (v << 1) | bit(); i += 1 }; v }
    def ue(): Long = {
      var zeros = 0
      while (bit() == 0) {
        zeros += 1
        if (zeros > 32) throw new IllegalArgumentException("H264: bad Exp-Golomb code")
      }
      (1L << zeros) - 1 + u(zeros)
    }
    def se(): Long = { val k = ue(); if (k % 2 == 1) (k + 1) / 2 else -(k / 2) }
    def alignToByte(): Unit = while (nBits != 0) bit() // pcm_alignment_zero_bit(s)
    def rawByte(): Int = {
      require(nBits == 0, "rawByte unaligned")
      if (pos >= rbsp.length) throw new IllegalArgumentException("H264: RBSP overrun (PCM)")
      val b = rbsp(pos) & 0xff; pos += 1; b
    }
  }

  // ------------------------------------------------------------------
  // Emulation prevention (spec 7.3.1 / 7.4.1)
  // ------------------------------------------------------------------

  /** RBSP → NAL payload: after two zero bytes, a byte ≤ 0x03 gets an
    * emulation_prevention_three_byte (0x03) inserted before it. */
  private[multimodal] def escapeRbsp(rbsp: Array[Byte]): Array[Byte] = {
    val out = new ArrayBuffer[Byte](rbsp.length + 16)
    var zeros = 0
    for (b <- rbsp) {
      if (zeros >= 2 && (b & 0xff) <= 3) { out += 3; zeros = 0 }
      out += b
      zeros = if (b == 0) zeros + 1 else 0
    }
    out.toArray
  }

  /** NAL payload → RBSP: strip each 0x03 that follows two zero bytes. */
  private[multimodal] def unescapeRbsp(nal: Array[Byte], from: Int, until: Int): Array[Byte] = {
    val out = new ArrayBuffer[Byte](until - from)
    var zeros = 0
    var i = from
    while (i < until) {
      val b = nal(i)
      if (zeros >= 2 && b == 3) zeros = 0 // skip emulation byte
      else {
        out += b
        zeros = if (b == 0) zeros + 1 else 0
      }
      i += 1
    }
    out.toArray
  }

  // ------------------------------------------------------------------
  // Encoder: baseline-profile I_PCM IDR stream
  // ------------------------------------------------------------------

  private def nal(refIdc: Int, unitType: Int, rbsp: Array[Byte]): Array[Byte] = {
    val header = ((refIdc & 3) << 5) | (unitType & 0x1f)
    Array[Byte](0, 0, 0, 1, header.toByte) ++ escapeRbsp(rbsp)
  }

  private def spsRbsp(wMbs: Int, hMbs: Int): Array[Byte] = {
    val bw = new BitWriter
    bw.u(8, 66) // profile_idc: baseline
    bw.u(8, 0xc0) // constraint_set0/1, reserved zeros
    bw.u(8, 10) // level_idc 1.0
    bw.ue(0) // seq_parameter_set_id
    bw.ue(0) // log2_max_frame_num_minus4 → 4-bit frame_num
    bw.ue(2) // pic_order_cnt_type 2 (no POC syntax)
    bw.ue(0) // max_num_ref_frames
    bw.u(1, 0) // gaps_in_frame_num_value_allowed_flag
    bw.ue(wMbs - 1) // pic_width_in_mbs_minus1
    bw.ue(hMbs - 1) // pic_height_in_map_units_minus1
    bw.u(1, 1) // frame_mbs_only_flag
    bw.u(1, 1) // direct_8x8_inference_flag
    bw.u(1, 0) // frame_cropping_flag
    bw.u(1, 0) // vui_parameters_present_flag
    bw.trailing()
    bw.toBytes
  }

  private def ppsRbsp(): Array[Byte] = {
    val bw = new BitWriter
    bw.ue(0) // pic_parameter_set_id
    bw.ue(0) // seq_parameter_set_id
    bw.u(1, 0) // entropy_coding_mode_flag: CAVLC
    bw.u(1, 0) // bottom_field_pic_order_in_frame_present_flag
    bw.ue(0) // num_slice_groups_minus1
    bw.ue(0) // num_ref_idx_l0_default_active_minus1
    bw.ue(0) // num_ref_idx_l1_default_active_minus1
    bw.u(1, 0) // weighted_pred_flag
    bw.u(2, 0) // weighted_bipred_idc
    bw.se(0) // pic_init_qp_minus26
    bw.se(0) // pic_init_qs_minus26
    bw.se(0) // chroma_qp_index_offset
    bw.u(1, 0) // deblocking_filter_control_present_flag
    bw.u(1, 0) // constrained_intra_pred_flag
    bw.u(1, 0) // redundant_pic_cnt_present_flag
    bw.trailing()
    bw.toBytes
  }

  private def idrSliceRbsp(wMbs: Int, hMbs: Int, idrPicId: Int,
                           y: Array[Byte], cb: Array[Byte], cr: Array[Byte]): Array[Byte] = {
    val w = wMbs * 16; val cw = w / 2
    val bw = new BitWriter
    bw.ue(0) // first_mb_in_slice
    bw.ue(7) // slice_type: I (all slices in picture)
    bw.ue(0) // pic_parameter_set_id
    bw.u(4, 0) // frame_num (log2_max_frame_num = 4; 0 for IDR)
    bw.ue(idrPicId) // idr_pic_id
    // pic_order_cnt_type 2 → no POC fields
    bw.u(1, 0) // no_output_of_prior_pics_flag  (dec_ref_pic_marking, IDR)
    bw.u(1, 0) // long_term_reference_flag
    bw.se(0) // slice_qp_delta
    for (mb <- 0 until wMbs * hMbs) {
      bw.ue(25) // mb_type: I_PCM
      bw.alignZero() // pcm_alignment_zero_bit(s)
      val mx = mb % wMbs; val my = mb / wMbs
      for (dy <- 0 until 16; dx <- 0 until 16)
        bw.rawByte(y((my * 16 + dy) * w + mx * 16 + dx))
      for (dy <- 0 until 8; dx <- 0 until 8)
        bw.rawByte(cb((my * 8 + dy) * cw + mx * 8 + dx))
      for (dy <- 0 until 8; dx <- 0 until 8)
        bw.rawByte(cr((my * 8 + dy) * cw + mx * 8 + dx))
    }
    bw.trailing()
    bw.toBytes
  }

  /** Encode planar YCbCr 4:2:0 frames (y: w×h; cb/cr: w/2 × h/2) as a
    * baseline-profile Annex B stream of I_PCM IDR pictures. */
  def encodePcm(w: Int, h: Int,
                frames: Seq[(Array[Byte], Array[Byte], Array[Byte])]): Array[Byte] = {
    require(w % 16 == 0 && h % 16 == 0 && w > 0 && h > 0,
      s"H264.encodePcm: dimensions $w x $h must be MB-aligned (16)")
    val wMbs = w / 16; val hMbs = h / 16
    val out = new ArrayBuffer[Byte]()
    out ++= nal(3, 7, spsRbsp(wMbs, hMbs))
    out ++= nal(3, 8, ppsRbsp())
    frames.zipWithIndex.foreach { case ((y, cb, cr), i) =>
      require(y.length == w * h && cb.length == w * h / 4 && cr.length == w * h / 4,
        s"H264.encodePcm: bad plane sizes for frame $i")
      out ++= nal(3, 5, idrSliceRbsp(wMbs, hMbs, i % 16, y, cb, cr))
    }
    out.toArray
  }

  /** Gray helper: luma only, chroma flat 128 (→ R=G=B=Y exactly under the
    * JFIF conversion — the q184/q187 exactness contract). */
  def encodeGrayPcm(w: Int, h: Int, lumaFrames: Seq[Array[Byte]]): Array[Byte] = {
    val flat = Array.fill[Byte](w * h / 4)(128.toByte)
    encodePcm(w, h, lumaFrames.map(y => (y, flat, flat)))
  }

  // ------------------------------------------------------------------
  // Decoder
  // ------------------------------------------------------------------

  private case class Sps(wMbs: Int, hMbs: Int, log2MaxFrameNum: Int, pocType: Int,
                         log2MaxPocLsb: Int)

  private def parseSps(r: BitReader): Sps = {
    val profile = r.u(8)
    r.u(8) // constraint flags + reserved
    r.u(8) // level_idc
    r.ue() // sps id
    if (Set(100L, 110L, 122L, 244L, 44L, 83L, 86L, 118L, 128L).contains(profile))
      throw new IllegalArgumentException(
        s"H264: high-profile SPS (profile_idc=$profile) — baseline only")
    val log2MaxFrameNum = r.ue().toInt + 4
    val pocType = r.ue().toInt
    val log2MaxPocLsb = if (pocType == 0) r.ue().toInt + 4
    else if (pocType == 1) throw new IllegalArgumentException("H264: pic_order_cnt_type 1 unsupported")
    else 0
    r.ue() // max_num_ref_frames
    r.u(1) // gaps_in_frame_num_value_allowed_flag
    val wMbs = r.ue().toInt + 1
    val hMbs = r.ue().toInt + 1
    val frameMbsOnly = r.u(1)
    if (frameMbsOnly != 1) throw new IllegalArgumentException("H264: interlaced (fields) unsupported")
    r.u(1) // direct_8x8_inference_flag
    val cropping = r.u(1)
    if (cropping != 0) throw new IllegalArgumentException("H264: frame cropping unsupported")
    Sps(wMbs, hMbs, log2MaxFrameNum, pocType, log2MaxPocLsb)
  }

  private def parsePpsValidate(r: BitReader): Unit = {
    r.ue(); r.ue() // pps id, sps id
    val cabac = r.u(1)
    if (cabac != 0) throw new IllegalArgumentException(
      "H264: CABAC entropy mode — the documented entropy-layer boundary (DESIGN.md r8)")
    r.u(1) // bottom_field_pic_order_in_frame_present_flag
    val groups = r.ue()
    if (groups != 0) throw new IllegalArgumentException("H264: slice groups (FMO) unsupported")
  }

  /** Decode every IDR picture → (w, h, RGB raster). Non-I_PCM macroblocks
    * throw: that is the entropy-layer boundary, surfaced loudly. */
  def decodeFrames(bytes: Array[Byte]): Seq[(Int, Int, Array[Byte])] = {
    require(isAnnexB(bytes), "H264: not an Annex B stream")
    var sps: Option[Sps] = None
    val frames = ArrayBuffer.empty[(Int, Int, Array[Byte])]
    // start-code scan
    val starts = ArrayBuffer.empty[Int]
    var i = 0
    while (i + 2 < bytes.length) {
      if (bytes(i) == 0 && bytes(i + 1) == 0 && bytes(i + 2) == 1) { starts += i + 3; i += 3 }
      else i += 1
    }
    for (s <- starts.indices) {
      val from = starts(s)
      var until = if (s + 1 < starts.length) starts(s + 1) - 3 else bytes.length
      while (until > from && bytes(until - 1) == 0) until -= 1 // trailing zeros / next prefix
      val header = bytes(from) & 0xff
      require((header & 0x80) == 0, "H264: forbidden_zero_bit set")
      val unitType = header & 0x1f
      val rbsp = unescapeRbsp(bytes, from + 1, until)
      unitType match {
        case 7 => sps = Some(parseSps(new BitReader(rbsp)))
        case 8 => parsePpsValidate(new BitReader(rbsp))
        case 5 | 1 =>
          val sp = sps.getOrElse(throw new IllegalArgumentException("H264: slice before SPS"))
          frames += decodeSlice(new BitReader(rbsp), sp, idr = unitType == 5)
        case _ => () // SEI, AUD, filler — skippable
      }
    }
    frames.toSeq
  }

  private def decodeSlice(r: BitReader, sps: Sps, idr: Boolean): (Int, Int, Array[Byte]) = {
    val firstMb = r.ue()
    require(firstMb == 0, "H264: multi-slice pictures unsupported (one slice per frame)")
    val sliceType = r.ue()
    if (sliceType % 5 != 2) throw new IllegalArgumentException(
      s"H264: slice_type $sliceType — only I slices (inter prediction is out of scope)")
    r.ue() // pic_parameter_set_id
    r.u(sps.log2MaxFrameNum) // frame_num
    if (idr) r.ue() // idr_pic_id
    if (sps.pocType == 0) r.u(sps.log2MaxPocLsb) // pic_order_cnt_lsb
    if (idr) { r.u(1); r.u(1) } // dec_ref_pic_marking for IDR
    else r.u(1) // adaptive_ref_pic_marking_mode_flag (must be 0 for us)
    r.se() // slice_qp_delta
    val w = sps.wMbs * 16; val h = sps.hMbs * 16; val cw = w / 2
    val y = new Array[Byte](w * h)
    val cb = new Array[Byte](w * h / 4)
    val cr = new Array[Byte](w * h / 4)
    for (mb <- 0 until sps.wMbs * sps.hMbs) {
      val mbType = r.ue()
      if (mbType != 25) throw new IllegalArgumentException(
        s"H264: mb_type $mbType needs CAVLC residual decode — the documented " +
          "entropy-layer boundary (DESIGN.md r8 decision record); I_PCM (25) only")
      r.alignToByte()
      val mx = mb % sps.wMbs; val my = mb / sps.wMbs
      for (dy <- 0 until 16; dx <- 0 until 16)
        y((my * 16 + dy) * w + mx * 16 + dx) = r.rawByte().toByte
      for (dy <- 0 until 8; dx <- 0 until 8)
        cb((my * 8 + dy) * cw + mx * 8 + dx) = r.rawByte().toByte
      for (dy <- 0 until 8; dx <- 0 until 8)
        cr((my * 8 + dy) * cw + mx * 8 + dx) = r.rawByte().toByte
    }
    // 4:2:0 upsample + JFIF YCbCr→RGB (Jpeg.scala's conversion, R=G=B=Y at
    // flat chroma 128)
    val rgb = new Array[Byte](w * h * 3)
    var p = 0
    while (p < w * h) {
      val px = p % w; val py = p / w
      val yy = y(p) & 0xff
      val cbv = (cb((py / 2) * cw + px / 2) & 0xff) - 128
      val crv = (cr((py / 2) * cw + px / 2) & 0xff) - 128
      def clamp8(v: Int): Int = if (v < 0) 0 else if (v > 255) 255 else v
      rgb(3 * p) = clamp8(math.round(yy + 1.402 * crv).toInt).toByte
      rgb(3 * p + 1) = clamp8(math.round(yy - 0.344136 * cbv - 0.714136 * crv).toInt).toByte
      rgb(3 * p + 2) = clamp8(math.round(yy + 1.772 * cbv).toInt).toByte
      p += 1
    }
    (w, h, rgb)
  }

  /** Per-frame statistics in the [[Avi.frameStats]]/[[Gif.frameStats]] row
    * shape: (frame_idx, ts_ms, n_pixels, sum_r, sum_g, sum_b, wsum_r).
    * Elementary streams carry no timing → fixed 25 fps (40 ms/frame),
    * documented in the object doc. */
  def frameStats(bytes: Array[Byte]): Seq[(Int, Long, Long, Long, Long, Long, Long)] =
    decodeFrames(bytes).zipWithIndex.map { case ((w, h, rgb), fi) =>
      var sr = 0L; var sg = 0L; var sb = 0L; var wr = 0L
      var i = 0
      val n = w * h
      while (i < n) {
        val r = rgb(3 * i) & 0xff
        sr += r; sg += rgb(3 * i + 1) & 0xff; sb += rgb(3 * i + 2) & 0xff
        wr += i.toLong * r
        i += 1
      }
      (fi, fi * 40L, n.toLong, sr, sg, sb, wr)
    }
}
