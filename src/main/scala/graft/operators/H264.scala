package graft.operators

/** Minimal-but-REAL H.264/AVC subset codec, pure JVM (SURVEY.md §2 C12).
  *
  * The container has no JDK codec (unlike JPEG), so the decode here is
  * implemented from the public bitstream layout (Rec. ITU-T H.264):
  * Annex-B / avcC NAL framing with emulation-prevention unescaping,
  * Exp-Golomb entropy for all header syntax, SPS/PPS parsing, slice
  * headers, and a macroblock layer supporting
  *
  *  - I_PCM macroblocks (raw 4:2:0 samples — `mb_type` 25 in I slices,
  *    30 in P slices),
  *  - P_Skip runs (`mb_skip_run`): zero-motion copy from the reference
  *    frame — true inter-frame decode with a decoded-picture buffer, and
  *  - GENERAL entropy-coded Intra_16x16 macroblocks: full CAVLC
  *    residual decoding ([[Cavlc]]: coeff_token over all five nC
  *    contexts, trailing-one signs, level_prefix/suffix with complete
  *    suffixLength adaptation and escape rules, total_zeros,
  *    run_before), luma AC (CBP luma 15) and chroma DC+AC (CBP chroma
  *    1/2) residuals, all four Intra16x16 prediction modes
  *    (Vertical/Horizontal/DC/Plane) plus the four chroma modes, the
  *    inverse 4x4 Hadamard + 2x2 chroma DC transforms, spec
  *    dequantization at arbitrary QP (mb_qp_delta honored), and the
  *    inverse 4x4 integer transform — emitted by the real forward
  *    encoder [[encodeCavlcTextured]] (forward DCT + Hadamard +
  *    quantization), which also returns the decoder-exact
  *    reconstruction for end-to-end pixel-equality gates.
  *
  * Every stream the [[Multimodal.MediaGen]] harness emits is spec-valid
  * H.264 that a conformant player decodes to the SAME PIXELS: the
  * streams explicitly disable the in-loop deblocking filter (PPS
  * deblocking_filter_control_present + slice idc 1), which this
  * decoder does not implement. Foreign streams that leave the filter
  * ON still decode to the exact transform/prediction reconstruction,
  * with [[Decoded.filterExact]] = false reporting that a player would
  * additionally smooth block edges — surfaced, never silent. The subset
  * has since widened (r10-r15, each with its own pixel-equality
  * gate): Intra_4x4 luma prediction with residuals, P-slice
  * P_L0_16x16 inter macroblocks with quarter-pel motion compensation
  * (6-tap half-pel + bilinear quarter-pel) and inter residuals, and
  * multi-slice pictures (first_mb_in_slice resume, mixed I+P) all
  * decode. What the decoder does NOT implement is CABAC entropy
  * coding (entropy_coding_mode_flag=1) — normative-table-defined and
  * unverifiable offline — such streams are rejected (`None`) so
  * callers fall back to the documented stand-in. The subset boundary
  * is checked, never guessed: any syntax element outside it aborts
  * the decode rather than misdecoding.
  */
object H264 {

  // ------------------------------------------------------------ bits

  /** MSB-first bit reader over an RBSP (already unescaped) payload. */
  private[operators] final class BitReader(b: Array[Byte]) {
    private var pos = 0 // bit position
    def bitsLeft: Int = b.length * 8 - pos
    def u1(): Int = {
      if (bitsLeft < 1) throw new IllegalArgumentException("eof")
      val v = (b(pos >> 3) >> (7 - (pos & 7))) & 1
      pos += 1
      v
    }
    def u(n: Int): Int = {
      // byte-at-a-time extraction: same MSB-first value as n calls to
      // u1(), checked up front so a truncated read consumes nothing
      if (bitsLeft < n) throw new IllegalArgumentException("eof")
      var v = 0
      var rem = n
      while (rem > 0) {
        val bitOff = pos & 7
        val take = if (8 - bitOff < rem) 8 - bitOff else rem
        v = (v << take) |
          (((b(pos >> 3) & 0xFF) >> (8 - bitOff - take)) & ((1 << take) - 1))
        pos += take
        rem -= take
      }
      v
    }
    /** Up to 32 bits (the Int result) MSB-first WITHOUT consuming — the
      * fixed-width VLC decode window. Caller must ensure n <= bitsLeft. */
    def peek(n: Int): Int = {
      require(n <= 32)
      var v = 0L
      var bp = pos >> 3
      val need = (pos & 7) + n
      var bits = 0
      while (bits < need) { v = (v << 8) | (b(bp) & 0xFF); bp += 1; bits += 8 }
      ((v >>> (bits - need)) & ((1L << n) - 1L)).toInt
    }
    /** Consume n bits previously peeked. */
    def skip(n: Int): Unit = pos += n
    /** Exp-Golomb unsigned. The zero-prefix is counted with one clz
      * over a peeked window — value, consumption, and the overflow /
      * eof error points are identical to the per-bit loop. */
    def ue(): Int = {
      val avail = bitsLeft
      // fast path: prefixes are almost always < 8 zeros — one narrow
      // peek (<= 2 byte loads) answers them
      if (avail >= 8) {
        val w8 = peek(8)
        if (w8 != 0) {
          val zeros = Integer.numberOfLeadingZeros(w8) - 24
          skip(zeros + 1)
          return (1 << zeros) - 1 + (if (zeros == 0) 0 else u(zeros))
        }
      }
      val wlen = if (avail < 32) avail else 32
      val w = if (wlen == 0) 0 else peek(wlen)
      if (w == 0) {
        if (wlen == 32) throw new IllegalArgumentException("ue overflow")
        else throw new IllegalArgumentException("eof")
      }
      val zeros = Integer.numberOfLeadingZeros(w) - (32 - wlen)
      skip(zeros + 1)
      (1 << zeros) - 1 + (if (zeros == 0) 0 else u(zeros))
    }
    /** Exp-Golomb signed. */
    def se(): Int = {
      val k = ue()
      if ((k & 1) == 1) (k + 1) / 2 else -(k / 2)
    }
    def byteAlign(): Unit = while ((pos & 7) != 0) {
      if (u1() != 0) throw new IllegalArgumentException("pcm alignment bit != 0")
    }
    def readByteAligned(): Int = {
      if ((pos & 7) != 0) throw new IllegalArgumentException("not aligned")
      if (bitsLeft < 8) throw new IllegalArgumentException("eof")
      val v = b(pos >> 3) & 0xFF
      pos += 8
      v
    }
    // the rbsp_stop_one_bit position is a constant of the buffer —
    // computed once, not re-scanned per macroblock (a 1080p P slice
    // would otherwise rescan megabytes thousands of times)
    private lazy val lastSetBit: Int = {
      var last = b.length * 8 - 1
      while (last >= 0 && ((b(last >> 3) >> (7 - (last & 7))) & 1) == 0) last -= 1
      last
    }

    /** more_rbsp_data(): true while bits beyond the trailing stop-bit
      * pattern remain. */
    def moreRbspData(): Boolean = bitsLeft > 0 && pos < lastSetBit

    /** CABAC slice-data alignment: consume cabac_alignment_one_bit
      * until byte-aligned; false when any alignment bit is not 1
      * (malformed stream). */
    def alignOnesToByte(): Boolean = {
      while ((pos & 7) != 0) if (u1() != 1) return false
      true
    }
  }

  /** MSB-first bit writer producing an RBSP payload. Backed by a plain
    * growable byte array (ByteArrayOutputStream's synchronized
    * per-byte write was a measured hotspot of the encode kernels). */
  private[operators] final class BitWriter {
    private var buf = new Array[Byte](256)
    private var len = 0
    // 64-bit MSB-first accumulator: whole-int u(n,v) appends are one
    // shift+or (the per-<=8-bit-chunk loop was a measured top leaf of
    // the mm encode kernels); full bytes drain from the top. At most
    // 7 pending bits before any append, so n <= 32 always fits.
    private var cur = 0L
    private var nBits = 0
    private def putByte(v: Int): Unit = {
      if (len == buf.length) buf = java.util.Arrays.copyOf(buf, len << 1)
      buf(len) = v.toByte
      len += 1
    }
    @inline private def drain(): Unit =
      while (nBits >= 8) {
        nBits -= 8
        putByte(((cur >>> nBits) & 0xFF).toInt)
      }
    def u1(v: Int): Unit = {
      cur = (cur << 1) | (v & 1)
      nBits += 1
      if (nBits >= 8) drain()
    }
    def u(n: Int, v: Int): Unit = {
      // identical MSB-first stream to n calls of u1()
      cur = (cur << n) | (v.toLong & ((1L << n) - 1L))
      nBits += n
      if (nBits >= 8) drain()
    }
    def ue(v: Int): Unit = {
      val x = v + 1
      val bits = 32 - Integer.numberOfLeadingZeros(x)
      u(bits - 1, 0)
      u(bits, x)
    }
    def se(v: Int): Unit = ue(if (v > 0) 2 * v - 1 else -2 * v)
    def byteAlignZero(): Unit = while (nBits != 0) u1(0)
    /** cabac_alignment_one_bit padding before CABAC slice data. */
    def byteAlignOne(): Unit = while (nBits != 0) u1(1)
    def byteAligned: Boolean = nBits == 0
    def writeByteAligned(v: Int): Unit = {
      require(nBits == 0, "not aligned")
      putByte(v & 0xFF)
    }
    def rbspTrailing(): Unit = { u1(1); byteAlignZero() }
    def toBytes: Array[Byte] = {
      require(nBits == 0, "dangling bits")
      java.util.Arrays.copyOf(buf, len)
    }
  }

  /** RBSP → NAL escaping: insert emulation_prevention_three_byte after
    * any 00 00 followed by a byte <= 03. */
  private[operators] def escape(rbsp: Array[Byte]): Array[Byte] = {
    // plain growable array (ByteArrayOutputStream's synchronized
    // per-byte write was a measured leaf of the encode kernels)
    var out = new Array[Byte](rbsp.length + 8)
    var len = 0
    @inline def put(v: Int): Unit = {
      if (len == out.length) out = java.util.Arrays.copyOf(out, len << 1)
      out(len) = v.toByte
      len += 1
    }
    var zeros = 0
    var i = 0
    while (i < rbsp.length) {
      val v = rbsp(i) & 0xFF
      if (zeros >= 2 && v <= 3) { put(3); zeros = 0 }
      put(v)
      zeros = if (v == 0) zeros + 1 else 0
      i += 1
    }
    java.util.Arrays.copyOf(out, len)
  }

  /** NAL payload → RBSP: drop emulation_prevention_three_bytes. */
  private[operators] def unescape(nal: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(nal.length)
    var zeros = 0
    var i = 0
    while (i < nal.length) {
      val v = nal(i) & 0xFF
      if (v == 3 && zeros >= 2 && i + 1 < nal.length && (nal(i + 1) & 0xFF) <= 3) {
        zeros = 0 // escape byte: skip
      } else {
        out.write(v)
        zeros = if (v == 0) zeros + 1 else 0
      }
      i += 1
    }
    out.toByteArray
  }

  // --------------------------------------------------------- encoder

  /** One decoded/encodable frame: full planes, 4:2:0 (chroma quarter
    * size). Luma values as unsigned bytes. */
  final case class Plane(width: Int, height: Int, y: Array[Byte],
      cb: Array[Byte], cr: Array[Byte]) {
    def meanLuma: Double = {
      var s = 0.0
      var i = 0
      while (i < y.length) { s += (y(i) & 0xFF); i += 1 }
      if (y.length == 0) 0.0 else s / y.length
    }
  }

  final case class Sps(widthMbs: Int, heightMbs: Int, log2MaxFrameNum: Int) {
    def width: Int = widthMbs * 16
    def height: Int = heightMbs * 16
  }

  /** Encode SPS for baseline, frame_mbs_only, pic_order_cnt_type 2. */
  private def encodeSps(widthMbs: Int, heightMbs: Int): Array[Byte] = {
    val w = new BitWriter
    w.u(8, 66) // profile_idc baseline
    w.u(8, 0) // constraint flags + reserved
    w.u(8, 20) // level_idc 2.0
    w.ue(0) // seq_parameter_set_id
    w.ue(0) // log2_max_frame_num_minus4 -> 4-bit frame_num
    w.ue(2) // pic_order_cnt_type 2 (POC from decode order, no fields)
    w.ue(1) // max_num_ref_frames
    w.u1(0) // gaps_in_frame_num_value_allowed_flag
    w.ue(widthMbs - 1) // pic_width_in_mbs_minus1
    w.ue(heightMbs - 1) // pic_height_in_map_units_minus1
    w.u1(1) // frame_mbs_only_flag
    w.u1(0) // direct_8x8_inference_flag
    w.u1(0) // frame_cropping_flag
    w.u1(0) // vui_parameters_present_flag
    w.rbspTrailing()
    (Array[Byte]((3 << 5 | 7).toByte)) ++ escape(w.toBytes) // nal_ref_idc=3, type=7
  }

  private def encodePps(cabac: Boolean = false): Array[Byte] = {
    val w = new BitWriter
    w.ue(0) // pic_parameter_set_id
    w.ue(0) // seq_parameter_set_id
    w.u1(if (cabac) 1 else 0) // entropy_coding_mode_flag
    w.u1(0) // bottom_field_pic_order_in_frame_present_flag
    w.ue(0) // num_slice_groups_minus1
    w.ue(0) // num_ref_idx_l0_default_active_minus1
    w.ue(0) // num_ref_idx_l1_default_active_minus1
    w.u1(0) // weighted_pred_flag
    w.u(2, 0) // weighted_bipred_idc
    w.se(0) // pic_init_qp_minus26
    w.se(0) // pic_init_qs_minus26
    w.se(0) // chroma_qp_index_offset
    // slices explicitly DISABLE the in-loop deblocking filter: this
    // decoder implements no filter, so disabling it in-stream is what
    // makes generated output pixel-identical in any conformant player
    w.u1(1) // deblocking_filter_control_present_flag
    w.u1(0) // constrained_intra_pred_flag
    w.u1(0) // redundant_pic_cnt_present_flag
    w.rbspTrailing()
    (Array[Byte]((3 << 5 | 8).toByte)) ++ escape(w.toBytes)
  }

  private def writePcmMb(w: BitWriter, plane: Plane, mbX: Int, mbY: Int): Unit = {
    w.byteAlignZero() // pcm_alignment_zero_bit
    val (pw, cw) = (plane.width, plane.width / 2)
    var r = 0
    while (r < 16) {
      var c = 0
      while (c < 16) {
        w.writeByteAligned(plane.y((mbY * 16 + r) * pw + mbX * 16 + c) & 0xFF)
        c += 1
      }
      r += 1
    }
    var comp = 0
    while (comp < 2) {
      val src = if (comp == 0) plane.cb else plane.cr
      var r2 = 0
      while (r2 < 8) {
        var c2 = 0
        while (c2 < 8) {
          w.writeByteAligned(src((mbY * 8 + r2) * cw + mbX * 8 + c2) & 0xFF)
          c2 += 1
        }
        r2 += 1
      }
      comp += 1
    }
  }

  /** Encode an IDR frame: every macroblock I_PCM. */
  private def encodeIdr(plane: Plane, widthMbs: Int, heightMbs: Int): Array[Byte] = {
    val w = new BitWriter
    w.ue(0) // first_mb_in_slice
    w.ue(7) // slice_type I (all slices in picture)
    w.ue(0) // pic_parameter_set_id
    w.u(4, 0) // frame_num
    w.ue(0) // idr_pic_id
    w.u1(0) // no_output_of_prior_pics_flag
    w.u1(0) // long_term_reference_flag
    w.se(0) // slice_qp_delta
    w.ue(1) // disable_deblocking_filter_idc = 1: loop filter OFF
    var mb = 0
    val n = widthMbs * heightMbs
    while (mb < n) {
      w.ue(25) // mb_type I_PCM
      writePcmMb(w, plane, mb % widthMbs, mb / widthMbs)
      mb += 1
    }
    w.rbspTrailing()
    (Array[Byte]((3 << 5 | 5).toByte)) ++ escape(w.toBytes)
  }

  /** Encode a P frame: the first `refreshMbs` macroblocks I_PCM (intra
    * refresh), the rest one P_Skip run (zero-MV copy from the
    * reference). */
  private def encodeP(plane: Plane, widthMbs: Int, heightMbs: Int,
      frameNum: Int, refreshMbs: Int): Array[Byte] = {
    val w = new BitWriter
    w.ue(0) // first_mb_in_slice
    w.ue(5) // slice_type P (all slices in picture)
    w.ue(0) // pic_parameter_set_id
    w.u(4, frameNum & 0xF) // frame_num
    w.u1(0) // num_ref_idx_active_override_flag
    w.u1(0) // ref_pic_list_modification_flag_l0
    w.u1(0) // adaptive_ref_pic_marking_mode_flag
    w.se(0) // slice_qp_delta
    w.ue(1) // disable_deblocking_filter_idc = 1: loop filter OFF
    val n = widthMbs * heightMbs
    var mb = 0
    while (mb < refreshMbs) {
      w.ue(0) // mb_skip_run
      w.ue(30) // mb_type: 5 + I_PCM(25) in P slices
      writePcmMb(w, plane, mb % widthMbs, mb / widthMbs)
      mb += 1
    }
    w.ue(n - refreshMbs) // final skip run covers the rest
    w.rbspTrailing()
    (Array[Byte]((3 << 5 | 1).toByte)) ++ escape(w.toBytes)
  }

  /** Encoded elementary stream: parameter sets + one NAL per frame. */
  final case class Encoded(sps: Array[Byte], pps: Array[Byte],
      frameNals: IndexedSeq[Array[Byte]], widthMbs: Int, heightMbs: Int)

  // --------------------------------------- CAVLC Intra_16x16 encoder

  /** DC level whose reconstruction at QP 36 equals pixel delta `d`.
    * QP 36 dequant is exact (dcY = 10·L, no rounding term), and the
    * DC-only IDCT yields (10·L + 32) >> 6 per sample: L = ⌈(64d−32)/10⌉
    * puts 10L+32 in [64d, 64d+9], whose floor-shift is exactly d for
    * every d in [−255, 255]. */
  private[operators] def dcLevelFor(d: Int): Int =
    if (d == 0) 0 else Math.floorDiv(64 * d - 32 + 9, 10)

  /** Write one Intra16x16DCLevel CAVLC block holding a single
    * coefficient `L` at scan position 0 (or none when L == 0) — real
    * entropy coding: coeff_token (Table 9-5, nC < 2 column), trailing-
    * one sign or level_prefix/suffix, total_zeros. */
  private def writeDcCavlc(w: BitWriter, level: Int): Unit = {
    if (level == 0) w.u1(1) // coeff_token TotalCoeff=0: '1'
    else if (level == 1 || level == -1) {
      w.u(2, 1) // coeff_token (T1s=1, TC=1): '01'
      w.u1(if (level < 0) 1 else 0) // trailing_ones_sign_flag
      w.u1(1) // total_zeros = 0: '1'
    } else {
      w.u(6, 5) // coeff_token (T1s=0, TC=1): '000101'
      // decoder adds 2 (first coeff past the trailing ones, T1s < 3)
      val lc = (if (level > 0) 2 * level - 2 else -2 * level - 1) - 2
      if (lc < 14) { w.u(lc, 0); w.u1(1) } // unary level_prefix
      else if (lc < 30) { w.u(14, 0); w.u1(1); w.u(4, lc - 14) }
      else { w.u(15, 0); w.u1(1); w.u(12, lc - 30) }
      w.u1(1) // total_zeros = 0
    }
  }

  /** Intra16x16 DC prediction of a FLAT-macroblock frame, from the
    * already-encoded (== exactly reconstructed) neighbor values. */
  private[operators] def flatDcPred(vals: IndexedSeq[Int], widthMbs: Int,
      mb: Int): Int = {
    val mx = mb % widthMbs
    val my = mb / widthMbs
    val left = if (mx > 0) vals(mb - 1) else -1
    val top = if (my > 0) vals(mb - widthMbs) else -1
    if (left >= 0 && top >= 0) (left + top + 1) >> 1
    else if (left >= 0) left
    else if (top >= 0) top
    else 128
  }

  /** Encode frames of FLAT Intra_16x16 macroblocks (one gray value per
    * MB, chroma neutral 128) as an entropy-coded CAVLC stream: each MB
    * is I_16x16_2_0_0 (DC prediction, no AC, no chroma residual) whose
    * luma-DC residual carries the delta to its DC prediction. Exact by
    * construction (QP 36, [[dcLevelFor]]): decoding returns precisely
    * `mbVals`. Frame 0 is an IDR; later frames are non-IDR I slices.
    * MBs whose delta is zero alternate between an empty block and a
    * reconstructing-to-zero ±1 trailing-one — same pixels, both
    * entropy paths exercised. */
  def encodeCavlcIntra(mbVals: IndexedSeq[IndexedSeq[Int]], widthMbs: Int,
      heightMbs: Int): Encoded = {
    require(mbVals.nonEmpty && mbVals.forall(_.length == widthMbs * heightMbs))
    require(mbVals.forall(_.forall(v => v >= 0 && v <= 255)))
    val nals = mbVals.zipWithIndex.map { case (vals, k) =>
      val w = new BitWriter
      val isIdr = k == 0
      w.ue(0) // first_mb_in_slice
      w.ue(7) // slice_type I (all slices in picture)
      w.ue(0) // pic_parameter_set_id
      w.u(4, if (isIdr) 0 else k & 0xF) // frame_num
      if (isIdr) {
        w.ue(0) // idr_pic_id
        w.u1(0); w.u1(0) // no_output_of_prior / long_term_reference
      } else {
        w.u1(0) // adaptive_ref_pic_marking_mode_flag
      }
      w.se(10) // slice_qp_delta -> SliceQPY = 36 (exact DC dequant)
      w.ue(1) // disable_deblocking_filter_idc = 1: loop filter OFF
      var mb = 0
      val n = widthMbs * heightMbs
      while (mb < n) {
        w.ue(3) // mb_type I_16x16_2_0_0 (DC pred, CBP luma/chroma 0)
        w.ue(0) // intra_chroma_pred_mode DC
        w.se(0) // mb_qp_delta
        val d = vals(mb) - flatDcPred(vals, widthMbs, mb)
        val level =
          if (d != 0) dcLevelFor(d)
          else if ((k + mb) % 2 == 0) 0
          else if ((k + mb) % 4 == 1) 1 // (10+32)>>6 == 0: pixels unchanged
          else -1
        writeDcCavlc(w, level)
        mb += 1
      }
      w.rbspTrailing()
      (Array[Byte]((3 << 5 | (if (isIdr) 5 else 1)).toByte)) ++ escape(w.toBytes)
    }
    Encoded(encodeSps(widthMbs, heightMbs), encodePps(), nals, widthMbs, heightMbs)
  }

  // ----------------------------------- full-CAVLC textured encoder



  /** Forward 4x4 core transform (Cf r CfT): the integer DCT
    * approximation every H.264 encoder runs. Row-major in/out. */
  private def fdct4x4(r: Array[Int]): Array[Int] = {
    val t = new Array[Int](16)
    var i = 0
    while (i < 4) {
      val o = i * 4
      val e0 = r(o) + r(o + 3); val e3 = r(o) - r(o + 3)
      val e1 = r(o + 1) + r(o + 2); val e2 = r(o + 1) - r(o + 2)
      t(o) = e0 + e1; t(o + 2) = e0 - e1
      t(o + 1) = 2 * e3 + e2; t(o + 3) = e3 - 2 * e2
      i += 1
    }
    val out = new Array[Int](16)
    var j = 0
    while (j < 4) {
      val e0 = t(j) + t(12 + j); val e3 = t(j) - t(12 + j)
      val e1 = t(4 + j) + t(8 + j); val e2 = t(4 + j) - t(8 + j)
      out(j) = e0 + e1; out(8 + j) = e0 - e1
      out(4 + j) = 2 * e3 + e2; out(12 + j) = e3 - 2 * e2
      j += 1
    }
    out
  }

  /** Forward 4x4 Hadamard for the luma DC array, with the encoder-side
    * /2 scaling (matches [[ihadamard4x4]] + [[dequantLumaDc]]). */
  private def fhadamard4x4(c: Array[Int]): Array[Int] = {
    val t = new Array[Int](16)
    var i = 0
    while (i < 4) {
      val o = i * 4
      val e0 = c(o) + c(o + 3); val e3 = c(o) - c(o + 3)
      val e1 = c(o + 1) + c(o + 2); val e2 = c(o + 1) - c(o + 2)
      t(o) = e0 + e1; t(o + 2) = e0 - e1
      t(o + 1) = e3 + e2; t(o + 3) = e3 - e2
      i += 1
    }
    val out = new Array[Int](16)
    var j = 0
    while (j < 4) {
      val e0 = t(j) + t(12 + j); val e3 = t(j) - t(12 + j)
      val e1 = t(4 + j) + t(8 + j); val e2 = t(4 + j) - t(8 + j)
      out(j) = (e0 + e1) >> 1; out(8 + j) = (e0 - e1) >> 1
      out(4 + j) = (e3 + e2) >> 1; out(12 + j) = (e3 - e2) >> 1
      j += 1
    }
    out
  }

  // encoder quant multipliers MF per levelScale class and qp%6
  private val MfTab: Array[Array[Int]] = Array(
    Array(13107, 11916, 10082, 9362, 8192, 7282),
    Array(5243, 4660, 4194, 3647, 3355, 2893),
    Array(8066, 7490, 6554, 5825, 5243, 4559))

  /** Quantize one AC (or plain 4x4) coefficient at raster `pos`. The
    * shift is calibrated against THIS decoder's [[dequant4x4]] +
    * [[idct4x4]] chain (identity to within quantization error — the
    * tools/QuantCal sweep: relerr 0.000-0.055 over qp 20-44). */
  // largest magnitude every CAVLC level position can carry: at the
  // tightest point (suffixLength 0 with the first-after-T1s -2
  // adjustment) levelCode tops out at 4125, i.e. |level| 2063 — clamp
  // a notch under it. Real encoders clamp exactly like this; clipping
  // costs fidelity, never correctness (the recon loop is closed over
  // the clamped level), and keeps high-contrast low-QP input encodable
  // instead of crashing the writer.
  private val MaxLevel = 2047

  private def quantAc(w: Int, pos: Int, qp: Int): Int = {
    val mf = MfTab(LsClass(pos))(qp % 6)
    val shift = 11 + qp / 6
    val f = (1L << shift) / 3 // intra deadzone
    val v = math.min(((math.abs(w).toLong * mf + f) >> shift).toInt, MaxLevel)
    if (w < 0) -v else v
  }

  /** Quantize one (luma or chroma) DC Hadamard coefficient — one more
    * bit than AC: the inverse DC chain ([[ihadamard4x4]]/
    * [[ihadamard2x2]] + the DC dequants) carries 2x the gain of the AC
    * chain at equal qp. */
  private def quantDc(w: Int, qp: Int): Int = {
    val mf = MfTab(0)(qp % 6)
    val shift = 12 + qp / 6
    val f = (1L << shift) / 3
    val v = math.min(((math.abs(w).toLong * mf + f) >> shift).toInt, MaxLevel)
    if (w < 0) -v else v
  }

  /** Encode frames as FULL-CAVLC Intra_16x16 pictures — the general
    * entropy-coded path real camera encoders emit: per-MB prediction
    * (Vertical/Horizontal/DC/Plane, chosen per availability so every
    * mode is exercised), forward 4x4 transform + Hadamard DC, spec
    * quantization at `qp`, luma AC (CBP luma 15) and chroma DC+AC
    * (CBP chroma 2) residual blocks, all CAVLC nC contexts.
    *
    * Returns the bitstream AND the reconstruction computed through the
    * decoder-shared [[reconI16x16Luma]]/[[reconChroma8x8]] helpers, so
    * `decodeNals` output must equal it BIT-EXACTLY — any
    * desynchronization anywhere in the entropy or transform chain
    * corrupts the pixels and fails the equality. */
  def encodeCavlcTextured(frames: IndexedSeq[Plane],
      qp: Int, slices: Int = 1): (Encoded, IndexedSeq[Plane]) = {
    require(frames.nonEmpty && qp >= 10 && qp <= 51, "qp in [10,51]")
    val wMbs = frames.head.width / 16
    val hMbs = frames.head.height / 16
    require(frames.head.width % 16 == 0 && frames.head.height % 16 == 0)
    require(slices >= 1 && slices <= hMbs, "slices in [1, heightMbs]")
    val w = frames.head.width
    val cw = w / 2
    val lumaBlkW = wMbs * 4
    val chromaBlkW = wMbs * 2
    val recons = IndexedSeq.newBuilder[Plane]
    // MULTI-SLICE pictures (r15): `slices` > 1 splits every picture
    // into that many row-aligned slices, each its own NAL with
    // first_mb_in_slice = its first row's MB address — the structure
    // real footage uses for error resilience and row-parallel decode.
    // Neighbor availability stops at the slice boundary (7.4.3): the
    // first row of each slice predicts without "above" samples, nC
    // derivation treats above-slice blocks as unavailable, and the nC
    // state is slice-local — all mirrored bit-exactly by decodeSlice's
    // mbInSlice gating, which the round-trip equality gates pin.
    // proportional row boundaries: slice i covers MB rows
    // [floor(i·hMbs/slices), floor((i+1)·hMbs/slices)) — always exactly
    // `slices` non-empty row-aligned slices (a ceil-division split
    // produces FEWER when hMbs % slices != 0)
    def sliceRow(i: Int): Int = i * hMbs / slices
    val nals = frames.zipWithIndex.flatMap { case (src, fi) =>
      val isIdr = fi == 0
      // reconstruction is per-FRAME (later slices of the same picture
      // never read other-slice pixels — availability gating above —
      // but the next frame's encode does not exist here, and recons
      // reports whole frames)
      val ry = new Array[Byte](w * frames.head.height)
      val rcb = new Array[Byte](cw * (frames.head.height / 2))
      val rcr = new Array[Byte](cw * (frames.head.height / 2))
      val qpc = chromaQp(qp)
      val sliceNals = (0 until slices).map { si =>
        val fr0 = sliceRow(si)
        val rowEnd = sliceRow(si + 1)
        val bw = new BitWriter
        bw.ue(fr0 * wMbs) // first_mb_in_slice
        bw.ue(7) // slice_type I (all slices in picture)
        bw.ue(0) // pic_parameter_set_id
        bw.u(4, if (isIdr) 0 else fi & 0xF) // frame_num
        if (isIdr) {
          bw.ue(0) // idr_pic_id
          bw.u1(0); bw.u1(0) // no_output_of_prior / long_term_reference
        } else {
          bw.u1(0) // adaptive_ref_pic_marking_mode_flag
        }
        bw.se(qp - 26) // slice_qp_delta
        bw.ue(1) // disable_deblocking_filter_idc = 1: loop filter OFF
        // encoder-side nC bookkeeping, identical to the decoder's:
        // SLICE-local grids, above-slice neighbors unavailable (-1)
        val lumaTc = new Array[Int](lumaBlkW * hMbs * 4)
        val cbTc = new Array[Int](chromaBlkW * hMbs * 2)
        val crTc = new Array[Int](chromaBlkW * hMbs * 2)
        def nCLumaE(gx: Int, gy: Int): Int = {
          val a = if (gx > 0) lumaTc(gy * lumaBlkW + gx - 1) else -1
          val b = if (gy > fr0 * 4) lumaTc((gy - 1) * lumaBlkW + gx) else -1
          if (a >= 0 && b >= 0) (a + b + 1) >> 1
          else if (a >= 0) a else if (b >= 0) b else 0
        }
        def nCChromaE(tcArr: Array[Int], gx: Int, gy: Int): Int = {
          val a = if (gx > 0) tcArr(gy * chromaBlkW + gx - 1) else -1
          val b = if (gy > fr0 * 2) tcArr((gy - 1) * chromaBlkW + gx) else -1
          if (a >= 0 && b >= 0) (a + b + 1) >> 1
          else if (a >= 0) a else if (b >= 0) b else 0
        }
        var mb = fr0 * wMbs
        while (mb < rowEnd * wMbs) {
        val mx = mb % wMbs
        val my = mb / wMbs
        val hasL = mx > 0
        val hasT = my > fr0 // first slice row has no in-slice "above"
        // sweep the prediction modes; availability-gated
        val predMode = (mb + fi) % 4 match {
          case 0 if hasT => 0 // Vertical
          case 1 if hasL => 1 // Horizontal
          case 3 if hasL && hasT => 3 // Plane
          case _ => 2 // DC
        }
        val chromaMode = predMode match {
          case 0 => 2; case 1 => 1; case 3 => 3; case _ => 0
        }
        bw.ue(1 + predMode + 4 * 2 + 12) // mb_type: CBP luma 15 chroma 2
        bw.ue(chromaMode) // intra_chroma_pred_mode
        bw.se(0) // mb_qp_delta
        // ---- luma: predict from RECONSTRUCTED pixels, transform, quant
        val predL = predIntra16x16(predMode, hasL, hasT,
          (px, py) => ry((my * 16 + py) * w + mx * 16 + px) & 0xFF)
        val dcRaster = new Array[Int](16)
        val acLevels = new Array[Array[Int]](16)
        var blk = 0
        while (blk < 16) {
          val res = new Array[Int](16)
          val bx = LumaBlkX(blk) * 4
          val by = LumaBlkY(blk) * 4
          var rr = 0
          while (rr < 4) {
            var cc = 0
            while (cc < 4) {
              val p = (by + rr) * 16 + bx + cc
              res(rr * 4 + cc) =
                (src.y((my * 16 + by + rr) * w + mx * 16 + bx + cc) & 0xFF) -
                  predL(p)
              cc += 1
            }
            rr += 1
          }
          val wt = fdct4x4(res)
          dcRaster(LumaBlkY(blk) * 4 + LumaBlkX(blk)) = wt(0)
          val ac = new Array[Int](15)
          var k = 1
          while (k < 16) {
            ac(k - 1) = quantAc(wt(Zigzag4x4(k)), Zigzag4x4(k), qp)
            k += 1
          }
          acLevels(blk) = ac
          blk += 1
        }
        val dcQ = fhadamard4x4(dcRaster).map(quantDc(_, qp))
        val dcScan = new Array[Int](16)
        var k = 0
        while (k < 16) { dcScan(k) = dcQ(Zigzag4x4(k)); k += 1 }
        // ---- entropy: DC, then the 16 AC blocks (7.3.5.3 order)
        Cavlc.writeResidual(bw, dcScan, nCLumaE(mx * 4, my * 4))
        blk = 0
        while (blk < 16) {
          val gx = mx * 4 + LumaBlkX(blk)
          val gy = my * 4 + LumaBlkY(blk)
          val tc = Cavlc.writeResidual(bw, acLevels(blk),
            nCLumaE(gx, gy))
          lumaTc(gy * lumaBlkW + gx) = tc
          blk += 1
        }
        // ---- chroma: per-plane DC+AC
        val cbData = encodeChromaPlane(src.cb, rcb, mx, my, cw, chromaMode,
          hasL, hasT, qpc)
        val crData = encodeChromaPlane(src.cr, rcr, mx, my, cw, chromaMode,
          hasL, hasT, qpc)
        Cavlc.writeResidual(bw, cbData._1, -1)
        Cavlc.writeResidual(bw, crData._1, -1)
        var cblk = 0
        while (cblk < 4) {
          val gx = mx * 2 + cblk % 2
          val gy = my * 2 + cblk / 2
          cbTc(gy * chromaBlkW + gx) = Cavlc.writeResidual(bw,
            cbData._2(cblk), nCChromaE(cbTc, gx, gy))
          cblk += 1
        }
        cblk = 0
        while (cblk < 4) {
          val gx = mx * 2 + cblk % 2
          val gy = my * 2 + cblk / 2
          crTc(gy * chromaBlkW + gx) = Cavlc.writeResidual(bw,
            crData._2(cblk), nCChromaE(crTc, gx, gy))
          cblk += 1
        }
        // ---- reconstruction through the DECODER-shared helpers
        val lumaOut = reconI16x16Luma(predL, dcScan, acLevels, qp)
        var row = 0
        while (row < 16) {
          var cc = 0
          while (cc < 16) {
            ry((my * 16 + row) * w + mx * 16 + cc) =
              lumaOut(row * 16 + cc).toByte
            cc += 1
          }
          row += 1
        }
        reconChromaInto(rcb, cbData, mx, my, cw, qpc)
        reconChromaInto(rcr, crData, mx, my, cw, qpc)
        mb += 1
        }
        bw.rbspTrailing()
        (Array[Byte]((3 << 5 | (if (isIdr) 5 else 1)).toByte)) ++ escape(bw.toBytes)
      }
      recons += Plane(w, frames.head.height, ry, rcb, rcr)
      sliceNals
    }
    (Encoded(encodeSps(wMbs, hMbs), encodePps(), nals, wMbs, hMbs),
      recons.result())
  }

  // --------------------------------------- CABAC Intra_16x16 (r20)

  /** condTermA + 2·condTermB for coded_block_flag: `get` returns the
    * neighbor block's cbf, or -1 when the neighbor lies outside the
    * frame — unavailable neighbors of an INTRA macroblock count 1
    * (9.3.3.1.1.9). */
  @inline private def cbfInc(left: Int, above: Int): Int =
    (if (left < 0) 1 else left) + 2 * (if (above < 0) 1 else above)

  /** Encode frames as FULL-CABAC Intra_16x16 pictures: the same
    * prediction sweep, transforms, quantization, and reconstruction as
    * [[encodeCavlcTextured]], entropy-coded through the [[Cabac]]
    * engine (context-coded mb_type / chroma mode / qp_delta /
    * coded_block_flags / significance maps / UEG0 levels, bypass
    * signs, per-MB end_of_slice terminate, flush). Emits the CABAC
    * PPS and the [[CabacSeiUuid]] marker SEI — see [[Cabac]]'s
    * honesty boundary. Single slice per picture, I-only. Returns the
    * bitstream and the decoder-exact reconstruction. */
  def encodeCabacTextured(frames: IndexedSeq[Plane],
      qp: Int): (Encoded, IndexedSeq[Plane]) = {
    require(frames.nonEmpty && qp >= 10 && qp <= 51, "qp in [10,51]")
    val wMbs = frames.head.width / 16
    val hMbs = frames.head.height / 16
    require(frames.head.width % 16 == 0 && frames.head.height % 16 == 0)
    val w = frames.head.width
    val cw = w / 2
    val qpc = chromaQp(qp)
    val recons = IndexedSeq.newBuilder[Plane]
    val nals = frames.zipWithIndex.map { case (src, fi) =>
      val isIdr = fi == 0
      val ry = new Array[Byte](w * frames.head.height)
      val rcb = new Array[Byte](cw * (frames.head.height / 2))
      val rcr = new Array[Byte](cw * (frames.head.height / 2))
      val bw = new BitWriter
      bw.ue(0) // first_mb_in_slice
      bw.ue(7) // slice_type I (all slices in picture)
      bw.ue(0) // pic_parameter_set_id
      bw.u(4, if (isIdr) 0 else fi & 0xF) // frame_num
      if (isIdr) {
        bw.ue(0) // idr_pic_id
        bw.u1(0); bw.u1(0) // no_output_of_prior / long_term_reference
      } else {
        bw.u1(0) // adaptive_ref_pic_marking_mode_flag
      }
      bw.se(qp - 26) // slice_qp_delta
      bw.ue(1) // disable_deblocking_filter_idc = 1: loop filter OFF
      bw.byteAlignOne() // cabac_alignment_one_bit
      val ctxs = Cabac.initCtxs()
      val e = new Cabac.Encoder(bw)
      // cbf grids (slice == picture here); -1 marks outside-frame
      val dcCbf = new Array[Int](wMbs * hMbs)
      val acCbf = new Array[Int](wMbs * 4 * hMbs * 4)
      val cbDc = new Array[Int](wMbs * hMbs)
      val crDc = new Array[Int](wMbs * hMbs)
      val cbAc = new Array[Int](wMbs * 2 * hMbs * 2)
      val crAc = new Array[Int](wMbs * 2 * hMbs * 2)
      val chromaModeGrid = new Array[Int](wMbs * hMbs)
      def mbN(arr: Array[Int], mx: Int, my: Int): Int =
        if (mx < 0 || my < 0) -1 else arr(my * wMbs + mx)
      def blkN(arr: Array[Int], gw: Int, gx: Int, gy: Int): Int =
        if (gx < 0 || gy < 0) -1 else arr(gy * gw + gx)
      var mb = 0
      val nMbs = wMbs * hMbs
      while (mb < nMbs) {
        val mx = mb % wMbs
        val my = mb / wMbs
        val hasL = mx > 0
        val hasT = my > 0
        val predMode = (mb + fi) % 4 match {
          case 0 if hasT => 0
          case 1 if hasL => 1
          case 3 if hasL && hasT => 3
          case _ => 2
        }
        val chromaMode = predMode match {
          case 0 => 2; case 1 => 1; case 3 => 3; case _ => 0
        }
        // ---- mb_type: I_16x16, cbp luma 15 chroma 2 (Table 9-36 shape)
        val mtInc = (if (hasL) 1 else 0) + (if (hasT) 1 else 0)
        e.decision(ctxs(Cabac.CtxMbTypeI + mtInc), 1) // not I_4x4
        e.terminate(0) // not I_PCM
        e.decision(ctxs(Cabac.CtxMbTypeI + 3), 1) // cbp luma 15
        e.decision(ctxs(Cabac.CtxMbTypeI + 4), 1) // cbp chroma != 0
        e.decision(ctxs(Cabac.CtxMbTypeI + 5), 1) // cbp chroma == 2
        e.decision(ctxs(Cabac.CtxMbTypeI + 6), (predMode >> 1) & 1)
        e.decision(ctxs(Cabac.CtxMbTypeI + 7), predMode & 1)
        // ---- intra_chroma_pred_mode (TU cMax 3)
        val cpInc = (if (hasL && chromaModeGrid((my) * wMbs + mx - 1) != 0) 1 else 0) +
          (if (hasT && chromaModeGrid((my - 1) * wMbs + mx) != 0) 1 else 0)
        e.decision(ctxs(Cabac.CtxChromaPred + cpInc),
          if (chromaMode != 0) 1 else 0)
        if (chromaMode != 0) {
          e.decision(ctxs(Cabac.CtxChromaPred + 3),
            if (chromaMode >= 2) 1 else 0)
          if (chromaMode >= 2)
            e.decision(ctxs(Cabac.CtxChromaPred + 3),
              if (chromaMode == 3) 1 else 0)
        }
        chromaModeGrid(mb) = chromaMode
        // ---- mb_qp_delta = 0 (bin 0; prev delta always 0 here)
        e.decision(ctxs(Cabac.CtxMbQpDelta), 0)
        // ---- transforms (identical to the CAVLC encoder)
        val predL = predIntra16x16(predMode, hasL, hasT,
          (px, py) => ry((my * 16 + py) * w + mx * 16 + px) & 0xFF)
        val dcRaster = new Array[Int](16)
        val acLevels = new Array[Array[Int]](16)
        var blk = 0
        while (blk < 16) {
          val res = new Array[Int](16)
          val bx = LumaBlkX(blk) * 4
          val by = LumaBlkY(blk) * 4
          var rr = 0
          while (rr < 4) {
            var cc = 0
            while (cc < 4) {
              val p = (by + rr) * 16 + bx + cc
              res(rr * 4 + cc) =
                (src.y((my * 16 + by + rr) * w + mx * 16 + bx + cc) & 0xFF) -
                  predL(p)
              cc += 1
            }
            rr += 1
          }
          val wt = fdct4x4(res)
          dcRaster(LumaBlkY(blk) * 4 + LumaBlkX(blk)) = wt(0)
          val ac = new Array[Int](15)
          var k = 1
          while (k < 16) {
            ac(k - 1) = quantAc(wt(Zigzag4x4(k)), Zigzag4x4(k), qp)
            k += 1
          }
          acLevels(blk) = ac
          blk += 1
        }
        val dcQ = fhadamard4x4(dcRaster).map(quantDc(_, qp))
        val dcScan = new Array[Int](16)
        var k = 0
        while (k < 16) { dcScan(k) = dcQ(Zigzag4x4(k)); k += 1 }
        // ---- residuals: luma DC (cat0), 16 luma AC (cat1), chroma
        // DC cb/cr (cat3), 4+4 chroma AC (cat4) — 7.3.5.3 order
        dcCbf(mb) = if (Cabac.writeResidual(e, ctxs, 0, dcScan,
          cbfInc(mbN(dcCbf, mx - 1, my), mbN(dcCbf, mx, my - 1))) > 0) 1 else 0
        blk = 0
        while (blk < 16) {
          val gx = mx * 4 + LumaBlkX(blk)
          val gy = my * 4 + LumaBlkY(blk)
          val t = Cabac.writeResidual(e, ctxs, 1, acLevels(blk),
            cbfInc(blkN(acCbf, wMbs * 4, gx - 1, gy),
              blkN(acCbf, wMbs * 4, gx, gy - 1)))
          acCbf(gy * wMbs * 4 + gx) = if (t > 0) 1 else 0
          blk += 1
        }
        val cbData = encodeChromaPlane(src.cb, rcb, mx, my, cw, chromaMode,
          hasL, hasT, qpc)
        val crData = encodeChromaPlane(src.cr, rcr, mx, my, cw, chromaMode,
          hasL, hasT, qpc)
        cbDc(mb) = if (Cabac.writeResidual(e, ctxs, 3, cbData._1,
          cbfInc(mbN(cbDc, mx - 1, my), mbN(cbDc, mx, my - 1))) > 0) 1 else 0
        crDc(mb) = if (Cabac.writeResidual(e, ctxs, 3, crData._1,
          cbfInc(mbN(crDc, mx - 1, my), mbN(crDc, mx, my - 1))) > 0) 1 else 0
        var cblk = 0
        while (cblk < 4) {
          val gx = mx * 2 + cblk % 2
          val gy = my * 2 + cblk / 2
          val t = Cabac.writeResidual(e, ctxs, 4, cbData._2(cblk),
            cbfInc(blkN(cbAc, wMbs * 2, gx - 1, gy),
              blkN(cbAc, wMbs * 2, gx, gy - 1)))
          cbAc(gy * wMbs * 2 + gx) = if (t > 0) 1 else 0
          cblk += 1
        }
        cblk = 0
        while (cblk < 4) {
          val gx = mx * 2 + cblk % 2
          val gy = my * 2 + cblk / 2
          val t = Cabac.writeResidual(e, ctxs, 4, crData._2(cblk),
            cbfInc(blkN(crAc, wMbs * 2, gx - 1, gy),
              blkN(crAc, wMbs * 2, gx, gy - 1)))
          crAc(gy * wMbs * 2 + gx) = if (t > 0) 1 else 0
          cblk += 1
        }
        // ---- reconstruction through the decoder-shared helpers
        val lumaOut = reconI16x16Luma(predL, dcScan, acLevels, qp)
        var row = 0
        while (row < 16) {
          var cc = 0
          while (cc < 16) {
            ry((my * 16 + row) * w + mx * 16 + cc) =
              lumaOut(row * 16 + cc).toByte
            cc += 1
          }
          row += 1
        }
        reconChromaInto(rcb, cbData, mx, my, cw, qpc)
        reconChromaInto(rcr, crData, mx, my, cw, qpc)
        // ---- end_of_slice_flag
        if (mb == nMbs - 1) { e.terminate(1); e.flushTerminate() }
        else e.terminate(0)
        mb += 1
      }
      bw.byteAlignZero() // cabac trailing alignment after the stop bit
      recons += Plane(w, frames.head.height, ry, rcb, rcr)
      (Array[Byte]((3 << 5 | (if (isIdr) 5 else 1)).toByte)) ++ escape(bw.toBytes)
    }
    (Encoded(encodeSps(wMbs, hMbs), encodePps(cabac = true),
      encodeCabacSei() +: nals, wMbs, hMbs), recons.result())
  }

  /** Decode one single-slice CABAC I picture (Intra_16x16 subset, any
    * CBP; marker-gated by the caller). Returns (plane, filterExact). */
  private def decodeCabacISlice(rbsp: Array[Byte], sps: Sps, pps: Pps,
      isIdr: Boolean): Option[(Plane, Boolean)] = {
    val r = new BitReader(rbsp)
    try {
      if (r.ue() != 0) return None // multi-slice CABAC: out of subset
      val sliceType = r.ue()
      if (sliceType % 5 != 2) return None // I slices only
      if (r.ue() != 0) return None // pic_parameter_set_id
      r.u(sps.log2MaxFrameNum) // frame_num
      if (isIdr) { r.ue(); r.u1(); r.u1() }
      else r.u1() // adaptive_ref_pic_marking_mode_flag (nal_ref_idc>0)
      val qpy = pps.initQp + r.se()
      if (qpy < 0 || qpy > 51) return None
      var filterExact = false
      if (pps.deblockPresent) {
        val idc = r.ue()
        filterExact = idc == 1
        if (idc != 1) r.se() // alpha offset (beta follows)
        if (idc != 1) r.se()
      }
      if (!r.alignOnesToByte()) return None
      val d = new Cabac.Decoder(r)
      val ctxs = Cabac.initCtxs()
      val wMbs = sps.widthMbs
      val hMbs = sps.heightMbs
      val w = sps.width
      val cw = w / 2
      val qpc = chromaQp(qpy)
      val ry = new Array[Byte](w * sps.height)
      val rcb = new Array[Byte](cw * (sps.height / 2))
      val rcr = new Array[Byte](cw * (sps.height / 2))
      val dcCbf = new Array[Int](wMbs * hMbs)
      val acCbf = new Array[Int](wMbs * 4 * hMbs * 4)
      val cbDc = new Array[Int](wMbs * hMbs)
      val crDc = new Array[Int](wMbs * hMbs)
      val cbAc = new Array[Int](wMbs * 2 * hMbs * 2)
      val crAc = new Array[Int](wMbs * 2 * hMbs * 2)
      val chromaModeGrid = new Array[Int](wMbs * hMbs)
      def mbN(arr: Array[Int], mx: Int, my: Int): Int =
        if (mx < 0 || my < 0) -1 else arr(my * wMbs + mx)
      def blkN(arr: Array[Int], gw: Int, gx: Int, gy: Int): Int =
        if (gx < 0 || gy < 0) -1 else arr(gy * gw + gx)
      val nMbs = wMbs * hMbs
      var mb = 0
      var ended = false
      while (mb < nMbs && !ended) {
        val mx = mb % wMbs
        val my = mb / wMbs
        val hasL = mx > 0
        val hasT = my > 0
        // ---- mb_type
        val mtInc = (if (hasL) 1 else 0) + (if (hasT) 1 else 0)
        if (d.decision(ctxs(Cabac.CtxMbTypeI + mtInc)) == 0)
          return None // I_4x4 under CABAC: out of subset
        if (d.terminate() == 1) return None // I_PCM: out of subset
        val cbpL = if (d.decision(ctxs(Cabac.CtxMbTypeI + 3)) == 1) 15 else 0
        val cbpC =
          if (d.decision(ctxs(Cabac.CtxMbTypeI + 4)) == 0) 0
          else if (d.decision(ctxs(Cabac.CtxMbTypeI + 5)) == 1) 2 else 1
        val predMode = (d.decision(ctxs(Cabac.CtxMbTypeI + 6)) << 1) |
          d.decision(ctxs(Cabac.CtxMbTypeI + 7))
        // ---- intra_chroma_pred_mode
        val cpInc = (if (hasL && chromaModeGrid(my * wMbs + mx - 1) != 0) 1 else 0) +
          (if (hasT && chromaModeGrid((my - 1) * wMbs + mx) != 0) 1 else 0)
        val chromaMode =
          if (d.decision(ctxs(Cabac.CtxChromaPred + cpInc)) == 0) 0
          else if (d.decision(ctxs(Cabac.CtxChromaPred + 3)) == 0) 1
          else if (d.decision(ctxs(Cabac.CtxChromaPred + 3)) == 0) 2
          else 3
        chromaModeGrid(mb) = chromaMode
        // ---- mb_qp_delta (unary; only 0 stays in the subset — a
        // nonzero delta would shift qp mid-slice, which the recon
        // helpers support, but our streams never emit it; decode it
        // anyway for completeness)
        var qpDeltaK = 0
        if (d.decision(ctxs(Cabac.CtxMbQpDelta)) == 1) {
          qpDeltaK = 1
          var more = d.decision(ctxs(Cabac.CtxMbQpDelta + 2)) == 1
          while (more) {
            qpDeltaK += 1
            if (qpDeltaK > 52) return None
            more = d.decision(ctxs(Cabac.CtxMbQpDelta + 3)) == 1
          }
        }
        if (qpDeltaK != 0) return None // out of subset (never emitted)
        // ---- residuals
        val dcScan =
          Cabac.readResidual(d, ctxs, 0, 16,
            cbfInc(mbN(dcCbf, mx - 1, my), mbN(dcCbf, mx, my - 1)))
        dcCbf(mb) = if (dcScan._2 > 0) 1 else 0
        val acLevels = new Array[Array[Int]](16)
        if (cbpL == 15) {
          var blk = 0
          while (blk < 16) {
            val gx = mx * 4 + LumaBlkX(blk)
            val gy = my * 4 + LumaBlkY(blk)
            val res = Cabac.readResidual(d, ctxs, 1, 15,
              cbfInc(blkN(acCbf, wMbs * 4, gx - 1, gy),
                blkN(acCbf, wMbs * 4, gx, gy - 1)))
            acLevels(blk) = res._1
            acCbf(gy * wMbs * 4 + gx) = if (res._2 > 0) 1 else 0
            blk += 1
          }
        }
        var cbDcScan: Array[Int] = null
        var crDcScan: Array[Int] = null
        val cbAcL = new Array[Array[Int]](4)
        val crAcL = new Array[Array[Int]](4)
        if (cbpC > 0) {
          val c0 = Cabac.readResidual(d, ctxs, 3, 4,
            cbfInc(mbN(cbDc, mx - 1, my), mbN(cbDc, mx, my - 1)))
          cbDcScan = c0._1
          cbDc(mb) = if (c0._2 > 0) 1 else 0
          val c1 = Cabac.readResidual(d, ctxs, 3, 4,
            cbfInc(mbN(crDc, mx - 1, my), mbN(crDc, mx, my - 1)))
          crDcScan = c1._1
          crDc(mb) = if (c1._2 > 0) 1 else 0
        }
        if (cbpC == 2) {
          var cblk = 0
          while (cblk < 4) {
            val gx = mx * 2 + cblk % 2
            val gy = my * 2 + cblk / 2
            val res = Cabac.readResidual(d, ctxs, 4, 15,
              cbfInc(blkN(cbAc, wMbs * 2, gx - 1, gy),
                blkN(cbAc, wMbs * 2, gx, gy - 1)))
            cbAcL(cblk) = res._1
            cbAc(gy * wMbs * 2 + gx) = if (res._2 > 0) 1 else 0
            cblk += 1
          }
          cblk = 0
          while (cblk < 4) {
            val gx = mx * 2 + cblk % 2
            val gy = my * 2 + cblk / 2
            val res = Cabac.readResidual(d, ctxs, 4, 15,
              cbfInc(blkN(crAc, wMbs * 2, gx - 1, gy),
                blkN(crAc, wMbs * 2, gx, gy - 1)))
            crAcL(cblk) = res._1
            crAc(gy * wMbs * 2 + gx) = if (res._2 > 0) 1 else 0
            cblk += 1
          }
        }
        // ---- reconstruction (decoder-shared helpers)
        val predL = predIntra16x16(predMode, hasL, hasT,
          (px, py) => ry((my * 16 + py) * w + mx * 16 + px) & 0xFF)
        val lumaOut = reconI16x16Luma(predL, dcScan._1,
          if (cbpL == 15) acLevels else null, qpy)
        var row = 0
        while (row < 16) {
          var cc = 0
          while (cc < 16) {
            ry((my * 16 + row) * w + mx * 16 + cc) =
              lumaOut(row * 16 + cc).toByte
            cc += 1
          }
          row += 1
        }
        val predCb = predChroma8x8(chromaMode, hasL, hasT,
          (px, py) => rcb((my * 8 + py) * cw + mx * 8 + px) & 0xFF)
        val predCr = predChroma8x8(chromaMode, hasL, hasT,
          (px, py) => rcr((my * 8 + py) * cw + mx * 8 + px) & 0xFF)
        val cbOut = reconChroma8x8(predCb, cbDcScan,
          if (cbpC == 2) cbAcL else null, qpc)
        val crOut = reconChroma8x8(predCr, crDcScan,
          if (cbpC == 2) crAcL else null, qpc)
        row = 0
        while (row < 8) {
          var cc = 0
          while (cc < 8) {
            rcb((my * 8 + row) * cw + mx * 8 + cc) = cbOut(row * 8 + cc).toByte
            rcr((my * 8 + row) * cw + mx * 8 + cc) = crOut(row * 8 + cc).toByte
            cc += 1
          }
          row += 1
        }
        // ---- end_of_slice_flag
        if (d.terminate() == 1) ended = true
        mb += 1
      }
      if (mb != nMbs || !ended) return None // torn / early end
      Some((Plane(w, sps.height, ry, rcb, rcr), filterExact))
    } catch { case _: Exception => None }
  }

  // ------------------------- Intra_4x4 / inter shared machinery
  // (spec-layout tables and prediction formulas from H.264 clauses
  // 8.3.1, 8.4.1-8.4.2, 9.1.2 — public standard content, same status
  // as the CAVLC tables in Cavlc.scala)

  /** Table 9-5 me(v) mapping, codeNum → coded_block_pattern,
    * ChromaArrayType 1. */
  private[operators] val IntraCbpTab: Array[Int] = Array(
    47, 31, 15, 0, 23, 27, 29, 30, 7, 11, 13, 14, 39, 43, 45, 46,
    16, 3, 5, 10, 12, 19, 21, 26, 28, 35, 37, 42, 44, 1, 2, 4,
    8, 17, 18, 20, 24, 6, 9, 22, 25, 32, 33, 34, 36, 40, 38, 41)
  private[operators] val InterCbpTab: Array[Int] = Array(
    0, 16, 1, 2, 4, 8, 32, 3, 5, 10, 12, 15, 47, 7, 11, 13,
    14, 6, 9, 31, 35, 37, 42, 44, 33, 34, 36, 40, 39, 43, 45, 46,
    17, 18, 20, 24, 19, 21, 26, 28, 23, 27, 29, 30, 22, 25, 38, 41)
  private[operators] val IntraCbpCode: Array[Int] = {
    val inv = new Array[Int](48)
    IntraCbpTab.zipWithIndex.foreach { case (cbp, code) => inv(cbp) = code }
    inv
  }
  private[operators] val InterCbpCode: Array[Int] = {
    val inv = new Array[Int](48)
    InterCbpTab.zipWithIndex.foreach { case (cbp, code) => inv(cbp) = code }
    inv
  }

  /** z-scan index of a 4x4 block position within its MB. (lazy: the
    * LumaBlk tables are declared later in this object) */
  private[operators] lazy val ZIdxOf: Array[Int] = {
    val z = new Array[Int](16)
    var b = 0
    while (b < 16) { z(LumaBlkY(b) * 4 + LumaBlkX(b)) = b; b += 1 }
    z
  }

  /** 8.3.1.1 mode prediction: min of the neighbor 4x4 modes, DC (2)
    * for unavailable or non-Intra4x4 neighbors. `grid` holds the mode
    * per decoded 4x4 block, -1 for blocks of non-Intra4x4 MBs. */
  private[operators] def predI4Mode(grid: Array[Int], blkW: Int,
      gx: Int, gy: Int): Int = {
    val a = if (gx > 0) grid(gy * blkW + gx - 1) else -1
    val b = if (gy > 0) grid((gy - 1) * blkW + gx) else -1
    math.min(if (a < 0) 2 else a, if (b < 0) 2 else b)
  }

  /** Decode-order availability of the above-right 4x4 neighbor (the
    * p[4..7,-1] samples): available iff inside the frame AND earlier
    * in (MB raster, intra-MB z) decode order; when absent, prediction
    * substitutes p[3,-1] (8.3.1.2). */
  /** Slice-gated above-right availability: the neighbor must also
    * live in the CURRENT slice (MB address >= `firstMb`, 0 for
    * single-slice pictures) — 7.4.3 neighbor availability. */
  private[operators] def i4TrAvailableSl(mx: Int, my: Int, blkZ: Int,
      wMbs: Int, firstMb: Int): Boolean = {
    val gx = mx * 4 + LumaBlkX(blkZ)
    val gy = my * 4 + LumaBlkY(blkZ)
    val tx = gx + 1
    val ty = gy - 1
    if (ty < 0 || tx >= wMbs * 4) return false
    val tmb = (ty / 4) * wMbs + tx / 4
    if (tmb < firstMb) return false
    val cmb = my * wMbs + mx
    if (tmb != cmb) tmb < cmb
    else ZIdxOf((ty % 4) * 4 + tx % 4) < blkZ
  }

  /** Which of the 9 Intra_4x4 modes the neighbor availability admits
    * (conformant encoders never signal a mode whose samples are
    * absent). */
  private[operators] def i4ModeValid(mode: Int, hasL: Boolean,
      hasT: Boolean): Boolean = mode match {
    case 0 | 3 | 7 => hasT
    case 1 | 8 => hasL
    case 4 | 5 | 6 => hasL && hasT
    case 2 => true
    case _ => false
  }

  /** Intra_4x4 prediction, all nine modes (8.3.1.2.1-9). `px(dx,dy)`
    * fetches reconstructed samples relative to the block origin
    * (dx,dy in [-1,7]x[-1,3]); the caller guarantees referenced
    * neighbors exist per [[i4ModeValid]]. Top-right samples substitute
    * p[3,-1] when `hasTR` is false. */
  private[operators] def predIntra4x4(mode: Int, hasL: Boolean, hasT: Boolean,
      hasTR: Boolean, px: (Int, Int) => Int): Array[Int] = {
    val T = new Array[Int](8)
    val L = new Array[Int](4)
    if (hasT) {
      var i = 0
      while (i < 4) { T(i) = px(i, -1); i += 1 }
      while (i < 8) { T(i) = if (hasTR) px(i, -1) else T(3); i += 1 }
    }
    if (hasL) {
      var i = 0
      while (i < 4) { L(i) = px(-1, i); i += 1 }
    }
    val X = if (hasL && hasT) px(-1, -1) else 0
    // pL(-1) = top-left corner sample (modes 5/6 index through it)
    @inline def pL(i: Int): Int = if (i < 0) X else L(i)
    @inline def pT(i: Int): Int = if (i < 0) X else T(i)
    val out = new Array[Int](16)
    mode match {
      case 0 => // Vertical
        var y = 0
        while (y < 4) { var x = 0; while (x < 4) { out(y * 4 + x) = T(x); x += 1 }; y += 1 }
      case 1 => // Horizontal
        var y = 0
        while (y < 4) { var x = 0; while (x < 4) { out(y * 4 + x) = L(y); x += 1 }; y += 1 }
      case 2 => // DC
        val v =
          if (hasL && hasT) (T(0) + T(1) + T(2) + T(3) + L(0) + L(1) + L(2) + L(3) + 4) >> 3
          else if (hasT) (T(0) + T(1) + T(2) + T(3) + 2) >> 2
          else if (hasL) (L(0) + L(1) + L(2) + L(3) + 2) >> 2
          else 128
        java.util.Arrays.fill(out, v)
      case 3 => // Diagonal Down-Left
        var y = 0
        while (y < 4) {
          var x = 0
          while (x < 4) {
            out(y * 4 + x) =
              if (x == 3 && y == 3) (T(6) + 3 * T(7) + 2) >> 2
              else (T(x + y) + 2 * T(x + y + 1) + T(x + y + 2) + 2) >> 2
            x += 1
          }
          y += 1
        }
      case 4 => // Diagonal Down-Right
        var y = 0
        while (y < 4) {
          var x = 0
          while (x < 4) {
            out(y * 4 + x) =
              if (x > y) (pT(x - y - 2) + 2 * pT(x - y - 1) + pT(x - y) + 2) >> 2
              else if (x < y) (pL(y - x - 2) + 2 * pL(y - x - 1) + pL(y - x) + 2) >> 2
              else (T(0) + 2 * X + L(0) + 2) >> 2
            x += 1
          }
          y += 1
        }
      case 5 => // Vertical-Right
        var y = 0
        while (y < 4) {
          var x = 0
          while (x < 4) {
            val z = 2 * x - y
            out(y * 4 + x) =
              if (z >= 0 && (z & 1) == 0) (pT(x - (y >> 1) - 1) + pT(x - (y >> 1)) + 1) >> 1
              else if (z >= 0) (pT(x - (y >> 1) - 2) + 2 * pT(x - (y >> 1) - 1) + pT(x - (y >> 1)) + 2) >> 2
              else if (z == -1) (L(0) + 2 * X + T(0) + 2) >> 2
              else (pL(y - 2 * x - 1) + 2 * pL(y - 2 * x - 2) + pL(y - 2 * x - 3) + 2) >> 2
            x += 1
          }
          y += 1
        }
      case 6 => // Horizontal-Down
        var y = 0
        while (y < 4) {
          var x = 0
          while (x < 4) {
            val z = 2 * y - x
            out(y * 4 + x) =
              if (z >= 0 && (z & 1) == 0) (pL(y - (x >> 1) - 1) + pL(y - (x >> 1)) + 1) >> 1
              else if (z >= 0) (pL(y - (x >> 1) - 2) + 2 * pL(y - (x >> 1) - 1) + pL(y - (x >> 1)) + 2) >> 2
              else if (z == -1) (L(0) + 2 * X + T(0) + 2) >> 2
              else (pT(x - 2 * y - 1) + 2 * pT(x - 2 * y - 2) + pT(x - 2 * y - 3) + 2) >> 2
            x += 1
          }
          y += 1
        }
      case 7 => // Vertical-Left
        var y = 0
        while (y < 4) {
          var x = 0
          while (x < 4) {
            out(y * 4 + x) =
              if ((y & 1) == 0) (T(x + (y >> 1)) + T(x + (y >> 1) + 1) + 1) >> 1
              else (T(x + (y >> 1)) + 2 * T(x + (y >> 1) + 1) + T(x + (y >> 1) + 2) + 2) >> 2
            x += 1
          }
          y += 1
        }
      case 8 => // Horizontal-Up
        var y = 0
        while (y < 4) {
          var x = 0
          while (x < 4) {
            val z = x + 2 * y
            out(y * 4 + x) =
              if (z < 5 && (z & 1) == 0) (L(y + (x >> 1)) + L(y + (x >> 1) + 1) + 1) >> 1
              else if (z < 5) (L(y + (x >> 1)) + 2 * L(y + (x >> 1) + 1) + L(y + (x >> 1) + 2) + 2) >> 2
              else if (z == 5) (L(2) + 3 * L(3) + 2) >> 2
              else L(3)
            x += 1
          }
          y += 1
        }
      case _ => throw new IllegalArgumentException(s"intra4x4 mode $mode")
    }
    out
  }

  /** Reconstruct one plain 4x4 block (Intra_4x4 luma or inter luma —
    * 16 coefficients, no separate DC): pred + idct(dequant), clipped.
    * `levels` in zigzag order, null = all-zero residual. SHARED by
    * decoder and encoder recon. */
  private[operators] def recon4x4(pred: Array[Int], levels: Array[Int],
      qp: Int): Array[Int] = {
    if (levels == null) return pred.clone()
    val d = new Array[Int](16)
    var k = 0
    while (k < 16) {
      val pos = Zigzag4x4(k)
      d(pos) = dequant4x4(levels(k), pos, qp)
      k += 1
    }
    val res = idct4x4(d)
    val out = new Array[Int](16)
    var i = 0
    while (i < 16) { out(i) = clip255(pred(i) + res(i)); i += 1 }
    out
  }

  /** Median MV prediction for a 16x16 partition (8.4.1.3): neighbor
    * A = left MB, B = above, C = above-right (D = above-left when C is
    * outside). Arrays are per-MB (quarter-pel MVs; `inter(mb)` false
    * for intra/PCM MBs, which contribute mv (0,0) and a non-matching
    * ref). SHARED by decoder and encoder — they must agree exactly or
    * every mvd in the stream lands on the wrong vector. */
  private[operators] def mvPred16x16(mvx: Array[Int], mvy: Array[Int],
      inter: Array[Boolean], decoded: Int, wMbs: Int, mb: Int,
      firstMb: Int = 0): (Int, Int) = {
    // `firstMb` slice-gates neighbor availability (7.4.3): an MB of a
    // previous slice is UNAVAILABLE — which 8.4.1.3 treats exactly
    // like an intra neighbor (mv 0, no ref match), so the shared
    // median logic below needs only the address gating
    val mx = mb % wMbs
    val my = mb / wMbs
    val aMb = if (mx > 0 && mb - 1 >= firstMb) mb - 1 else -1
    val bMb = if (my > 0 && mb - wMbs >= firstMb) mb - wMbs else -1
    val cMb = {
      val cRaw = if (my > 0 && mx < wMbs - 1 && mb - wMbs + 1 >= firstMb)
        mb - wMbs + 1 else -1
      if (cRaw >= 0) cRaw
      else if (my > 0 && mx > 0 && mb - wMbs - 1 >= firstMb)
        mb - wMbs - 1 // D substitution
      else -1
    }
    @inline def avail(n: Int): Boolean = n >= 0 && n < decoded
    @inline def mv(n: Int): (Int, Int) =
      if (avail(n) && inter(n)) (mvx(n), mvy(n)) else (0, 0)
    @inline def refMatch(n: Int): Boolean = avail(n) && inter(n)
    if (!avail(bMb) && !avail(cMb) && avail(aMb)) mv(aMb)
    else {
      val matches = Seq(aMb, bMb, cMb).filter(refMatch)
      if (matches.size == 1) mv(matches.head)
      else {
        val (ax, ay) = mv(aMb); val (bx, by) = mv(bMb); val (cx, cy) = mv(cMb)
        (ax + bx + cx - math.min(ax, math.min(bx, cx)) - math.max(ax, math.max(bx, cx)),
          ay + by + cy - math.min(ay, math.min(by, cy)) - math.max(ay, math.max(by, cy)))
      }
    }
  }

  /** P_Skip motion vector (8.4.1.1): zero when the left/above context
    * says "static edge", else the 16x16 median prediction. SHARED. */
  private[operators] def skipMv(mvx: Array[Int], mvy: Array[Int],
      inter: Array[Boolean], decoded: Int, wMbs: Int, mb: Int,
      firstMb: Int = 0): (Int, Int) = {
    val mx = mb % wMbs
    val my = mb / wMbs
    // 8.4.1.1: the skip vector is ZERO when either A or B is
    // unavailable — including unavailable-because-other-slice
    val aMb = if (mx > 0 && mb - 1 >= firstMb) mb - 1 else -1
    val bMb = if (my > 0 && mb - wMbs >= firstMb) mb - wMbs else -1
    @inline def zeroish(n: Int): Boolean =
      inter(n) && mvx(n) == 0 && mvy(n) == 0
    if (aMb < 0 || bMb < 0 || zeroish(aMb) || zeroish(bMb)) (0, 0)
    else mvPred16x16(mvx, mvy, inter, decoded, wMbs, mb, firstMb)
  }

  /** Full-pel 16x16 luma motion compensation with edge clamping
    * (8.4.2.2.1 integer case). `dx`,`dy` in full pels. */
  private[operators] def mcLuma16(refY: Array[Byte], w: Int, h: Int,
      mx: Int, my: Int, dx: Int, dy: Int): Array[Int] = {
    val out = new Array[Int](256)
    var r = 0
    while (r < 16) {
      val sy = math.max(0, math.min(h - 1, my * 16 + r + dy))
      var c = 0
      while (c < 16) {
        val sx = math.max(0, math.min(w - 1, mx * 16 + c + dx))
        out(r * 16 + c) = refY(sy * w + sx) & 0xFF
        c += 1
      }
      r += 1
    }
    out
  }

  /** QUARTER-pel 16x16 luma motion compensation (8.4.2.2.1, full
    * fractional grid): half-pel positions from the 6-tap
    * {1,−5,20,20,−5,1} filter — b/h from one application (+16 >> 5),
    * the center j from the filter over the UNCLIPPED intermediate
    * half values (+512 >> 10; row-then-column order equals the spec's
    * column-then-row because the separable integer sums are exact) —
    * and quarter positions as the Table 8-12 rounding averages of
    * their two nearest integer/half neighbors. Samples are
    * edge-clamped per tap (frame-boundary extension). `mvx`,`mvy` in
    * quarter pels; delegates to [[mcLuma16]] on the integer grid. */
  private[operators] def mcLuma16Qpel(refY: Array[Byte], w: Int, h: Int,
      mx: Int, my: Int, mvx: Int, mvy: Int): Array[Int] = {
    val xI = mvx >> 2
    val yI = mvy >> 2
    val xF = mvx & 3
    val yF = mvy & 3
    if (xF == 0 && yF == 0) return mcLuma16(refY, w, h, mx, my, xI, yI)
    // Windowed separable evaluation (this is the encoder search's hot
    // loop — 16 candidate interpolations per MB): one 22×22 clamped
    // sample window, then each intermediate plane computed ONCE per
    // block instead of 6-36 clamped loads per output pixel. Identical
    // arithmetic to the per-pixel formulation (exact integer sums in a
    // different order), pinned by the hand-computed spec values.
    val baseX = mx * 16 + xI
    val baseY = my * 16 + yI
    @inline def clip(v: Int): Int = math.max(0, math.min(255, v))
    // win(r)(c) = clamped sample at (baseX + c - 2, baseY + r - 2);
    // the column clamp is hoisted to constant segment bounds per row
    val win = new Array[Int](22 * 22)
    val wLo = { var v = -(baseX - 2); if (v < 0) v = 0; if (v > 22) v = 22; v }
    val wHi = { var v = w - (baseX - 2); if (v > 22) v = 22; if (v < wLo) v = wLo; v }
    var r = 0
    while (r < 22) {
      val sy = math.max(0, math.min(h - 1, baseY + r - 2))
      val rowOff = sy * w
      val base = r * 22
      var c = 0
      if (wLo > 0) {
        val e0 = refY(rowOff) & 0xFF
        while (c < wLo) { win(base + c) = e0; c += 1 }
      }
      val off = rowOff + baseX - 2
      while (c < wHi) { win(base + c) = refY(off + c) & 0xFF; c += 1 }
      if (wHi < 22) {
        val eW = refY(rowOff + w - 1) & 0xFF
        while (c < 22) { win(base + c) = eW; c += 1 }
      }
      r += 1
    }
    // bArr(r)(c) = unclipped bRaw(x0+c, y0+r-2): horizontal 6-tap, for
    // output cols 0..16 and sample rows -2..19
    val needB = xF != 0 || yF != 0 // bArr also feeds jArr; cheap, always on
    val bArr = if (needB) new Array[Int](22 * 17) else null
    if (needB) {
      r = 0
      while (r < 22) {
        var c = 0
        while (c < 17) {
          val o = r * 22 + c
          bArr(r * 17 + c) = win(o) - 5 * win(o + 1) + 20 * win(o + 2) +
            20 * win(o + 3) - 5 * win(o + 4) + win(o + 5)
          c += 1
        }
        r += 1
      }
    }
    // hArr(r)(c) = unclipped hRaw(x0+c, y0+r): vertical 6-tap, for
    // output rows 0..16 and cols 0..16
    val needH = yF != 0
    val hArr = if (needH) new Array[Int](17 * 17) else null
    if (needH) {
      r = 0
      while (r < 17) {
        var c = 0
        while (c < 17) {
          val o = r * 22 + c + 2
          hArr(r * 17 + c) = win(o) - 5 * win(o + 22) + 20 * win(o + 44) +
            20 * win(o + 66) - 5 * win(o + 88) + win(o + 110)
          c += 1
        }
        r += 1
      }
    }
    // jArr(r)(c) = clipped center j(x0+c, y0+r): vertical 6-tap over
    // the unclipped bRaw rows
    val needJ = (xF == 2 && yF != 0) || (yF == 2 && xF != 0)
    val jArr = if (needJ) new Array[Int](17 * 17) else null
    if (needJ) {
      r = 0
      while (r < 17) {
        var c = 0
        while (c < 17) {
          val o = r * 17 + c
          val j1 = bArr(o) - 5 * bArr(o + 17) + 20 * bArr(o + 34) +
            20 * bArr(o + 51) - 5 * bArr(o + 68) + bArr(o + 85)
          jArr(r * 17 + c) = clip((j1 + 512) >> 10)
          c += 1
        }
        r += 1
      }
    }
    @inline def g(r: Int, c: Int): Int = win((r + 2) * 22 + c + 2)
    @inline def bP(r: Int, c: Int): Int = clip((bArr((r + 2) * 17 + c) + 16) >> 5)
    @inline def hP(r: Int, c: Int): Int = clip((hArr(r * 17 + c) + 16) >> 5)
    @inline def jP(r: Int, c: Int): Int = jArr(r * 17 + c)
    val out = new Array[Int](256)
    val frac = (yF << 2) | xF
    r = 0
    while (r < 16) {
      // Table 8-12 sample grid around (x0, y0):
      //   G a b c H
      //   d e f g
      //   h i j k m
      //   n p q r
      //   M     s
      // frac is constant per call: dispatch once per row, not per pixel
      // (same expressions, same order)
      val o = r * 16
      var c = 0
      (frac: @annotation.switch) match {
        case 0x2 => while (c < 16) { out(o + c) = bP(r, c); c += 1 } // (2,0)
        case 0x8 => while (c < 16) { out(o + c) = hP(r, c); c += 1 } // (0,2)
        case 0xA => while (c < 16) { out(o + c) = jP(r, c); c += 1 } // (2,2)
        case 0x1 => while (c < 16) { out(o + c) = (g(r, c) + bP(r, c) + 1) >> 1; c += 1 } // a
        case 0x3 => while (c < 16) { out(o + c) = (bP(r, c) + g(r, c + 1) + 1) >> 1; c += 1 } // c
        case 0x4 => while (c < 16) { out(o + c) = (g(r, c) + hP(r, c) + 1) >> 1; c += 1 } // d
        case 0xC => while (c < 16) { out(o + c) = (hP(r, c) + g(r + 1, c) + 1) >> 1; c += 1 } // n
        case 0x6 => while (c < 16) { out(o + c) = (bP(r, c) + jP(r, c) + 1) >> 1; c += 1 } // f
        case 0xE => while (c < 16) { out(o + c) = (jP(r, c) + bP(r + 1, c) + 1) >> 1; c += 1 } // q
        case 0x9 => while (c < 16) { out(o + c) = (hP(r, c) + jP(r, c) + 1) >> 1; c += 1 } // i
        case 0xB => while (c < 16) { out(o + c) = (jP(r, c) + hP(r, c + 1) + 1) >> 1; c += 1 } // k
        case 0x5 => while (c < 16) { out(o + c) = (bP(r, c) + hP(r, c) + 1) >> 1; c += 1 } // e
        case 0x7 => while (c < 16) { out(o + c) = (bP(r, c) + hP(r, c + 1) + 1) >> 1; c += 1 } // g
        case 0xD => while (c < 16) { out(o + c) = (hP(r, c) + bP(r + 1, c) + 1) >> 1; c += 1 } // p
        case _ => while (c < 16) { out(o + c) = (hP(r, c + 1) + bP(r + 1, c) + 1) >> 1; c += 1 } // r
      }
      r += 1
    }
    out
  }

  /** SAD of the 16x16 source macroblock at (mx,my) against the
    * quarter-pel prediction at (mvx,mvy), abandoning the candidate as
    * soon as the partial sum reaches `limit`: an abandoned position's
    * true SAD >= partial >= limit, so it can never win a strict-<
    * comparison — selection is bit-identical to a full
    * [[mcLuma16Qpel]] + SAD. The encoder's sub-pel refinement is the
    * suite's hottest loop (16 candidate interpolations per MB); here
    * the intermediate half-pel planes are computed lazily PER OUTPUT
    * ROW (same exact integer arithmetic, same order within each
    * value), so an early bail also skips the remaining interpolation
    * work, not just the compare. */
  private[operators] def sadLuma16QpelBound(refY: Array[Byte], w: Int, h: Int,
      mx: Int, my: Int, srcY: Array[Byte], mvx: Int, mvy: Int,
      limit: Int): Int = {
    if ((mvx & 3) == 0 && (mvy & 3) == 0)
      sadLuma16IntBound(refY, w, h, mx, my, srcY, mvx >> 2, mvy >> 2, limit)
    else
      sadLuma16QpelBoundWith(
        new QpelPlanes(refY, w, h, mx, my, mvx >> 2, mvy >> 2),
        w, mx, my, srcY, mvx, mvy, limit)
  }

  /** Integer-grid bound SAD (frac (0,0)): clamp hoisted out of the
    * pixel loop (segments where sx clamps to 0 / w-1 are constant per
    * row). */
  private[operators] def sadLuma16IntBound(refY: Array[Byte], w: Int, h: Int,
      mx: Int, my: Int, srcY: Array[Byte], xI: Int, yI: Int,
      limit: Int): Int = {
    val srcBase = my * 16 * w + mx * 16
    val x0 = mx * 16 + xI
    var cLo = -x0; if (cLo < 0) cLo = 0; if (cLo > 16) cLo = 16
    var cHi = w - x0; if (cHi > 16) cHi = 16; if (cHi < cLo) cHi = cLo
    var sad = 0
    var r = 0
    while (r < 16 && sad < limit) {
      val sy = math.max(0, math.min(h - 1, my * 16 + r + yI))
      val srcRow = srcBase + r * w
      val refRow = sy * w
      var c = 0
      if (cLo > 0) {
        val e0 = refY(refRow) & 0xFF
        while (c < cLo) { sad += math.abs((srcY(srcRow + c) & 0xFF) - e0); c += 1 }
      }
      val off = refRow + x0
      while (c < cHi) {
        sad += math.abs((srcY(srcRow + c) & 0xFF) - (refY(off + c) & 0xFF))
        c += 1
      }
      if (cHi < 16) {
        val eW = refY(refRow + w - 1) & 0xFF
        while (c < 16) { sad += math.abs((srcY(srcRow + c) & 0xFF) - eW); c += 1 }
      }
      r += 1
    }
    sad
  }

  /** Lazily-built clamped 22×22 sample window + unclipped horizontal
    * 6-tap plane for one (xI, yI) interpolation base. Every value is a
    * pure function of (refY, w, h, mx, my, xI, yI), so the sub-pel
    * refinement SHARES one instance across all ring candidates with
    * the same integer base — the rings rebuilt the same window and b
    * plane 2-3× each before (a measured ~11% of the subpel gate), with
    * bit-identical contents either way. Rows fill incrementally, so a
    * bailed candidate still skips work no candidate has needed yet. */
  private[operators] final class QpelPlanes(refY: Array[Byte], w: Int, h: Int,
      mx: Int, my: Int, val xI: Int, val yI: Int) {
    private val baseX = mx * 16 + xI
    private val baseY = my * 16 + yI
    val win = new Array[Int](22 * 22)
    private var winDone = 0
    private val wLo = { var v = -(baseX - 2); if (v < 0) v = 0; if (v > 22) v = 22; v }
    private val wHi = { var v = w - (baseX - 2); if (v > 22) v = 22; if (v < wLo) v = wLo; v }
    def ensureWin(upTo: Int): Unit = {
      var rr = winDone
      while (rr <= upTo) {
        val sy = math.max(0, math.min(h - 1, baseY + rr - 2))
        val rowOff = sy * w
        val base = rr * 22
        var c = 0
        if (wLo > 0) {
          val e0 = refY(rowOff) & 0xFF
          while (c < wLo) { win(base + c) = e0; c += 1 }
        }
        val off = rowOff + baseX - 2
        while (c < wHi) { win(base + c) = refY(off + c) & 0xFF; c += 1 }
        if (wHi < 22) {
          val eW = refY(rowOff + w - 1) & 0xFF
          while (c < 22) { win(base + c) = eW; c += 1 }
        }
        rr += 1
      }
      if (upTo >= winDone) winDone = upTo + 1
    }
    // bArr rows fill incrementally too (output row r touches sample
    // rows up to r+5 via j, r+3 via bP(r+1,·)); allocated on first use
    private var bArrOrNull: Array[Int] = null
    private var bDone = 0
    def bArrAlloc(): Array[Int] = {
      if (bArrOrNull == null) bArrOrNull = new Array[Int](22 * 17)
      bArrOrNull
    }
    def ensureB(upTo: Int): Unit = {
      ensureWin(upTo)
      val bArr = bArrAlloc()
      var rr = bDone
      while (rr <= upTo) {
        var c = 0
        while (c < 17) {
          val o = rr * 22 + c
          bArr(rr * 17 + c) = win(o) - 5 * win(o + 1) + 20 * win(o + 2) +
            20 * win(o + 3) - 5 * win(o + 4) + win(o + 5)
          c += 1
        }
        rr += 1
      }
      if (upTo >= bDone) bDone = upTo + 1
    }
  }

  /** Fractional-grid bound SAD over a (possibly shared) [[QpelPlanes]]
    * for (mvx>>2, mvy>>2). Caller guarantees (mvx&3, mvy&3) != (0,0)
    * and that `p` was built for this exact (refY, w, h, mx, my,
    * mvx>>2, mvy>>2). */
  private[operators] def sadLuma16QpelBoundWith(p: QpelPlanes, w: Int,
      mx: Int, my: Int, srcY: Array[Byte], mvx: Int, mvy: Int,
      limit: Int): Int = {
    val xF = mvx & 3
    val yF = mvy & 3
    val srcBase = my * 16 * w + mx * 16
    @inline def clip(v: Int): Int = math.max(0, math.min(255, v))
    val win = p.win
    val frac = (yF << 2) | xF
    val needJ = (xF == 2 && yF != 0) || (yF == 2 && xF != 0)
    val needB = xF != 0 || needJ
    val needH = yF != 0
    val bArr = if (needB) p.bArrAlloc() else null
    @inline def ensureWin(upTo: Int): Unit = p.ensureWin(upTo)
    @inline def ensureB(upTo: Int): Unit = p.ensureB(upTo)
    val hRow = if (needH) new Array[Int](17) else null
    val jRow = if (needJ) new Array[Int](16) else null
    @inline def g(r: Int, c: Int): Int = win((r + 2) * 22 + c + 2)
    @inline def bP(r: Int, c: Int): Int = clip((bArr((r + 2) * 17 + c) + 16) >> 5)
    var sad = 0
    var r = 0
    while (r < 16 && sad < limit) {
      // h reads win rows r..r+5; g(r+1,·) reads win row r+3
      ensureWin(math.min(21, r + 5))
      // fracs 0xD/0xE/0xF read bP(r+1,·) → sample row r+3; j reads
      // bArr rows r..r+5; plain bP(r,·) reads row r+2
      if (needB) ensureB(math.min(21,
        if (needJ) r + 5 else if (frac >= 0xD) r + 3 else r + 2))
      if (needH) {
        var c = 0
        while (c < 17) {
          val o = r * 22 + c + 2
          hRow(c) = win(o) - 5 * win(o + 22) + 20 * win(o + 44) +
            20 * win(o + 66) - 5 * win(o + 88) + win(o + 110)
          c += 1
        }
      }
      if (needJ) {
        var c = 0
        while (c < 16) {
          val o = r * 17 + c
          val j1 = bArr(o) - 5 * bArr(o + 17) + 20 * bArr(o + 34) +
            20 * bArr(o + 51) - 5 * bArr(o + 68) + bArr(o + 85)
          jRow(c) = clip((j1 + 512) >> 10)
          c += 1
        }
      }
      @inline def hP(c: Int): Int = clip((hRow(c) + 16) >> 5)
      val srcRow = srcBase + r * w
      // frac is constant per candidate: dispatch ONCE PER ROW instead
      // of per pixel (same expressions, same order — a 16-way
      // tableswitch inside the pixel loop blocked unrolling)
      @inline def s(c: Int, v: Int): Unit =
        sad += math.abs((srcY(srcRow + c) & 0xFF) - v)
      var c = 0
      (frac: @annotation.switch) match {
        case 0x2 => while (c < 16) { s(c, bP(r, c)); c += 1 }
        case 0x8 => while (c < 16) { s(c, hP(c)); c += 1 }
        case 0xA => while (c < 16) { s(c, jRow(c)); c += 1 }
        case 0x1 => while (c < 16) { s(c, (g(r, c) + bP(r, c) + 1) >> 1); c += 1 }
        case 0x3 => while (c < 16) { s(c, (bP(r, c) + g(r, c + 1) + 1) >> 1); c += 1 }
        case 0x4 => while (c < 16) { s(c, (g(r, c) + hP(c) + 1) >> 1); c += 1 }
        case 0xC => while (c < 16) { s(c, (hP(c) + g(r + 1, c) + 1) >> 1); c += 1 }
        case 0x6 => while (c < 16) { s(c, (bP(r, c) + jRow(c) + 1) >> 1); c += 1 }
        case 0xE => while (c < 16) { s(c, (jRow(c) + bP(r + 1, c) + 1) >> 1); c += 1 }
        case 0x9 => while (c < 16) { s(c, (hP(c) + jRow(c) + 1) >> 1); c += 1 }
        case 0xB => while (c < 16) { s(c, (jRow(c) + hP(c + 1) + 1) >> 1); c += 1 }
        case 0x5 => while (c < 16) { s(c, (bP(r, c) + hP(c) + 1) >> 1); c += 1 }
        case 0x7 => while (c < 16) { s(c, (bP(r, c) + hP(c + 1) + 1) >> 1); c += 1 }
        case 0xD => while (c < 16) { s(c, (hP(c) + bP(r + 1, c) + 1) >> 1); c += 1 }
        case _ => while (c < 16) { s(c, (hP(c + 1) + bP(r + 1, c) + 1) >> 1); c += 1 }
      }
      r += 1
    }
    sad
  }

  /** 8x8 chroma motion compensation, eighth-pel bilinear
    * (8.4.2.2.2). `mvx`,`mvy` are the partition's QUARTER-LUMA-pel
    * vector — chroma sampling halves it, so full-pel luma motion can
    * still land on half-pel chroma positions. Edge-clamped. */
  private[operators] def mcChroma8(refC: Array[Byte], cw: Int, ch: Int,
      mx: Int, my: Int, mvx: Int, mvy: Int): Array[Int] = {
    val bx = mvx >> 3
    val by = mvy >> 3
    val xF = mvx & 7
    val yF = mvy & 7
    @inline def clampX(x: Int): Int = math.max(0, math.min(cw - 1, x))
    val out = new Array[Int](64)
    // bilinear weights are constant over the block; row clamps hoisted
    // out of the pixel loop. For the integer grid the expression
    // reduces exactly to the sample itself ((64·s + 32) >> 6 = s).
    val w00 = (8 - xF) * (8 - yF)
    val w10 = xF * (8 - yF)
    val w01 = (8 - xF) * yF
    val w11 = xF * yF
    var r = 0
    while (r < 8) {
      val sy = my * 8 + r + by
      val row0 = math.max(0, math.min(ch - 1, sy)) * cw
      val row1 = math.max(0, math.min(ch - 1, sy + 1)) * cw
      var c = 0
      if (xF == 0 && yF == 0) {
        while (c < 8) {
          out(r * 8 + c) = refC(row0 + clampX(mx * 8 + c + bx)) & 0xFF
          c += 1
        }
      } else {
        while (c < 8) {
          val sx = mx * 8 + c + bx
          val cx0 = clampX(sx)
          val cx1 = clampX(sx + 1)
          out(r * 8 + c) =
            (w00 * (refC(row0 + cx0) & 0xFF) + w10 * (refC(row0 + cx1) & 0xFF) +
              w01 * (refC(row1 + cx0) & 0xFF) + w11 * (refC(row1 + cx1) & 0xFF) +
              32) >> 6
          c += 1
        }
      }
      r += 1
    }
    out
  }

  /** The 9.2.1 nC neighbor rule, SHARED by decoder and encoder (their
    * bookkeeping arrays must agree bit-for-bit or the stream
    * desynchronizes). */
  /** Transform + quantize one chroma 8x8 of the current MB: returns
    * (DC levels raster-scan, per-4x4 AC levels, prediction) against
    * the reconstructed plane — the prediction rides along so
    * [[reconChromaInto]] need not re-derive it. */
  private def encodeChromaPlane(srcPlane: Array[Byte], reconPlane: Array[Byte],
      mx: Int, my: Int, cw: Int, chromaMode: Int, hasL: Boolean,
      hasT: Boolean, qpc: Int): (Array[Int], Array[Array[Int]], Array[Int]) = {
    val predC = predChroma8x8(chromaMode, hasL, hasT,
      (px, py) => reconPlane((my * 8 + py) * cw + mx * 8 + px) & 0xFF)
    encodeChromaWithPred(srcPlane, predC, mx, my, cw, qpc)
  }

  /** [[encodeChromaPlane]] core against an EXTERNAL prediction (intra
    * neighbors or motion compensation — the inter path hands in its MC
    * block). */
  private def encodeChromaWithPred(srcPlane: Array[Byte], predC: Array[Int],
      mx: Int, my: Int, cw: Int, qpc: Int): (Array[Int], Array[Array[Int]], Array[Int]) = {
    val dc = new Array[Int](4)
    val ac = new Array[Array[Int]](4)
    var blk = 0
    while (blk < 4) {
      val res = new Array[Int](16)
      val bx = (blk % 2) * 4
      val by = (blk / 2) * 4
      var rr = 0
      while (rr < 4) {
        var cc = 0
        while (cc < 4) {
          val p = (by + rr) * 8 + bx + cc
          res(rr * 4 + cc) =
            (srcPlane((my * 8 + by + rr) * cw + mx * 8 + bx + cc) & 0xFF) -
              predC(p)
          cc += 1
        }
        rr += 1
      }
      val wt = fdct4x4(res)
      dc(blk) = wt(0)
      val a = new Array[Int](15)
      var k = 1
      while (k < 16) {
        a(k - 1) = quantAc(wt(Zigzag4x4(k)), Zigzag4x4(k), qpc)
        k += 1
      }
      ac(blk) = a
      blk += 1
    }
    // forward 2x2 Hadamard + DC quant
    val wd = Array(dc(0) + dc(1) + dc(2) + dc(3), dc(0) - dc(1) + dc(2) - dc(3),
      dc(0) + dc(1) - dc(2) - dc(3), dc(0) - dc(1) - dc(2) + dc(3))
    (wd.map(quantDc(_, qpc)), ac, predC)
  }

  /** Write the reconstructed chroma 8x8 back into the plane, reusing
    * the prediction computed during encode. */
  private def reconChromaInto(reconPlane: Array[Byte],
      data: (Array[Int], Array[Array[Int]], Array[Int]), mx: Int, my: Int,
      cw: Int, qpc: Int): Unit = {
    val out = reconChroma8x8(data._3, data._1, data._2, qpc)
    var rr = 0
    while (rr < 8) {
      var cc = 0
      while (cc < 8) {
        reconPlane((my * 8 + rr) * cw + mx * 8 + cc) = out(rr * 8 + cc).toByte
        cc += 1
      }
      rr += 1
    }
  }

  /** Quantize one 4x4 residual (16 coefficients, zigzag): levels
    * array, or null when everything quantizes to zero. */
  private def quantBlock16(res: Array[Int], qp: Int): Array[Int] = {
    val wt = fdct4x4(res)
    val lv = new Array[Int](16)
    var nz = false
    var k = 0
    while (k < 16) {
      val p = Zigzag4x4(k)
      lv(k) = quantAc(wt(p), p, qp)
      if (lv(k) != 0) nz = true
      k += 1
    }
    if (nz) lv else null
  }

  /** Encode frames as an Intra_4x4 IDR followed by P_L0_16x16/P_Skip
    * pictures — the GOP shape real baseline footage uses: keyframes in
    * the common Intra_4x4 mode (per-block 9-mode prediction chosen by
    * SAD, the 8.3.1.1 min-neighbor mode predictor signalled with
    * prev/rem flags, me(v) coded_block_pattern), then motion-predicted
    * frames (full-pel SAD search over ±`searchRange`, mvd against the
    * 8.4.1.3 median predictor, inter me(v) cbp, 16-coefficient luma
    * residual blocks, eighth-pel bilinear chroma MC) with P_Skip runs
    * where the 8.4.1.1 skip vector already predicts the block exactly.
    * With `subpelSearch` the motion search refines the full-pel SAD
    * winner on the half- then quarter-pel grid against the decoder's
    * own 6-tap interpolation (8.4.2.2.1); CABAC stays the documented
    * out-of-subset boundary.
    *
    * Returns the bitstream AND the reconstruction computed through the
    * decoder-shared helpers ([[predIntra4x4]]/[[recon4x4]]/
    * [[mcLuma16Qpel]]/[[mcChroma8]]/[[reconChroma8x8]]), so `decodeNals`
    * output must equal it BIT-EXACTLY. */
  def encodeCavlcI4P(frames: IndexedSeq[Plane], qp: Int,
      searchRange: Int = 4,
      subpelSearch: Boolean = false,
      slices: Int = 1): (Encoded, IndexedSeq[Plane]) = {
    require(frames.nonEmpty && qp >= 10 && qp <= 51, "qp in [10,51]")
    val w = frames.head.width
    val h = frames.head.height
    require(w % 16 == 0 && h % 16 == 0)
    val wMbs = w / 16
    val hMbs = h / 16
    val cw = w / 2
    val chh = h / 2
    val lumaBlkW = wMbs * 4
    val chromaBlkW = wMbs * 2
    val nMbs = wMbs * hMbs
    val qpc = chromaQp(qp)
    require(slices >= 1 && slices <= hMbs, "slices in [1, heightMbs]")
    val recons = IndexedSeq.newBuilder[Plane]
    var ref: Plane = null
    // MULTI-SLICE pictures (r15): proportional row-aligned boundaries,
    // the encodeCavlcTextured scheme; EVERY picture in the GOP slices —
    // I keyframes AND motion-predicted P frames (skip runs, MV
    // prediction, and the 8.4.1.1 zero rule all gate on the slice's
    // first MB, mirrored bit-exactly by decodeSlice)
    def sliceRow(i: Int): Int = i * hMbs / slices
    val nals = frames.zipWithIndex.flatMap { case (src, fi) =>
      val isIdr = fi == 0
      val ry = new Array[Byte](w * h)
      val rcb = new Array[Byte](cw * chh)
      val rcr = new Array[Byte](cw * chh)
      val sliceNals = (0 until slices).map { si =>
      val fr0 = sliceRow(si)
      val rowEnd = sliceRow(si + 1)
      val firstMb = fr0 * wMbs
      val bw = new BitWriter
      bw.ue(firstMb) // first_mb_in_slice
      bw.ue(if (isIdr) 7 else 5) // slice_type: I / P ("all slices")
      bw.ue(0) // pic_parameter_set_id
      bw.u(4, fi & 0xF) // frame_num
      if (isIdr) {
        bw.ue(0) // idr_pic_id
        bw.u1(0); bw.u1(0) // no_output_of_prior / long_term_reference
      } else {
        bw.u1(0) // num_ref_idx_active_override_flag
        bw.u1(0) // ref_pic_list_modification_flag_l0
        bw.u1(0) // adaptive_ref_pic_marking_mode_flag
      }
      bw.se(qp - 26) // slice_qp_delta
      bw.ue(1) // disable_deblocking_filter_idc = 1: loop filter OFF
      // encoder-side bookkeeping, identical to the decoder's:
      // SLICE-local state, above-slice neighbors unavailable
      val lumaTc = new Array[Int](lumaBlkW * hMbs * 4)
      val cbTc = new Array[Int](chromaBlkW * hMbs * 2)
      val crTc = new Array[Int](chromaBlkW * hMbs * 2)
      val i4Grid = new Array[Int](lumaBlkW * hMbs * 4)
      java.util.Arrays.fill(i4Grid, -1)
      val mvXArr = new Array[Int](nMbs)
      val mvYArr = new Array[Int](nMbs)
      val interArr = new Array[Boolean](nMbs)
      var skipRun = 0
      def nCLumaE(gx: Int, gy: Int): Int = {
        val a = if (gx > 0) lumaTc(gy * lumaBlkW + gx - 1) else -1
        val b = if (gy > fr0 * 4) lumaTc((gy - 1) * lumaBlkW + gx) else -1
        if (a >= 0 && b >= 0) (a + b + 1) >> 1
        else if (a >= 0) a else if (b >= 0) b else 0
      }
      def nCChromaE(tcArr: Array[Int], gx: Int, gy: Int): Int = {
        val a = if (gx > 0) tcArr(gy * chromaBlkW + gx - 1) else -1
        val b = if (gy > fr0 * 2) tcArr((gy - 1) * chromaBlkW + gx) else -1
        if (a >= 0 && b >= 0) (a + b + 1) >> 1
        else if (a >= 0) a else if (b >= 0) b else 0
      }

      def writeChromaEntropy(cbpChroma: Int, mx: Int, my: Int,
          cbData: (Array[Int], Array[Array[Int]], Array[Int]),
          crData: (Array[Int], Array[Array[Int]], Array[Int])): Unit = {
        if (cbpChroma != 0) {
          Cavlc.writeResidual(bw, cbData._1, -1)
          Cavlc.writeResidual(bw, crData._1, -1)
        }
        if (cbpChroma == 2) {
          var cblk = 0
          while (cblk < 4) {
            val gx = mx * 2 + cblk % 2
            val gy = my * 2 + cblk / 2
            cbTc(gy * chromaBlkW + gx) = Cavlc.writeResidual(bw,
              cbData._2(cblk), nCChromaE(cbTc, gx, gy))
            cblk += 1
          }
          cblk = 0
          while (cblk < 4) {
            val gx = mx * 2 + cblk % 2
            val gy = my * 2 + cblk / 2
            crTc(gy * chromaBlkW + gx) = Cavlc.writeResidual(bw,
              crData._2(cblk), nCChromaE(crTc, gx, gy))
            cblk += 1
          }
        }
      }

      /** cbpChroma from the quantized levels: 2 = some AC, 1 = DC
        * only, 0 = nothing. */
      def chromaCbpOf(cbData: (Array[Int], Array[Array[Int]], Array[Int]),
          crData: (Array[Int], Array[Array[Int]], Array[Int])): Int = {
        val acNz = cbData._2.exists(_.exists(_ != 0)) ||
          crData._2.exists(_.exists(_ != 0))
        val dcNz = cbData._1.exists(_ != 0) || crData._1.exists(_ != 0)
        if (acNz) 2 else if (dcNz) 1 else 0
      }

      /** Reconstruct chroma exactly as the decoder will: levels the
        * stream does not carry are zero. */
      def reconChromaAs(cbpChroma: Int, mx: Int, my: Int,
          cbData: (Array[Int], Array[Array[Int]], Array[Int]),
          crData: (Array[Int], Array[Array[Int]], Array[Int])): Unit = {
        def eff(d: (Array[Int], Array[Array[Int]], Array[Int])) = (
          if (cbpChroma >= 1) d._1 else null,
          if (cbpChroma == 2) d._2 else null,
          d._3)
        reconChromaInto(rcb, eff(cbData), mx, my, cw, qpc)
        reconChromaInto(rcr, eff(crData), mx, my, cw, qpc)
      }

      def writeLumaEntropy(cbpLuma: Int, mx: Int, my: Int,
          lumaLv: Array[Array[Int]]): Unit = {
        val zeros = new Array[Int](16)
        var i8 = 0
        while (i8 < 4) {
          if (((cbpLuma >> i8) & 1) != 0) {
            var j = 0
            while (j < 4) {
              val blk = i8 * 4 + j
              val gx = mx * 4 + LumaBlkX(blk)
              val gy = my * 4 + LumaBlkY(blk)
              val lv = if (lumaLv(blk) == null) zeros else lumaLv(blk)
              lumaTc(gy * lumaBlkW + gx) =
                Cavlc.writeResidual(bw, lv, nCLumaE(gx, gy))
              j += 1
            }
          }
          i8 += 1
        }
      }

      def encodeI4Mb(mb: Int, mbTypeCode: Int): Unit = {
        val mx = mb % wMbs
        val my = mb / wMbs
        val hasL = mx > 0
        val hasT = my > fr0 // first slice row has no in-slice "above"
        // ---- pass 1: per-block mode choice (min SAD, lowest index on
        // ties — deterministic), quant, closed-loop recon in z-order
        val modes = new Array[Int](16)
        val lumaLv = new Array[Array[Int]](16)
        var blk = 0
        while (blk < 16) {
          val px0 = mx * 16 + LumaBlkX(blk) * 4
          val py0 = my * 16 + LumaBlkY(blk) * 4
          val gx = mx * 4 + LumaBlkX(blk)
          val gy = my * 4 + LumaBlkY(blk)
          val bTr = i4TrAvailableSl(mx, my, blk, wMbs, firstMb)
          val fetch = (dx: Int, dy: Int) => ry((py0 + dy) * w + px0 + dx) & 0xFF
          var bestMode = -1
          var bestSad = Int.MaxValue
          var bestPred: Array[Int] = null
          var m = 0
          while (m < 9) {
            if (i4ModeValid(m, gx > 0, gy > fr0 * 4)) {
              val pr = predIntra4x4(m, gx > 0, gy > fr0 * 4, bTr, fetch)
              // running bound: abandon the mode once the partial SAD
              // reaches the current best — an abandoned mode's true
              // SAD >= partial >= bestSad, so it could never win under
              // strict <; same bit-identity argument as the full-pel
              // motion-search bound
              var sad = 0
              var i = 0
              while (i < 16 && sad < bestSad) {
                sad += math.abs(
                  (src.y((py0 + i / 4) * w + px0 + i % 4) & 0xFF) - pr(i))
                i += 1
              }
              // strict <: lowest mode index wins ties, and its pred
              // array is kept — no second predIntra4x4 call
              if (sad < bestSad) { bestSad = sad; bestMode = m; bestPred = pr }
            }
            m += 1
          }
          val pred = bestPred
          val res = new Array[Int](16)
          var i = 0
          while (i < 16) {
            res(i) = (src.y((py0 + i / 4) * w + px0 + i % 4) & 0xFF) - pred(i)
            i += 1
          }
          val lv = quantBlock16(res, qp)
          lumaLv(blk) = lv
          modes(blk) = bestMode
          i4Grid(gy * lumaBlkW + gx) = bestMode
          val out = recon4x4(pred, lv, qp)
          var rr = 0
          while (rr < 4) {
            var cc = 0
            while (cc < 4) {
              ry((py0 + rr) * w + px0 + cc) = out(rr * 4 + cc).toByte
              cc += 1
            }
            rr += 1
          }
          blk += 1
        }
        // chroma: availability-gated mode sweep (coverage of all four)
        val chromaMode = (mb + fi) % 4 match {
          case 0 if hasT => 2
          case 1 if hasL => 1
          case 3 if hasL && hasT => 3
          case _ => 0
        }
        val cbData = encodeChromaPlane(src.cb, rcb, mx, my, cw, chromaMode,
          hasL, hasT, qpc)
        val crData = encodeChromaPlane(src.cr, rcr, mx, my, cw, chromaMode,
          hasL, hasT, qpc)
        var cbpLuma = 0
        var i8 = 0
        while (i8 < 4) {
          var j = 0
          var any = false
          while (j < 4) { if (lumaLv(i8 * 4 + j) != null) any = true; j += 1 }
          if (any) cbpLuma |= 1 << i8
          i8 += 1
        }
        val cbpChroma = chromaCbpOf(cbData, crData)
        val cbp = (cbpChroma << 4) | cbpLuma
        // ---- bitstream
        bw.ue(mbTypeCode) // I_NxN: 0 in I slices, 5 in P slices
        blk = 0
        while (blk < 16) {
          val gx = mx * 4 + LumaBlkX(blk)
          val gy = my * 4 + LumaBlkY(blk)
          // the grid cells the predictor reads belong to earlier
          // z-blocks/MBs, so the post-pass-1 grid equals parse order
          val pm = predI4Mode(i4Grid, lumaBlkW, gx, gy)
          if (modes(blk) == pm) bw.u1(1)
          else {
            bw.u1(0)
            bw.u(3, if (modes(blk) < pm) modes(blk) else modes(blk) - 1)
          }
          blk += 1
        }
        bw.ue(chromaMode)
        bw.ue(IntraCbpCode(cbp))
        if (cbp != 0) bw.se(0) // mb_qp_delta
        writeLumaEntropy(cbpLuma, mx, my, lumaLv)
        writeChromaEntropy(cbpChroma, mx, my, cbData, crData)
        reconChromaAs(cbpChroma, mx, my, cbData, crData)
      }

      def encodePMb(mb: Int): Unit = {
        val mx = mb % wMbs
        val my = mb / wMbs
        // ---- full-pel SAD search, (0,0) seeded, strict-< tie-break.
        // SAD is inlined (no per-position prediction array) and bails
        // as soon as the partial sum reaches the current best: an
        // abandoned position has true sad >= partial >= bestSad, so it
        // could never win under strict-<. (0,0) always evaluates fully
        // (its <= tie-break needs the exact sum), preserving the
        // original selection bit-for-bit while cutting the search cost
        // severalfold — this loop dominates the mm_h264_intra4x4 gate.
        // one candidate's (early-exit) SAD; column clamp hoisted out of
        // the pixel loop: sx clamps to 0 for c < cLo and to w-1 for
        // c >= cHi, constants per candidate — values identical to the
        // per-pixel clamp
        def sadCand(dx: Int, dy: Int, limit: Int): Int = {
          val x0 = mx * 16 + dx
          var cLo = -x0; if (cLo < 0) cLo = 0; if (cLo > 16) cLo = 16
          var cHi = w - x0; if (cHi > 16) cHi = 16; if (cHi < cLo) cHi = cLo
          var sad = 0
          var r = 0
          while (r < 16 && sad < limit) {
            val sy = math.max(0, math.min(h - 1, my * 16 + r + dy))
            val srcRow = (my * 16 + r) * w + mx * 16
            val refRow = sy * w
            var c = 0
            if (cLo > 0) {
              val e0 = ref.y(refRow) & 0xFF
              while (c < cLo) {
                sad += math.abs((src.y(srcRow + c) & 0xFF) - e0); c += 1
              }
            }
            val off = refRow + x0
            while (c < cHi) {
              sad += math.abs((src.y(srcRow + c) & 0xFF) -
                (ref.y(off + c) & 0xFF))
              c += 1
            }
            if (cHi < 16) {
              val eW = ref.y(refRow + w - 1) & 0xFF
              while (c < 16) {
                sad += math.abs((src.y(srcRow + c) & 0xFF) - eW); c += 1
              }
            }
            r += 1
          }
          sad
        }
        // (0,0) evaluated FIRST with its exact SAD seeding the bound:
        // the original scan's <= tie-break already hands (0,0) every
        // tie, and non-zero candidates keep strict-< in the same
        // row-major order, so the selected vector is bit-identical —
        // but every other candidate now bails against a tight limit
        // from the first row instead of warming up the bound slowly
        var bestDx = 0
        var bestDy = 0
        var bestSad = sadCand(0, 0, Int.MaxValue)
        var dy = -searchRange
        while (dy <= searchRange) {
          var dx = -searchRange
          while (dx <= searchRange) {
            if (dx != 0 || dy != 0) {
              val sad = sadCand(dx, dy, bestSad)
              if (sad < bestSad) { bestSad = sad; bestDx = dx; bestDy = dy }
            }
            dx += 1
          }
          dy += 1
        }
        var mvx = bestDx * 4
        var mvy = bestDy * 4
        if (subpelSearch) {
          // ---- sub-pel refinement: a half-pel ring around the
          // full-pel winner, then a quarter-pel ring around the
          // half-pel winner — each candidate scored by SAD against its
          // 6-tap interpolated prediction (the same mcLuma16Qpel the
          // decoder runs, so the closed loop stays exact). Strict-<
          // with row-major candidate order keeps selection
          // deterministic; bestSad already holds the full-pel
          // winner's complete SAD.
          // each candidate scored by the fused bound SAD: a candidate
          // abandoned at `best` has true SAD >= best, so it never wins
          // strict-< — selection identical to the full interpolation.
          // Ring candidates sharing an integer base (mv>>2) share ONE
          // lazily-built window/b-plane (QpelPlanes — pure functions of
          // the base, so contents are bit-identical to per-candidate
          // builds; the rings rebuilt each 2-3x before).
          var best = bestSad
          val planeCache = new Array[QpelPlanes](8)
          var nPlanes = 0
          def planesFor(xi: Int, yi: Int): QpelPlanes = {
            var i = 0
            while (i < nPlanes) {
              val q = planeCache(i)
              if (q.xI == xi && q.yI == yi) return q
              i += 1
            }
            val q = new QpelPlanes(ref.y, w, h, mx, my, xi, yi)
            if (nPlanes < planeCache.length) {
              planeCache(nPlanes) = q
              nPlanes += 1
            }
            q
          }
          var step = 2
          while (step >= 1) {
            val cx = mvx
            val cy = mvy
            var dy = -step
            while (dy <= step) {
              var dx = -step
              while (dx <= step) {
                if (dx != 0 || dy != 0) {
                  val vx = cx + dx
                  val vy = cy + dy
                  val s2 =
                    if ((vx & 3) == 0 && (vy & 3) == 0)
                      sadLuma16IntBound(ref.y, w, h, mx, my, src.y,
                        vx >> 2, vy >> 2, best)
                    else
                      sadLuma16QpelBoundWith(planesFor(vx >> 2, vy >> 2),
                        w, mx, my, src.y, vx, vy, best)
                  if (s2 < best) { best = s2; mvx = vx; mvy = vy }
                }
                dx += step
              }
              dy += step
            }
            step -= 1
          }
        }
        // ---- residuals against the MC prediction
        val predL = mcLuma16Qpel(ref.y, w, h, mx, my, mvx, mvy)
        val lumaLv = new Array[Array[Int]](16)
        var blk = 0
        while (blk < 16) {
          val res = new Array[Int](16)
          var i = 0
          while (i < 16) {
            val srcPix = (src.y((my * 16 + LumaBlkY(blk) * 4 + i / 4) * w +
              mx * 16 + LumaBlkX(blk) * 4 + i % 4) & 0xFF)
            res(i) = srcPix -
              predL((LumaBlkY(blk) * 4 + i / 4) * 16 + LumaBlkX(blk) * 4 + i % 4)
            i += 1
          }
          lumaLv(blk) = quantBlock16(res, qp)
          blk += 1
        }
        val predCb = mcChroma8(ref.cb, cw, chh, mx, my, mvx, mvy)
        val predCr = mcChroma8(ref.cr, cw, chh, mx, my, mvx, mvy)
        val cbData = encodeChromaWithPred(src.cb, predCb, mx, my, cw, qpc)
        val crData = encodeChromaWithPred(src.cr, predCr, mx, my, cw, qpc)
        var cbpLuma = 0
        var i8 = 0
        while (i8 < 4) {
          var j = 0
          var any = false
          while (j < 4) { if (lumaLv(i8 * 4 + j) != null) any = true; j += 1 }
          if (any) cbpLuma |= 1 << i8
          i8 += 1
        }
        val cbpChroma = chromaCbpOf(cbData, crData)
        val cbp = (cbpChroma << 4) | cbpLuma
        // ---- P_Skip when the skip vector predicts this MB exactly
        val (skx, sky) = skipMv(mvXArr, mvYArr, interArr, mb, wMbs, mb,
          firstMb)
        if (cbp == 0 && skx == mvx && sky == mvy) {
          skipRun += 1
          mvXArr(mb) = mvx; mvYArr(mb) = mvy; interArr(mb) = true
        } else {
          bw.ue(skipRun) // mb_skip_run
          skipRun = 0
          bw.ue(0) // mb_type P_L0_16x16
          val (px, py) = mvPred16x16(mvXArr, mvYArr, interArr, mb, wMbs,
            mb, firstMb)
          bw.se(mvx - px)
          bw.se(mvy - py)
          bw.ue(InterCbpCode(cbp))
          if (cbp != 0) bw.se(0) // mb_qp_delta
          writeLumaEntropy(cbpLuma, mx, my, lumaLv)
          writeChromaEntropy(cbpChroma, mx, my, cbData, crData)
          mvXArr(mb) = mvx; mvYArr(mb) = mvy; interArr(mb) = true
        }
        // ---- closed-loop recon (identical for skip and coded: the
        // decoder sees zero residual where cbp bits are clear)
        blk = 0
        while (blk < 16) {
          val px0 = mx * 16 + LumaBlkX(blk) * 4
          val py0 = my * 16 + LumaBlkY(blk) * 4
          val pred = new Array[Int](16)
          var rr = 0
          while (rr < 4) {
            var cc = 0
            while (cc < 4) {
              pred(rr * 4 + cc) =
                predL((LumaBlkY(blk) * 4 + rr) * 16 + LumaBlkX(blk) * 4 + cc)
              cc += 1
            }
            rr += 1
          }
          val lv = if (((cbp >> (blk / 4)) & 1) != 0) lumaLv(blk) else null
          val out = recon4x4(pred, lv, qp)
          rr = 0
          while (rr < 4) {
            var cc = 0
            while (cc < 4) {
              ry((py0 + rr) * w + px0 + cc) = out(rr * 4 + cc).toByte
              cc += 1
            }
            rr += 1
          }
          blk += 1
        }
        reconChromaAs(cbpChroma, mx, my, cbData, crData)
      }

      var mb = firstMb
      while (mb < rowEnd * wMbs) {
        if (isIdr) encodeI4Mb(mb, 0)
        else encodePMb(mb)
        mb += 1
      }
      if (!isIdr && skipRun > 0) bw.ue(skipRun) // trailing skip run
      bw.rbspTrailing()
      (Array[Byte]((3 << 5 | (if (isIdr) 5 else 1)).toByte)) ++ escape(bw.toBytes)
      }
      recons += Plane(w, h, ry, rcb, rcr)
      ref = Plane(w, h, ry, rcb, rcr)
      sliceNals
    }
    (Encoded(encodeSps(wMbs, hMbs), encodePps(), nals, wMbs, hMbs),
      recons.result())
  }

  /** Encode frames (all same dims, multiples of 16). Frame 0 is IDR
    * all-I_PCM; each later frame refreshes its first `refreshMbs`
    * macroblocks as I_PCM and P_Skips the rest — so its non-refreshed
    * pixels must COME FROM the previous frame (the planes passed here
    * must already reflect that, i.e. be the true decoded output). */
  def encode(frames: IndexedSeq[Plane], refreshMbs: Int): Encoded = {
    require(frames.nonEmpty)
    val wMbs = frames.head.width / 16
    val hMbs = frames.head.height / 16
    require(frames.head.width % 16 == 0 && frames.head.height % 16 == 0)
    val nals = frames.zipWithIndex.map { case (p, i) =>
      if (i == 0) encodeIdr(p, wMbs, hMbs)
      else encodeP(p, wMbs, hMbs, i, refreshMbs)
    }
    Encoded(encodeSps(wMbs, hMbs), encodePps(), nals, wMbs, hMbs)
  }

  // --------------------------------------------------------- decoder

  /** Parse an SPS RBSP; None when outside the supported subset. */
  private def parseSps(rbsp: Array[Byte]): Option[Sps] = {
    try {
      val r = new BitReader(rbsp)
      val profile = r.u(8)
      r.u(8) // constraints
      r.u(8) // level
      if (r.ue() != 0) return None // seq_parameter_set_id
      if (profile == 100 || profile == 110 || profile == 122 || profile == 244 ||
        profile == 44 || profile == 83 || profile == 86 || profile == 118 ||
        profile == 128) return None // high profiles carry chroma/bitdepth fields
      val log2MaxFrameNum = r.ue() + 4
      val pocType = r.ue()
      // only type 2 (POC = decode order) is in the subset: types 0/1
      // add per-slice POC syntax the slice parser does not skip
      if (pocType != 2) return None
      r.ue() // max_num_ref_frames
      r.u1() // gaps_in_frame_num_value_allowed_flag
      val wMbs = r.ue() + 1
      val hMbs = r.ue() + 1
      // ue() can encode ~2^31, and decodeSlice allocates w*h(+chroma)
      // bytes from these — a few-hundred-byte stream claiming 1000x1000
      // MBs would force ~GB allocations (OutOfMemoryError is an Error,
      // outside the never-throws contract). Cap at the Rec. H.264
      // level-5.2 frame-size ceiling, MaxFS = 36864 macroblocks; Long
      // math so the product itself cannot overflow. ue() itself can
      // return Int.MaxValue, wrapping the +1 to a negative count whose
      // product would pass the cap — reject non-positive dims first.
      if (wMbs <= 0 || hMbs <= 0 || wMbs.toLong * hMbs > 36864L) return None
      val frameMbsOnly = r.u1()
      if (frameMbsOnly == 0) return None // interlace: out of subset
      Some(Sps(wMbs, hMbs, log2MaxFrameNum))
    } catch { case _: Exception => None }
  }

  final case class Pps(initQp: Int, deblockPresent: Boolean,
      cabac: Boolean = false)

  /** Parse a PPS RBSP; None when outside the subset (slice groups,
    * more than one active ref). Captures pic_init_qp (the CAVLC
    * residual path dequantizes with SliceQPY derived from it) and the
    * entropy mode — CABAC slices additionally require the
    * [[CabacSeiUuid]] self-identification marker (see [[Cabac]]'s
    * honesty boundary); unmarked CABAC streams keep the pre-r20
    * checked fallback (None). */
  private def parsePps(rbsp: Array[Byte]): Option[Pps] = {
    try {
      val r = new BitReader(rbsp)
      if (r.ue() != 0 || r.ue() != 0) return None // pps/sps ids
      val cabac = r.u1() == 1 // entropy_coding_mode_flag
      r.u1() // bottom_field_pic_order_in_frame_present
      if (r.ue() != 0) return None // slice groups: out of subset
      r.ue() // num_ref_idx_l0_default_active_minus1
      r.ue() // num_ref_idx_l1_default_active_minus1
      r.u1() // weighted_pred_flag
      r.u(2) // weighted_bipred_idc
      val initQp = 26 + r.se()
      if (initQp < 0 || initQp > 51) return None
      r.se() // pic_init_qs_minus26
      // chroma QP offset shifts the QPc table; only 0 is implemented
      if (r.se() != 0) return None
      val deblockPresent = r.u1() == 1
      r.u1() // constrained_intra_pred_flag (no effect on this subset)
      if (r.u1() != 0) return None // redundant slices: out of subset
      Some(Pps(initQp, deblockPresent, cabac))
    } catch { case _: Exception => None }
  }

  /** 16-byte UUID of the SEI user_data_unregistered marker our CABAC
    * encoder stamps — the decoder decodes CABAC slices ONLY under it
    * (see [[Cabac]]'s honesty boundary on context initialization). */
  private[operators] val CabacSeiUuid: Array[Byte] =
    "graft-cabac-ctx1".getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  /** SEI NAL (type 6) carrying the [[CabacSeiUuid]] marker. */
  private def encodeCabacSei(): Array[Byte] = {
    val payload = CabacSeiUuid
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(5) // payloadType user_data_unregistered
    bos.write(payload.length) // payloadSize (< 255, no 0xFF extension)
    bos.write(payload, 0, payload.length)
    bos.write(0x80) // rbsp trailing stop bit
    (Array[Byte]((0 << 5 | 6).toByte)) ++ escape(bos.toByteArray)
  }

  /** Does an SEI RBSP carry the [[CabacSeiUuid]] marker? Byte-scan —
    * SEI messages are byte-aligned and the UUID is plain bytes. */
  private def seiHasCabacMarker(rbsp: Array[Byte]): Boolean = {
    val u = CabacSeiUuid
    var i = 0
    while (i + u.length <= rbsp.length) {
      var j = 0
      while (j < u.length && rbsp(i + j) == u(j)) j += 1
      if (j == u.length) return true
      i += 1
    }
    false
  }

  /** `filterExact`: true when decoded pixels are bit-identical to a
    * conformant player's — every slice explicitly disabled the
    * in-loop deblocking filter (what [[encodeCavlcIntra]] /
    * [[encodeCavlcTextured]] / [[encode]] emit). False means the
    * stream left the filter ON: this decoder (which implements no
    * loop filter) still returns the exact transform/prediction
    * reconstruction, but a conformant player MAY additionally smooth
    * block edges (whether it actually does depends on content and QP
    * — the flag is deliberately conservative). */
  final case class Decoded(width: Int, height: Int,
      frames: IndexedSeq[Plane], filterExact: Boolean = true,
      subpelMbs: Int = 0)

  /** Decode a sequence of NAL units (without start codes / length
    * prefixes). None when any slice uses coding tools outside the
    * I_PCM / P_Skip subset — callers treat that as "needs a full codec"
    * and fall back. */
  def decodeNals(nals: Seq[Array[Byte]]): Option[Decoded] = {
    var sps: Option[Sps] = None
    var pps: Option[Pps] = None
    var ref: Plane = null
    var filterExact = true
    var subpelMbs = 0
    var cabacMarked = false
    // partial multi-slice picture: (plane so far, MBs decoded so far)
    var partial: Option[(Plane, Int)] = None
    val frames = IndexedSeq.newBuilder[Plane]
    try {
      nals.foreach { nal =>
        if (nal.length < 2) return None
        val nalType = nal(0) & 0x1F
        val rbsp = unescape(java.util.Arrays.copyOfRange(nal, 1, nal.length))
        nalType match {
          case 7 =>
            sps = parseSps(rbsp)
            if (sps.isEmpty) return None
          case 8 =>
            pps = parsePps(rbsp)
            if (pps.isEmpty) return None
          case 5 | 1 =>
            val s = sps.getOrElse(return None)
            val p = pps.getOrElse(return None)
            if (p.cabac) {
              // CABAC slices decode only under the self-identification
              // marker (context init is not spec-table-verified — see
              // Cabac's honesty boundary); foreign CABAC keeps the
              // checked fallback instead of silently-wrong pixels
              if (!cabacMarked) return None
              val (out, sliceExact) =
                decodeCabacISlice(rbsp, s, p, isIdr = nalType == 5)
                  .getOrElse(return None)
              if (!sliceExact) filterExact = false
              partial = None
              ref = out
              frames += out
            } else {
              val (out, mbs, sliceExact, sliceSubpel) =
                decodeSlice(rbsp, s, p, isIdr = nalType == 5, ref, partial)
                  .getOrElse(return None)
              if (!sliceExact) filterExact = false
              subpelMbs += sliceSubpel
              if (mbs == s.widthMbs * s.heightMbs) {
                // picture complete (single-slice, or the last slice of a
                // multi-slice picture): emit and make it the reference
                partial = None
                ref = out
                frames += out
              } else partial = Some((out, mbs))
            }
          case 6 =>
            if (seiHasCabacMarker(rbsp)) cabacMarked = true
          case 9 | 10 | 11 | 12 => // AU delimiter / end: ignore
          case _ => return None
        }
      }
    } catch { case _: Exception => return None }
    if (partial.isDefined) return None // stream ends mid-picture: torn
    val fs = frames.result()
    sps match {
      case Some(s) if fs.nonEmpty =>
        Some(Decoded(s.width, s.height, fs, filterExact, subpelMbs))
      case _ => None
    }
  }

  // ----------------------------- CAVLC residual transform machinery

  /** Inverse 4x4 Hadamard for the Intra16x16 luma DC array (8.5.10):
    * the ±1 butterfly, no scaling. Input/output row-major. */
  private[operators] def ihadamard4x4(c: Array[Int]): Array[Int] = {
    val t = new Array[Int](16)
    var i = 0
    while (i < 4) {
      val o = i * 4
      val e0 = c(o) + c(o + 2); val e1 = c(o) - c(o + 2)
      val e2 = c(o + 1) - c(o + 3); val e3 = c(o + 1) + c(o + 3)
      t(o) = e0 + e3; t(o + 1) = e1 + e2; t(o + 2) = e1 - e2; t(o + 3) = e0 - e3
      i += 1
    }
    val out = new Array[Int](16)
    var j = 0
    while (j < 4) {
      val f0 = t(j) + t(8 + j); val f1 = t(j) - t(8 + j)
      val f2 = t(4 + j) - t(12 + j); val f3 = t(4 + j) + t(12 + j)
      out(j) = f0 + f3; out(4 + j) = f1 + f2
      out(8 + j) = f1 - f2; out(12 + j) = f0 - f3
      j += 1
    }
    out
  }

  /** Inverse 4x4 integer transform (8.5.12.2): the >>1 butterfly rows
    * then columns, final (x + 32) >> 6 rounding. Input row-major
    * dequantized coefficients, output residual samples. */
  private[operators] def idct4x4(d: Array[Int]): Array[Int] = {
    val t = new Array[Int](16)
    var i = 0
    while (i < 4) {
      val o = i * 4
      val e0 = d(o) + d(o + 2); val e1 = d(o) - d(o + 2)
      val e2 = (d(o + 1) >> 1) - d(o + 3); val e3 = d(o + 1) + (d(o + 3) >> 1)
      t(o) = e0 + e3; t(o + 1) = e1 + e2; t(o + 2) = e1 - e2; t(o + 3) = e0 - e3
      i += 1
    }
    val out = new Array[Int](16)
    var j = 0
    while (j < 4) {
      val f0 = t(j) + t(8 + j); val f1 = t(j) - t(8 + j)
      val f2 = (t(4 + j) >> 1) - t(12 + j); val f3 = t(4 + j) + (t(12 + j) >> 1)
      out(j) = (f0 + f3 + 32) >> 6; out(4 + j) = (f1 + f2 + 32) >> 6
      out(8 + j) = (f1 - f2 + 32) >> 6; out(12 + j) = (f0 - f3 + 32) >> 6
      j += 1
    }
    out
  }

  /** Intra16x16 luma DC dequant (8.5.10): position-(0,0) scale
    * {10,11,13,14,16,18}[qP%6], shifted by qP/6 against the fixed >>6
    * normalization — exact (no rounding term) from qP 36 up. */
  private[operators] def dequantLumaDc(f: Int, qp: Int): Int = {
    val ls = (qp % 6) match {
      case 0 => 10; case 1 => 11; case 2 => 13; case 3 => 14; case 4 => 16
      case _ => 18
    }
    if (qp >= 36) (f * ls) << (qp / 6 - 6)
    else (f * ls + (1 << (5 - qp / 6))) >> (6 - qp / 6)
  }

  // ---- general 4x4 machinery shared by the decoder and the textured
  // encoder's reconstruction path (bit-equality by construction)

  /** Frame zig-zag scan: scan index k -> raster position (8.5.6). */
  private[operators] val Zigzag4x4: Array[Int] =
    Array(0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15)

  /** luma4x4BlkIdx -> (x, y) in 4x4-block units within the MB (Z scan
    * of 4x4 blocks within Z-scanned 8x8 quadrants, 6.4.3). */
  private[operators] val LumaBlkX: Array[Int] =
    Array(0, 1, 0, 1, 2, 3, 2, 3, 0, 1, 0, 1, 2, 3, 2, 3)
  private[operators] val LumaBlkY: Array[Int] =
    Array(0, 0, 1, 1, 0, 0, 1, 1, 2, 2, 3, 3, 2, 2, 3, 3)

  // levelScale position classes (8.5.9): (0,0)/(0,2)/(2,0)/(2,2) -> 0,
  // (1,1)/(1,3)/(3,1)/(3,3) -> 1, rest -> 2; V values per qp%6
  private val LsClass: Array[Int] =
    Array(0, 2, 0, 2, 2, 1, 2, 1, 0, 2, 0, 2, 2, 1, 2, 1)
  private val LsTab: Array[Array[Int]] = Array(
    Array(10, 11, 13, 14, 16, 18),
    Array(16, 18, 20, 23, 25, 29),
    Array(13, 14, 16, 18, 20, 23))

  /** 4x4 residual dequant (8.5.12.1) for AC/general positions. */
  private[operators] def dequant4x4(level: Int, rasterPos: Int, qp: Int): Int = {
    val ls = LsTab(LsClass(rasterPos))(qp % 6)
    if (qp >= 24) (level * ls) << (qp / 6 - 4)
    else (level * ls + (1 << (3 - qp / 6))) >> (4 - qp / 6)
  }

  // QPc from QPi (Table 8-15; chroma_qp_index_offset pinned 0)
  private val ChromaQpTab: Array[Int] =
    Array(29, 30, 31, 32, 32, 33, 34, 34, 35, 35, 36, 36, 37, 37, 37,
      38, 38, 38, 39, 39, 39, 39)
  private[operators] def chromaQp(qpy: Int): Int =
    if (qpy < 30) qpy else ChromaQpTab(qpy - 30)

  /** Chroma DC dequant (8.5.11, 4:2:0). */
  private[operators] def dequantChromaDc(f: Int, qpc: Int): Int =
    ((f * LsTab(0)(qpc % 6)) << (qpc / 6)) >> 5

  /** Inverse 2x2 chroma DC transform (8.5.11.1): ±1 butterfly. */
  private[operators] def ihadamard2x2(c: Array[Int]): Array[Int] =
    Array(c(0) + c(1) + c(2) + c(3), c(0) - c(1) + c(2) - c(3),
      c(0) + c(1) - c(2) - c(3), c(0) - c(1) - c(2) + c(3))

  @inline private def clip255(v: Int): Int =
    if (v < 0) 0 else if (v > 255) 255 else v

  /** Intra16x16 luma prediction (8.3.3): 0 = Vertical, 1 = Horizontal,
    * 2 = DC, 3 = Plane. `px(x, y)` reads reconstructed neighbor pixels
    * in MB-local coordinates (x or y == -1); callers guarantee
    * availability per mode. Returns the 256-entry prediction. */
  private[operators] def predIntra16x16(mode: Int, hasL: Boolean,
      hasT: Boolean, px: (Int, Int) => Int): Array[Int] = {
    val out = new Array[Int](256)
    mode match {
      case 0 => // Vertical
        var x = 0
        while (x < 16) {
          val v = px(x, -1)
          var y = 0
          while (y < 16) { out(y * 16 + x) = v; y += 1 }
          x += 1
        }
      case 1 => // Horizontal
        var y = 0
        while (y < 16) {
          val v = px(-1, y)
          var x = 0
          while (x < 16) { out(y * 16 + x) = v; x += 1 }
          y += 1
        }
      case 2 => // DC
        var sumL = 0
        var sumT = 0
        var i = 0
        while (i < 16) {
          if (hasL) sumL += px(-1, i)
          if (hasT) sumT += px(i, -1)
          i += 1
        }
        val dc =
          if (hasL && hasT) (sumL + sumT + 16) >> 5
          else if (hasL) (sumL + 8) >> 4
          else if (hasT) (sumT + 8) >> 4
          else 128
        java.util.Arrays.fill(out, dc)
      case _ => // Plane (8.3.3.4)
        var hAcc = 0
        var vAcc = 0
        var i = 0
        while (i < 8) {
          hAcc += (i + 1) * (px(8 + i, -1) - px(6 - i, -1))
          vAcc += (i + 1) * (px(-1, 8 + i) - px(-1, 6 - i))
          i += 1
        }
        val a = 16 * (px(-1, 15) + px(15, -1))
        val b = (5 * hAcc + 32) >> 6
        val c = (5 * vAcc + 32) >> 6
        var y = 0
        while (y < 16) {
          var x = 0
          while (x < 16) {
            out(y * 16 + x) = clip255((a + b * (x - 7) + c * (y - 7) + 16) >> 5)
            x += 1
          }
          y += 1
        }
    }
    out
  }

  /** Chroma 8x8 prediction (8.3.4): 0 = DC (per-4x4-quadrant rule),
    * 1 = Horizontal, 2 = Vertical, 3 = Plane. */
  private[operators] def predChroma8x8(mode: Int, hasL: Boolean,
      hasT: Boolean, px: (Int, Int) => Int): Array[Int] = {
    val out = new Array[Int](64)
    mode match {
      case 0 => // DC per 4x4 quadrant (8.3.4.1)
        var q = 0
        while (q < 4) {
          val sx = (q % 2) * 4
          val sy = (q / 2) * 4
          var sumL = 0
          var sumT = 0
          var i = 0
          while (i < 4) {
            if (hasL) sumL += px(-1, sy + i)
            if (hasT) sumT += px(sx + i, -1)
            i += 1
          }
          val pred =
            if (q == 0 || q == 3) {
              if (hasL && hasT) (sumL + sumT + 4) >> 3
              else if (hasL) (sumL + 2) >> 2
              else if (hasT) (sumT + 2) >> 2
              else 128
            } else if (q == 1) { // top-right prefers the column above
              if (hasT) (sumT + 2) >> 2
              else if (hasL) (sumL + 2) >> 2
              else 128
            } else { // bottom-left prefers the row to the left
              if (hasL) (sumL + 2) >> 2
              else if (hasT) (sumT + 2) >> 2
              else 128
            }
          var rr = 0
          while (rr < 4) {
            var cc = 0
            while (cc < 4) { out((sy + rr) * 8 + sx + cc) = pred; cc += 1 }
            rr += 1
          }
          q += 1
        }
      case 1 => // Horizontal
        var y = 0
        while (y < 8) {
          val v = px(-1, y)
          var x = 0
          while (x < 8) { out(y * 8 + x) = v; x += 1 }
          y += 1
        }
      case 2 => // Vertical
        var x = 0
        while (x < 8) {
          val v = px(x, -1)
          var y = 0
          while (y < 8) { out(y * 8 + x) = v; y += 1 }
          x += 1
        }
      case _ => // Plane (8.3.4.4)
        var hAcc = 0
        var vAcc = 0
        var i = 0
        while (i < 4) {
          hAcc += (i + 1) * (px(4 + i, -1) - px(2 - i, -1))
          vAcc += (i + 1) * (px(-1, 4 + i) - px(-1, 2 - i))
          i += 1
        }
        val a = 16 * (px(-1, 7) + px(7, -1))
        val b = (17 * hAcc + 16) >> 5
        val c = (17 * vAcc + 16) >> 5
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 8) {
            out(y * 8 + x) = clip255((a + b * (x - 3) + c * (y - 3) + 16) >> 5)
            x += 1
          }
          y += 1
        }
    }
    out
  }

  /** Reconstruct one Intra16x16 luma MB from its prediction and
    * entropy-decoded levels: zig-zag DC -> inverse Hadamard -> DC
    * dequant; per-4x4 AC dequant at zig-zag positions; IDCT; add +
    * clip. `acLevels` null means CBP luma 0 (DC-only). SHARED by the
    * decoder and the encoder's reconstruction, so encoder-predicted
    * output is decoder-exact by construction. */
  private[operators] def reconI16x16Luma(predL: Array[Int],
      dcLevels: Array[Int], acLevels: Array[Array[Int]],
      qpy: Int): Array[Int] = {
    val dcRaster = new Array[Int](16)
    var k = 0
    while (k < 16) { dcRaster(Zigzag4x4(k)) = dcLevels(k); k += 1 }
    val had = ihadamard4x4(dcRaster)
    val out = new Array[Int](256)
    var blk = 0
    while (blk < 16) {
      val d = new Array[Int](16)
      d(0) = dequantLumaDc(had(LumaBlkY(blk) * 4 + LumaBlkX(blk)), qpy)
      if (acLevels != null) {
        val ac = acLevels(blk)
        var i = 1
        while (i < 16) {
          val lv = ac(i - 1)
          if (lv != 0) d(Zigzag4x4(i)) = dequant4x4(lv, Zigzag4x4(i), qpy)
          i += 1
        }
      }
      val res = idct4x4(d)
      val bx = LumaBlkX(blk) * 4
      val by = LumaBlkY(blk) * 4
      var rr = 0
      while (rr < 4) {
        var cc = 0
        while (cc < 4) {
          val p = (by + rr) * 16 + bx + cc
          out(p) = clip255(predL(p) + res(rr * 4 + cc))
          cc += 1
        }
        rr += 1
      }
      blk += 1
    }
    out
  }

  /** Reconstruct one 8x8 chroma plane of an MB. `dcLevels` (4, raster
    * scan) and `acLevels` (4 x 15) may be null (CBP chroma 0 / 1). */
  private[operators] def reconChroma8x8(predC: Array[Int],
      dcLevels: Array[Int], acLevels: Array[Array[Int]],
      qpc: Int): Array[Int] = {
    val had =
      if (dcLevels == null) Array(0, 0, 0, 0) else ihadamard2x2(dcLevels)
    val out = new Array[Int](64)
    var blk = 0
    while (blk < 4) {
      val d = new Array[Int](16)
      d(0) = dequantChromaDc(had(blk), qpc)
      if (acLevels != null) {
        val ac = acLevels(blk)
        var i = 1
        while (i < 16) {
          val lv = ac(i - 1)
          if (lv != 0) d(Zigzag4x4(i)) = dequant4x4(lv, Zigzag4x4(i), qpc)
          i += 1
        }
      }
      val res = idct4x4(d)
      val bx = (blk % 2) * 4
      val by = (blk / 2) * 4
      var rr = 0
      while (rr < 4) {
        var cc = 0
        while (cc < 4) {
          val p = (by + rr) * 8 + bx + cc
          out(p) = clip255(predC(p) + res(rr * 4 + cc))
          cc += 1
        }
        rr += 1
      }
      blk += 1
    }
    out
  }

  /** Decode one slice into (a possibly still-partial) frame plane.
    * P_Skip macroblocks copy from `ref` (zero motion, the inter-frame
    * path); I_PCM macroblocks read raw samples; I_16x16_2_0_0
    * macroblocks take the real CAVLC path (entropy-decoded luma DC,
    * inverse Hadamard, dequant, 4x4 IDCT, pixel-wise DC prediction).
    * Anything else → None.
    *
    * MULTI-SLICE pictures (r15): an I picture may arrive as several
    * contiguous-raster slices — `cont` carries the partial picture a
    * previous slice built (plane + macroblocks decoded so far), and
    * `first_mb_in_slice` must equal that count (no FMO: slice groups
    * were already rejected at PPS parse). Per 7.4.3/8.3, neighbors in
    * a DIFFERENT slice are unavailable for intra prediction, Intra_4x4
    * mode prediction, and CAVLC nC derivation — enforced here by
    * slice-local grids plus `mbInSlice` gating on every availability
    * check. P pictures slice the same way (r15): the MV median
    * predictor and the 8.4.1.1 skip-vector rule gate on `firstMb` —
    * 8.4.1.3 treats an unavailable neighbor exactly like an intra one
    * (mv 0, no ref match), and the skip vector is ZERO when A or B
    * lies in another slice.
    *
    * Returns (plane, mbsDecoded, filterExact, subpelMbs); the caller
    * emits the frame when mbsDecoded reaches the picture's MB count. */
  private def decodeSlice(rbsp: Array[Byte], sps: Sps, pps: Pps, isIdr: Boolean,
      ref: Plane, cont: Option[(Plane, Int)] = None)
      : Option[(Plane, Int, Boolean, Int)] = {
    val r = new BitReader(rbsp)
    var subpelMbCount = 0 // inter MBs whose MV has a fractional component
    val firstMb = r.ue()
    if (firstMb != cont.map(_._2).getOrElse(0)) return None // contiguity
    val sliceType = r.ue() % 5 // 5..9 are the "all slices" aliases
    val isI = sliceType == 2
    val isP = sliceType == 0
    if (!isI && !isP) return None // B/SP/SI: out of subset
    if (isIdr && !isI) return None
    r.ue() // pic_parameter_set_id
    r.u(sps.log2MaxFrameNum) // frame_num
    if (isIdr) r.ue() // idr_pic_id
    // pic_order_cnt_type is pinned to 2 by parseSps, so no POC fields
    if (isP) {
      if (r.u1() != 0) return None // num_ref_idx_active_override
      if (r.u1() != 0) return None // ref_pic_list_modification_l0
    }
    if (isIdr) { r.u1(); r.u1() } // no_output_of_prior / long_term
    else if (r.u1() != 0) return None // adaptive_ref_pic_marking
    var qpy = pps.initQp + r.se() // slice_qp_delta
    if (qpy < 0 || qpy > 51) return None
    // this decoder implements NO in-loop deblocking filter; track
    // whether the stream disabled it so the caller can tell exact
    // decode from edges-unfiltered decode (Decoded.filterExact)
    var filterOn = !pps.deblockPresent // absent syntax = filter on
    if (pps.deblockPresent) {
      val idc = r.ue()
      if (idc > 2) return None
      filterOn = idc != 1
      if (idc != 1) { r.se(); r.se() } // alpha/beta offsets: consume
    }
    // macroblock layer — the pixel planes continue a partial picture
    // when this is a continuation slice; everything grid-shaped below
    // is SLICE-local (different-slice neighbors are unavailable)
    val (w, h) = (sps.width, sps.height)
    val (y, cb, cr) = cont match {
      case Some((p, _)) => (p.y, p.cb, p.cr)
      case None => (new Array[Byte](w * h),
        new Array[Byte]((w / 2) * (h / 2)),
        new Array[Byte]((w / 2) * (h / 2)))
    }
    val nMbs = sps.widthMbs * sps.heightMbs
    // 7.4.3 neighbor availability, slice-gated: a raster-contiguous
    // slice contains exactly the MBs >= firstMb decoded so far
    def mbInSlice(m: Int): Boolean = m >= firstMb
    def hasLOf(mb: Int): Boolean =
      mb % sps.widthMbs > 0 && mbInSlice(mb - 1)
    def hasTOf(mb: Int): Boolean =
      mb >= sps.widthMbs && mbInSlice(mb - sps.widthMbs)
    def copyMbFromRef(mb: Int): Unit = {
      if (ref == null) throw new IllegalArgumentException("skip without ref")
      val (mx, my) = (mb % sps.widthMbs, mb / sps.widthMbs)
      var row = 0
      while (row < 16) {
        System.arraycopy(ref.y, (my * 16 + row) * w + mx * 16,
          y, (my * 16 + row) * w + mx * 16, 16)
        row += 1
      }
      var row2 = 0
      while (row2 < 8) {
        System.arraycopy(ref.cb, (my * 8 + row2) * (w / 2) + mx * 8,
          cb, (my * 8 + row2) * (w / 2) + mx * 8, 8)
        System.arraycopy(ref.cr, (my * 8 + row2) * (w / 2) + mx * 8,
          cr, (my * 8 + row2) * (w / 2) + mx * 8, 8)
        row2 += 1
      }
    }
    def readPcmMb(mb: Int): Unit = {
      r.byteAlign()
      val (mx, my) = (mb % sps.widthMbs, mb / sps.widthMbs)
      var row = 0
      while (row < 16) {
        var c = 0
        while (c < 16) {
          y((my * 16 + row) * w + mx * 16 + c) = r.readByteAligned().toByte
          c += 1
        }
        row += 1
      }
      var comp = 0
      while (comp < 2) {
        val dst = if (comp == 0) cb else cr
        var row2 = 0
        while (row2 < 8) {
          var c2 = 0
          while (c2 < 8) {
            dst((my * 8 + row2) * (w / 2) + mx * 8 + c2) = r.readByteAligned().toByte
            c2 += 1
          }
          row2 += 1
        }
        comp += 1
      }
    }
    // per-4x4-block TotalCoeff for CAVLC nC derivation (9.2.1): luma
    // blocks store their Intra16x16AC totals (0 for CBP-0 MBs and
    // skips), I_PCM blocks count 16; chroma tracked per plane
    val lumaBlkW = sps.widthMbs * 4
    val chromaBlkW = sps.widthMbs * 2
    val lumaTc = new Array[Int](lumaBlkW * sps.heightMbs * 4)
    val cbTc = new Array[Int](chromaBlkW * sps.heightMbs * 2)
    val crTc = new Array[Int](chromaBlkW * sps.heightMbs * 2)
    // slice-gated nC (9.2.1): a neighbor 4x4 block in another slice is
    // UNAVAILABLE (-1), not TotalCoeff-0 — the grids are slice-local
    // (fresh per decodeSlice call) so in-slice positions are always
    // written before read, and the MB-of-block check rules the rest out
    def nCLuma(gx: Int, gy: Int): Int = {
      val a = if (gx > 0 && mbInSlice((gy >> 2) * sps.widthMbs + ((gx - 1) >> 2)))
        lumaTc(gy * lumaBlkW + gx - 1) else -1
      val b = if (gy > 0 && mbInSlice(((gy - 1) >> 2) * sps.widthMbs + (gx >> 2)))
        lumaTc((gy - 1) * lumaBlkW + gx) else -1
      if (a >= 0 && b >= 0) (a + b + 1) >> 1
      else if (a >= 0) a else if (b >= 0) b else 0
    }
    def nCChroma(tcArr: Array[Int], gx: Int, gy: Int): Int = {
      val a = if (gx > 0 && mbInSlice((gy >> 1) * sps.widthMbs + ((gx - 1) >> 1)))
        tcArr(gy * chromaBlkW + gx - 1) else -1
      val b = if (gy > 0 && mbInSlice(((gy - 1) >> 1) * sps.widthMbs + (gx >> 1)))
        tcArr((gy - 1) * chromaBlkW + gx) else -1
      if (a >= 0 && b >= 0) (a + b + 1) >> 1
      else if (a >= 0) a else if (b >= 0) b else 0
    }
    def fillMbTotals(mb: Int, v: Int): Unit = {
      val mx = mb % sps.widthMbs
      val my = mb / sps.widthMbs
      var b = 0
      while (b < 16) {
        lumaTc((my * 4 + LumaBlkY(b)) * lumaBlkW + mx * 4 + LumaBlkX(b)) = v
        b += 1
      }
      var cblk = 0
      while (cblk < 4) {
        val ci = (my * 2 + cblk / 2) * chromaBlkW + mx * 2 + cblk % 2
        cbTc(ci) = v
        crTc(ci) = v
        cblk += 1
      }
    }

    // per-4x4-block Intra_4x4 prediction modes (for 8.3.1.1 mode
    // prediction); -1 = block not Intra_4x4-coded
    val i4Grid = new Array[Int](lumaBlkW * sps.heightMbs * 4)
    java.util.Arrays.fill(i4Grid, -1)
    // per-MB motion state for MV prediction (quarter-pel; inter=false
    // for intra/PCM MBs)
    val mvXArr = new Array[Int](nMbs)
    val mvYArr = new Array[Int](nMbs)
    val interArr = new Array[Boolean](nMbs)

    /** Read the chroma residual for cbpChroma in {0,1,2}: (cbDc, crDc,
      * cbAc, crAc), nulls where absent — shared by every non-PCM MB
      * type. */
    def readChroma(mb: Int, cbpChroma: Int)
        : (Array[Int], Array[Int], Array[Array[Int]], Array[Array[Int]]) = {
      val mx = mb % sps.widthMbs
      val my = mb / sps.widthMbs
      var cbDc: Array[Int] = null
      var crDc: Array[Int] = null
      if (cbpChroma != 0) {
        cbDc = Cavlc.readResidual(r, -1, 4)
        crDc = Cavlc.readResidual(r, -1, 4)
      }
      var cbAc: Array[Array[Int]] = null
      var crAc: Array[Array[Int]] = null
      if (cbpChroma == 2) {
        def readAc(tcArr: Array[Int]): Array[Array[Int]] = {
          val arr = new Array[Array[Int]](4)
          var blk = 0
          while (blk < 4) {
            val gx = mx * 2 + blk % 2
            val gy = my * 2 + blk / 2
            val lv = Cavlc.readResidual(r, nCChroma(tcArr, gx, gy), 15)
            arr(blk) = lv
            tcArr(gy * chromaBlkW + gx) = lv.count(_ != 0)
            blk += 1
          }
          arr
        }
        cbAc = readAc(cbTc)
        crAc = readAc(crTc)
      }
      (cbDc, crDc, cbAc, crAc)
    }

    /** Reconstruct + store both chroma 8x8s from prediction arrays. */
    def reconChromaMb(mb: Int, predCb: Array[Int], predCr: Array[Int],
        ch: (Array[Int], Array[Int], Array[Array[Int]], Array[Array[Int]]),
        qpc: Int): Unit = {
      val mx = mb % sps.widthMbs
      val my = mb / sps.widthMbs
      val cw = w / 2
      var comp = 0
      while (comp < 2) {
        val plane = if (comp == 0) cb else cr
        val out = reconChroma8x8(if (comp == 0) predCb else predCr,
          if (comp == 0) ch._1 else ch._2,
          if (comp == 0) ch._3 else ch._4, qpc)
        var rr = 0
        while (rr < 8) {
          var cc = 0
          while (cc < 8) {
            plane((my * 8 + rr) * cw + mx * 8 + cc) = out(rr * 8 + cc).toByte
            cc += 1
          }
          rr += 1
        }
        comp += 1
      }
    }

    /** Decode one Intra_4x4 macroblock (mb_type I_NxN, CAVLC): 16
      * per-block prediction modes with the 8.3.1.1 min-neighbor
      * predictor, me(v) coded_block_pattern, mb_qp_delta when any
      * residual, 16-coefficient luma blocks per set cbp 8x8, chroma
      * DC/AC like Intra_16x16. Prediction reads RECONSTRUCTED samples
      * (earlier z-blocks of the same MB included), so entropy decode
      * runs first, reconstruction second — the spec's own ordering. */
    def decodeIntra4Mb(mb: Int): Boolean = {
      val mx = mb % sps.widthMbs
      val my = mb / sps.widthMbs
      val hasL = hasLOf(mb)
      val hasT = hasTOf(mb)
      val modes = new Array[Int](16)
      var b = 0
      while (b < 16) {
        val gx = mx * 4 + LumaBlkX(b)
        val gy = my * 4 + LumaBlkY(b)
        // i4Grid is slice-local (-1 = unavailable/not-I4x4), so the
        // mode predictor is slice-gated for free; the sample
        // availability flags gate on the neighbor MB's slice
        val pm = predI4Mode(i4Grid, lumaBlkW, gx, gy)
        val mode =
          if (r.u1() == 1) pm
          else { val rem = r.u(3); if (rem < pm) rem else rem + 1 }
        if (!i4ModeValid(mode, LumaBlkX(b) > 0 || hasL,
            LumaBlkY(b) > 0 || hasT)) return false
        modes(b) = mode
        i4Grid(gy * lumaBlkW + gx) = mode
        b += 1
      }
      val chromaPredMode = r.ue()
      if (chromaPredMode > 3) return false
      val okC = chromaPredMode match {
        case 1 => hasL
        case 2 => hasT
        case 3 => hasL && hasT
        case _ => true
      }
      if (!okC) return false
      val cbpCode = r.ue()
      if (cbpCode > 47) return false
      val cbp = IntraCbpTab(cbpCode)
      val cbpChroma = cbp >> 4
      if (cbpChroma > 2) return false
      if (cbp != 0) {
        val dq = r.se()
        if (dq < -26 || dq > 25) return false
        qpy = (qpy + dq + 52) % 52
      }
      // ---- entropy (7.3.5.3.1: i8x8-gated 16-coeff luma blocks)
      val lumaLv = new Array[Array[Int]](16)
      var i8 = 0
      while (i8 < 4) {
        if (((cbp >> i8) & 1) != 0) {
          var j = 0
          while (j < 4) {
            val blk = i8 * 4 + j
            val gx = mx * 4 + LumaBlkX(blk)
            val gy = my * 4 + LumaBlkY(blk)
            val lv = Cavlc.readResidual(r, nCLuma(gx, gy), 16)
            lumaLv(blk) = lv
            lumaTc(gy * lumaBlkW + gx) = lv.count(_ != 0)
            j += 1
          }
        }
        i8 += 1
      }
      val ch = readChroma(mb, cbpChroma)
      // ---- per-block prediction + reconstruction, z-order
      var blk = 0
      while (blk < 16) {
        val px0 = mx * 16 + LumaBlkX(blk) * 4
        val py0 = my * 16 + LumaBlkY(blk) * 4
        val gx = mx * 4 + LumaBlkX(blk)
        val gy = my * 4 + LumaBlkY(blk)
        val pred = predIntra4x4(modes(blk),
          LumaBlkX(blk) > 0 || hasL, LumaBlkY(blk) > 0 || hasT,
          i4TrAvailableSl(mx, my, blk, sps.widthMbs, firstMb),
          (dx, dy) => y((py0 + dy) * w + px0 + dx) & 0xFF)
        val out = recon4x4(pred, lumaLv(blk), qpy)
        var rr = 0
        while (rr < 4) {
          var cc = 0
          while (cc < 4) {
            y((py0 + rr) * w + px0 + cc) = out(rr * 4 + cc).toByte
            cc += 1
          }
          rr += 1
        }
        blk += 1
      }
      val qpc = chromaQp(qpy)
      val cw = w / 2
      val predCb = predChroma8x8(chromaPredMode, hasL, hasT,
        (px, py) => cb((my * 8 + py) * cw + mx * 8 + px) & 0xFF)
      val predCr = predChroma8x8(chromaPredMode, hasL, hasT,
        (px, py) => cr((my * 8 + py) * cw + mx * 8 + px) & 0xFF)
      reconChromaMb(mb, predCb, predCr, ch, qpc)
      true
    }

    /** Motion-compensate + store one inter MB from `ref` at quarter-pel
      * MV (mvx, mvy); sub-pel luma runs the full 6-tap interpolation
      * grid ([[mcLuma16Qpel]] — the r13 upgrade that retired this
      * decoder's last checked inter-prediction boundary). Residual
      * arrays may be null (P_Skip / cbp 0). */
    def reconInterMb(mb: Int, mvx: Int, mvy: Int,
        lumaLv: Array[Array[Int]],
        ch: (Array[Int], Array[Int], Array[Array[Int]], Array[Array[Int]])): Boolean = {
      if (ref == null) return false
      if ((mvx & 3) != 0 || (mvy & 3) != 0) subpelMbCount += 1
      val mx = mb % sps.widthMbs
      val my = mb / sps.widthMbs
      val predL = mcLuma16Qpel(ref.y, w, h, mx, my, mvx, mvy)
      var blk = 0
      while (blk < 16) {
        val px0 = mx * 16 + LumaBlkX(blk) * 4
        val py0 = my * 16 + LumaBlkY(blk) * 4
        val pred = new Array[Int](16)
        var rr = 0
        while (rr < 4) {
          var cc = 0
          while (cc < 4) {
            pred(rr * 4 + cc) =
              predL((LumaBlkY(blk) * 4 + rr) * 16 + LumaBlkX(blk) * 4 + cc)
            cc += 1
          }
          rr += 1
        }
        val out = recon4x4(pred, if (lumaLv == null) null else lumaLv(blk), qpy)
        rr = 0
        while (rr < 4) {
          var cc = 0
          while (cc < 4) {
            y((py0 + rr) * w + px0 + cc) = out(rr * 4 + cc).toByte
            cc += 1
          }
          rr += 1
        }
        blk += 1
      }
      val qpc = chromaQp(qpy)
      val cw = w / 2
      val chh = h / 2
      val predCb = mcChroma8(ref.cb, cw, chh, mx, my, mvx, mvy)
      val predCr = mcChroma8(ref.cr, cw, chh, mx, my, mvx, mvy)
      reconChromaMb(mb, predCb, predCr,
        if (ch == null) (null, null, null, null) else ch, qpc)
      mvXArr(mb) = mvx
      mvYArr(mb) = mvy
      interArr(mb) = true
      true
    }

    /** Decode one P_L0_16x16 macroblock: mvd against the 8.4.1.3
      * median predictor, me(v) inter coded_block_pattern, 16-coeff
      * luma residual per set 8x8, chroma DC/AC. */
    def decodeInter16Mb(mb: Int): Boolean = {
      // num_ref_idx_l0_active is 1 in-subset: no ref_idx_l0 field
      val mvdx = r.se()
      val mvdy = r.se()
      val (px, py) = mvPred16x16(mvXArr, mvYArr, interArr, mb,
        sps.widthMbs, mb, firstMb)
      val mvx = px + mvdx
      val mvy = py + mvdy
      val cbpCode = r.ue()
      if (cbpCode > 47) return false
      val cbp = InterCbpTab(cbpCode)
      val cbpChroma = cbp >> 4
      if (cbpChroma > 2) return false
      if (cbp != 0) {
        val dq = r.se()
        if (dq < -26 || dq > 25) return false
        qpy = (qpy + dq + 52) % 52
      }
      val mx = mb % sps.widthMbs
      val my = mb / sps.widthMbs
      val lumaLv: Array[Array[Int]] =
        if ((cbp & 15) != 0) new Array[Array[Int]](16) else null
      var i8 = 0
      while (i8 < 4) {
        if (((cbp >> i8) & 1) != 0) {
          var j = 0
          while (j < 4) {
            val blk = i8 * 4 + j
            val gx = mx * 4 + LumaBlkX(blk)
            val gy = my * 4 + LumaBlkY(blk)
            val lv = Cavlc.readResidual(r, nCLuma(gx, gy), 16)
            lumaLv(blk) = lv
            lumaTc(gy * lumaBlkW + gx) = lv.count(_ != 0)
            j += 1
          }
        }
        i8 += 1
      }
      val ch = readChroma(mb, cbpChroma)
      reconInterMb(mb, mvx, mvy, lumaLv, ch)
    }

    /** Decode one Intra_16x16 macroblock, general profile: all four
      * prediction modes (Vertical/Horizontal/DC/Plane), CBP luma 0 or
      * 15 (full AC residual), CBP chroma 0/1/2 (DC / DC+AC residual),
      * all CAVLC nC contexts, arbitrary QP via mb_qp_delta. Prediction
      * modes requiring unavailable neighbors reject (conformant
      * streams never emit them). */
    def decodeIntra16Mb(mb: Int, mbType: Int): Boolean = {
      val k = mbType - 1
      val predMode = k % 4
      val cbpChroma = (k / 4) % 3
      val cbpLuma = if (k >= 12) 15 else 0
      val chromaPredMode = r.ue()
      if (chromaPredMode > 3) return false
      val dq = r.se() // mb_qp_delta
      if (dq < -26 || dq > 25) return false
      qpy = (qpy + dq + 52) % 52
      val (mx, my) = (mb % sps.widthMbs, mb / sps.widthMbs)
      val hasL = hasLOf(mb)
      val hasT = hasTOf(mb)
      val ok = predMode match {
        case 0 => hasT
        case 1 => hasL
        case 3 => hasL && hasT
        case _ => true
      }
      val okC = chromaPredMode match {
        case 1 => hasL
        case 2 => hasT
        case 3 => hasL && hasT
        case _ => true
      }
      if (!ok || !okC) return false
      // ---- entropy decode (7.3.5.3 residual order)
      val dcLevels = Cavlc.readResidual(r,
        nCLuma(mx * 4, my * 4), 16)
      val acLevels: Array[Array[Int]] =
        if (cbpLuma != 0) {
          val arr = new Array[Array[Int]](16)
          var blk = 0
          while (blk < 16) {
            val gx = mx * 4 + LumaBlkX(blk)
            val gy = my * 4 + LumaBlkY(blk)
            val lv = Cavlc.readResidual(r, nCLuma(gx, gy), 15)
            arr(blk) = lv
            lumaTc(gy * lumaBlkW + gx) = lv.count(_ != 0)
            blk += 1
          }
          arr
        } else null // totals stay 0
      var cbDc: Array[Int] = null
      var crDc: Array[Int] = null
      if (cbpChroma != 0) {
        cbDc = Cavlc.readResidual(r, -1, 4)
        crDc = Cavlc.readResidual(r, -1, 4)
      }
      var cbAc: Array[Array[Int]] = null
      var crAc: Array[Array[Int]] = null
      if (cbpChroma == 2) {
        def readChromaAc(tcArr: Array[Int]): Array[Array[Int]] = {
          val arr = new Array[Array[Int]](4)
          var blk = 0
          while (blk < 4) {
            val gx = mx * 2 + blk % 2
            val gy = my * 2 + blk / 2
            val lv = Cavlc.readResidual(r, nCChroma(tcArr, gx, gy), 15)
            arr(blk) = lv
            tcArr(gy * chromaBlkW + gx) = lv.count(_ != 0)
            blk += 1
          }
          arr
        }
        cbAc = readChromaAc(cbTc)
        crAc = readChromaAc(crTc)
      }
      // ---- prediction from decoded neighbor pixels, then shared recon
      val predL = predIntra16x16(predMode, hasL, hasT,
        (px, py) => y((my * 16 + py) * w + mx * 16 + px) & 0xFF)
      val lumaOut = reconI16x16Luma(predL, dcLevels, acLevels, qpy)
      var row = 0
      while (row < 16) {
        var cc = 0
        while (cc < 16) {
          y((my * 16 + row) * w + mx * 16 + cc) = lumaOut(row * 16 + cc).toByte
          cc += 1
        }
        row += 1
      }
      val qpc = chromaQp(qpy)
      val cw = w / 2
      var comp = 0
      while (comp < 2) {
        val plane = if (comp == 0) cb else cr
        val predC = predChroma8x8(chromaPredMode, hasL, hasT,
          (px, py) => plane((my * 8 + py) * cw + mx * 8 + px) & 0xFF)
        val out = reconChroma8x8(predC,
          if (comp == 0) cbDc else crDc,
          if (comp == 0) cbAc else crAc, qpc)
        var rr = 0
        while (rr < 8) {
          var cc2 = 0
          while (cc2 < 8) {
            plane((my * 8 + rr) * cw + mx * 8 + cc2) = out(rr * 8 + cc2).toByte
            cc2 += 1
          }
          rr += 1
        }
        comp += 1
      }
      true
    }

    var mb = firstMb
    var sliceEnd = false
    while (mb < nMbs && !sliceEnd) {
      if (isP) {
        val skip = r.ue() // mb_skip_run
        if (mb + skip > nMbs) return None
        var k = 0
        while (k < skip) {
          // P_Skip: motion-compensate at the 8.4.1.1-derived vector
          // (zero-MV skips reduce to the old copy-from-ref behavior)
          val (sx, sy) = skipMv(mvXArr, mvYArr, interArr, mb, sps.widthMbs,
            mb, firstMb)
          if (sx == 0 && sy == 0) {
            copyMbFromRef(mb)
            mvXArr(mb) = 0; mvYArr(mb) = 0; interArr(mb) = true
          } else if (!reconInterMb(mb, sx, sy, null, null)) return None
          mb += 1
          k += 1
        }
        if (mb < nMbs) {
          if (!r.moreRbspData()) sliceEnd = true // slice ends; next NAL continues
          else {
          val mbType = r.ue()
          if (mbType == 0) { // P_L0_16x16
            if (!decodeInter16Mb(mb)) return None
          } else if (mbType == 5) { // I_NxN in a P slice
            if (!decodeIntra4Mb(mb)) return None
          } else if (mbType >= 6 && mbType <= 29) { // Intra_16x16 in P
            if (!decodeIntra16Mb(mb, mbType - 5)) return None
          } else if (mbType == 30) { // I_PCM (5 + 25)
            readPcmMb(mb)
            fillMbTotals(mb, 16)
          } else return None // P_8x8 etc: out of subset
          mb += 1
          }
        }
      } else {
        val mbType = r.ue()
        if (mbType == 0) { // I_NxN (Intra_4x4)
          if (!decodeIntra4Mb(mb)) return None
        } else if (mbType == 25) { readPcmMb(mb); fillMbTotals(mb, 16) } // I_PCM
        else if (mbType >= 1 && mbType <= 24) {
          if (!decodeIntra16Mb(mb, mbType)) return None
        } else return None // unknown: out of subset
        mb += 1
        // an I slice legitimately ends before the picture does —
        // multi-slice; the next slice NAL continues at this address
        if (mb < nMbs && !r.moreRbspData()) sliceEnd = true
      }
    }
    if (mb == firstMb) return None // a slice with zero macroblocks
    Some((Plane(w, h, y, cb, cr), mb, !filterOn, subpelMbCount))
  }

  // ----------------------------------------------------- MP4 (avcC)

  /** avcC sample-table view of an MP4: parameter sets + the per-sample
    * NAL payloads (length-prefixed samples from stsz/stco). */
  final case class AvcMp4(sps: Array[Byte], pps: Array[Byte],
      samples: IndexedSeq[Array[Byte]])

  /** Extract avcC parameter sets and sample NALs from an ISO-BMFF file
    * (single avc1 track, samples in one chunk — the layout
    * [[Multimodal.MediaGen.makeMp4Avc]] writes and the common layout of
    * small faststart files). None when there is no avcC track. */
  def fromMp4(bytes: Array[Byte]): Option[AvcMp4] = {
    if (bytes.length < 16) return None
    def u32(off: Int): Long =
      ((bytes(off) & 0xFFL) << 24) | ((bytes(off + 1) & 0xFFL) << 16) |
        ((bytes(off + 2) & 0xFFL) << 8) | (bytes(off + 3) & 0xFFL)
    def u64(off: Int): Long = (u32(off) << 32) | u32(off + 4)
    def boxType(off: Int): String = new String(bytes, off + 4, 4, "ISO-8859-1")
    if (boxType(0) != "ftyp" && boxType(0) != "moov") return None
    var avcC: Option[(Array[Byte], Array[Byte], Int)] = None // sps, pps, lengthSize
    var sizes: IndexedSeq[Int] = IndexedSeq.empty
    var chunkOff = -1L
    def walk(start: Int, end: Int)(f: (String, Int, Int) => Unit): Unit = {
      var off = start
      var done = false
      while (!done && off + 8 <= end) {
        var size = u32(off)
        var hdr = 8
        if (size == 1 && off + 16 <= end) { size = u64(off + 8); hdr = 16 }
        else if (size == 0) size = (end - off).toLong
        if (size < hdr || off + size > end) done = true
        else {
          f(boxType(off), off + hdr, (off + size).toInt)
          off += size.toInt
        }
      }
    }
    def parseAvcC(s: Int, e: Int): Unit = {
      // configurationVersion(1) profile(1) compat(1) level(1)
      // lengthSizeMinusOne(1, low 2 bits) numSps(1, low 5 bits)
      if (e - s < 7) return
      val lengthSize = ((bytes(s + 4) & 0x03) + 1)
      var off = s + 5
      val nSps = bytes(off) & 0x1F
      off += 1
      var sps: Array[Byte] = null
      var i = 0
      while (i < nSps && off + 2 <= e) {
        val len = ((bytes(off) & 0xFF) << 8) | (bytes(off + 1) & 0xFF)
        off += 2
        if (off + len <= e && sps == null)
          sps = java.util.Arrays.copyOfRange(bytes, off, off + len)
        off += len
        i += 1
      }
      if (off >= e) return
      val nPps = bytes(off) & 0xFF
      off += 1
      var pps: Array[Byte] = null
      var j = 0
      while (j < nPps && off + 2 <= e) {
        val len = ((bytes(off) & 0xFF) << 8) | (bytes(off + 1) & 0xFF)
        off += 2
        if (off + len <= e && pps == null)
          pps = java.util.Arrays.copyOfRange(bytes, off, off + len)
        off += len
        j += 1
      }
      if (sps != null && pps != null) avcC = Some((sps, pps, lengthSize))
    }
    try {
      walk(0, bytes.length) { (t, s, e) =>
        if (t == "moov") walk(s, e) { (t2, s2, e2) =>
          if (t2 == "trak") walk(s2, e2) { (t3, s3, e3) =>
            if (t3 == "mdia") walk(s3, e3) { (t4, s4, e4) =>
              if (t4 == "minf") walk(s4, e4) { (t5, s5, e5) =>
                if (t5 == "stbl") walk(s5, e5) { (t6, s6, e6) =>
                  t6 match {
                    case "stsd" if e6 - s6 > 8 =>
                      // full box: version/flags + entry_count, then entries
                      walk(s6 + 8, e6) { (t7, s7, e7) =>
                        // avc1 sample entry: 78 bytes of visual fields
                        // before the child boxes (avcC among them)
                        if (t7 == "avc1" && e7 - s7 > 78)
                          walk(s7 + 78, e7) { (t8, s8, e8) =>
                            if (t8 == "avcC") parseAvcC(s8, e8)
                          }
                      }
                    case "stsz" if e6 - s6 >= 12 && avcC.isDefined && sizes.isEmpty =>
                      val fixed = u32(s6 + 4)
                      val n = u32(s6 + 8).toInt
                      // the u32 sample count is attacker-controlled and
                      // drives allocations — bound it against the bytes
                      // that could actually hold the samples (each is at
                      // least one byte of mdat for the fixed path, one
                      // u32 size entry here for the variable path)
                      // before any IndexedSeq materializes
                      if (n >= 0 &&
                          (fixed == 0 || n.toLong * math.max(fixed, 1L) <= bytes.length) &&
                          (fixed != 0 || 12L + n.toLong * 4 <= (e6 - s6).toLong)) {
                        sizes =
                          if (fixed != 0) IndexedSeq.fill(n)(fixed.toInt)
                          else (0 until n).map(i => u32(s6 + 12 + i * 4).toInt)
                      }
                    case "stco" if e6 - s6 >= 8 && avcC.isDefined && chunkOff < 0 =>
                      if (u32(s6 + 4) >= 1) chunkOff = u32(s6 + 8)
                    case "co64" if e6 - s6 >= 8 && avcC.isDefined && chunkOff < 0 =>
                      if (u32(s6 + 4) >= 1) chunkOff = u64(s6 + 8)
                    case _ =>
                  }
                }
              }
            }
          }
        }
      }
    } catch { case _: Exception => return None }
    avcC match {
      case Some((sps, pps, lengthSize)) if sizes.nonEmpty && chunkOff >= 0 =>
        val samples = IndexedSeq.newBuilder[Array[Byte]]
        var off = chunkOff
        sizes.foreach { sz =>
          if (off + sz > bytes.length) return None // torn mdat
          // a sample is a run of [lengthSize-prefixed NAL]s
          var p = off.toInt
          val sampleEnd = (off + sz).toInt
          while (p + lengthSize <= sampleEnd) {
            var len = 0L
            var k = 0
            while (k < lengthSize) { len = (len << 8) | (bytes(p + k) & 0xFFL); k += 1 }
            p += lengthSize
            if (len < 0 || p + len > sampleEnd) return None
            samples += java.util.Arrays.copyOfRange(bytes, p, p + len.toInt)
            p += len.toInt
          }
          off += sz
        }
        Some(AvcMp4(sps, pps, samples.result()))
      case _ => None
    }
  }

  /** MP4-with-avcC → decoded frames (the subset); None otherwise. */
  def decodeMp4(bytes: Array[Byte]): Option[Decoded] =
    fromMp4(bytes).flatMap { m =>
      decodeNals(Seq(m.sps, m.pps) ++ m.samples)
    }

  /** Group a flat slice-NAL sequence into PICTURES (access units): a
    * slice whose header starts at macroblock 0 begins a new picture.
    * The muxer needs this — an ISO-BMFF sample is one access unit, so
    * a multi-slice picture's NALs must share a sample or stts/stsz
    * report slices-times-frames samples and inflated duration. */
  private[graft] def groupPictures(
      nals: Seq[Array[Byte]]): Seq[Seq[Array[Byte]]] = {
    val out = Seq.newBuilder[Seq[Array[Byte]]]
    var cur = Vector.empty[Array[Byte]]
    nals.foreach { nal =>
      // only SLICE NALs (types 1/5) can start a picture — an SEI's
      // first payload bits are not a slice header, so parsing them as
      // first_mb_in_slice would split pictures at random (r20, the
      // CABAC marker SEI rides inside the first picture's sample)
      val isSlice = nal.nonEmpty && ((nal(0) & 0x1F) == 1 || (nal(0) & 0x1F) == 5)
      val firstMb =
        if (!isSlice) -1
        else try new BitReader(
          unescape(java.util.Arrays.copyOfRange(nal, 1, nal.length))).ue()
        catch { case _: Exception => 0 }
      if (firstMb == 0 && cur.nonEmpty) { out += cur; cur = Vector.empty }
      cur = cur :+ nal
    }
    if (cur.nonEmpty) out += cur
    out.result()
  }
}
