package graft.ops

/** Direct byte-level encoders for the Mm fixtures' synthetic payloads —
  * round-17 optimization (guide §1.2 step 2: per-task work).
  *
  * MEASURED motivation (off Spark, single thread): the per-payload cost of
  * every mm_* key was dominated by SYNTHESIS, not the decode the
  * operator actually exercises — `BufferedImage` + per-pixel `setRGB`
  * (a color-model conversion per call) + `ImageIO.write` (plugin lookup
  * + stream plumbing) cost 47–67 µs/payload while `ImageIO.read`, the
  * REAL-codec leg the operators claim, costs 7–14 µs. These encoders
  * build the identical container bytes directly, so the decode side —
  * still `javax.imageio` / `javax.sound.sampled` — is untouched and the
  * real-codec claim stands on the leg that matters (a production
  * pipeline reads blobs from storage; it never re-synthesizes them).
  *
  * BYTE-IDENTITY contract: both writers reproduce the JDK encoders'
  * output bit-for-bit (BMP: 54-byte BITMAPINFOHEADER v3, 24 bpp BI_RGB,
  * bottom-up rows padded to 4 bytes, biSizeImage set, 0 ppm fields —
  * captured from `ImageIO.write(TYPE_3BYTE_BGR, "bmp")` on JDK 17; WAV:
  * canonical 44-byte RIFF/WAVE PCM header from `AudioSystem.write`).
  * Round17OptSpec pins equality against the live JDK encoders across
  * every fixture family, so a JDK that changed its container layout
  * fails the suite loudly instead of silently diverging. */
object FastCodec {

  private def putIntLE(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = (v & 0xff).toByte
    b(off + 1) = ((v >> 8) & 0xff).toByte
    b(off + 2) = ((v >> 16) & 0xff).toByte
    b(off + 3) = ((v >> 24) & 0xff).toByte
  }

  private def putShortLE(b: Array[Byte], off: Int, v: Int): Unit = {
    b(off) = (v & 0xff).toByte
    b(off + 1) = ((v >> 8) & 0xff).toByte
  }

  /** 24-bpp BMP with per-pixel RGB from `rgb(x, y)` packed 0xRRGGBB —
    * byte-identical to `ImageIO.write(TYPE_3BYTE_BGR, "bmp", _)`. */
  def bmp24(w: Int, h: Int, rgb: (Int, Int) => Int): Array[Byte] = {
    val rowBytes = (w * 3 + 3) & ~3 // rows padded to 4-byte boundary
    val imageSize = rowBytes * h
    val out = new Array[Byte](54 + imageSize)
    out(0) = 'B'; out(1) = 'M'
    putIntLE(out, 2, 54 + imageSize) // bfSize
    putIntLE(out, 10, 54) // bfOffBits
    putIntLE(out, 14, 40) // biSize
    putIntLE(out, 18, w)
    putIntLE(out, 22, h) // positive height = bottom-up
    putShortLE(out, 26, 1) // planes
    putShortLE(out, 28, 24) // bpp
    putIntLE(out, 34, imageSize) // biSizeImage (BI_RGB: JDK writes it)
    // bytes 30-33 (compression), 38-45 (ppm), 46-53 (colors): zero
    var y = h - 1
    var off = 54
    while (y >= 0) {
      var x = 0
      var o = off
      while (x < w) {
        val v = rgb(x, y)
        out(o) = (v & 0xff).toByte // B
        out(o + 1) = ((v >> 8) & 0xff).toByte // G
        out(o + 2) = ((v >> 16) & 0xff).toByte // R
        o += 3
        x += 1
      }
      off += rowBytes
      y -= 1
    }
    out
  }

  /** Grayscale convenience: `v(x, y)` in [0, 255] on all three channels. */
  def bmpGray(w: Int, h: Int, v: (Int, Int) => Int): Array[Byte] =
    bmp24(w, h, (x, y) => { val p = v(x, y); (p << 16) | (p << 8) | p })

  /** Canonical RIFF/WAVE container around little-endian PCM16 mono —
    * byte-identical to `AudioSystem.write(_, Type.WAVE, _)`. */
  def wavPcm16Mono(sampleRate: Int, pcm: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](44 + pcm.length)
    out(0) = 'R'; out(1) = 'I'; out(2) = 'F'; out(3) = 'F'
    putIntLE(out, 4, 36 + pcm.length)
    out(8) = 'W'; out(9) = 'A'; out(10) = 'V'; out(11) = 'E'
    out(12) = 'f'; out(13) = 'm'; out(14) = 't'; out(15) = ' '
    putIntLE(out, 16, 16) // fmt chunk size
    putShortLE(out, 20, 1) // PCM
    putShortLE(out, 22, 1) // mono
    putIntLE(out, 24, sampleRate)
    putIntLE(out, 28, sampleRate * 2) // byte rate
    putShortLE(out, 32, 2) // block align
    putShortLE(out, 34, 16) // bits
    out(36) = 'd'; out(37) = 'a'; out(38) = 't'; out(39) = 'a'
    putIntLE(out, 40, pcm.length)
    System.arraycopy(pcm, 0, out, 44, pcm.length)
    out
  }
}
