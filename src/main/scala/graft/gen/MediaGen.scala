package graft.gen

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.SaveMode

/** Deterministic GENUINE-container media fixture: real PNG/GIF/JPEG/WAV/MP4
  * byte layouts (valid signatures, chunk/box/marker structure, correct
  * endianness) assembled from chosen parameters, written as a binary-column
  * parquet table plus ground-truth "expected" tables holding the CHOSEN
  * parameters. The differential is honest: the expected values come from
  * the generator's intent, never from running the parsers in
  * [[graft.operators.Multimodal]] — a parser bug shows up as a fixture
  * mismatch, not as self-consistent garbage.
  *
  * Payloads carry container structure + deterministic filler rather than
  * real codec streams (no codec libs in this environment — reference-analog:
  * the reference pipeline also treats payloads as opaque bytes and reads
  * only container metadata). Every byte the parsers inspect is real.
  *
  * Run: `sbt "runMain graft.gen.MediaGen fixtures/media"` (idempotent).
  */
object MediaGen {

  private class B {
    val o = new ByteArrayOutputStream()
    def u8(v: Int): B = { o.write(v & 0xff); this }
    def be16(v: Int): B = u8(v >> 8).u8(v)
    def le16(v: Int): B = u8(v).u8(v >> 8)
    def be32(v: Long): B = u8((v >> 24).toInt).u8((v >> 16).toInt).u8((v >> 8).toInt).u8(v.toInt)
    def be64(v: Long): B = be32(v >>> 32).be32(v & 0xffffffffL)
    def le32(v: Long): B = u8(v.toInt).u8((v >> 8).toInt).u8((v >> 16).toInt).u8((v >> 24).toInt)
    def str(s: String): B = { s.foreach(c => u8(c.toInt)); this }
    def fill(n: Int, seed: Int): B = {
      var h = seed * 2654435761L + 1
      (0 until n).foreach { _ => h = h * 6364136223846793005L + 1442695040888963407L; u8((h >> 33).toInt) }
      this
    }
    def raw(b: Array[Byte]): B = { o.write(b); this }
    def bytes: Array[Byte] = o.toByteArray
  }

  /** An ISO-BMFF box: 4-byte big-endian size (including the header) + 4-cc
    * type + payload.
    */
  private def box(typ: String, payload: Array[Byte]): Array[Byte] =
    new B().be32(8L + payload.length).str(typ).raw(payload).bytes

  def png(w: Int, h: Int, seed: Int): Array[Byte] = {
    val b = new B()
    b.u8(0x89).str("PNG").u8(0x0d).u8(0x0a).u8(0x1a).u8(0x0a)
    // IHDR: 13-byte payload (w, h, bit depth 8, truecolor, deflate, none,
    // non-interlaced); the CRC bytes are deterministic filler — the
    // container layout is what metadata extraction reads
    b.be32(13).str("IHDR").be32(w).be32(h).u8(8).u8(2).u8(0).u8(0).u8(0).fill(4, seed)
    val idat = 16 + seed % 48
    b.be32(idat).str("IDAT").fill(idat + 4, seed + 1)
    b.be32(0).str("IEND").fill(4, seed + 2)
    b.bytes
  }

  /** A fully REAL PNG — correct chunk CRCs and a genuine zlib-deflated
    * image stream (8-bit RGB, non-interlaced), with each scanline run
    * through the standard filter cycle (None/Sub/Up/Average/Paeth by row)
    * so a decoder must implement real un-filtering, not just inflate.
    * Pixels are a deterministic integer function of (seed, x, y); the
    * returned truth is computed from those CHOSEN pixel values, never by
    * decoding the bytes — the differential against
    * [[graft.operators.Multimodal.decodePngPixels]] stays honest.
    */
  def pngWithPixels(w: Int, h: Int, seed: Int): (Array[Byte], PixelTruth) = {
    def px(x: Int, y: Int): (Int, Int, Int) = (
      (x * 7 + y * 13 + seed * 31) % 256,
      (x * 3 + y * 11 + seed * 5) % 256,
      (x * 17 + y + seed * 9) % 256)
    val bpp = 3
    val stride = w * bpp
    val raw = new Array[Byte](h * (1 + stride)) // filter byte + scanline per row
    var (sr, sg, sb) = (0L, 0L, 0L)
    var (mr, mg, mb) = (0, 0, 0)
    val plain = Array.ofDim[Byte](h, stride) // unfiltered scanlines
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, b) = px(x, y)
      plain(y)(x * bpp) = r.toByte; plain(y)(x * bpp + 1) = g.toByte
      plain(y)(x * bpp + 2) = b.toByte
      sr += r; sg += g; sb += b
      mr = math.max(mr, r); mg = math.max(mg, g); mb = math.max(mb, b)
    }
    def paeth(a: Int, b: Int, c: Int): Int = {
      val p = a + b - c
      val (pa, pb, pc) = (math.abs(p - a), math.abs(p - b), math.abs(p - c))
      if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
    }
    for (y <- 0 until h) {
      val f = (y + seed) % 5
      raw(y * (1 + stride)) = f.toByte
      for (i <- 0 until stride) {
        val cur = plain(y)(i) & 0xff
        val left = if (i >= bpp) plain(y)(i - bpp) & 0xff else 0
        val up = if (y > 0) plain(y - 1)(i) & 0xff else 0
        val upLeft = if (y > 0 && i >= bpp) plain(y - 1)(i - bpp) & 0xff else 0
        val enc = f match {
          case 0 => cur
          case 1 => cur - left
          case 2 => cur - up
          case 3 => cur - (left + up) / 2
          case _ => cur - paeth(left, up, upLeft)
        }
        raw(y * (1 + stride) + 1 + i) = enc.toByte
      }
    }
    val deflater = new java.util.zip.Deflater(java.util.zip.Deflater.BEST_SPEED)
    deflater.setInput(raw); deflater.finish()
    val zBuf = new ByteArrayOutputStream()
    val tmp = new Array[Byte](4096)
    while (!deflater.finished()) zBuf.write(tmp, 0, deflater.deflate(tmp))
    deflater.end()
    val z = zBuf.toByteArray
    def chunk(typ: String, payload: Array[Byte]): Array[Byte] = {
      val crc = new java.util.zip.CRC32()
      crc.update(typ.getBytes("ISO-8859-1")); crc.update(payload)
      new B().be32(payload.length).str(typ).raw(payload).be32(crc.getValue).bytes
    }
    val ihdr = new B().be32(w).be32(h).u8(8).u8(2).u8(0).u8(0).u8(0).bytes
    // split the stream across two IDAT chunks: decoders must concatenate
    val cut = z.length / 2
    val bytes = new B().u8(0x89).str("PNG").u8(0x0d).u8(0x0a).u8(0x1a).u8(0x0a)
      .raw(chunk("IHDR", ihdr))
      .raw(chunk("IDAT", z.slice(0, cut)))
      .raw(chunk("IDAT", z.slice(cut, z.length)))
      .raw(chunk("IEND", Array.emptyByteArray))
      .bytes
    (bytes, PixelTruth(0L, w, h, w.toLong * h, sr, sg, sb, mr, mg, mb))
  }

  def gif(w: Int, h: Int, v89: Boolean, seed: Int): Array[Byte] = {
    val b = new B()
    b.str(if (v89) "GIF89a" else "GIF87a").le16(w).le16(h)
    b.u8(0x91).u8(0).u8(0) // packed fields, background, aspect
    b.fill(10 + seed % 30, seed) // color table / data filler
    b.u8(0x3b) // trailer
    b.bytes
  }

  def jpeg(w: Int, h: Int, seed: Int): Array[Byte] = {
    val b = new B()
    b.u8(0xff).u8(0xd8) // SOI
    b.u8(0xff).u8(0xe0).be16(16).str("JFIF").u8(0).u8(1).u8(1).u8(0).be16(1).be16(1).u8(0).u8(0)
    b.u8(0xff).u8(0xdb).be16(67).u8(0).fill(64, seed) // DQT
    b.u8(0xff).u8(0xc4).be16(31).u8(0).fill(28, seed + 1) // DHT (skipped: not a SOF)
    // SOF0 baseline frame header: precision, height, width, 3 components
    b.u8(0xff).u8(0xc0).be16(17).u8(8).be16(h).be16(w)
      .u8(3).u8(1).u8(0x22).u8(0).u8(2).u8(0x11).u8(1).u8(3).u8(0x11).u8(1)
    b.u8(0xff).u8(0xda).be16(8).fill(6 + seed % 40, seed + 2) // SOS + entropy filler
    b.u8(0xff).u8(0xd9) // EOI
    b.bytes
  }

  def wav(rate: Int, channels: Int, bits: Int, nSamples: Long,
          listChunk: Boolean, seed: Int): Array[Byte] = {
    val dataBytes = nSamples * channels * (bits / 8)
    val b = new B()
    b.str("RIFF").le32(36 + dataBytes).str("WAVE")
    if (listChunk) b.str("LIST").le32(10).str("INFO").fill(6, seed) // skipped chunk
    b.str("fmt ").le32(16).le16(1).le16(channels).le32(rate)
      .le32(rate.toLong * channels * (bits / 8)).le16(channels * (bits / 8)).le16(bits)
    b.str("data").le32(dataBytes).fill(dataBytes.toInt, seed + 1)
    b.bytes
  }

  /** One MP4 track: `tkhd` (v0 or v1 layout, 16.16 fixed-point presentation
    * size) + `mdia`/`hdlr` with the handler four-cc.
    */
  private def trak(trackId: Long, handler: String, w: Int, h: Int,
                   v1: Boolean): Array[Byte] = {
    val tkhd =
      if (v1)
        new B().u8(1).fill(3, 0).be64(0).be64(0).be32(trackId).be32(0).be64(0)
          .fill(8, 0).be16(0).be16(0).be16(0).be16(0).fill(36, 0)
          .be32(w.toLong << 16).be32(h.toLong << 16).bytes
      else
        new B().u8(0).fill(3, 0).be32(0).be32(0).be32(trackId).be32(0).be32(0)
          .fill(8, 0).be16(0).be16(0).be16(0).be16(0).fill(36, 0)
          .be32(w.toLong << 16).be32(h.toLong << 16).bytes
    val hdlr = new B().be32(0).be32(0).str(handler).fill(12, 1).bytes
    box("trak", box("tkhd", tkhd) ++ box("mdia", box("hdlr", hdlr)))
  }

  def mp4(timescale: Long, durationTicks: Long, mvhdV1: Boolean,
          tracks: Seq[(Long, String, Int, Int, Boolean)], seed: Int): Array[Byte] = {
    val mvhd =
      if (mvhdV1)
        new B().u8(1).fill(3, 0).be64(0).be64(0).be32(timescale).be64(durationTicks)
          .fill(80, 0).bytes
      else
        new B().u8(0).fill(3, 0).be32(0).be32(0).be32(timescale).be32(durationTicks)
          .fill(76, 0).bytes
    val ftyp = box("ftyp", new B().str("isom").be32(512).str("isomiso2mp41").bytes)
    val moov = box("moov", box("mvhd", mvhd) ++
      tracks.map { case (id, hdl, w, h, v1) => trak(id, hdl, w, h, v1) }
        .foldLeft(Array.emptyByteArray)(_ ++ _))
    val mdat = box("mdat", new B().fill(24 + seed % 64, seed).bytes)
    ftyp ++ moov ++ mdat
  }

  // ---- fixture population (everything derived from doc_id) ----

  case class Blob(doc_id: Long, kind: String, media: Array[Byte])
  case class PixelTruth(doc_id: Long, width: Int, height: Int,
                        n_pixels: Long, sum_r: Long, sum_g: Long, sum_b: Long,
                        max_r: Int, max_g: Int, max_b: Int)
  case class ImgTruth(doc_id: Long, format: String, n_bytes: Long,
                      width: Int, height: Int, n_frames: Int)
  case class AudioTruth(doc_id: Long, format: String, sample_rate: Int,
                        channels: Int, bits_per_sample: Int, n_samples: Long,
                        duration_ms: Long)
  case class TrackTruth(doc_id: Long, track_id: Long, handler: String,
                        width: Int, height: Int)

  def images: Seq[(Blob, ImgTruth)] = (0 until 60).map { i =>
    val id = 1000L + i
    val w = 64 + (i * 37) % 1900
    val h = 48 + (i * 53) % 1000
    val (fmt, bytes) = i % 3 match {
      case 0 => ("png", png(w, h, i))
      case 1 => ("gif", gif(w, h, i % 2 == 0, i))
      case _ => ("jpeg", jpeg(w, h, i))
    }
    (Blob(id, "image", bytes), ImgTruth(id, fmt, bytes.length.toLong, w, h, 1))
  }

  def audios: Seq[(Blob, AudioTruth)] = (0 until 20).map { i =>
    val id = 2000L + i
    val rate = Seq(8000, 16000, 22050, 44100, 48000)(i % 5)
    val channels = 1 + i % 2
    val bits = Seq(8, 16, 32)(i % 3)
    val n = 100L + i * 37
    val bytes = wav(rate, channels, bits, n, listChunk = i % 4 == 0, seed = i)
    (Blob(id, "audio", bytes),
      AudioTruth(id, "wav", rate, channels, bits, n, n * 1000L / rate))
  }

  def videos: Seq[(Blob, Seq[TrackTruth])] = (0 until 15).map { i =>
    val id = 3000L + i
    val vw = 320 + i * 16
    val vh = 240 + i * 8
    val tracks: Seq[(Long, String, Int, Int, Boolean)] = i % 3 match {
      case 0 => Seq((1L, "vide", vw, vh, i % 2 == 1))
      case 1 => Seq((1L, "vide", vw, vh, i % 2 == 1), (2L, "soun", 0, 0, i % 2 == 0))
      case _ => Seq((1L, "soun", 0, 0, i % 2 == 1))
    }
    val bytes = mp4(timescale = if (i % 2 == 0) 600L else 1000L,
      durationTicks = 3000L + i * 700, mvhdV1 = i % 2 == 1, tracks, seed = i)
    (Blob(id, "video", bytes),
      tracks.map { case (tid, hdl, w, h, _) => TrackTruth(id, tid, hdl, w, h) })
  }

  /** Real-pixel PNGs for the decode kernel: small rasters (the fixture
    * stays tiny), sizes and seeds varied per id. doc_ids 5000+ keep the
    * table disjoint from the header-fixture families.
    */
  def pixelImages: Seq[(Blob, PixelTruth)] = (0 until 30).map { i =>
    val id = 5000L + i
    val w = 5 + (i * 7) % 28
    val h = 4 + (i * 5) % 22
    val (bytes, truth) = pngWithPixels(w, h, i)
    (Blob(id, "image", bytes), truth.copy(doc_id = id))
  }

  /** Non-media payloads, including truncated real signatures — every parser
    * must return None/Nil on all of them.
    */
  def corrupts: Seq[Blob] = {
    val payloads: Seq[Array[Byte]] = Seq(
      "this is not media at all, just ascii text".getBytes("UTF-8"),
      new B().u8(0x89).str("PNG").u8(0x0d).u8(0x0a).u8(0x1a).u8(0x0a).bytes, // sig only
      "GIF87a".getBytes("ISO-8859-1"), // truncated before dimensions
      new B().u8(0xff).u8(0xd8).fill(20, 3).bytes, // SOI then garbage
      "RIFF".getBytes("ISO-8859-1"), // truncated RIFF
      new B().str("RIFF").le32(4).str("WAVE").bytes, // WAVE with no chunks
      new B().be32(8).str("ftyp").bytes, // ftyp misplaced (at 0, tag checks offset 4)
      new B().be32(16).str("ftyp").str("isom").be32(0).bytes ++
        new B().be32(4).str("moov").bytes, // moov with corrupt size < 8
      new B().fill(64, 9).bytes,
      Array.emptyByteArray)
    payloads.zipWithIndex.map { case (p, i) => Blob(4000L + i, "corrupt", p) }
  }

  /** `pixelsOnly` writes just the pixel-decode tables — the committed
    * header-fixture parquet files keep their exact bytes (file names embed
    * write UUIDs, so a full re-run would churn the committed fixture).
    */
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("fixtures/media")
    val pixelsOnly = args.contains("pixelsOnly")
    val spark = graft.Session(4)
    import spark.implicits._
    def write[T <: Product : org.apache.spark.sql.Encoder](rows: Seq[T], name: String): Unit =
      rows.toDS().toDF().coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$out/$name")
    write(pixelImages.map(_._1), "pixel_blobs")
    write(pixelImages.map(_._2), "expected_pixels")
    if (!pixelsOnly) {
      val (imgBlobs, imgTruth) = (images.map(_._1), images.map(_._2))
      val (audBlobs, audTruth) = (audios.map(_._1), audios.map(_._2))
      val (vidBlobs, vidTruth) = (videos.map(_._1), videos.flatMap(_._2))
      // corrupt payloads through the audio kernel are ground truth too:
      // unknown format, all-zero metrics
      val corruptAudioTruth = corrupts.map(b => AudioTruth(b.doc_id, "unknown", 0, 0, 0, 0L, 0L))
      write(imgBlobs ++ audBlobs ++ vidBlobs ++ corrupts, "media_blobs")
      write(imgTruth, "expected_images")
      write(audTruth ++ corruptAudioTruth, "expected_audio")
      write(vidTruth, "expected_tracks")
    }
    println(s"[media-gen] wrote fixture tables to $out (pixelsOnly=$pixelsOnly)")
    spark.stop()
  }
}
