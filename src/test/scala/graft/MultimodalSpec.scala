package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.Multimodal

class MultimodalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  lazy val media = Multimodal.fromText(
    Tables.table(spark, TestSpark.Sf, "documents"), "doc_id", "text", "source").persist()

  test("fromText: canonical schema, byte_len matches payload size") {
    assert(media.schema == Multimodal.MediaSchema)
    val bad = media.filter(length($"payload") =!= $"meta.byte_len").count()
    assert(bad == 0)
  }

  test("videoFrames: raw-DIB AVI roundtrip recovers exact dims, frame count and per-frame means") {
    val avi = Multimodal.syntheticAvi(
      Tables.table(spark, TestSpark.Sf, "documents").filter($"doc_id" < 30), "doc_id")
    // payloads really are AVIs (RIFF....AVI magic), not text
    val magic = avi.select($"payload").as[Array[Byte]].head()
    assert(magic.take(4).toSeq == "RIFF".getBytes("US-ASCII").toSeq)
    assert(magic.slice(8, 12).toSeq == "AVI ".getBytes("US-ASCII").toSeq)
    val got = Multimodal.videoFrames(avi).collect()
      .map(r => (r.getLong(0), r.getInt(5)) -> r).toMap
    got.foreach { case ((id, f), r) =>
      assert(r.getBoolean(1), s"doc $id must decode")
      val w = (id % 5 + 2).toInt; val h = (id % 3 + 2).toInt
      val n = (id % 4 + 2).toInt
      assert(r.getInt(2) == w && r.getInt(3) == h && r.getInt(4) == n,
        s"doc $id geometry")
      assert(r.getDouble(6) == (id * 13 % 200) + (w - 1) / 2.0 + f, s"doc $id/$f mean_r")
      assert(r.getDouble(7) == (id * 7 % 200) + (h - 1) / 2.0, s"doc $id/$f mean_g")
      assert(r.getDouble(8) == (id % 200).toDouble, s"doc $id/$f mean_b")
    }
    // every frame of every video decoded: Σ n_frames rows
    val expRows = (0L until 30L).map(id => (id % 4 + 2)).sum
    assert(got.size == expRows)
    // partition count must not change results
    val repart = Multimodal.videoFrames(avi.repartition(7)).collect()
      .map(r => (r.getLong(0), r.getInt(5)) -> r.toSeq).toMap
    assert(repart == got.map { case (k, v) => k -> v.toSeq })
  }

  test("videoFrames: MJPG AVI decodes through ImageIO with exact structure, close means") {
    val avi = Oracles.syntheticMjpegAvi(
      Tables.table(spark, TestSpark.Sf, "documents").filter($"doc_id" < 12), "doc_id")
    val got = Multimodal.videoFrames(avi).collect()
    assert(got.nonEmpty && got.forall(_.getBoolean(1)), "all MJPG frames must decode")
    got.foreach { r =>
      val id = r.getLong(0); val f = r.getInt(5)
      val w = (id % 5 + 2).toInt; val h = (id % 3 + 2).toInt
      assert(r.getInt(2) == w && r.getInt(3) == h && r.getInt(4) == (id % 4 + 2).toInt)
      // JPEG is lossy: means land near the raw gradient's closed form
      assert(math.abs(r.getDouble(6) - ((id * 13 % 200) + (w - 1) / 2.0 + f)) < 16.0)
      assert(math.abs(r.getDouble(7) - ((id * 7 % 200) + (h - 1) / 2.0)) < 16.0)
      assert(math.abs(r.getDouble(8) - (id % 200).toDouble) < 16.0)
    }
  }

  test("videoFrames: audio-first mux — video as stream 1, '01db' frames, audio strf ignored") {
    // hand-built two-stream AVI: stream 0 = 'auds' (whose strf is a
    // 40-byte WAVEFORMATEX-ish blob that would yield garbage dims if
    // misparsed as video), stream 1 = 'vids' raw-DIB 2×2; one '01db'
    // frame of constant (R,G,B) = (10, 20, 30)
    def le16(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le32(v: Long) = Array.tabulate[Byte](4)(i => ((v >> (8 * i)) & 0xff).toByte)
    def chunk(id: String, body: Array[Byte]): Array[Byte] =
      id.getBytes("US-ASCII") ++ le32(body.length) ++ body ++
        (if (body.length % 2 == 1) Array[Byte](0) else Array.empty[Byte])
    def list(typ: String, parts: Array[Byte]*): Array[Byte] =
      chunk("LIST", typ.getBytes("US-ASCII") ++ parts.flatten)
    val avih = chunk("avih", le32(100000) ++ Array.fill(13)(le32(0)).flatten)
    def strh(typ: String, handler: String) =
      chunk("strh", typ.getBytes ++ handler.getBytes ++ Array.fill(48)(0.toByte))
    // audio strf: 40 bytes, first dwords nonzero (poison if misparsed)
    val strfA = chunk("strf", le32(1) ++ le32(999999) ++ le32(888888) ++
      Array.fill(28)(0x5a.toByte))
    val (w, h) = (2, 2)
    val strfV = chunk("strf", le32(40) ++ le32(w) ++ le32(h) ++ le16(1) ++
      le16(24) ++ le32(0) ++ le32(16) ++ Array.fill(16)(0.toByte))
    // bottom-up BGR rows, stride 8 for w=2
    val row = Array[Byte](30, 20, 10, 30, 20, 10, 0, 0)
    val frame = chunk("01db", row ++ row)
    val avi = "RIFF".getBytes ++ le32(0) ++ "AVI ".getBytes ++
      list("hdrl", avih, list("strl", strh("auds", "auds"),
        strfA), list("strl", strh("vids", "DIB "), strfV)) ++
      list("movi", frame)
    // patch RIFF size
    val sz = le32(avi.length - 8)
    System.arraycopy(sz, 0, avi, 4, 4)
    val df = Seq((7L, avi)).toDF("media_id", "payload")
    val got = Multimodal.videoFrames(df).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getBoolean(1), "audio-first AVI must still decode its video stream")
    assert(r.getInt(2) == w && r.getInt(3) == h && r.getInt(4) == 1 && r.getInt(5) == 0)
    assert(r.getDouble(6) == 10.0 && r.getDouble(7) == 20.0 && r.getDouble(8) == 30.0)
  }

  test("videoFrames: corrupt BITMAPINFOHEADER dims yield decoded=false, not an exception") {
    // take a valid raw-DIB AVI and poison biWidth to 2^30 — the Long
    // bounds guard must reject instead of overflowing into an AIOOBE
    val avi = Multimodal.syntheticAvi(
      Tables.table(spark, TestSpark.Sf, "documents").filter($"doc_id" === 3), "doc_id")
      .select($"payload").as[Array[Byte]].head()
    // strf layout: ...'strf' sz | biSize(4) biWidth(4)... find 'strf'
    val idx = avi.indexOfSlice("strf".getBytes("US-ASCII").toSeq)
    assert(idx > 0)
    val poisoned = avi.clone()
    val wOff = idx + 8 + 4 // chunk id + size + biSize
    poisoned(wOff) = 0; poisoned(wOff + 1) = 0
    poisoned(wOff + 2) = 0; poisoned(wOff + 3) = 0x40 // biWidth = 2^30
    val out = Multimodal.videoFrames(
      Seq((1L, poisoned)).toDF("media_id", "payload")).collect()
    assert(out.length == 1 && !out.head.getBoolean(1))
  }

  test("videoFrames: undecodable payloads yield one decoded=false row, not a task failure") {
    val out = Multimodal.videoFrames(media.limit(5)).collect()
    assert(out.length == 5)
    out.foreach { r =>
      assert(!r.getBoolean(1), "text bytes must not decode as video")
      assert(r.isNullAt(2) && r.isNullAt(5) && r.isNullAt(6))
    }
  }

  test("decodeImage: real ImageIO roundtrip recovers exact dims and channel means") {
    val png = Multimodal.syntheticPng(
      Tables.table(spark, TestSpark.Sf, "documents").filter($"doc_id" < 30), "doc_id")
    // payloads really are PNGs (magic bytes), not text
    val magic = png.select($"payload").as[Array[Byte]].head()
    assert(magic.take(8).toSeq == Seq(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    val got = Multimodal.decodeImage(png).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got.size == 30)
    got.foreach { case (id, r) =>
      assert(r.getBoolean(1), s"doc $id must decode")
      val w = (id % 13 + 1).toInt; val h = (id % 11 + 1).toInt
      assert(r.getInt(2) == w && r.getInt(3) == h, s"doc $id dims")
      assert(r.getDouble(4) == (id % 200) + (w - 1) / 2.0, s"doc $id mean_r")
      assert(r.getDouble(5) == (id * 7 % 200) + (h - 1) / 2.0, s"doc $id mean_g")
      assert(r.getDouble(6) == (id * 13 % 200).toDouble, s"doc $id mean_b")
    }
  }

  test("decodeImage: undecodable payloads yield decoded=false, not a task failure") {
    val out = Multimodal.decodeImage(media.limit(5)).collect()
    assert(out.length == 5)
    out.foreach { r =>
      assert(!r.getBoolean(1), "text bytes must not decode as an image")
      assert(r.isNullAt(2) && r.isNullAt(4))
    }
  }

  test("decodeAudio: real javax.sound WAV roundtrip recovers rate, frames and exact RMS") {
    val wav = Multimodal.syntheticWav(
      Tables.table(spark, TestSpark.Sf, "documents").filter($"doc_id" < 30), "doc_id")
    // payloads really are WAVs (RIFF....WAVE), not text
    val magic = wav.select($"payload").as[Array[Byte]].head()
    assert(new String(magic.take(4)) == "RIFF" && new String(magic.slice(8, 12)) == "WAVE")
    val got = Multimodal.decodeAudio(wav).collect().map(r => r.getLong(0) -> r).toMap
    assert(got.size == 30)
    got.foreach { case (id, r) =>
      assert(r.getBoolean(1), s"doc $id must decode")
      assert(r.getInt(2) == 8000 && r.getInt(3) == 1, s"doc $id format")
      assert(r.getLong(4) == (id % 5 + 1) * 800, s"doc $id n_samples")
      assert(r.getDouble(5) == (id % 5 + 1) * 100.0, s"doc $id duration_ms")
      assert(r.getDouble(6) == ((id % 1000 + 1) * 16).toDouble, s"doc $id rms")
    }
  }

  test("decodeAudio: undecodable payloads yield decoded=false, not a task failure") {
    val out = Multimodal.decodeAudio(media.limit(5)).collect()
    assert(out.length == 5)
    out.foreach { r =>
      assert(!r.getBoolean(1), "text bytes must not decode as audio")
      assert(r.isNullAt(2) && r.isNullAt(6))
    }
  }

  test("sampleFrames: stride-1 frames reassemble the payload") {
    val one = media.limit(1).persist()
    val orig = new String(one.select($"payload").as[Array[Byte]].head())
    val frames = Multimodal.sampleFrames(one, frameBytes = 32, stride = 1)
      .orderBy($"frame_idx")
      .select($"frame").as[Array[Byte]].collect()
    assert(frames.map(new String(_)).mkString == orig)
  }

  test("imageAHash: brightness-shift invariant, format-roundtrip stable, contrast-sensitive") {
    def png(f: (Int, Int) => Int, w: Int, h: Int, fmt: String = "png"): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, f(x, y))
      val buf = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, buf)
      buf.toByteArray
    }
    def gradient(shift: Int)(x: Int, y: Int): Int =
      (((40 + 10 * x + shift) & 0xff) << 16) |
        (((60 + 10 * y + shift) & 0xff) << 8) | ((80 + shift) & 0xff)
    val rows = Seq(
      (1L, png(gradient(0), 6, 5)),          // base
      (2L, png(gradient(25), 6, 5)),         // +25 uniform brightness
      (3L, png(gradient(0), 6, 5, "bmp")),   // same pixels, BMP container
      (4L, png((x, _) => if (x < 3) 0 else 0xffffff, 6, 5)),  // different structure
      (5L, Array[Byte](1, 2, 3)),            // undecodable
      (6L, png(gradient(0), 8, 8)),          // 8×8 base for the resize pair
      (7L, png((x, y) => gradient(0)(x / 2, y / 2), 16, 16)))  // exact 2× upscale
    val got = Multimodal.imageAHash(rows.toDF("media_id", "payload"))
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), Option(r.getString(4)))).toMap
    val base = got(1L)._2.get
    assert(base.length == 64 && base.exists(_ == '1') && base.exists(_ == '0'))
    assert(got(2L)._2.get == base, "uniform brightness shift moves pixels AND mean equally")
    assert(got(3L)._2.get == base, "lossless re-encode must hash identically (dedup key)")
    assert(got(4L)._2.get != base, "different structure must hash differently")
    assert(!got(5L)._1 && got(5L)._2.isEmpty, "undecodable payload flags, not throws")
    // VERDICT r10 #3: the fixed 8×8 resample makes a pixel-replicated
    // 2× upscale land on the IDENTICAL 64-bit hash (each target cell's
    // box covers 4 replicas of one source pixel — same floor mean)
    assert(got(7L)._2.get == got(6L)._2.get,
      "2× upscale of the same image must hash identically (resize-robust dedup)")
  }

  test("imageDedup pigeonhole completeness: banding clusters EVERY Hamming ≤ 3 pair (planted + randomized)") {
    def flip(s: String, ps: Int*): String =
      ps.foldLeft(s)((a, p) => a.updated(p, if (a(p) == '1') '0' else '1'))
    // L = 37 is deliberately not divisible by the 4 bands — exercises
    // the integer-floor band boundaries both engines must cut alike
    val L = 37
    val base = Array.tabulate(L)(i => if (i % 3 == 0) '1' else '0').mkString
    val planted = Seq(
      (1L, 6, 5, base),
      (2L, 6, 5, flip(base, 0)),            // ham(1,2)=1
      (3L, 6, 5, flip(base, 5, 17, 36)),    // ham(1,3)=3, ham(2,3)=4
      (4L, 6, 5, flip(base, 8, 9, 10, 11)), // ham(1,4)=4 → excluded
      (5L, 5, 6, base))  // same bits, other dims → INCLUDED since r11:
                         // dims are metadata, not key (resize-robust hash)
    // randomized tail: seeded flips at every distance 0..6 around a
    // second base so band boundaries see misses and hits on both sides
    val rnd = new scala.util.Random(7L)
    val extra = (0 until 40).map { j =>
      val k = rnd.nextInt(7)
      (100L + j, 9, 4,
        flip(base, Seq.fill(k)(rnd.nextInt(L)).distinct: _*))
    }
    val rows = planted ++ extra
    val df = rows.toDF("media_id", "width", "height", "ahash")
      .withColumn("decoded", lit(true))
    def ham(a: String, b: String) = a.zip(b).count { case (x, y) => x != y }
    // block key since r11: (hash length, band bits) — dims are metadata
    val expected = (for {
      (i1, _, _, a1) <- rows; (i2, _, _, a2) <- rows
      if i1 < i2 && a1.length == a2.length && ham(a1, a2) <= 3
    } yield (i1, i2, ham(a1, a2))).toSet
    // the banded pairs feed connected components labeled by min id —
    // derive the full expected labeling by union-find over the expected
    // pair set (extras can now bridge planted rows: dims left the key);
    // a missed pair splits or drops a component, a spurious one merges
    val reps = Multimodal.imageDedup(df, maxDist = 3)
      .as[(Long, Long)].collect().toMap
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    expected.foreach { case (a, b, _) => parent(find(a)) = find(b) }
    val nodes = expected.flatMap(p => Seq(p._1, p._2))
    val expReps = nodes.map(n =>
      n -> nodes.filter(m => find(m) == find(n)).min).toMap
    assert(reps == expReps,
      s"labeling diff: ${(reps.toSet diff expReps.toSet) ++ (expReps.toSet diff reps.toSet)}")
    assert(reps.get(5L).contains(1L), "identical hash under other dims joins the cluster")
  }
}
