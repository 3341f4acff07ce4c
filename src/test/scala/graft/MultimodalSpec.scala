package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Multimodal
import graft.fixtures.FixtureGen

/** Container-header parsers are real code — hand-built vectors here; the
  * decode stage is stubbed by contract (no media libs in this container). */
class MultimodalSpec extends AnyFunSuite {

  test("png: IHDR width/height parsed") {
    val b = FixtureGen.media(0) // mediaId % 4 == 0 -> png
    val m = Multimodal.meta(b)
    assert(m.format == "png" && m.width > 0 && m.height > 0)
  }

  test("jpeg: SOF0 dimensions parsed after skipping APP0") {
    val b = FixtureGen.media(1)
    val m = Multimodal.meta(b)
    assert(m.format == "jpeg" && m.width > 0 && m.height > 0)
  }

  test("wav: channels + sample rate parsed") {
    val b = FixtureGen.media(2)
    val m = Multimodal.meta(b)
    assert(m.format == "wav" && m.channels >= 1 && m.channels <= 2)
    assert(Set(8000, 16000, 22050, 44100, 48000).contains(m.sampleRate))
  }

  test("garbage: degrades to unknown, never throws") {
    val m = Multimodal.meta(FixtureGen.media(3))
    assert(m.format == "unknown")
    assert(Multimodal.meta(null).format == "unknown")
    assert(Multimodal.meta(Array.emptyByteArray).format == "unknown")
    assert(Multimodal.meta(Array[Byte](0xff.toByte, 0xd8.toByte)).format == "unknown")
  }

  test("explicit png vector: 640x480") {
    val out = java.nio.ByteBuffer.allocate(33)
    out.put(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    out.putInt(13).put("IHDR".getBytes).putInt(640).putInt(480)
      .put(8.toByte).put(2.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
    out.putInt(0)
    val m = Multimodal.meta(out.array())
    assert(m.width == 640 && m.height == 480)
  }

  test("stub embed: deterministic, length dim, varies with content") {
    val a = Multimodal.stubEmbed(FixtureGen.media(0))
    val b = Multimodal.stubEmbed(FixtureGen.media(0))
    val c = Multimodal.stubEmbed(FixtureGen.media(4))
    assert(a.toSeq == b.toSeq && a.length == 8)
    assert(a.toSeq != c.toSeq)
  }

  test("word spans: offsets tile the words, CJK singletons") {
    val t = "hello 中文 world"
    val spans = graft.ops.TextOps.wordSpans(t)
    assert(spans.map { case (b, e) => t.substring(b, e) }.toSeq ==
      Seq("hello", "中", "文", "world"))
  }

  test("wav: JUNK/LIST chunk before fmt is walked, not misread as fmt") {
    // RIFF / size / WAVE / JUNK(4 bytes pad) / fmt (pcm, 2ch, 44100)
    val bb = java.nio.ByteBuffer.allocate(64).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes); bb.putInt(56); bb.put("WAVE".getBytes)
    bb.put("JUNK".getBytes); bb.putInt(4); bb.putInt(0xDEADBEEF)
    bb.put("fmt ".getBytes); bb.putInt(16)
    bb.putShort(1); bb.putShort(2); bb.putInt(44100); bb.putInt(44100 * 4)
    bb.putShort(4); bb.putShort(16)
    val m = Multimodal.meta(bb.array())
    assert(m.format == "wav", m.toString)
    assert(m.channels == 2 && m.sampleRate == 44100, m.toString)
  }

  test("jpeg: 0xFF fill bytes before a marker are skipped (T.81 B.1.1.2)") {
    // SOI, two fill bytes, then SOF0 24x42
    val bb = java.nio.ByteBuffer.allocate(16)
    bb.put(0xff.toByte).put(0xd8.toByte)
    bb.put(0xff.toByte).put(0xff.toByte) // fill
    bb.put(0xff.toByte).put(0xc0.toByte).putShort(9).put(8.toByte)
      .putShort(42).putShort(24)
    val m = Multimodal.meta(bb.array())
    assert(m.format == "jpeg" && m.width == 24 && m.height == 42, m.toString)
  }

  test("media witness: parse round-trips the arithmetic planted truth") {
    // png id=0: w=16, h=16, 97 bytes
    val p = Multimodal.meta(graft.fixtures.FixtureGen.mediaWitness(0L))
    assert(p == Multimodal.MediaMeta("png", 16, 16, -1, -1, 97L), p.toString)
    // jpeg id=7: w = 8 + 7*41 % 4000 = 295, h = 8 + 7*29 % 4000 = 211
    val j = Multimodal.meta(graft.fixtures.FixtureGen.mediaWitness(7L))
    assert(j == Multimodal.MediaMeta("jpeg", 295, 211, -1, -1, 83L), j.toString)
    // wav id=5: sr table[(5*31)%5 = 0] = 8000, ch = 1 + 5%2 = 2
    val w = Multimodal.meta(graft.fixtures.FixtureGen.mediaWitness(5L))
    assert(w == Multimodal.MediaMeta("wav", -1, -1, 8000, 2, 100L), w.toString)
  }
}
