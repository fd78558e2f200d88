package graft

import org.scalatest.funsuite.AnyFunSuite

/** Doc-consistency pins for the decode classifier's branch comments
  * (Native.scala `DecodeDropReason.classify`). Twice now (ADVICE r12 #1,
  * VERDICT r13 "What's wrong" #1) a support flip landed with the
  * adjacent comment still listing the newly-decodable profile as
  * refused. These pins make that class of drift a test failure: each
  * classifier branch comment must name every profile the decoder still
  * refuses and must NOT name a profile that now decodes.
  *
  * Maintenance contract: when a decoder graduates a profile, update the
  * branch comment AND the keyword lists here in the SAME commit — that
  * is the point. The README's oracle-coverage count is pinned the same
  * way, against the query and oracle registries.
  */
class DocConsistencySpec extends AnyFunSuite {

  private lazy val native: String = {
    val src = new java.io.File("src/main/scala/graft/functions/Native.scala")
    val in = scala.io.Source.fromFile(src, "UTF-8")
    try in.mkString finally in.close()
  }

  /** The comment+dispatch slice of one classifier branch: everything
    * between the branch's guard line and its status match. */
  private def branch(startMarker: String, endMarker: String): String = {
    val s = native.indexOf(startMarker)
    assert(s >= 0, s"classifier branch marker not found: $startMarker")
    val e = native.indexOf(endMarker, s)
    assert(e > s, s"classifier branch end not found after $startMarker: $endMarker")
    native.substring(s, e)
  }

  private def pin(slice: String, where: String,
      mustMention: Seq[String], mustNotMention: Seq[String]): Unit = {
    val lower = slice.toLowerCase
    for (kw <- mustMention)
      assert(lower.contains(kw.toLowerCase),
        s"$where comment no longer names still-refused profile '$kw' — " +
          "if it graduated, update this spec's lists in the same commit")
    for (kw <- mustNotMention)
      assert(!lower.contains(kw.toLowerCase),
        s"$where comment still claims '$kw' is refused, but it decodes — " +
          "update the comment (the ADVICE-r12 drift class)")
  }

  test("TIFF classifier comment tracks the Tiff decode contract") {
    pin(branch("else if (Tiff.hasMagic(b))", "Tiff.status(b) match"),
      "TIFF classifier",
      mustMention = Seq("uncompressed-mode", "Compression-6", "CMYK+spot"),
      // all of these decode (tiled/palette r13; G4/MH/T.4/JPEG-in-TIFF/
      // planar-2/sub-byte/RGBA r14; plain CMYK r15) — forbid the stale
      // refusal phrasings
      mustNotMention = Seq("tiled/palette", "palette profiles stay",
        "tiled profiles stay", "CCITT/JPEG-in-TIFF",
        "sub-byte gray profiles stay", "CMYK-shaped",
        "CCITT G3\n        // 2-D/EOL (Compression 3), Compression-6"))
  }

  test("WAV classifier comment tracks the Wav decode contract") {
    pin(branch("case \"WAVE\" =>", "Wav.status(b) match"),
      "WAV classifier",
      mustMention = Seq("GSM", "MP3-in-WAV"),
      mustNotMention = Seq("float/8-bit WAV stay", "EXTENSIBLE stay",
        "MS-ADPCM/MP3-in-WAV/GSM stay"))
  }

  test("BMP classifier comment tracks the Bmp decode contract") {
    pin(branch("else if (b(0) == 'B' && b(1) == 'M'", "Bmp.status(b) match"),
      "BMP classifier",
      mustMention = Seq("Huffman 1D", "RLE24"),
      // the OS/2 V2 header family decodes since r15 — forbid the stale
      // refusal alongside the older ones
      mustNotMention = Seq("RLE8/RLE4 stay", "palette depths stay",
        "bitfields/16-bit stay", "embedded streams and the OS/2",
        "V2 header family stays"))
  }

  test("WEBP classifier comment tracks the Webp/Vp8 decode contract") {
    pin(branch("case \"WEBP\" =>", "Webp.probeContainer(b) match"),
      "WEBP classifier",
      mustMention = Seq("metadata-only"),
      // lossy VP8 keyframes AND animation first frames decode since
      // r15 — forbid both stale refusal phrasings
      mustNotMention = Seq("carrying only lossy", "lossy/extended chunks",
        "carrying only\n            // animation"))
  }

  test("MP3 classifier comment tracks the Mp3L3 decode contract") {
    pin(branch("// MP3 recognition requires the ID3v2 tag",
        "Mp3L3.dropReason(b) match"),
      "MP3 classifier",
      // r16 graduated mono; r17 graduated MS stereo and short blocks —
      // the comment must keep naming what is STILL refused and must not
      // carry the stale mono-only scope
      mustMention = Seq("intensity stereo", "escape-table", "MPEG-2.5",
        "mixed blocks", "DECODES"),
      mustNotMention = Seq("census depth (MP3", "frames stay undecoded",
        "mono DECODES"))
  }

  test("DecodeDropReason contract doc names no graduated profile as refused") {
    val s = native.indexOf("`unsupported_profile`")
    val e = native.indexOf("`bomb_guard`", s)
    assert(s >= 0 && e > s, "DecodeDropReason contract doc markers moved")
    val doc = native.substring(s, e).toLowerCase
    // each of these decodes (or holds a census) today; their appearance
    // in the refused-examples doc would be the r13 drift recurring
    for (stale <- Seq("gray+alpha", "adam7", "float/8-bit wav",
        "tiled tiff", "no decoder in this pipeline", "lossy vp8 webp",
        "extended-sequential/lossless", "os/2-v2 bmp —"))
      assert(!doc.contains(stale),
        s"DecodeDropReason doc lists '$stale' as refused but it graduated")
  }

  test("README states the oracle coverage the query registry actually has") {
    val in = scala.io.Source.fromFile(new java.io.File("README.md"), "UTF-8")
    val readme = try in.mkString finally in.close()
    val claim = s"(${SparkEntry.oracleSql.size} of ${SparkEntry.queries.size} queries oracled"
    assert(readme.contains(claim), s"README no longer states '$claim'")
  }
}
