package graft

import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[queries]] is one operator from SURVEY §2 (reference
  * parity, T1–T10 + event-time chain) or the north-star training-data ops
  * (dedup / similarity / text analysis), run as a batch DataFrame query
  * over the testdata so the driver can hash-compare against DuckDB.
  *
  * Oracle-parity conventions:
  *  - every computed column is aliased identically on both sides;
  *  - timestamps are formatted to strings (µs precision) to dodge
  *    tz-annotation differences between engines' parquet writers;
  *  - count/size outputs are BIGINT on both sides;
  *  - no sum-of-double aggregates in oracled queries (order-dependent
  *    rounding); doubles appearing in outputs are either passed through
  *    or single IEEE divisions, which are bit-deterministic.
  */
object SparkEntry {

  /** Flagship query on sf=0.001: the T9 enrichment join (orders ⋈ customer).
    * Driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    graft.functions.Native.register(spark)
    val dir = "/root/testdata/sf0.001"
    Relational.enrichmentJoin(Tables.orders(spark, dir), Tables.customer(spark, dir))
  }

  /** Timestamp→string normalization used on BOTH sides of the compare. */
  private def fmtTs(c: org.apache.spark.sql.Column) =
    date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")
  private val FmtTsSql = "%Y-%m-%d %H:%M:%S.%f" // DuckDB strftime equivalent

  // 64 deterministic integer milli-weights in [-1000, 1000] for the
  // text_model_score fixture (Knuth multiplicative scramble); the SAME
  // literal feeds the Spark query and the DuckDB oracle
  private val DemoWeightsMilli: Seq[Long] =
    (0 until 64).map(i => (i * 2654435761L) % 2001L - 1000L)

  /** Synthetic multimodal payload over `documents`: text bytes behind a
    * planted container header by doc_id (0→JPEG, 1→PNG, 2→RIFF, 3→none)
    * — the sandbox stand-in for a real media column, built identically in
    * the DuckDB oracle. JPEG/PNG payloads carry REAL headers (SOI+APP0+
    * SOF0 / signature+IHDR) with doc_id-derived dimensions, so the
    * engine-side header parsers decode actual big-endian fields. */
  private def multimodalBinary(docId: org.apache.spark.sql.Column,
      text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val w = (docId % 1920 + 1).cast("bigint")
    val h = (docId % 1080 + 1).cast("bigint")
    when(docId % 4 === 0, concat(Multimodal.jpegHeader(w, h), text.cast("binary")))
      .when(docId % 4 === 1, concat(Multimodal.pngHeader(w, h), text.cast("binary")))
      .when(docId % 4 === 2, concat(lit(Multimodal.RiffMagic), text.cast("binary")))
      .otherwise(text.cast("binary"))
  }

  /** Deterministic lined-text fixture: the synthetic corpus has no
    * newlines, so the line-level operators ([[Dedup.lineDedup]],
    * [[TextAnalysis.c4LineFilter]]) run over a derived lining — tokens
    * chunked into 3-token lines, a terminal '.' planted on lines where
    * (doc_id + pos) % 3 ≠ 0 (so the C4 punctuation rule does real work).
    * 3-token lines over the ~30-word vocabulary make genuine cross-doc
    * duplicate lines plentiful, so first-occurrence keep/drop logic is
    * exercised on real collisions. Mirrored verbatim in the DuckDB
    * oracle's `lined` CTE ([[LinedCte]]). */
  private def linedText(docId: org.apache.spark.sql.Column,
      text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val w = split(text, " ")
    val nLines = ceil(size(w).cast("double") / 3.0).cast("int")
    concat_ws("\n", transform(sequence(lit(0), nLines - 1),
      i => concat(
        concat_ws(" ", slice(w, i * 3 + 1, lit(3))),
        when((docId + i) % 3 =!= 0, lit(".")).otherwise(lit("")))))
  }

  /** Derived crawl-URL fixture shared by `dedup_url` and `domain_quality`:
    * the same page crawled under many spellings — mixed-case scheme (%2),
    * userinfo (%11), www (%3), default port (%4), trailing slash (%7),
    * tracking params + param ORDER (%5 ∈ {0,1} spell the surviving
    * 'a=1&b=2' two ways), fragment (%6). Mirrored verbatim in both
    * oracles' `u` CTE. */
  private def derivedUrl(docId: org.apache.spark.sql.Column,
      source: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(
      when(docId % 2 === 0, lit("https://")).otherwise(lit("HTTP://")),
      when(docId % 11 === 0, lit("crawler:secret@")).otherwise(lit("")),
      when(docId % 3 === 0, lit("www.")).otherwise(lit("")),
      source, lit(".example.com"),
      when(docId % 4 === 0, lit(":443")).otherwise(lit("")),
      lit("/item/"), (docId % 25).cast("string"),
      when(docId % 7 === 0, lit("/")).otherwise(lit("")),
      when(docId % 5 === 0, lit("?utm_source=feed&b=2&a=1"))
        .when(docId % 5 === 1, lit("?a=1&b=2&fbclid=xyz"))
        .otherwise(lit("")),
      when(docId % 6 === 0, lit("#frag")).otherwise(lit("")))

  /** Fixed bag-of-words query for the `text_bm25` entry — terms from the
    * synthetic corpus vocabulary, so tf/df vary across documents. */
  private val Bm25Query = Seq("spark", "join", "window", "stream")

  /** Benchmark-prompt stand-ins for the multi-query retrieval entries:
    * three queries over the corpus vocabulary, overlapping tf/df so the
    * per-query rankings genuinely differ. Mirrored as a VALUES clause in
    * both oracles. */
  private val BenchmarkQueries = Seq(
    (0L, Seq("spark", "join")),
    (1L, Seq("window", "stream")),
    (2L, Seq("hash", "scan", "merge")))

  /** PQ demo codebooks: 8 subspaces × 16 centroids × 8 dims, every
    * component the small integer ((s·3 + c·5 + j·7) mod 17) − 8. Within
    * a subspace all 16 centroids are pairwise distinct in EVERY
    * component (c·5 is injective mod 17 over 0..15), so a planted
    * reconstruction encodes back to its own code with distance exactly
    * 0 and no argmin tie. Integer-valued floats keep every dot product
    * exact in both engines. */
  private val PqDemoCodebooks: Array[Array[Array[Float]]] =
    Array.tabulate(8, 16, 8)((s, c, j) => (((s * 3 + c * 5 + j * 7) % 17) - 8).toFloat)

  /** Planted PQ vector: the reconstruction of code(s) = (id·m1 + s·m2 +
    * a) mod 16 under [[PqDemoCodebooks]] — component i belongs to
    * subspace s = i>>3, offset j = i&7. Corpus rows being EXACT
    * reconstructions makes ADC distance exact, so PQ top-k ≡ brute
    * force and the whole encode→LUT→ADC→rank path is hash-oracle-able
    * (the planted-analytic move, PQ edition). Mirrored in the oracle. */
  private def pqPlantedVec(id: org.apache.spark.sql.Column,
      m1: Long, m2: Long, a: Long): org.apache.spark.sql.Column =
    transform(sequence(lit(0), lit(63)), i => {
      val s = shiftright(i, 3).cast("long")
      val j = (i % 8).cast("long")
      val c = (id * m1 + s * m2 + a) % 16
      (((s * 3 + c * 5 + j * 7) % 17) - 8).cast("float")
    })

  /** The Gopher-repetition fixture: the lined view with PLANTED
    * duplication (doc_id%5=0: the whole text repeated as a second
    * paragraph; else doc_id%3=0: the first line re-appended) so the
    * line/paragraph dup signals and the gram tiers all fire with real
    * non-trivial values. Mirrored in [[GopherRepCtes]]' `pl` CTE. */
  private def gopherPlantedDocs(s: SparkSession, d: String): DataFrame = {
    val lined = linedText(col("doc_id"), col("text"))
    val planted = when(col("doc_id") % 5 === 0, concat(lined, lit("\n\n"), lined))
      .when(col("doc_id") % 3 === 0,
        concat(lined, lit("\n"), element_at(split(lined, "\n"), 1)))
      .otherwise(lined)
    Tables.documents(s, d).select(col("doc_id"), planted.as("text"))
  }

  /** DuckDB mirror of the complete Gopher-repetition signal pipeline over
    * the planted lined view ([[gopherPlantedDocs]]) — ends in `sig`, one
    * row per doc with all 13 contract signals. Shared by the stats and
    * filter oracles. The dup-gram coverage avoids a quadratic
    * per-position scan by precomputing one dup flag per gram (O(G²)
    * string compares per doc per n) and testing each token's covering
    * window against the flag list. */
  private lazy val GopherRepCtes: String =
    s"""$LinedCte,
       pl AS (SELECT doc_id,
                CASE WHEN doc_id % 5 = 0
                       THEN text || chr(10) || chr(10) || text
                     WHEN doc_id % 3 = 0
                       THEN text || chr(10) || string_split(text, chr(10))[1]
                     ELSE text END AS t
              FROM lined),
       base AS (SELECT doc_id, t, CAST(len(t) AS DOUBLE) AS total FROM pl),
       ln AS (SELECT doc_id, unnest(string_split(t, chr(10))) AS p FROM base),
       lg AS (SELECT doc_id, p, count(*) AS c FROM ln GROUP BY 1, 2),
       lstat AS (SELECT doc_id, sum(c - 1) AS dups,
                   sum((c - 1) * len(p)) AS dupch, sum(c) AS ntot
                 FROM lg GROUP BY 1),
       pa AS (SELECT doc_id, unnest(string_split(t, chr(10) || chr(10))) AS p FROM base),
       pg AS (SELECT doc_id, p, count(*) AS c FROM pa GROUP BY 1, 2),
       pstat AS (SELECT doc_id, sum(c - 1) AS dups,
                   sum((c - 1) * len(p)) AS dupch, sum(c) AS ntot
                 FROM pg GROUP BY 1),
       tk AS (SELECT doc_id, string_split(t, ' ') AS w FROM base),
       g AS (SELECT doc_id, n,
               unnest([array_to_string(w[i + 1:i + n], ' ')
                       for i in range(0, greatest(len(w) - n + 1, 0))]) AS gram
             FROM tk, (VALUES (2), (3), (4)) ns(n)),
       gc AS (SELECT doc_id, n, gram, count(*) AS c FROM g GROUP BY 1, 2, 3),
       top1 AS (SELECT doc_id, n, c, len(gram) AS gl FROM (
                  SELECT doc_id, n, gram, c,
                    row_number() OVER (PARTITION BY doc_id, n
                      ORDER BY c DESC, len(gram) DESC, gram ASC) AS rn
                  FROM gc) WHERE rn = 1),
       tops AS (SELECT doc_id,
                  max(CASE WHEN n = 2 THEN CAST(c * gl AS DOUBLE) END) AS t2,
                  max(CASE WHEN n = 3 THEN CAST(c * gl AS DOUBLE) END) AS t3,
                  max(CASE WHEN n = 4 THEN CAST(c * gl AS DOUBLE) END) AS t4
                FROM top1 GROUP BY 1),
       dg AS (SELECT doc_id, n, w,
                [array_to_string(w[i + 1:i + n], ' ')
                 for i in range(0, greatest(len(w) - n + 1, 0))] AS gs
              FROM tk, (VALUES (5), (6), (7), (8), (9), (10)) ns(n)),
       df AS (SELECT doc_id, n, w,
                [len(list_filter(gs, x -> x = g)) > 1 for g in gs] AS dup
              FROM dg),
       dcov AS (SELECT doc_id, n,
                  coalesce(list_sum(
                    [CASE WHEN list_contains(
                            dup[greatest(p - n + 1, 0) + 1:least(p, len(dup) - 1) + 1],
                            true)
                          THEN len(w[p + 1]) ELSE 0 END
                     for p in range(0, len(w))]), 0) AS covch
                FROM df),
       dtops AS (SELECT doc_id,
                   max(CASE WHEN n = 5 THEN covch END) AS d5,
                   max(CASE WHEN n = 6 THEN covch END) AS d6,
                   max(CASE WHEN n = 7 THEN covch END) AS d7,
                   max(CASE WHEN n = 8 THEN covch END) AS d8,
                   max(CASE WHEN n = 9 THEN covch END) AS d9,
                   max(CASE WHEN n = 10 THEN covch END) AS d10
                 FROM dcov GROUP BY 1),
       sig AS (SELECT b.doc_id,
                 CAST(l.dups AS DOUBLE) / CAST(l.ntot AS DOUBLE) AS dup_line_frac,
                 CAST(l.dupch AS DOUBLE) / b.total AS dup_line_char_frac,
                 CAST(p.dups AS DOUBLE) / CAST(p.ntot AS DOUBLE) AS dup_para_frac,
                 CAST(p.dupch AS DOUBLE) / b.total AS dup_para_char_frac,
                 coalesce(tp.t2 / b.total, 0.0) AS top_2_gram_char_frac,
                 coalesce(tp.t3 / b.total, 0.0) AS top_3_gram_char_frac,
                 coalesce(tp.t4 / b.total, 0.0) AS top_4_gram_char_frac,
                 CAST(dt.d5 AS DOUBLE) / b.total AS dup_5_gram_char_frac,
                 CAST(dt.d6 AS DOUBLE) / b.total AS dup_6_gram_char_frac,
                 CAST(dt.d7 AS DOUBLE) / b.total AS dup_7_gram_char_frac,
                 CAST(dt.d8 AS DOUBLE) / b.total AS dup_8_gram_char_frac,
                 CAST(dt.d9 AS DOUBLE) / b.total AS dup_9_gram_char_frac,
                 CAST(dt.d10 AS DOUBLE) / b.total AS dup_10_gram_char_frac
               FROM base b
               JOIN lstat l USING (doc_id)
               JOIN pstat p USING (doc_id)
               LEFT JOIN tops tp USING (doc_id)
               JOIN dtops dt USING (doc_id))"""

  /** DuckDB mirror of [[linedText]] (shared by the two line-op oracles). */
  private val LinedCte: String =
    """lined AS (
         SELECT doc_id,
           array_to_string(
             [array_to_string(w[i*3+1 : i*3+3], ' ') ||
                (CASE WHEN (doc_id + i) % 3 <> 0 THEN '.' ELSE '' END)
              for i in range(0, CAST(ceil(len(w)/3.0) AS BIGINT))],
             chr(10)) AS text
         FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))"""

  /** The planted-analytic BPE corpus (see the `text_bpe_encode` entry for
    * the full derivation): doc_id % 4 picks one of four disjoint-alphabet
    * words repeated a class-weighted number of times, which forces the
    * Sennrich merge order analytically for ANY corpus size. Shared by the
    * BPE encode and token-histogram queries so both pin the same trained
    * table. */
  private def plantedBpeCorpus(docs: DataFrame): DataFrame = {
    val cls = col("doc_id") % 4
    docs.select(col("doc_id"),
      when(cls === 0, lit("aaaa" + " aaaa" * 5))
        .when(cls === 1, lit("bbbb" + " bbbb" * 4))
        .when(cls === 2, lit("cccc" + " cccc" * 3))
        .otherwise(lit("dddd" + " dddd" * 2)).as("text"))
  }

  /** Planted 9×8 grayscale bitmap (72 bytes, row-major): byte i = the
    * first md5 byte of "<doc_id>-<i>" — uniform iid bytes, so distinct
    * docs' dHash bits are fair coins (analytic cross-pair safety for
    * [[queries]]' dedup_image) while any re-key copy is bit-identical.
    * 9×8 makes the dHash block-average an identity (grid == bitmap), so
    * the oracle recomputes the hash with pure integer arithmetic. */
  private def plantedBitmap(docId: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    unhex(concat((0 until 72).map(i =>
      substring(md5(concat(docId.cast("string"), lit(s"-$i")).cast("binary")), 1, 2)): _*))

  /** [[plantedBitmap]]'s COLOR sibling: 9×8 interleaved RGB(A) — pixel i's
    * channels are the first 3 (4 with alpha) md5 bytes of "<doc_id>-pc<i>".
    * Channels stay iid across pixels, so the derived ITU-R 601 luma plane
    * is ~iid too and the dedup_image cross-pair analytics carry over to
    * real truecolor PNG bytes. */
  private def plantedRgbBitmap(docId: org.apache.spark.sql.Column,
      alpha: Boolean = false): org.apache.spark.sql.Column =
    unhex(concat((0 until 72).map(i =>
      substring(md5(concat(docId.cast("string"), lit(s"-pc$i")).cast("binary")),
        1, if (alpha) 8 else 6)): _*))

  /** Planted 48×40 PER-MB-CONSTANT grayscale bitmap for the lossy VP8
    * tier: a 3×3 macroblock grid (bottom row cropped to 8 pixel rows)
    * where every pixel of MB m carries the first md5 byte of
    * "<doc_id>-vp8<m>". Per-MB-constant images are exactly the class
    * [[graft.functions.Native.Vp8.encodeDc]] round-trips bit-exactly
    * (the jpegEncodeGray8Dc stance), and the constants stay iid across
    * docs so the dedup cross-pair analytics carry over. */
  private def plantedMbBitmap(docId: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    def mbHex(m: Int) = substring(
      md5(concat(docId.cast("string"), lit(s"-vp8$m")).cast("binary")), 1, 2)
    val rows = (0 until 40).map { r =>
      val g = r / 16
      concat(repeat(mbHex(g * 3), 16), repeat(mbHex(g * 3 + 1), 16),
        repeat(mbHex(g * 3 + 2), 16))
    }
    unhex(concat(rows: _*))
  }

  /** DC-category-7 block value from the first md5 byte of
    * "<doc_id>-<tag><idx>": low = raw mod 128; low < 64 → low+1, else
    * low+128 — always in [1,64] ∪ [192,255], the [[graft.functions.Native
    * .JpegGray8Encode]] fixture contract (quantized DC in ±[64,127], the
    * fixed-length Huffman category). Still ~iid across blocks, so dHash
    * bits stay fair-coin for the cross-pair safety argument. */
  private def jpegBlockVal(docId: org.apache.spark.sql.Column, tag: String,
      idx: Int): org.apache.spark.sql.Column = {
    val low = conv(substring(md5(concat(docId.cast("string"),
      lit(s"-$tag$idx")).cast("binary")), 1, 2), 16, 10).cast("int") % 128
    when(low < 64, low + 1).otherwise(low + 128)
  }
  private def hex2(v: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    lpad(conv(v.cast("string"), 10, 16), 2, "0")

  /** Planted mono PCM16 samples as 72 four-hex-char little-endian
    * strings (`unhex(concat(...))` makes the bytes; callers that need
    * longer constant segments `repeat` each string): sample i is 4 hex
    * chars of md5("<doc_id>-<tag><i/8>") mod 32768, so one digest yields
    * 8 samples — 9 digests per doc, not 72. The plant is fixture cost,
    * so cheap + deterministic + uniform is all it owes; the decode
    * oracles restate the same closed form. `tag` keeps each query's
    * plant independent of the others'. */
  private def plantedPcm16Hex(docId: org.apache.spark.sql.Column,
      tag: String): Seq[org.apache.spark.sql.Column] =
    (0 until 72).map { i =>
      val v = pmod(conv(substring(md5(concat(docId.cast("string"),
        lit(s"-$tag${i / 8}")).cast("binary")), 1 + 4 * (i % 8), 4), 16, 10)
        .cast("int"), lit(32768))
      concat(
        lpad(conv(v.bitwiseAND(lit(255)).cast("string"), 10, 16), 2, "0"),
        lpad(conv(shiftright(v, 8).cast("string"), 10, 16), 2, "0"))
    }

  /** Planted Layer III fixture spec: 16 bytes per granule, byte i = the
    * first md5 byte of "<doc_id>-m3<i>" reduced mod its field modulus
    * (global-gain step 5; three 2-bit scalefactors; two 1-bit slen2
    * scalefactors; ten spectral values 0..10, biased −5 by the encoder).
    * The reductions keep every field in its [[graft.functions.Mp3L3
    * .encodeFixture]] contract while staying a pure closed form the
    * oracle restates ([[graft.functions.Mp3Oracle]]). */
  private def mp3PlantedSpec(docId: org.apache.spark.sql.Column,
      nGranules: Int): org.apache.spark.sql.Column = {
    val mods = Array(5, 4, 4, 4, 2, 2) ++ Array.fill(10)(11)
    unhex(concat((0 until 16 * nGranules).map { i =>
      val b = conv(substring(md5(concat(docId.cast("string"),
        lit(s"-m3$i")).cast("binary")), 1, 2), 16, 10).cast("int") % mods(i % 16)
      hex2(b)
    }: _*))
  }

  /** The four COMMITTED deflate-fixture classes (text_compress_ratio):
    * run, periodic, prose, and a fixed high-entropy garble — structures
    * whose level-6 deflate byte counts differ by an order of magnitude.
    * The strings are constants on purpose: their exact deflate lengths
    * are committed in the oracle and in FuncsSpec. */
  private[graft] val CompressPlantClasses: Seq[String] = Seq(
    "a" * 400,
    "abcdefghij" * 40,
    "The quick brown fox jumps over the lazy dog. " * 10,
    "q7Kp2xZv9LmWc4Rt8nYb3JhG6dFs1QaEuT5iOoP0kXjNvMlBzCgHySdWqRfTe" +
      "x2A8mK4cV7bL9nJ1hZ5gD3pQ6wS0yU8rI2oE4tF7uM9aC1vN5bX3zH6kG0jTq" +
      "W8dP2sR4fY7lO9eI1wQ5xK3nZ6vB0mC8gA2hJ4tD7rU9pL1oS5yE3iF6uV0cT")
  private def compressPlant(docId: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    element_at(typedLit(CompressPlantClasses), (docId % 4).cast("int") + 1)

  /** The eight COMMITTED train-fixture sentences (text_train_score):
    * distinct marker vocabularies per class; classes 0..3 labeled keep,
    * 4..7 labeled drop. The 200-row plant is SF-INDEPENDENT (built from
    * spark.range, not the corpus), so the trained milli-weights — and
    * therefore every emitted logit — are the same at every scale factor
    * and can be committed in the oracle. */
  private[graft] val TrainPlantClasses: Seq[String] = Seq(
    "crystal harbor lantern voyage crystal harbor lantern",
    "meadow spruce granite river meadow spruce granite",
    "copper sparrow orchard velvet copper sparrow orchard",
    "ember willow saffron breeze ember willow saffron",
    "static jargon filler noise static jargon filler",
    "clutter spam boiler plate clutter spam boiler",
    "random chaff padding junk random chaff padding",
    "hollow drone residue sludge hollow drone residue")

  /** Planted 72×64 grayscale bitmap whose 8×8 blocks are CONSTANT at
    * [[jpegBlockVal]](r·9+c) — the per-block-constant shape that makes
    * DC-only JPEG round-trip bit-exact AND makes the 9×8 dHash grid an
    * identity over block values (each dHash cell averages exactly one
    * flat block), so the cross-pair analytics of dedup_image carry over
    * to real JPEG bytes. */
  private def plantedJpegBitmap(docId: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    unhex(concat((0 until 8).map { r =>
      repeat(concat((0 until 9).map(c =>
        repeat(hex2(jpegBlockVal(docId, "j", r * 9 + c)), 8)): _*), 8)
    }: _*))

  /** [[plantedJpegBitmap]]'s 4:2:2 color sibling: 144×64 luma whose 16×8
    * MCU tiles are CONSTANT at [[jpegBlockVal]](r·9+c) — per-MCU-constant
    * (the [[graft.operators.Multimodal.jpegEncodeYccDc]] fixture
    * contract) and one dHash cell per tile at dHash(144, 64), so the same
    * identity/~iid cross-pair analytics hold over real COLOR JPEG bytes. */
  private def plantedJpegColorBitmap(docId: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    unhex(concat((0 until 8).map { r =>
      repeat(concat((0 until 9).map(c =>
        repeat(hex2(jpegBlockVal(docId, "jc", r * 9 + c)), 16)): _*), 8)
    }: _*))

  /** DC-category-7 tile value `i` for the video plants: folded from byte
    * i%8 of md5("<doc_id>-vr<i/8>") — 8 tile values per digest, 9 digests
    * per DOC (not per frame: the plant is fixture cost, so frames share
    * one tile vector and differ by rotation — see [[plantedVideoFrame]]).
    * Same folding and ~iid argument as [[jpegBlockVal]]. */
  private def videoBlockVal(docId: org.apache.spark.sql.Column,
      i: Int): org.apache.spark.sql.Column = {
    val low = conv(substring(md5(concat(docId.cast("string"),
      lit(s"-vr${i / 8}")).cast("binary")), 1 + 2 * (i % 8), 2), 16, 10).cast("int") % 128
    when(low < 64, low + 1).otherwise(low + 128)
  }

  /** Planted 72×64 luma frame `f`: 8×8 tiles constant at
    * [[videoBlockVal]]((r·9+c + 19·f) mod 72) — [[plantedJpegBitmap]]'s
    * shape, one dHash cell per tile. Frames are distinct ROTATIONS of one
    * per-doc ~iid tile vector: bit-identical across re-keyed copies,
    * well-spread across docs, and the shared digests keep the fixture
    * from dominating the query it exists to feed. */
  private def plantedVideoFrame(docId: org.apache.spark.sql.Column,
      f: Int): org.apache.spark.sql.Column =
    unhex(concat((0 until 8).map { r =>
      repeat(concat((0 until 9).map(c =>
        repeat(hex2(videoBlockVal(docId, (r * 9 + c + 19 * f) % 72)), 8)): _*), 8)
    }: _*))

  /** Half-height (72×32) planted video frame for the PAIR-SET query,
    * where per-doc decode volume is fixture cost: 9×4 8×8-constant
    * blocks, tile values videoBlockVal(f·36 + r·9 + c) — fully
    * INDEPENDENT across frames (a first cut rotated one shared tile
    * vector across frames; correlated per-frame agreement let 12 cross
    * pairs inside the hamming ball at sf0.01). dHash cells align with
    * block COLUMNS (8 px), so each grid row carries 8 fair-coin bits;
    * rows pair up vertically (4 px cells over 8 px tiles) leaving 32
    * effective coins per frame — 64 independent coins per 2-frame clip,
    * so at maxHamming 1 a cross pair needs P ≈ 65/2⁶⁴ ≈ 4e-18. */
  private def plantedVideoFrameSmall(docId: org.apache.spark.sql.Column,
      f: Int): org.apache.spark.sql.Column =
    unhex(concat((0 until 4).map { r =>
      repeat(concat((0 until 9).map(c =>
        repeat(hex2(videoBlockVal(docId, f * 36 + r * 9 + c)), 8)): _*), 8)
    }: _*))

  /** Wraps every query so the session carries the native function registry
    * (idempotent) regardless of who built the session. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    rawQueries.map { case (name, fn) =>
      name -> { (s: SparkSession, d: String) =>
        graft.functions.Native.register(s)
        fn(s, d)
      }
    }

  /** Spread a narrow spine across the session's shuffle parallelism before
    * per-row HEAVY compute (codec encode/decode natives, per-doc scoring).
    * The sf testdata tables are single-row-group parquet files, so their
    * scans are ONE task each and a compute fused into the scan stage
    * serializes on one core of the 32 — the optimization guide's §2.5
    * "input skew: one huge unsplittable file … repartition immediately
    * after the read" case. The exchange moves only the projected spine
    * columns (bytes ≈ nothing next to the decode it unlocks), hashes on
    * the spine key (thousands of distinct values per partition-count
    * decade — the §2.5 spread rule; deterministic, unlike a round-robin
    * of a re-run scan), and its width follows spark.sql.shuffle.partitions
    * — the conf production sizes per cluster and the harness derives from
    * SPARK_GRAFT_CPUS, so the driver's low-core scaling runs keep their
    * meaning. Results are partition-placement-independent: same rows,
    * same hashes.
    *
    * r18: CONDITIONAL on the scan actually needing it. At table scale the
    * input arrives already split across many files and the rebalance is
    * pure overhead — measured at the synthesized sf1 (33-file documents,
    * 32 cores): every codec family ran 10-30 % FASTER with the rebalance
    * skipped (e.g. dedup_audio_flac 7.0 → 5.1 s, dedup_image_jpeg 4.9 →
    * 3.7 s), while at the single-file sf0.1 the rebalance is the
    * r17-verified 1.2-1.3× win. The split test is the source file count
    * (driver-side listing, no job): files under maxPartitionBytes map
    * 1:1 to scan tasks, so `inputFiles >= width` means the decode stage
    * already parallelizes and the exchange buys nothing. Deterministic
    * per (data, session) — plans don't depend on timing or environment
    * beyond the core count the harness already keys on. */
  private def spread(df: DataFrame, key: String = "doc_id"): DataFrame = {
    val width =
      df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    if (df.inputFiles.length >= width) df
    else df.repartition(width, col(key))
  }

  /** The codec near-dup queries' shared shape: every doc gets a re-keyed
    * copy (id + 100000) carrying the SAME payload bytes, so exactly one
    * hamming-0 pair per doc is the analytic pair set. `sig` is a pure
    * function of those bytes, so it is computed once per doc and the ids
    * fan out at the signature level: the persisted boundary is the
    * signature (8 bytes, or 64·nSample bits for video), not the blob, and
    * the union legs union signatures instead of re-running encode +
    * decode + hash per id: every pass but one operates on a lightweight
    * proxy. The banded LSH sees the same (id, sig) multiset
    * as signing both legs would give. `docs` is the doc_id spine, spread
    * or not as the query needs; `hamming` comes out as BIGINT for the
    * oracle. */
  private def rekeyedCopyPairs(docs: DataFrame, sig: org.apache.spark.sql.Column,
      maxHamming: Int = 2, sigBits: Int = 64): DataFrame = {
    val signed = docs
      .select(col("doc_id").as("id"), sig.as("sig"))
      .filter(col("sig").isNotNull)
      .transform(Caches.persisted)
    Dedup.hammingNearDup(
      signed.union(signed.select((col("id") + 100000L).as("id"), col("sig"))),
      maxHamming = maxHamming, sigBits = sigBits)
      .withColumn("hamming", col("hamming").cast("bigint"))
  }

  private def rawQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- reference parity (SURVEY §2) ---
    "t1_uppercase" -> ((s, d) => Relational.uppercaseProjection(Tables.documents(s, d))),
    "t2_typed_scan" -> ((s, d) => {
      import s.implicits._
      // typed Dataset round-trip (Encoder-checked fields), stringified date
      Tables.orders(s, d).as[Models.Order].toDF()
        .withColumn("o_orderdate", fmtTs(col("o_orderdate")))
    }),
    "t3_running_count" -> ((s, d) => Relational.runningCountByCustomer(Tables.orders(s, d))),
    "t4_tumbling_count_user" -> ((s, d) =>
      Relational.tumblingCount(Tables.events(s, d), "user_id", "1 minute")
        .withColumn("window_start", fmtTs(col("window_start")))),
    "t5_tumbling_count_type" -> ((s, d) =>
      Relational.tumblingCount(Tables.events(s, d), "event_type", "1 minute")
        .withColumn("window_start", fmtTs(col("window_start")))),
    "t6_windowed_fraud" -> ((s, d) =>
      Relational.windowedFraud(Tables.events(s, d), threshold = 3L)
        .withColumn("window_start", fmtTs(col("window_start")))),
    "t7_sliding_count" -> ((s, d) =>
      Relational.slidingCount(Tables.events(s, d), sizeMinutes = 5)
        .withColumn("window_start", fmtTs(col("window_start")))),
    "t8_stream_stream_join" -> ((s, d) =>
      Relational.streamStreamJoin(Tables.orders(s, d), Tables.lineitem(s, d))
        .withColumn("o_orderdate", fmtTs(col("o_orderdate")))
        .withColumn("l_shipdate", fmtTs(col("l_shipdate")))),
    // Kafka Streams leftJoin/outerJoin surface over the same JoinWindows;
    // null-padded unmatched rows are the whole point of the check
    "t8_left_join" -> ((s, d) =>
      Relational.streamStreamJoinOuter(Tables.orders(s, d), Tables.lineitem(s, d), "left_outer")
        .withColumn("o_orderdate", fmtTs(col("o_orderdate")))
        .withColumn("l_shipdate", fmtTs(col("l_shipdate")))),
    "t8_outer_join" -> ((s, d) =>
      Relational.streamStreamJoinOuter(Tables.orders(s, d), Tables.lineitem(s, d), "full_outer")
        .withColumn("o_orderdate", fmtTs(col("o_orderdate")))
        .withColumn("l_shipdate", fmtTs(col("l_shipdate")))),
    "t9_stream_table_join" -> ((s, d) =>
      Relational.enrichmentJoin(Tables.orders(s, d), Tables.customer(s, d))
        .withColumn("o_orderdate", fmtTs(col("o_orderdate")))),
    "t10_fraud_alerts" -> ((s, d) =>
      Relational.fraudRunningCount(Tables.orders(s, d), minAmount = 500.0, countThreshold = 3L)),
    "ts_parse_chain" -> ((s, d) =>
      Relational.eventTimeParse(Tables.events(s, d))
        .withColumn("event_time", fmtTs(col("event_time")))),
    // JSON codec end-to-end ≙ JsonPOJOSerde + StreamsOrderCount.java:98-106:
    // build an Order JSON payload (some malformed), from_json-parse it,
    // re-key with the UNKNOWN fallback, aggregate per key.
    "t11_session_count" -> ((s, d) =>
      Relational.sessionCount(Tables.events(s, d), "user_id", "30 seconds")
        .withColumn("session_start", fmtTs(col("session_start")))
        .withColumn("session_end", fmtTs(col("session_end")))),
    "json_rekey_count" -> ((s, d) => {
      import graft.codec.JsonCodec
      val payload = when(col("o_orderkey") % 97 === 0, lit("{malformed"))
        .otherwise(format_string(
          """{"order_id":%d,"customer_id":%d,"order_date":"%s","total_amount":"%s"}""",
          col("o_orderkey"), col("o_custkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd"),
          col("o_totalprice").cast("decimal(12,2)")))
      Tables.orders(s, d)
        .select(JsonCodec.parseOrder(payload).as("v"))
        .select(
          JsonCodec.keyOrUnknown(col("v.customer_id")).as("key"),
          col("v.total_amount").cast("decimal(12,2)").as("amt"))
        .groupBy("key")
        .agg(count(lit(1)).as("cnt"), sum(col("amt")).cast("double").as("total"))
    }),

    // --- north-star: dedup ---
    "dedup_exact" -> ((s, d) => Dedup.exact(Tables.documents(s, d))),
    // planted re-encodes (the dedup_embedding_srp trick applied to text
    // LSH): every doc is replanted under doc_id+100000. At threshold 1.0
    // the verify keeps exactly the Jaccard-1 pairs = pairs with EQUAL
    // distinct-shingle sets — SQL-expressible in DuckDB (sorted-set
    // group), and candidate recall is analytically 1: equal sets ⇒
    // identical minhash signatures ⇒ all bands collide (measured max
    // band bucket = 8 ≪ the 64 chaining cap at sf ≤ 0.1, so the full
    // pairwise cold path runs). The LSH machinery itself — banding,
    // skew guard, verification — is exercised end-to-end.
    "dedup_minhash_lsh" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val copies = docs.select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      Dedup.minhashLsh(docs.union(copies), threshold = 1.0).drop("jaccard")
    }),
    // raw-threshold companion (rows-only check, deliberately unoracled):
    // the planted entry above pins the degenerate threshold-1.0 path, so
    // an S-curve / banding / verification-threshold regression at a REAL
    // operating point (0.8 on the raw corpus) would not move it. DuckDB
    // cannot replay the banding miss probability, so this rides the
    // driver's rows-only check: a verification-stage regression shifts
    // the pair count and shows up in CORRECTNESS without an oracle. The
    // exact pair set at a raw threshold stays pinned by the ScalaTest
    // brute-force comparisons (OperatorsSpec).
    "dedup_minhash_raw" -> ((s, d) =>
      Dedup.minhashLsh(Tables.documents(s, d).select(col("doc_id"), col("text")),
        threshold = 0.8).drop("jaccard")),
    // LSH blocking + EditSim verification (Lee et al.'s NearDup), planted
    // like dedup_minhash_lsh: at threshold 1.0 the kept pairs are exactly
    // the equal-FULL-TEXT pairs (equal text ⇒ identical signatures ⇒ all
    // bands collide ⇒ candidate; kept ⟺ levenshtein = 0 ⟺ equal) — no
    // truncation, because prefix-equal-tail-different corpus pairs would
    // pass a truncated compare without being guaranteed candidates. The
    // threshold ≥ 1 cutoff makes each verify O(n), not O(n²)
    "dedup_editsim" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val copies = docs.select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      Dedup.editSimNearDup(docs.union(copies), threshold = 1.0)
    }),
    // the PAIR BUDGET under deterministic truncation: identical-text
    // groups of 6 docs (text = 8 md5 tokens of the group id) give every
    // member 5 candidate partners; maxPairsPerDoc = 3 keeps each doc's 3
    // lowest partners, and the both-endpoints-keep rule makes the
    // surviving set exactly the pairs among each group's first 4 members
    // (pair (i,j), i<j 0-based survives iff i's rank in j's partner list
    // ≤ 3 ⇔ i ≤ 2, and j's rank in i's ⇔ j ≤ 3) — C(4,2) = 6 per full
    // group, a closed form the oracle restates; the 9 truncated pairs per
    // group surface in the graft_pair_budget observation (spec-pinned)
    "dedup_editsim_cap" -> ((s, d) => {
      // groups from a doc_id HASH, not id arithmetic: synthdata sf1
      // doc_ids are sparse (0..90M for ~5M rows), so doc_id/6 groups
      // under-form at the big decade and the cap exponent would rest on
      // extrapolation — md5-bucketing into n/6 groups keeps the mean
      // group size at 6 whatever the id distribution, so every SCALING
      // decade exercises real identical-text groups. The closed-form
      // oracle survives the move rank-based: each doc keeps its 3
      // lowest-id partners, so a pair survives iff BOTH endpoints rank
      // ≤ 3 within their group (by doc_id), i.e. the higher rank ≤ 3.
      // plain count: parquet answers it from footer metadata, no scan —
      // a spread here would force a real shuffle just to count
      val n = Tables.documents(s, d).count()
      val g = math.max(1L, n / 6L)
      val grp = conv(substring(
          md5(col("doc_id").cast("string").cast("binary")), 1, 15), 16, 10)
        .cast("bigint") % g
      val text = concat_ws(" ", (0 until 8).map(i =>
        md5(concat(grp.cast("string"), lit(s"-ec$i")).cast("binary"))): _*)
      Dedup.editSimNearDup(
        Tables.documents(s, d).select(col("doc_id"), text.as("text")),
        threshold = 0.9, maxPairsPerDoc = 3)
    }),
    // the verification stage alone at a REAL operating point: analytic
    // consecutive-id candidate pairs, so the exact banded-Levenshtein
    // distances and the threshold algebra hash-oracle against DuckDB's
    // levenshtein on the same truncated text — real varied distances,
    // unlike the degenerate threshold-1.0 pin above
    "dedup_editsim_pairs" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val pairs = docs.select(col("doc_id").as("id_a"), (col("doc_id") + 1L).as("id_b"))
      Dedup.verifyEditSimilarity(pairs, docs, threshold = 0.25, maxChars = 256)
    }),
    // TOKEN-level edit distances pinned by three analytic plant classes:
    // a suffix/prefix of k appended tokens costs exactly k insertions
    // WHATEVER the tokens are (d(s, s·suffix) = |suffix|), and the
    // substitute-all plant costs exactly n because every planted token
    // carries '#' while the corpus is '#'-free (LCS = 0 forces one
    // substitution per position) — so the native banded DP's outputs are
    // pure arithmetic in DuckDB
    "dedup_editsim_tokens" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val k = (col("doc_id") % 4 + 1).cast("int")
      val qTokens = array_join(
        transform(sequence(lit(1), k), i => concat(lit("q"), i.cast("string"))), " ")
      val planted = docs.select((col("doc_id") + 100000L).as("doc_id"),
        when(col("doc_id") % 3 === 0, concat_ws(" ", col("text"), qTokens))
          .when(col("doc_id") % 3 === 1,
            array_join(transform(split(col("text"), " "),
              t => concat(t, lit("#"))), " "))
          .otherwise(concat_ws(" ", qTokens, col("text"))).as("text"))
      val pairs = docs.select(col("doc_id").as("id_a"), (col("doc_id") + 100000L).as("id_b"))
      Dedup.verifyTokenEditSimilarity(pairs, docs.union(planted), threshold = 0.0)
    }),
    // the composed token-criterion near-dup (Lee et al.'s published
    // NearDup shape: banded-MinHash candidates, token edit verify) at the
    // degenerate threshold: kept ⟺ equal token sequences (single-spaced
    // corpus ⇒ equal text), same oracle family as dedup_editsim
    "dedup_editsim_tok" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val copies = docs.select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      Dedup.tokenEditSimNearDup(docs.union(copies), threshold = 1.0)
    }),
    // cross-corpus near-dup (near-dup-level decontamination), oracled by
    // the planted-re-encode trick: the "held-out" side is every doc
    // replanted at id+100000; at threshold 1.0 the verified pairs are
    // exactly the equal-shingle-set (a, b+100000) pairs — SQL-expressible
    "dedup_cross" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val heldOut = docs.select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      Dedup.crossNearDup(docs, heldOut, threshold = 1.0).drop("jaccard")
    }),
    // the composed near-dup decontamination stage, planted the same way:
    // replants land in their own md5 split, so train originals whose
    // replant fell in the test split are the contaminated set
    "decontaminate_neardup" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val planted = docs.union(docs.select((col("doc_id") + 100000L).as("doc_id"), col("text")))
      Pipeline.decontaminateNearDup(planted, threshold = 1.0)
    }),
    // planted re-encode with doc-unique token prefixes: cross-document
    // token overlap vanishes, so distinct docs' simhash signatures are
    // independent 64-bit draws (P[hamming ≤ 3] ≈ 2.4e-15 per pair; the
    // raw corpus, by contrast, has near-dup pairs at hamming 0 — not
    // SQL-expressible). Each doc pairs exactly with its replant at
    // hamming 0, making the sketch op hash-oracle-able.
    "dedup_simhash" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"),
        concat_ws(" ", transform(split(col("text"), " "),
          x => concat(col("doc_id").cast("string"), lit(":"), x))).as("text"))
      val copies = docs.select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      Dedup.simhash(docs.union(copies))
        .withColumn("hamming", col("hamming").cast("bigint"))
    }),
    // planted re-encodes, IVF edition: identical copies share every probe
    // bucket (the centroid assignment is a pure function of the vector),
    // so each copy pairs with its original with probability 1 at ANY
    // nprobe; no cross pair reaches 0.9 (measured max cross cosine ≤
    // 0.61 at sf ≤ 0.1) — same analytic-recall trick as
    // dedup_embedding_srp, making the IVF-blocked path hash-oracle-able.
    // The 0.3-threshold raw-corpus behavior stays pinned by the ≥0.95
    // recall test in OperatorsSpec.
    // nprobe=2 (vs the operator's default 5): identical copies share every
    // probe bucket whatever nprobe is, so the planted recall stays
    // analytic while the candidate volume stays proportional to nprobe.
    // numCentroids auto (0): the operator right-sizes C to the corpus by
    // the linear-blocking rule (constant cluster size, C = nprobe·n/128) —
    // the r7 hand-tuned 64 was this rule evaluated at sf0.1, and the
    // fourth-decade scaling run showed why the rule must TRACK n: a fixed
    // C went superlinear (exp 1.58) the decade after it was tuned. The
    // planted oracle is invariant: identical copies share every probe
    // bucket at ANY centroid count
    "dedup_embedding" -> ((s, d) => {
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val copies = emb.select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      Dedup.embeddingNearDup(emb.union(copies), minCosine = 0.9, nprobe = 2)
    }),
    "dedup_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccard(Tables.documents(s, d), n = 3, threshold = 0.5)),
    // planted re-encodes: every vector re-keyed +100000 — the train-free
    // SRP-LSH path must pair each copy with its original (cosine exactly
    // 1 ⇒ identical signatures in every table ⇒ candidate with
    // probability 1), and no cross pair clears 0.9 (measured max cross
    // cosine ≤ 0.61 at sf ≤ 0.1) — so the output is exactly one row per
    // vector and the operator is hash-oracle-able despite being an LSH
    "dedup_embedding_srp" -> ((s, d) => {
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val copies = emb.select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      Dedup.embeddingNearDupSrp(emb.union(copies), minCosine = 0.9)
    }),
    // SemDeDup, planted the same way as dedup_embedding: identical copies
    // share the nearest centroid (assignment is a pure function of the
    // vector), pair at cosine 1, and no cross pair clears 0.9 — so every
    // component is exactly {v, v+100000} with the original as keeper, and
    // the cluster-then-prune path is hash-oracle-able end to end (cluster
    // ids themselves are k-means-internal and stay out of the projection)
    "dedup_semantic" -> ((s, d) => {
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val copies = emb.select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      Dedup.semanticDedup(emb.union(copies), minCosine = 0.9).drop("cluster")
    }),
    "dedup_components" -> ((s, d) =>
      Dedup.dedupComponents(Tables.documents(s, d), n = 3, threshold = 0.5)),
    "dedup_spans" -> ((s, d) => Dedup.duplicatedSpans(Tables.documents(s, d), n = 5)),
    "dedup_remove_spans" -> ((s, d) =>
      Dedup.removeDuplicatedSpans(spread(Tables.documents(s, d)), n = 5)),
    "dedup_keep_best" -> ((s, d) =>
      Dedup.dedupKeepBest(Tables.documents(s, d), n = 3, threshold = 0.5)),
    "source_overlap" -> ((s, d) => Dedup.sourceOverlap(Tables.documents(s, d))),
    // exact line-level dedup over the lined fixture (see linedText):
    // string-keyed in the oracle, pinning the xxhash64 line fingerprints
    "dedup_lines" -> ((s, d) => Dedup.lineDedup(
      Tables.documents(s, d).select(col("doc_id"),
        linedText(col("doc_id"), col("text")).as("text")))),
    // URL-level dedup over a derived URL fixture that exercises every
    // canonicalization rule: mixed-case scheme (%2), userinfo (%11),
    // www (%3), default port (%4), trailing slash (%7), tracking params
    // + param ORDER (%5 ∈ {0,1} spell the same surviving 'a=1&b=2' two
    // ways), fragment (%6). Collision groups = (source, doc_id%25,
    // has-params) — the same page crawled under many spellings; keeper =
    // longest capture, ties to smallest doc_id. Oracle builds the same
    // URL and canonicalizes with the same anchored regexes.
    "dedup_url" -> ((s, d) => Dedup.urlDedup(
      Tables.documents(s, d).select(col("doc_id"), col("n_chars"),
        derivedUrl(col("doc_id"), col("source")).as("url")))),
    // per-domain quality rollup over the same derived-URL fixture: the
    // canonical domain is '<source>.example.com' (scheme/userinfo/www/port
    // variants all collapse), so there are exactly #sources domains; the
    // keep-rate aggregates the Gopher gate text_gopher_filter pins, and
    // the oracle recomputes every signal from scratch
    "domain_quality" -> ((s, d) => TextAnalysis.domainQuality(
      Tables.documents(s, d).select(col("doc_id"), col("text"),
        derivedUrl(col("doc_id"), col("source")).as("url")))),

    // --- north-star: similarity search ---
    "sim_topk_bruteforce" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      Similarity.bruteForceTopK(queries, emb.select("vec_id", "embedding"), k = 10)
    }),
    // cluster-capped diversity sampling with the first 8 vectors as
    // medoids (a bounded 8-row collect, the trainCentroids contract;
    // cluster index = medoid vec_id, so the oracle reproduces the
    // assignment as an exact-cosine argmax join)
    "sample_cluster_balance" -> ((s, d) => {
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val medoids = emb.filter(col("vec_id") < 8).orderBy("vec_id")
        .collect().map(_.getSeq[Float](1).toArray)
      Pipeline.clusterCapSample(emb, medoids, perCluster = 40)
    }),
    // hard-negative mining over the planted-copy corpus: each query's own
    // re-encode (vec_id+100000, cosine exactly 1) sits in the positive
    // band and MUST be excluded by the sim < 0.95 filter, while no cross
    // pair reaches 0.95 (measured max cross cosine ≤ 0.61 at sf ≤ 0.1) —
    // so the exclusion set is analytic and the oracle expresses it as
    // c.vec_id != q.vec_id + 100000; ranking parity over the remaining
    // pairs is the same exact-cosine row_number the bruteforce oracle pins
    "sim_hard_negatives" -> ((s, d) => {
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val copies = emb.select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      val queries = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      Similarity.hardNegatives(queries, emb.union(copies), k = 10, posThreshold = 0.95)
    }),
    "sim_topk_ivf" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      Similarity.ivfTopK(queries, emb.select("vec_id", "embedding"),
        k = 10, numCentroids = 16, nprobe = 4)
    }),
    // the PARTIAL-probe path hash-oracled (the trained variant above is
    // rows-only because kmeans isn't SQL): plant the first 16 vectors as
    // medoid centroids, so probe sets (top-4 by cosine), ×3 corpus
    // multi-assignment, the bucket-join candidate set, pair dedup, and
    // the final rank are ALL reconstructible in DuckDB
    "sim_topk_ivf_medoid" -> ((s, d) => {
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val medoids = emb.filter(col("vec_id") < 16).orderBy("vec_id")
        .collect().map(_.getSeq[Float](1).toArray)
      val queries = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      Similarity.ivfTopKWith(queries, emb, medoids, k = 10, nprobe = 4)
    }),
    // the INCREMENTAL index path, hash-oracled: the corpus arrives as two
    // append batches (vec_id parity) into a fresh batch-store index under
    // the same planted medoid centroids, then the probe unions committed
    // batches. Shared centroids make the unioned candidate set EXACTLY
    // the single-index candidate set, so the oracle is the same SQL as
    // sim_topk_ivf_medoid — pinning append + commit-protocol read + probe
    // end-to-end. The index is wiped and rebuilt per invocation so reps
    // measure the full append+probe cost (and Verify runs see a fresh
    // store, never a stale one).
    "sim_topk_ivf_incr" -> ((s, d) => {
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val medoids = emb.filter(col("vec_id") < 16).orderBy("vec_id")
        .collect().map(_.getSeq[Float](1).toArray)
      val queries = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      val path = s"${System.getProperty("java.io.tmpdir")}/graft-ivf-incr-${math.abs(d.hashCode)}"
      graft.sources.BatchStore.delete(s, Seq(path))
      Similarity.appendIvfIndex(s, emb.filter(col("vec_id") % 2 === 0), path, medoids)
      Similarity.appendIvfIndex(s, emb.filter(col("vec_id") % 2 === 1), path, medoids)
      Similarity.ivfTopKIncremental(s, queries, path, k = 10, nprobe = 4)
    }),
    // RETRACTION through the incremental-index protocol, hash-oracled in
    // BOTH phases via the medoid move: build the two-batch index of
    // sim_topk_ivf_incr, retract vec_id % 5 = 2 (tombstone batch), probe
    // (phase 1: the anti-join read path), compact (tombstones consumed,
    // absence made PHYSICAL), probe again (phase 2: nothing left to
    // anti-join). Both phases must equal the analytic probe over the
    // corpus minus the retracted set — a tombstoned vector that leaked
    // into either candidate set, or a compaction that dropped the wrong
    // rows, breaks the hash. Phase 1 is checkpointed before compaction
    // (its lazy plan reads the pre-compaction directories).
    "sim_topk_ivf_retract" -> ((s, d) => {
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val medoids = emb.filter(col("vec_id") < 16).orderBy("vec_id")
        .collect().map(_.getSeq[Float](1).toArray)
      val queries = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      val path = s"${System.getProperty("java.io.tmpdir")}/graft-ivf-retr-${math.abs(d.hashCode)}"
      graft.sources.BatchStore.delete(s, Seq(path))
      Similarity.appendIvfIndex(s, emb.filter(col("vec_id") % 2 === 0), path, medoids)
      Similarity.appendIvfIndex(s, emb.filter(col("vec_id") % 2 === 1), path, medoids)
      Similarity.retractVectors(s, path,
        emb.filter(col("vec_id") % 5 === 2).select("vec_id"))
      val before = Similarity.ivfTopKIncremental(s, queries, path, k = 10, nprobe = 4)
        .withColumn("phase", lit(1)).localCheckpoint(true)
      Similarity.compactIvfIndex(s, path)
      val after = Similarity.ivfTopKIncremental(s, queries, path, k = 10, nprobe = 4)
        .withColumn("phase", lit(2))
      before.union(after).select(col("phase"), col("query_id"), col("vec_id"), col("rank"))
    }),
    // RETRACTION through the incremental CORPUS store, hash-oracled in
    // both phases: ingest two batches of five-md5-token docs (distinct
    // content, a fixed point of normalization, so every doc is accepted
    // and the stored text is recomputable in SQL), retract doc_id % 5 = 2,
    // read the shards (phase 1: anti-join exclusion), compactStore
    // (physical drop across shards/fp/attrs, tombstones consumed), read
    // again (phase 2). Both phases must equal documents-minus-retracted
    // with the exact planted text.
    "store_retract" -> ((s, d) => {
      val text = concat_ws(" ", (0 until 5).map(i =>
        md5(concat(col("doc_id").cast("string"), lit(s"-st$i")).cast("binary"))): _*)
      val docs = Tables.documents(s, d).select(col("doc_id"), text.as("text"))
      val path = s"${System.getProperty("java.io.tmpdir")}/graft-store-retr-${math.abs(d.hashCode)}"
      graft.sources.BatchStore.delete(s, Seq(path))
      graft.apps.CorpusPrep.runIncremental(s,
        docs.filter(col("doc_id") % 2 === 0), path, minTokens = 1)
      graft.apps.CorpusPrep.runIncremental(s,
        docs.filter(col("doc_id") % 2 === 1), path, minTokens = 1)
      graft.apps.CorpusPrep.retract(s, path,
        docs.filter(col("doc_id") % 5 === 2).select("doc_id"))
      val before = graft.apps.CorpusPrep.readShards(s, path)
        .select(col("doc_id"), col("text")).withColumn("phase", lit(1))
        .localCheckpoint(true)
      graft.apps.CorpusPrep.compactStore(s, path)
      val after = graft.apps.CorpusPrep.readShards(s, path)
        .select(col("doc_id"), col("text")).withColumn("phase", lit(2))
      before.union(after).select(col("phase"), col("doc_id"), col("text"))
    }),
    // SIDECAR-PREDICATE takedown, hash-oracled both phases: text carries
    // 3 + doc_id%7 md5 tokens so the attributes sidecar's n_tokens is
    // analytic, and retractWhere's predicate spans the JOINED shard +
    // sidecar column space (n_tokens lives only in the sidecar, text
    // only in the shards) — "retract everything our classifier scored
    // X" with no extra scan. Phase 1 pins the logical exclusion (the
    // anti-join readers), phase 2 the physical drop after compaction.
    "store_retract_attrs" -> ((s, d) => {
      val toks = array((0 until 9).map(i =>
        md5(concat(col("doc_id").cast("string"), lit(s"-sa$i")).cast("binary"))): _*)
      val text = array_join(
        slice(toks, lit(1), (lit(3L) + col("doc_id") % 7).cast("int")), " ")
      val docs = Tables.documents(s, d).select(col("doc_id"), text.as("text"))
      val path = s"${System.getProperty("java.io.tmpdir")}/graft-store-rattr-${math.abs(d.hashCode)}"
      graft.sources.BatchStore.delete(s, Seq(path))
      graft.apps.CorpusPrep.runIncremental(s, docs, path, minTokens = 1)
      graft.apps.CorpusPrep.retractWhere(s, path,
        col("n_tokens") >= 7 && col("text").isNotNull)
      val before = graft.apps.CorpusPrep.readShards(s, path)
        .select(col("doc_id"), col("text")).withColumn("phase", lit(1))
        .localCheckpoint(true)
      graft.apps.CorpusPrep.compactStore(s, path)
      val after = graft.apps.CorpusPrep.readShards(s, path)
        .select(col("doc_id"), col("text")).withColumn("phase", lit(2))
      before.union(after).select(col("phase"), col("doc_id"), col("text"))
    }),
    // FILTERED ANN ("top-k among rows satisfying a predicate" — the
    // retrieval-under-constraint shape), hash-oracled via the medoid
    // move: same derivation as sim_topk_ivf_medoid with the corpus
    // restricted to vec_id % 3 = 0 BEFORE bucket assignment — the
    // scan-stage placement (a post-rank filter would starve top-k); the
    // oracle applies the identical restriction inside its corpus-assign
    // CTE
    "sim_topk_filtered" -> ((s, d) => {
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val medoids = emb.filter(col("vec_id") < 16).orderBy("vec_id")
        .collect().map(_.getSeq[Float](1).toArray)
      val queries = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      Similarity.ivfTopKFilteredWith(queries, emb, medoids,
        col("vec_id") % 3 === 0, k = 10, nprobe = 4)
    }),
    // the INDEXED + ADAPTIVE filtered path, hash-oracled by the all-short
    // move: the planted predicate (vec_id % 250 = 0) keeps fewer than k
    // survivors at every SF, so EVERY query comes up short in the narrow
    // probe and re-probes every bucket — the narrow probe, per-query
    // counts, widen decision, and union all execute, while the final
    // result is analytically EXACT search over the filtered corpus (wide
    // candidate sets contain narrow ones). Index rebuilt per invocation
    // (the sim_topk_ivf_incr stance). Mixed narrow/wide behavior is
    // pinned in OperatorsSpec; the scan-stage pushed-filter plan is
    // pinned there too.
    "sim_topk_filtered_idx" -> ((s, d) => {
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val medoids = emb.filter(col("vec_id") < 16).orderBy("vec_id")
        .collect().map(_.getSeq[Float](1).toArray)
      val queries = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      val path = s"${System.getProperty("java.io.tmpdir")}/graft-ivf-filter-${math.abs(d.hashCode)}"
      graft.sources.BatchStore.delete(s, Seq(path))
      Similarity.writeIvfIndex(emb, medoids, path)
      val out = Similarity.ivfTopKIndexedFiltered(s, queries, path, medoids,
        col("vec_id") % 250 === 0, k = 10, nprobe = 2)
      // the adaptive wrapper persists its narrow probe for its two
      // consumers (count + rank); the widen decision is already baked
      // into the plan as literals, so release now — the final consumer
      // just recomputes the probe once — rather than letting a harness
      // running 120+ queries accumulate cached relations
      graft.operators.Caches.release(s)
      out
    }),
    // full-probe trick: with nprobe = numCentroids every query probes
    // every bucket, so the IVF plumbing (train, assign, probe join,
    // dedup, rank) runs in full but the result is ANALYTICALLY equal to
    // brute force — which makes the whole IVF code path DuckDB-hash-
    // oracle-able (same move as the planted-re-encode LSH oracles). The
    // partial-probe entry above stays for the recall test.
    "sim_topk_ivf_full" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_embedding"))
      Similarity.ivfTopK(queries, emb.select("vec_id", "embedding"),
        k = 10, numCentroids = 16, nprobe = 16)
    }),
    // PQ ADC top-k over planted reconstructions (see pqPlantedVec): the
    // corpus IS its own PQ reconstruction, so asymmetric distance is
    // exact and the ADC ranking equals brute-force inner product — the
    // oracle computes that directly from the same integer formula. Query
    // vectors use a different code formula so they differ from every
    // corpus row. Raw-embedding recall stays pinned in OperatorsSpec.
    "sim_topk_pq" -> ((s, d) => {
      val ids = Tables.embeddings(s, d).select(col("vec_id"))
      val corpus = ids.select(col("vec_id"), pqPlantedVec(col("vec_id"), 7, 3, 0).as("embedding"))
      val queries = ids.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), pqPlantedVec(col("vec_id"), 11, 5, 1).as("q_embedding"))
      Similarity.pqTopK(queries, Similarity.pqEncode(corpus, PqDemoCodebooks),
        PqDemoCodebooks, k = 10)
    }),
    // the INCREMENTAL IVF-PQ index, hash-oracled by composing the two
    // planted-analytic moves: the planted-PQ corpus makes ADC an EXACT
    // integer inner product (so shortlist sim == refine sim and the final
    // top-k is analytic), and planted medoid centroids (the first 16
    // corpus reconstructions) make the probe/assign buckets pure SQL.
    // Two parity append batches share the quantizers, so the incremental
    // probe's unioned candidates equal a single-index build's — pinning
    // append + commit protocol + per-batch ADC + union + exact re-rank
    // end-to-end. Rebuilt per invocation (the sim_topk_ivf_incr stance).
    "sim_topk_ivfpq_incr" -> ((s, d) => {
      val ids = Tables.embeddings(s, d).select(col("vec_id"))
      val corpus = ids.select(col("vec_id"), pqPlantedVec(col("vec_id"), 7, 3, 0).as("embedding"))
      val queries = ids.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), pqPlantedVec(col("vec_id"), 11, 5, 1).as("q_embedding"))
      // driver-side mirror of pqPlantedVec(id, 7, 3, 0) for id < 16
      val medoids = Array.tabulate(16, 64) { (id, i) =>
        val sub = i >> 3; val j = i & 7
        val c = (id * 7 + sub * 3) % 16
        (((sub * 3 + c * 5 + j * 7) % 17) - 8).toFloat
      }
      val path = s"${System.getProperty("java.io.tmpdir")}/graft-ivfpq-incr-${math.abs(d.hashCode)}"
      graft.sources.BatchStore.delete(s, Seq(path))
      Similarity.appendIvfPqIndex(s, corpus.filter(col("vec_id") % 2 === 0),
        path, medoids, PqDemoCodebooks)
      Similarity.appendIvfPqIndex(s, corpus.filter(col("vec_id") % 2 === 1),
        path, medoids, PqDemoCodebooks)
      Similarity.ivfPqTopKIncremental(s, queries, path, corpus, k = 10, nprobe = 4)
    }),

    // --- north-star: multimodal ---
    // opaque binary payloads (magic-prefixed per doc_id) + typed metadata:
    // the media-column ingest projection of a training pipeline
    "multimodal_meta" -> ((s, d) => {
      val bin = multimodalBinary(col("doc_id"), col("text"))
      // dims struct behind a projection boundary (same codegen-size
      // rationale as multimodal_audio)
      Tables.documents(s, d)
        .select(col("doc_id"),
          length(bin).cast("bigint").as("n_bytes"),
          Multimodal.contentHash(bin).as("content_md5"),
          Multimodal.modality(bin).as("modality"),
          Multimodal.imageDims(bin).as("dm"))
        .select(col("doc_id"), col("n_bytes"), col("content_md5"), col("modality"),
          col("dm.width").as("width"), col("dm.height").as("height"))
    }),

    // audio sibling of multimodal_meta: the doc_id%4==2 rows carry REAL
    // canonical PCM WAV headers (geometry derived from doc_id, samples =
    // text bytes); the engine-side parser decodes the little-endian
    // fields, the oracle re-extracts them from the same blob by hex
    // slicing — both sides implement the layout independently
    "multimodal_audio" -> ((s, d) => {
      val wav = concat(
        Multimodal.wavHeader(
          (col("doc_id") % 2 + 1).cast("bigint"),
          (lit(8000L) + (col("doc_id") % 8) * 1000L).cast("bigint"),
          lit(16L),
          length(col("text")).cast("bigint")),
        col("text").cast("binary"))
      // struct computed ONCE behind a projection boundary: CollapseProject
      // keeps the producer separate because `m` is referenced five times
      // and inlining would quintuple the (large) parse tree in codegen
      Tables.documents(s, d)
        .filter(col("doc_id") % 4 === 2)
        .select(col("doc_id"), Multimodal.wavMeta(wav).as("m"))
        .select(col("doc_id"),
          col("m.n_channels").as("n_channels"),
          col("m.sample_rate").as("sample_rate"),
          col("m.bits_per_sample").as("bits_per_sample"),
          col("m.data_bytes").as("data_bytes"),
          col("m.duration_ms").as("duration_ms"))
    }),

    // decode→aggregate composition over the same WAV fixture: per
    // (source, sample_rate) clip inventory. The oracle computes the
    // fields analytically from the fixture formula — byte-level decode
    // parity is already pinned by multimodal_audio's blob-slicing oracle.
    "multimodal_report" -> ((s, d) => {
      val wav = concat(
        Multimodal.wavHeader(
          (col("doc_id") % 2 + 1).cast("bigint"),
          (lit(8000L) + (col("doc_id") % 8) * 1000L).cast("bigint"),
          lit(16L),
          length(col("text")).cast("bigint")),
        col("text").cast("binary"))
      Multimodal.audioReport(
        Tables.documents(s, d)
          .filter(col("doc_id") % 4 === 2)
          .select(col("source"), wav.as("wav")))
    }),

    // per-(source, modality) media census over the planted container mix
    // — group keys and counters shuffle, payload bytes never move; the
    // oracle re-derives each row's modality analytically from the doc_id
    // routing the fixture plants, so the sniff must agree with the
    // construction on every row for the rollup to hash-match
    "multimodal_inventory" -> ((s, d) =>
      Multimodal.mediaInventory(Tables.documents(s, d)
        .select(col("source"), multimodalBinary(col("doc_id"), col("text")).as("media")))),

    // video sibling of multimodal_audio: doc_id%4==3 rows carry REAL
    // ISO-BMFF ftyp+moov/mvhd prefixes (movie geometry derived from
    // doc_id, payload = text bytes); the engine walks the boxes and
    // decodes the big-endian mvhd fields, the oracle recomputes the
    // planted values analytically — the builder's byte layout is
    // independently pinned against hand-computed hex in MultimodalSpec,
    // so builder and parser cannot share a compensating offset bug
    "multimodal_video" -> ((s, d) => {
      val mp4 = concat(
        Multimodal.mp4Header(
          (lit(600L) + (col("doc_id") % 10) * 100L).cast("bigint"),
          ((col("doc_id") % 50 + 1) * 600L).cast("bigint")),
        col("text").cast("binary"))
      Multimodal.withMp4Meta(
        Tables.documents(s, d).filter(col("doc_id") % 4 === 3), mp4, "m")
        .select(col("doc_id"),
          col("m.major_brand").as("major_brand"),
          col("m.version").as("version"),
          col("m.timescale").as("timescale"),
          col("m.duration").as("duration"),
          col("m.duration_ms").as("duration_ms"))
    }),

    // the video pipeline composed: header decode → frame-sample plan
    // (one frame every 500 ms of decoded duration) — the per-position
    // pixel grab stays codec work (decodePartitions), but the PLAN a
    // 100 TB video pipeline fans out over is this relation
    "multimodal_frames" -> ((s, d) => {
      val mp4 = concat(
        Multimodal.mp4Header(
          (lit(600L) + (col("doc_id") % 10) * 100L).cast("bigint"),
          ((col("doc_id") % 50 + 1) * 600L).cast("bigint")),
        col("text").cast("binary"))
      Multimodal.withMp4Meta(
        Tables.documents(s, d).filter(col("doc_id") % 4 === 3), mp4, "m")
        .select(col("doc_id"),
          posexplode(Multimodal.framePositionsMs(col("m.duration_ms"), 500L))
            .as(Seq("frame_idx", "pos_ms")))
        .select(col("doc_id"), col("frame_idx").cast("bigint").as("frame_idx"),
          col("pos_ms"))
    }),

    // perceptual image hash over the planted 9×8 bitmaps (identity
    // resize ⇒ the oracle recomputes the hash analytically; the REAL
    // block-average path for larger bitmaps is pinned by the
    // upscale-invariance test in MultimodalSpec). Emitted as the 16-char
    // two's-complement hex so the sign bit never meets SQL arithmetic.
    "multimodal_dhash" -> ((s, d) =>
      spread(Tables.documents(s, d)).select(col("doc_id"),
        lpad(hex(Multimodal.dHash(plantedBitmap(col("doc_id")), 9, 8)), 16, "0")
          .as("dhash_hex"))),
    // image near-dup: re-keyed copies share bitmaps bit-for-bit (hamming
    // 0, every band equal ⇒ paired with probability 1); distinct docs'
    // dhash bits are iid fair coins (md5 bytes), so P[hamming ≤ 2] ≈
    // 2.1e3/2⁻⁶⁴ per cross pair — zero expected collisions at any tested
    // sf, making the pair set analytic
    "dedup_image" -> ((s, d) =>
      rekeyedCopyPairs(spread(Tables.documents(s, d)),
        Multimodal.imageNearDupSig(plantedBitmap(col("doc_id")), 9, 8))),
    // REAL PNG pixel decode, hash-oracled: the planted 9×8 bitmap is
    // encoded into a GENUINE PNG (signature/IHDR/IDAT/IEND, chunk CRCs,
    // zlib Adler) with STORED deflate blocks + filter 0, then decoded
    // back through the real chunk-walk → Inflater → unfilter path.
    // Two independent pins per doc: `px_hex` (the decoder's output must
    // equal the analytic plant) and `blob_px_hex` (the same pixels sliced
    // STRAIGHT out of the blob at the PNG+zlib spec offsets — sig 8 +
    // IHDR 25 + IDAT hdr 8 + zlib hdr 2 = 43, then per row 5 stored-block
    // header bytes + 1 filter byte before its 9 pixels — proving the
    // encoder wrote a spec-layout PNG rather than sharing a compensating
    // offset bug with the decoder). Full-deflate + all-filter decode is
    // pinned by dedup_image_png and the MultimodalSpec round-trip.
    "multimodal_decode" -> ((s, d) =>
      spread(Tables.documents(s, d))
        .select(col("doc_id"),
          Multimodal.pngEncodeGray8(plantedBitmap(col("doc_id")), lit(9),
            filterMode = 0, stored = true).as("png"))
        .select(
          col("doc_id"),
          hex(Multimodal.pngDecodeGray8(col("png"))).as("px_hex"),
          concat((0 until 8).map(r =>
            hex(col("png").substr(lit(50 + 15 * r), lit(9)))): _*).as("blob_px_hex"))),
    // image near-dup on REAL PNG bytes end-to-end (decode → dHash →
    // Hamming-LSH): per-scanline filters cycle 0..4 (filterMode -1) and
    // the zlib stream is REAL deflate, so the full inflate + all-filter
    // unfilter path sits inside the oracled query; re-keyed copies share
    // blobs bit-for-bit → exactly one hamming-0 pair per doc (same
    // analytic pair set as dedup_image)
    "dedup_image_png" -> ((s, d) =>
      rekeyedCopyPairs(Tables.documents(s, d),
        Multimodal.imageNearDupSig(Multimodal.pngDecodeLuma(
          Multimodal.pngEncodeGray8(plantedBitmap(col("doc_id")), lit(9),
            filterMode = -1, stored = false)), 9, 8))),
    // REAL COLOR PNG pixel decode, hash-oracled (the stored-block move,
    // truecolor edition): the planted 9×8 RGB bitmap is encoded into a
    // GENUINE color-type-2 PNG (stored deflate + filter 0), then decoded
    // through the real chunk-walk → Inflater → bpp-aware unfilter →
    // exact-integer ITU-R 601 luma path. Two independent pins per doc:
    // `px_hex` (the decoder's luma must equal the oracle's OWN luma
    // recomputation from the planted channel bytes — the formula lives in
    // BOTH engines) and `blob_rgb_hex` (the interleaved RGB bytes sliced
    // straight out of the blob at the PNG+zlib spec offsets — 43-byte
    // header, then per row 5 stored-block bytes + 1 filter byte before
    // its 27 channel bytes — proving the encoder wrote a spec-layout
    // truecolor PNG rather than sharing a compensating bug with the
    // decoder). RGBA + all-filter + real-deflate decode is pinned by
    // dedup_image_png_color and the MultimodalSpec round-trips.
    "multimodal_decode_png_color" -> ((s, d) =>
      spread(Tables.documents(s, d))
        .select(col("doc_id"),
          Multimodal.pngEncodeRgb(plantedRgbBitmap(col("doc_id")), lit(9),
            filterMode = 0, stored = true).as("png"))
        .select(
          col("doc_id"),
          hex(Multimodal.pngDecodeLuma(col("png"))).as("px_hex"),
          concat((0 until 8).map(r =>
            hex(col("png").substr(lit(50 + 33 * r), lit(27)))): _*).as("blob_rgb_hex"))),
    // REAL PALETTE PNG pixel decode, hash-oracled: the planted 9×8 bytes
    // become palette INDICES into the fixture's ANALYTIC 256-entry PLTE
    // (entry i = (i, 255−i, (7·i) mod 256)), so the oracle recomputes the
    // expected luma in closed form: luma601(i, 255−i, (7·i) mod 256) —
    // the PLTE lookup is load-bearing, not an identity. Decoded twice:
    // plain + tRNS (px_hex — alpha must not alter luma) and
    // Adam7-INTERLACED (px_hex_i — the 7-pass deinterlace sits inside the
    // oracled query), filters cycling 0..4 in both. Third independent
    // pin: blob_plte_hex slices the 768 palette bytes straight out of the
    // blob at the fixed spec offset (sig 8 + IHDR 25 + chunk hdr 8 = 41)
    // and must equal the formula — proving the encoder wrote a spec-
    // layout PLTE rather than sharing a compensating bug with the decoder
    "multimodal_decode_png_palette" -> ((s, d) =>
      spread(Tables.documents(s, d))
        .select(col("doc_id"),
          Multimodal.pngEncodePal8(plantedBitmap(col("doc_id")), lit(9),
            trns = true, filterMode = -1).as("png"),
          Multimodal.pngEncodePal8(plantedBitmap(col("doc_id")), lit(9),
            interlace = true, filterMode = -1).as("png_i"))
        .select(col("doc_id"),
          hex(Multimodal.pngDecodeLuma(col("png"))).as("px_hex"),
          hex(Multimodal.pngDecodeLuma(col("png_i"))).as("px_hex_i"),
          hex(col("png").substr(lit(42), lit(768))).as("blob_plte_hex"))),
    // the remaining PNG depth matrix, hash-oracled: REAL 1/2/4-bit
    // (MSB-packed, §12 sample scaling v·255/(2^d−1)), 16-bit (planted
    // nonzero low byte proves the reduction keeps the HIGH byte), and
    // gray+alpha at depths 8 and 16 (planted nonzero alpha proves luma
    // ignores it) — filterMode −1 cycles all five filters over the
    // packed rows, so sub-byte and two/four-byte filter strides sit
    // inside the oracled decode
    "multimodal_decode_png_depths" -> ((s, d) => {
      def reduced(dep: Int) = unhex(concat((0 until 72).map(i =>
        lpad(conv((conv(substring(md5(concat(col("doc_id").cast("string"),
          lit(s"-$i")).cast("binary")), 1, 2), 16, 10).cast("int")
          % (1 << dep)).cast("string"), 10, 16), 2, "0")): _*))
      val plant = plantedBitmap(col("doc_id"))
      spread(Tables.documents(s, d))
        .select(col("doc_id"),
          Multimodal.pngEncodeGrayDeep(reduced(1), lit(9), 1,
            filterMode = -1).as("p1"),
          Multimodal.pngEncodeGrayDeep(reduced(2), lit(9), 2,
            filterMode = -1).as("p2"),
          Multimodal.pngEncodeGrayDeep(reduced(4), lit(9), 4,
            filterMode = -1).as("p4"),
          Multimodal.pngEncodeGrayDeep(plant, lit(9), 16,
            filterMode = -1).as("p16"),
          Multimodal.pngEncodeGrayDeep(plant, lit(9), 8, grayAlpha = true,
            filterMode = -1).as("pga"),
          Multimodal.pngEncodeGrayDeep(plant, lit(9), 16, grayAlpha = true,
            filterMode = -1).as("pga16"))
        .select(col("doc_id"),
          hex(Multimodal.pngDecodeLuma(col("p1"))).as("px_hex_d1"),
          hex(Multimodal.pngDecodeLuma(col("p2"))).as("px_hex_d2"),
          hex(Multimodal.pngDecodeLuma(col("p4"))).as("px_hex_d4"),
          hex(Multimodal.pngDecodeLuma(col("p16"))).as("px_hex_d16"),
          hex(Multimodal.pngDecodeLuma(col("pga"))).as("px_hex_ga"),
          hex(Multimodal.pngDecodeLuma(col("pga16"))).as("px_hex_ga16"))
    }),
    // image near-dup on REAL PALETTE PNG bytes end-to-end (PLTE expand →
    // luma → dHash → Hamming-LSH): even docs plain, odd docs Adam7-
    // interlaced + tRNS, so both stream layouts ride the near-dup path;
    // re-keyed copies share blobs bit-for-bit → exactly one hamming-0
    // pair per doc (the dedup_image analytic pair set — palette luma of
    // iid index bytes stays ~iid across docs)
    "dedup_image_png_palette" -> ((s, d) => {
      val png = when(col("doc_id") % 2 === 0,
        Multimodal.pngEncodePal8(plantedBitmap(col("doc_id")), lit(9),
          filterMode = -1))
        .otherwise(Multimodal.pngEncodePal8(plantedBitmap(col("doc_id")), lit(9),
          interlace = true, trns = true, filterMode = -1))
      rekeyedCopyPairs(spread(Tables.documents(s, d)),
        Multimodal.imageNearDupSig(Multimodal.pngDecodeLuma(png), 9, 8))
    }),
    // REAL WebP (VP8L lossless) pixel decode, hash-oracled: planted RGB
    // channel bytes → the fixture's spec-valid literal-only VP8L stream →
    // the FULL decoder (container walk, prefix-code headers, canonical
    // code reads) → exact-integer luma the oracle recomputes from the
    // same md5 plants (the PNG-color luma formula, WebP edition); the
    // transform/LZ77/cache/meta paths the literal fixture cannot reach
    // are pinned by hand-built spec streams in MultimodalSpec
    "multimodal_decode_webp" -> ((s, d) =>
      spread(Tables.documents(s, d))
        .select(col("doc_id"),
          Multimodal.webpEncodeVp8l(plantedRgbBitmap(col("doc_id")), lit(9)).as("webp"))
        .select(col("doc_id"),
          hex(Multimodal.webpDecodeLuma(col("webp"))).as("px_hex"))),
    // REAL LOSSY WebP (VP8 keyframe) pixel decode, hash-oracled: planted
    // per-MB-constant 48×40 bitmaps → the fixture's spec-conformant
    // DC-only VP8 keyframe → the FULL RFC 6386 decoder (boolean decoder,
    // header, kf mode trees, token decode, IWHT/IDCT, prediction; filter
    // level 0 in the fixture) → luma the oracle recomputes from the same
    // md5 plants. Segmentation, prob updates, B_PRED, both loop filters
    // and real-encoder streams are pinned by the libwebp goldens in
    // MultimodalSpec (Vp8Vectors — a lossy coding's paths a DC fixture
    // cannot reach)
    "multimodal_decode_vp8" -> ((s, d) =>
      spread(Tables.documents(s, d))
        .select(col("doc_id"),
          Multimodal.webpEncodeVp8(plantedMbBitmap(col("doc_id")), lit(48)).as("webp"))
        .select(col("doc_id"),
          hex(Multimodal.webpDecodeLuma(col("webp"))).as("px_hex"))),
    // exact dedup over DECODED lossy-VP8 pixels: the base doc is encoded
    // with ONE token partition, its copy with TWO — byte-DIFFERENT WebP
    // files that decode to identical luma, so the pair exists only
    // through real decoding (a pure byte-hash dedup finds nothing here),
    // and the multi-partition reader sits inside the oracled path. One
    // digest shuffle + an equi-join on digest; id-sized output. The
    // per-MB md5 plants (72 iid bits/doc) make cross-doc digest
    // collisions impossible at any realistic corpus size
    "dedup_image_vp8" -> ((s, d) => {
      def digested(nparts: Int, shift: Long) = spread(Tables.documents(s, d))
        .select((col("doc_id") + lit(shift)).as("id"),
          sha2(Multimodal.webpDecodeLuma(
            Multimodal.webpEncodeVp8(plantedMbBitmap(col("doc_id")), lit(48),
              nparts = nparts)), 256).as("digest"))
      val a = digested(nparts = 1, shift = 0L)
      val b = digested(nparts = 2, shift = 100000L)
      a.join(b, "digest")
        .select(a("id").as("id_a"), b("id").as("id_b"))
    }),
    // image near-dup on REAL WebP bytes end-to-end (VP8L RGBA decode →
    // luma → dHash → Hamming-LSH): the dedup_image_png_color argument on
    // the last major crawl image format — re-keyed copies share blobs
    // bit-for-bit → exactly one hamming-0 pair per doc, alpha ignored
    "dedup_image_webp" -> ((s, d) =>
      rekeyedCopyPairs(Tables.documents(s, d),
        Multimodal.imageNearDupSig(Multimodal.webpDecodeLuma(
          Multimodal.webpEncodeVp8l(plantedRgbBitmap(col("doc_id"), alpha = true),
            lit(9), alpha = true)), 9, 8))),
    // image near-dup on REAL TRUECOLOR PNG bytes end-to-end (RGBA decode →
    // luma → dHash → Hamming-LSH): color type 6 with a planted alpha
    // channel (ignored by luma — pinned here, because a decoder that read
    // alpha as a color channel would shift every luma byte), per-scanline
    // filters cycling 0..4 and REAL deflate, so the full color inflate +
    // bpp-aware unfilter path sits inside the oracled query; re-keyed
    // copies share blobs bit-for-bit → exactly one hamming-0 pair per doc
    "dedup_image_png_color" -> ((s, d) =>
      rekeyedCopyPairs(Tables.documents(s, d),
        Multimodal.imageNearDupSig(Multimodal.pngDecodeLuma(
          Multimodal.pngEncodeRgb(plantedRgbBitmap(col("doc_id"), alpha = true), lit(9),
            filterMode = -1, stored = false, alpha = true)), 9, 8))),
    // decode-drop observability over PLANTED corrupt classes: nine payload
    // classes by doc_id — a valid truecolor PNG (must contribute NO row),
    // junk bytes (bad_magic), a mid-stream-cut PNG (corrupt — header
    // completes, decode fails), a gray+alpha-flagged PNG
    // (unsupported_profile — profile fields are read before CRC, as a
    // cheap classifier must; was palette-flagged until palette decode
    // landed — type 4 is the remaining out-of-contract color type),
    // a bomb-width PNG (bomb_guard), an 8-bit WAV header
    // (unsupported_profile under audio/wav), a VALID MJPEG MP4 (must
    // contribute NO row — the classifier runs the same sample-table walk
    // the near-dup tier decodes through, so a clip videoNearDup pairs can
    // never be counted dropped), an MP4 truncated before moov (corrupt
    // under video/mp4), a structurally-valid MP4 whose stsd carries
    // 'avc1' (unsupported_profile — recognized container, another codec),
    // a VALID lossless WebP (NO row — the classifier decodes VP8L for
    // real now), an inter-frame VP8 WebP (unsupported_profile — lossy
    // KEYFRAMES decode since r15; no still carries an inter frame),
    // and a VP8L chunk cut mid-header (corrupt under image/webp).
    // Three planted sources prove the group keys; the oracle recomputes
    // every counter from the class arithmetic alone
    // REAL GIF first-frame pixel decode, hash-oracled: the planted 9×8
    // gray bitmap → the fixture's spec-valid GIF89a (256-gray global
    // palette, GCE extension in the walk path, 9-bit literal LZW) → the
    // FULL decoder (block walk, LZW, palette, luma) — twice: plain, and
    // interlaced+local-palette (px_hex_i), so the 4-pass reorder and the
    // LCT path sit inside the oracled query. Two independent pins:
    // px_hex must equal the analytic plant (the gray palette makes
    // decode∘encode the identity), and blob_hdr_hex is the magic+LSD
    // sliced straight off the blob at the spec offsets (proving the
    // encoder writes a spec-layout header rather than sharing a
    // compensating bug with the decoder); width/height come through the
    // declarative gifDims parser. LZW dictionary growth, KwKwK, width
    // growth, and animation-first-frame are pinned by hand-assembled
    // spec vectors in MultimodalSpec (the literal fixture can't reach
    // them, same stance as the VP8L vectors).
    "multimodal_decode_gif" -> ((s, d) =>
      spread(Tables.documents(s, d))
        .select(col("doc_id"),
          Multimodal.gifEncodeGray8(plantedBitmap(col("doc_id")), lit(9)).as("gif"),
          Multimodal.gifEncodeGray8(plantedBitmap(col("doc_id")), lit(9),
            interlace = true, localPalette = true).as("gif_i"))
        .select(col("doc_id"),
          hex(Multimodal.gifDecodeLuma(col("gif"))).as("px_hex"),
          hex(Multimodal.gifDecodeLuma(col("gif_i"))).as("px_hex_i"),
          hex(substring(col("gif"), 1, 13)).as("blob_hdr_hex"),
          Multimodal.gifDims(col("gif")).getField("width").as("width"),
          Multimodal.gifDims(col("gif")).getField("height").as("height"))),
    // image near-dup on REAL GIF bytes end-to-end (block walk → LZW →
    // palette → luma → dHash → Hamming-LSH), INTERLACED so the pass
    // reorder sits inside the banded-LSH query: re-keyed copies share
    // blobs bit-for-bit → exactly one hamming-0 pair per doc; iid planted
    // bytes keep cross pairs outside hamming 2 (the dedup_image argument)
    "dedup_image_gif" -> ((s, d) =>
      rekeyedCopyPairs(Tables.documents(s, d),
        Multimodal.imageNearDupSig(Multimodal.gifDecodeLuma(
          Multimodal.gifEncodeGray8(plantedBitmap(col("doc_id")), lit(9),
            interlace = true)), 9, 8))),
    // REAL BMP pixel decode, hash-oracled: the planted 9×8 gray bitmap →
    // the fixture's 8-bit BI_RGB BMP (256-gray palette, bottom-up rows
    // with the spec's 4-byte padding: 9-px rows pad to 12) → the full
    // header walk + palette + padded-row decode — twice: bottom-up, and
    // the negative-height top-down variant (px_hex_td), so BOTH row
    // orders sit inside the oracled query. blob_hdr_hex pins the 54-byte
    // file+info header straight off the blob at the spec layout;
    // width/height come through the declarative bmpDims parser (which
    // must report the top-down height's magnitude).
    "multimodal_decode_bmp" -> ((s, d) => {
      def vv(i: Int) = jpegBlockVal(col("doc_id"), "bj", i)
      val jbitmap = unhex(concat(
        repeat(concat(repeat(hex2(vv(0)), 8), repeat(hex2(vv(1)), 4)), 8),
        repeat(concat(repeat(hex2(vv(2)), 8), repeat(hex2(vv(3)), 4)), 2)))
      spread(Tables.documents(s, d))
        .select(col("doc_id"),
          Multimodal.bmpEncodeGray8(plantedBitmap(col("doc_id")), lit(9)).as("bmp"),
          Multimodal.bmpEncodeGray8(plantedBitmap(col("doc_id")), lit(9),
            topDown = true).as("bmp_td"),
          Multimodal.bmpEncodeGray8(plantedBitmap(col("doc_id")), lit(9),
            rle = true).as("bmp_rle"),
          // r14 depth/mask tiers: 16-bit BI_RGB 555, BI_BITFIELDS 565,
          // 32-bit BITFIELDS with NON-BGR masks (a decoder ignoring the
          // masks cannot pass), and the 2-bit WinCE palette
          Multimodal.bmpEncodeDeep(plantedBitmap(col("doc_id")), lit(9),
            "rgb555").as("bmp_555"),
          Multimodal.bmpEncodeDeep(plantedBitmap(col("doc_id")), lit(9),
            "bf565").as("bmp_565"),
          Multimodal.bmpEncodeDeep(plantedBitmap(col("doc_id")), lit(9),
            "bf8888").as("bmp_bf32"),
          Multimodal.bmpEncodeDeep(plantedBitmap(col("doc_id")), lit(9),
            "pal2").as("bmp_pal2"),
          // embedded streams: BI_JPEG around the DC plant, BI_PNG
          // around the stored-PNG identity fixture
          Multimodal.bmpEncodeStream(
            Multimodal.jpegEncodeGray8Dc(jbitmap, lit(12)), png = false).as("bmp_jpg"),
          Multimodal.bmpEncodeStream(
            Multimodal.pngEncodeGray8(plantedBitmap(col("doc_id")), lit(9),
              filterMode = 0, stored = true), png = true).as("bmp_png"),
          // r15: the OS/2 V2 truncated-header family (16-byte header,
          // no compression/clrUsed fields, 4-byte palette entries)
          Multimodal.bmpEncodeGray8(plantedBitmap(col("doc_id")), lit(9),
            os2 = true).as("bmp_os2"))
        .select(col("doc_id"),
          hex(Multimodal.bmpDecodeLuma(col("bmp"))).as("px_hex"),
          hex(Multimodal.bmpDecodeLuma(col("bmp_td"))).as("px_hex_td"),
          // real BI_RLE8 (encoded runs + absolute packets + EOL/EOB)
          // through the run-length decoder
          hex(Multimodal.bmpDecodeLuma(col("bmp_rle"))).as("px_hex_rle"),
          hex(Multimodal.bmpDecodeLuma(col("bmp_555"))).as("px_hex_555"),
          hex(Multimodal.bmpDecodeLuma(col("bmp_565"))).as("px_hex_565"),
          hex(Multimodal.bmpDecodeLuma(col("bmp_bf32"))).as("px_hex_bf32"),
          hex(Multimodal.bmpDecodeLuma(col("bmp_pal2"))).as("px_hex_pal2"),
          // embedded BI_JPEG/BI_PNG through the pipeline's own cores
          hex(Multimodal.bmpDecodeLuma(col("bmp_jpg"))).as("px_hex_jpg"),
          hex(Multimodal.bmpDecodeLuma(col("bmp_png"))).as("px_hex_png"),
          hex(Multimodal.bmpDecodeLuma(col("bmp_os2"))).as("px_hex_os2"),
          hex(substring(col("bmp"), 1, 54)).as("blob_hdr_hex"),
          Multimodal.bmpDims(col("bmp_td")).getField("width").as("width"),
          Multimodal.bmpDims(col("bmp_td")).getField("height").as("height"))
    }),
    // image near-dup on REAL BMP bytes end-to-end (header walk → palette
    // → padded bottom-up rows → luma → dHash → Hamming-LSH): re-keyed
    // copies share blobs bit-for-bit → exactly one hamming-0 pair per doc
    "dedup_image_bmp" -> ((s, d) =>
      rekeyedCopyPairs(spread(Tables.documents(s, d)),
        Multimodal.imageNearDupSig(Multimodal.bmpDecodeLuma(
          Multimodal.bmpEncodeGray8(plantedBitmap(col("doc_id")), lit(9))), 9, 8))),
    // REAL baseline-TIFF pixel decode, hash-oracled: the planted 9×8
    // gray bitmap → the fixture's single-strip BlackIsZero TIFF — in
    // BOTH byte orders (px_hex little-endian II, px_hex_be big-endian
    // MM), so the IFD walk's two int decoders sit inside the oracled
    // query. Two independent pins: blob_hdr_hex is the 122-byte
    // header+IFD sliced off the blob at the spec layout (magic, IFD
    // offset 8, nine entries, strip offset 0x7A), and blob_px_hex is the
    // pixel strip sliced at that offset — which must equal what the
    // decoder returns, proving the encoder wrote spec-layout TIFF rather
    // than sharing a compensating offset bug with the decoder.
    "multimodal_decode_tiff" -> ((s, d) =>
      spread(Tables.documents(s, d))
        .select(col("doc_id"),
          Multimodal.tiffEncodeGray8(plantedBitmap(col("doc_id")), lit(9)).as("tiff"),
          Multimodal.tiffEncodeGray8(plantedBitmap(col("doc_id")), lit(9),
            bigEndian = true).as("tiff_be"),
          Multimodal.tiffEncodeGray8(plantedBitmap(col("doc_id")), lit(9),
            packBits = true).as("tiff_pb"),
          Multimodal.tiffEncodeGray8(plantedBitmap(col("doc_id")), lit(9),
            lzw = true, predictor = true).as("tiff_lzw"),
          Multimodal.tiffEncodeGray8(plantedBitmap(col("doc_id")), lit(9),
            deflate = true).as("tiff_zip"),
          Multimodal.tiffEncodeDeep(plantedBitmap(col("doc_id")), lit(9),
            mode = "pal8").as("tiff_pal"),
          Multimodal.tiffEncodeDeep(plantedBitmap(col("doc_id")), lit(9),
            bigEndian = true, mode = "gray16").as("tiff_16"),
          Multimodal.tiffEncodeDeep(plantedBitmap(col("doc_id")), lit(9),
            mode = "tiles8").as("tiff_tile"),
          // r14: sub-byte gray/palette and ExtraSamples RGBA
          Multimodal.tiffEncodeDeep(plantedBitmap(col("doc_id")), lit(9),
            mode = "gray4").as("tiff_g4b"),
          Multimodal.tiffEncodeDeep(plantedBitmap(col("doc_id")), lit(9),
            bigEndian = true, mode = "pal4").as("tiff_p4"),
          Multimodal.tiffEncodeDeep(plantedRgbBitmap(col("doc_id"), alpha = true),
            lit(9), mode = "rgba8").as("tiff_rgba"),
          // r15: 8-bit CMYK (photometric 5) — the 4 planted md5 bytes
          // read as C,M,Y,K ink values, §24 undercolor conversion
          Multimodal.tiffEncodeDeep(plantedRgbBitmap(col("doc_id"), alpha = true),
            lit(9), bigEndian = true, mode = "cmyk8").as("tiff_cmyk"))
        .select(col("doc_id"),
          hex(Multimodal.tiffDecodeLuma(col("tiff"))).as("px_hex"),
          hex(Multimodal.tiffDecodeLuma(col("tiff_be"))).as("px_hex_be"),
          // PackBits (real §9 row packing) through the decompressor
          hex(Multimodal.tiffDecodeLuma(col("tiff_pb"))).as("px_hex_pb"),
          // §13 MSB-first LZW UNDER the §14 horizontal-differencing
          // predictor (real code stream, real integrator), and zlib
          // Deflate — all three decompressors inside the oracled query
          hex(Multimodal.tiffDecodeLuma(col("tiff_lzw"))).as("px_hex_lzw"),
          hex(Multimodal.tiffDecodeLuma(col("tiff_zip"))).as("px_hex_zip"),
          // palette-color (ColorMap lookup — the PNG palette closed
          // form) and big-endian 16-bit (high-byte reduction)
          hex(Multimodal.tiffDecodeLuma(col("tiff_pal"))).as("px_hex_pal"),
          hex(Multimodal.tiffDecodeLuma(col("tiff_16"))).as("px_hex_16"),
          // §15 TILE addressing (single zero-padded edge tile here; the
          // multi-tile grid is pinned in the spec suite)
          hex(Multimodal.tiffDecodeLuma(col("tiff_tile"))).as("px_hex_tile"),
          // 4-bit gray (·17 scaling), 4-bit palette (big-endian, the
          // stretched closed form), and RGBA with the alpha skipped
          hex(Multimodal.tiffDecodeLuma(col("tiff_g4b"))).as("px_hex_gray4"),
          hex(Multimodal.tiffDecodeLuma(col("tiff_p4"))).as("px_hex_pal4"),
          hex(Multimodal.tiffDecodeLuma(col("tiff_rgba"))).as("px_hex_rgba"),
          // CMYK through the §24 undercolor conversion, big-endian
          hex(Multimodal.tiffDecodeLuma(col("tiff_cmyk"))).as("px_hex_cmyk"),
          hex(substring(col("tiff"), 1, 122)).as("blob_hdr_hex"),
          hex(substring(col("tiff"), 123, 72)).as("blob_px_hex"))),
    // image near-dup on REAL TIFF bytes end-to-end (IFD walk → strip →
    // luma → dHash → Hamming-LSH), big-endian so the MM path sits inside
    // the banded-LSH query: re-keyed copies share blobs bit-for-bit →
    // exactly one hamming-0 pair per doc
    "dedup_image_tiff" -> ((s, d) =>
      rekeyedCopyPairs(Tables.documents(s, d),
        Multimodal.imageNearDupSig(Multimodal.tiffDecodeLuma(
          Multimodal.tiffEncodeGray8(plantedBitmap(col("doc_id")), lit(9),
            bigEndian = true)), 9, 8))),
    // REAL CCITT bilevel decode, hash-oracled: the planted 9×8 gray
    // bitmap THRESHOLDED at 128 (the fixture contract: v < 128 = black
    // ink) → a real Compression-4 WhiteIsZero TIFF — both byte orders,
    // a 3-rows-per-strip layout whose strips are independent MMR
    // streams, AND the §10 Compression-2 G3-1D Modified-Huffman flavor
    // (byte-aligned EOL-free rows) — decoded by the spec T.6/T.4
    // machinery (pass/horizontal/vertical modes, the T.4 run alphabet)
    // back to the exact bilevel plant
    // (00 = ink, FF = paper; the oracle restates the threshold in pure
    // SQL). The jpeg columns pin Compression 7 end-to-end: the DC-only
    // 12×10 JPEG plant wrapped as a full-stream strip and as the
    // libtiff-style JPEGTables split, routed through the SAME T.81
    // cores — decode must equal the plant closed form. Hand vectors
    // (pass/vertical boundaries, EOFB) and the JDK-ImageIO
    // cross-decoder pin live in MultimodalSpec.
    "multimodal_decode_tiff_ccitt" -> ((s, d) => {
      def vv(i: Int) = jpegBlockVal(col("doc_id"), "jt", i)
      val jbitmap = unhex(concat(
        repeat(concat(repeat(hex2(vv(0)), 8), repeat(hex2(vv(1)), 4)), 8),
        repeat(concat(repeat(hex2(vv(2)), 8), repeat(hex2(vv(3)), 4)), 2)))
      spread(Tables.documents(s, d))
        .select(col("doc_id"),
          Multimodal.tiffG4Encode(plantedBitmap(col("doc_id")), lit(9)).as("g4"),
          Multimodal.tiffG4Encode(plantedBitmap(col("doc_id")), lit(9),
            bigEndian = true).as("g4_be"),
          Multimodal.tiffG4Encode(plantedBitmap(col("doc_id")), lit(9),
            rowsPerStrip = 3).as("g4_ms"),
          // r14 second pass: the §10 G3-1D Modified-Huffman flavor
          // (byte-aligned EOL-free rows) through the same T.4 tables,
          // and full T.4 Compression 3 — EOL-framed 1-D rows and the
          // 2-D mixed plan with tag bits (every 4th row 1-D)
          Multimodal.tiffG4Encode(plantedBitmap(col("doc_id")), lit(9),
            coding = "mh").as("g3_mh"),
          Multimodal.tiffG4Encode(plantedBitmap(col("doc_id")), lit(9),
            coding = "t4").as("t4_1d"),
          Multimodal.tiffG4Encode(plantedBitmap(col("doc_id")), lit(9),
            coding = "t42d").as("t4_2d"),
          Multimodal.tiffJpegEncode(
            Multimodal.jpegEncodeGray8Dc(jbitmap, lit(12))).as("tj"),
          Multimodal.tiffJpegEncode(
            Multimodal.jpegEncodeGray8Dc(jbitmap, lit(12)),
            split = true).as("tj_sp"))
        .select(col("doc_id"),
          hex(Multimodal.tiffDecodeLuma(col("g4"))).as("px_hex_g4"),
          hex(Multimodal.tiffDecodeLuma(col("g4_be"))).as("px_hex_g4_be"),
          hex(Multimodal.tiffDecodeLuma(col("g4_ms"))).as("px_hex_g4_ms"),
          hex(Multimodal.tiffDecodeLuma(col("g3_mh"))).as("px_hex_g3_mh"),
          hex(Multimodal.tiffDecodeLuma(col("t4_1d"))).as("px_hex_t4"),
          hex(Multimodal.tiffDecodeLuma(col("t4_2d"))).as("px_hex_t4_2d"),
          hex(Multimodal.tiffDecodeLuma(col("tj"))).as("px_hex_jpeg"),
          hex(Multimodal.tiffDecodeLuma(col("tj_sp"))).as("px_hex_jpeg_sp"))
    }),
    // image near-dup on REAL G4 bytes end-to-end (T.6 MMR decode →
    // dHash → Hamming-LSH): re-keyed copies share blobs bit-for-bit →
    // exactly one hamming-0 pair per doc; bilevel cross-pair bits agree
    // w.p. 5/8 per cell, so a 62-of-64 cross match is ~7e-11 — analytic
    // safety holds through the verify scale
    "dedup_image_tiff_g4" -> ((s, d) =>
      rekeyedCopyPairs(Tables.documents(s, d),
        Multimodal.imageNearDupSig(Multimodal.tiffDecodeLuma(
          Multimodal.tiffG4Encode(plantedBitmap(col("doc_id")), lit(9))), 9, 8))),
    // FLAC STREAMINFO census, hash-oracled (the audio sibling of
    // multimodal_audio for a format whose FRAMES stay undecoded): the
    // spec-packed bit fields — sample rate 20 bits, channels−1 3 bits,
    // bits−1 5 bits, total samples 36 bits, straddling byte boundaries —
    // are built from planted doc_id geometry and parsed back through the
    // declarative bit arithmetic; the builder's byte layout is pinned
    // against hand-computed hex in MultimodalSpec, so builder and parser
    // cannot share a compensating offset bug.
    // REAL EBML/Matroska census, hash-oracled: the fixture's genuine
    // EBML layout (VINT sizes, float64 Duration whose IEEE bits the
    // Column builder computes in exact integer arithmetic) → the real
    // walker — every output field is the planted arithmetic restated.
    // Frames stay undecoded (the r12 FLAC-census stance, WebM edition).
    "multimodal_webm_meta" -> ((s, d) => {
      val webm = Multimodal.webmHeader(
        ((col("doc_id") % 40) * 8 + 160).cast("bigint"),
        ((col("doc_id") % 30) * 8 + 90).cast("bigint"),
        ((col("doc_id") % 60) * 500 + 1000).cast("bigint"),
        when(col("doc_id") % 2 === 0, lit("V_VP8")).otherwise(lit("V_VP9")),
        when(col("doc_id") % 3 === 0, lit("A_OPUS")).otherwise(lit("A_FLAC")))
      Tables.documents(s, d)
        .select(col("doc_id"), Multimodal.webmMeta(webm).as("m"))
        .select(col("doc_id"),
          col("m.doc_type").as("doc_type"),
          col("m.timescale_ns").as("timescale_ns"),
          col("m.duration_ms").as("duration_ms"),
          col("m.n_tracks").as("n_tracks"),
          col("m.width").as("width"),
          col("m.height").as("height"),
          col("m.video_codec").as("video_codec"),
          col("m.audio_codec").as("audio_codec"))
    }),
    // REAL Ogg page census, hash-oracled: the fixture's genuine pages
    // (published CRC-32 each, BOS/EOS round-robin over 1 or 2 streams)
    // → the CRC-verifying walker; every counter is closed-form from the
    // planted page arithmetic (Σ i mod 5 = 10·⌊n/5⌋ + r(r−1)/2)
    "multimodal_ogg_meta" -> ((s, d) => {
      val serial = (col("doc_id") % 100000 + 1000).cast("int")
      val np = (col("doc_id") % 7 + 4).cast("int")
      val ogg = when(col("doc_id") % 2 === 0,
        Multimodal.oggPages(serial, np, nStreams = 1))
        .otherwise(Multimodal.oggPages(serial, np, nStreams = 2))
      Tables.documents(s, d)
        .select(col("doc_id"), Multimodal.oggMeta(ogg).as("m"))
        .select(col("doc_id"),
          col("m.n_pages").as("n_pages"),
          col("m.n_streams").as("n_streams"),
          col("m.first_serial").as("first_serial"),
          col("m.last_granule").as("last_granule"),
          col("m.payload_bytes").as("payload_bytes"))
    }),
    // Ogg CODEC identification, hash-oracled: four REAL stream shapes
    // (Vorbis mono/stereo, Opus with and without pre-skip), each a
    // genuine CRC'd page sequence whose BOS page carries the published
    // identification-packet layout — codec, channels, rate and the
    // granule-derived duration are the planted arithmetic restated
    // (Vorbis granules at the stream rate; Opus at 48 kHz minus
    // pre-skip). Packets stay undecoded (the census stance).
    "multimodal_ogg_codec" -> ((s, d) => {
      val cls = col("doc_id") % 4
      val serial = (col("doc_id") % 100000 + 1000).cast("int")
      val np = (col("doc_id") % 7 + 4).cast("int")
      val ogg = when(cls === 0, Multimodal.oggAudio(serial, np, "vorbis", 1, 8000))
        .when(cls === 1, Multimodal.oggAudio(serial, np, "vorbis", 2, 44100))
        .when(cls === 2, Multimodal.oggAudio(serial, np, "opus", 2, 48000,
          preskip = 312))
        .otherwise(Multimodal.oggAudio(serial, np, "opus", 1, 24000))
      Tables.documents(s, d)
        .select(col("doc_id"), Multimodal.oggIdent(ogg).as("m"))
        .select(col("doc_id"),
          col("m.codec").as("codec"),
          col("m.n_channels").as("n_channels"),
          col("m.sample_rate").as("sample_rate"),
          col("m.duration_ms").as("duration_ms"))
    }),
    // MPEG-audio (MP3) frame census, hash-oracled: four REAL stream
    // shapes (mono/stereo × Xing/none at four bitrate-rate pairs), each
    // with a genuine ID3v2.3 syncsafe envelope whose size crosses the
    // 7-bit boundary for some docs, spec frame headers walked by the
    // published length formula, and a trailing ID3v1 block — every
    // output field is the planted geometry restated. Frames stay
    // undecoded (the FLAC-census stance, MPEG edition).
    "multimodal_mp3_meta" -> ((s, d) => {
      val cls = col("doc_id") % 4
      val nf = (col("doc_id") % 10 + 2).cast("int")
      val id3 = unhex(repeat(md5(concat(col("doc_id").cast("string"),
        lit("-id3")).cast("binary")), 40))
        .substr(lit(1), (lit(100) + col("doc_id") % 64).cast("int"))
      def mk(bIdx: Int, rIdx: Int, mono: Boolean, xing: Boolean) =
        Multimodal.mp3Frames(id3, nf, bIdx, rIdx, mono, xing)
      val blob = when(cls === 0, mk(9, 0, mono = true, xing = true))
        .when(cls === 1, mk(5, 1, mono = false, xing = false))
        .when(cls === 2, mk(14, 2, mono = false, xing = true))
        .otherwise(mk(1, 0, mono = true, xing = false))
      Tables.documents(s, d)
        .select(col("doc_id"), Multimodal.mp3Meta(blob).as("m"))
        .select(col("doc_id"),
          col("m.version").as("version"),
          col("m.layer").cast("bigint").as("layer"),
          col("m.bitrate_kbps").cast("bigint").as("bitrate_kbps"),
          col("m.sample_rate").cast("bigint").as("sample_rate"),
          col("m.n_channels").cast("bigint").as("n_channels"),
          col("m.n_frames").cast("bigint").as("n_frames"),
          col("m.duration_ms").as("duration_ms"),
          col("m.xing_frames").as("xing_frames"))
    }),
    "multimodal_flac_meta" -> ((s, d) => {
      val flac = concat(
        Multimodal.flacHeader(
          (lit(8000L) + (col("doc_id") % 10) * 4410L).cast("bigint"),
          (col("doc_id") % 8 + 1).cast("bigint"),
          (lit(16L) + (col("doc_id") % 2) * 8L).cast("bigint"),
          ((col("doc_id") % 1000000L) * 1000L + 12345L).cast("bigint")),
        col("text").cast("binary"))
      Tables.documents(s, d)
        .select(col("doc_id"), Multimodal.flacMeta(flac).as("m"))
        .select(col("doc_id"),
          col("m.sample_rate").as("sample_rate"),
          col("m.n_channels").as("n_channels"),
          col("m.bits_per_sample").as("bits_per_sample"),
          col("m.total_samples").as("total_samples"),
          col("m.duration_ms").as("duration_ms"))
    }),
    // GIF animation census, hash-oracled: frames = doc_id%4+1 (static
    // when 1, animated otherwise) and a NETSCAPE2.0 loop extension
    // (value doc_id%3) planted on the animated ones — the engine's
    // structural walk must recover BOTH from the real multi-frame bytes
    // (12 fixed-flag encoder branches keyed on doc_id%12, since frames/
    // loop are constructor params), plus dims and the first frame's
    // decode (animation must not break the pixel tier). loop_count is
    // NULL for static GIFs — absence of the extension, not zero.
    "multimodal_gif_meta" -> ((s, d) => {
      val cls = col("doc_id") % 12
      val px = plantedBitmap(col("doc_id"))
      val gif = (0 until 12).foldLeft(lit(null).cast("binary")) { (acc, k) =>
        val f = k % 4 + 1
        when(cls === k,
          Multimodal.gifEncodeGray8(px, lit(9),
            frames = f, loop = if (f == 1) -1 else k % 3)).otherwise(acc)
      }
      Tables.documents(s, d)
        .select(col("doc_id"), gif.as("gif"))
        .select(col("doc_id"),
          Multimodal.gifFrameCount(col("gif")).cast("bigint").as("n_frames"),
          Multimodal.gifLoopCount(col("gif")).cast("bigint").as("loop_count"),
          Multimodal.gifDims(col("gif")).getField("width").as("width"),
          hex(Multimodal.gifDecodeLuma(col("gif"))).as("first_frame_hex"))
    }),
    // the GIF + MAGIC-HONESTY drop report: planted classes cover every
    // GIF reason (valid → NO row; cut before the palette completes →
    // truncated; structurally complete stream whose LZW hits EOI before
    // the raster → corrupt; a frame with no color table anywhere →
    // unsupported_profile; 65535×65535 header dims → bomb_guard) plus
    // three recognized-but-undecodable magics (ID3-tagged MP3, Ogg,
    // EBML/WebM) that must land in unsupported_profile under their REAL
    // mime — not in bad_magic with junk. (TIFF left this class in r12:
    // baseline TIFF decodes for real now, so bare-magic-plus-junk TIFF
    // is structural damage, not a profile limit.) Three planted sources
    // prove the group keys; the oracle recomputes every counter from
    // the class arithmetic alone.
    "multimodal_drop_report_gif" -> ((s, d) => {
      val cls = col("doc_id") % 8
      val gif = Multimodal.gifEncodeGray8(plantedBitmap(col("doc_id")), lit(9))
      val corruptGif = unhex(lit( // CLEAR then immediate EOI, 4px raster
        "47494638396104000100F10000" + "0000000A0A0A1414141E1E1E" +
          "2C000000000400010000" + "02" + "012C00" + "3B"))
      val noPaletteGif = unhex(lit(
        "474946383961040001007000002C00000000040001000002012C003B"))
      val bombGif = unhex(lit(
        "474946383961FFFFFFFF7000002C00000000FFFFFFFF003B"))
      val junk = unhex(md5(col("doc_id").cast("string").cast("binary")))
      // r17: stereo DECODES now (MS graduated), so the audio/mpeg
      // unsupported_profile plant is the surviving typed refusal — a
      // valid MS stereo fixture with its mode_ext flipped to 1
      // (intensity stereo on), ID3-wrapped the way the classifier
      // requires real MP3s to ship
      val mp3Mods = Array(5, 4, 4, 4, 2, 2) ++ Array.fill(10)(11)
      val mp3Fix = Multimodal.mp3FixtureEncode(
        lit((for (g <- 0 until 4; j <- 0 until 16)
          yield ((g * 31 + 7 * j + 3) % mp3Mods(j)).toByte).toArray), lit(5))
      val stereoMp3 = concat(
        lit("ID3".getBytes("US-ASCII")), lit(Array[Byte](3, 0, 0, 0, 0, 0, 0)),
        substring(mp3Fix, 1, 3), lit(Array[Byte](0x50)),
        substring(mp3Fix, 5, 1 << 20))
      val media = when(cls === 0, gif)
        .when(cls === 1, substring(gif, 1, 20)) // inside the global palette
        .when(cls === 2, corruptGif)
        .when(cls === 3, noPaletteGif)
        .when(cls === 4, bombGif)
        .when(cls === 5, stereoMp3)
        .when(cls === 6, concat(lit("OggS".getBytes("US-ASCII")), junk))
        .otherwise(concat(unhex(lit("1A45DFA3")), junk))
      Multimodal.decodeDropReport(
        spread(Tables.documents(s, d)).select(
          concat(lit("s"),
            ((col("doc_id") / lit(8)).cast("bigint") % 3).cast("string")).as("source"),
          media.as("media")))
        .select(col("source"), col("modality"), col("reason"), col("n_dropped"))
    }),
    "multimodal_drop_report" -> ((s, d) => {
      val cls = col("doc_id") % 12
      val png = Multimodal.pngEncodeRgb(plantedRgbBitmap(col("doc_id")), lit(9),
        filterMode = 0, stored = true)
      def vv(i: Int) = jpegBlockVal(col("doc_id"), "dr", i)
      val frameBitmap = unhex(concat(
        repeat(concat(repeat(hex2(vv(0)), 8), repeat(hex2(vv(1)), 4)), 8),
        repeat(concat(repeat(hex2(vv(2)), 8), repeat(hex2(vv(3)), 4)), 2)))
      def clip(format: String) = Multimodal.mp4MjpegEncode(
        array(Multimodal.jpegEncodeGray8Dc(frameBitmap, lit(12))), 12, 10, 1, format)
      val media = when(cls === 0, png)
        .when(cls === 1, concat(lit(Array[Byte](0)),
          unhex(md5(col("doc_id").cast("string").cast("binary")))))
        .when(cls === 2, substring(png, 1, 40))
        // gray+alpha decodes now — the unsupported plant is the
        // spec-ILLEGAL pair (type 4 at depth 4), patched at the IHDR
        // depth+type bytes
        .when(cls === 3, concat(substring(png, 1, 24), lit(Array[Byte](4, 4)),
          substring(png, 27, 1 << 20)))
        .when(cls === 4, concat(substring(png, 1, 16), unhex(lit("07FFFFFF")),
          substring(png, 21, 1 << 20)))
        // MS-ADPCM (tag 2, patched at its spec offset): 8-bit/float PCM
        // and G.711 now DECODE, so the unsupported-profile plant must be
        // a coding that is genuinely out of contract
        .when(cls === 5, concat(
          substring(Multimodal.wavHeader(lit(1L), lit(8000L), lit(8L), lit(0L)),
            1, 20),
          unhex(lit("0200")),
          substring(Multimodal.wavHeader(lit(1L), lit(8000L), lit(8L), lit(0L)),
            23, 22)))
        .when(cls === 6, clip("jpeg"))
        // cut inside mdat: ftyp (20 bytes) survives, moov (written last)
        // is gone — a structural failure the walker must call corrupt
        .when(cls === 7, substring(clip("jpeg"), 1, 40))
        .when(cls === 8, clip("avc1"))
        .when(cls === 9,
          Multimodal.webpEncodeVp8l(plantedRgbBitmap(col("doc_id")), lit(9)))
        // a sound RIFF-WEBP whose VP8 chunk carries an INTER frame
        // (frame-tag bit 0 set): keyframes decode for real since r15,
        // and no still WebP carries an inter frame — the remaining
        // true profile limit, same reason bucket as before
        .when(cls === 10, unhex(lit("52494646160000005745425056503820" +
          "0a00000001" + "00" * 9)))
        // container header intact, VP8L chunk size overruns the payload
        .otherwise(substring(
          Multimodal.webpEncodeVp8l(plantedRgbBitmap(col("doc_id")), lit(9)), 1, 24))
      // source from doc_id/12 so every class appears under every source
      // (doc_id%3 would pin each class to one source: doc_id≡k mod 12
      // forces doc_id≡k mod 3) — 30 grouped rows, not 10
      Multimodal.decodeDropReport(
        spread(Tables.documents(s, d)).select(
          concat(lit("s"),
            ((col("doc_id") / lit(12)).cast("bigint") % 3).cast("string")).as("source"),
          media.as("media")))
        .select(col("source"), col("modality"), col("reason"), col("n_dropped"))
    }),
    // the per-partition codec boundary on REAL bytes, hash-oracled: the
    // DEFAULT decodePartitions codec (realCodec — no stub anywhere in the
    // path) decodes genuine truecolor PNGs AND (odd doc_ids) genuine
    // MJPEG MP4 clips — container walk to frame 0, baseline JPEG luma
    // decode — through mapPartitions and must report the TRUE geometry
    // (9×8 luma for the PNGs, 12×10 first-frame luma for the clips,
    // 1 channel) and the exact 8-bin luma histogram, which the oracle
    // recomputes from the planted channel bytes / DC block values
    // (counts recovered from the normalized floats by round(f·n) —
    // exact for counts ≤ n at float precision)
    "multimodal_codec_decode" -> ((s, d) => {
      def vv(i: Int) = jpegBlockVal(col("doc_id"), "cd", i)
      val frameBitmap = unhex(concat(
        repeat(concat(repeat(hex2(vv(0)), 8), repeat(hex2(vv(1)), 4)), 8),
        repeat(concat(repeat(hex2(vv(2)), 8), repeat(hex2(vv(3)), 4)), 2)))
      val png = Multimodal.pngEncodeRgb(plantedRgbBitmap(col("doc_id")), lit(9),
        filterMode = -1, stored = false)
      val clip = Multimodal.mp4MjpegEncode(
        array(Multimodal.jpegEncodeGray8Dc(frameBitmap, lit(12))), 12, 10, 1)
      val media = spread(Tables.documents(s, d))
        .select(col("doc_id"),
          when(col("doc_id") % 2 === 0, png).otherwise(clip).as("media"))
      Multimodal.decodePartitions(media)
        .select(col("doc_id"), col("width"), col("height"), col("channels"),
          concat_ws("-", transform(col("feature"),
            f => round(f.cast("double") *
              when(col("doc_id") % 2 === 0, lit(72.0)).otherwise(lit(120.0)))
              .cast("bigint"))).as("hist"))
    }),
    // REAL baseline-JPEG pixel decode, hash-oracled (the stored-PNG move,
    // JPEG edition): a 12×10 per-block-constant plant is encoded into a
    // GENUINE JPEG (SOI/JFIF/DQT/SOF0/DHT×2/DRI/SOS, Huffman-coded scan,
    // restart markers, EOI), then decoded back through the real Huffman →
    // dequant → IDCT → crop path. Two independent pins per doc: `px_hex`
    // (the decoder's output must equal the analytic plant) and
    // `blob_px_hex` (the same pixels recomputed from the DC magnitude
    // bytes sliced STRAIGHT out of the blob at the fixed-header offsets —
    // 162 + 4·MCU, single-code Huffman tables + restart interval 1 pin
    // every MCU to an aligned 2-byte cell — proving the encoder wrote a
    // spec-layout JPEG rather than sharing a compensating bug with the
    // decoder). General AC/stuffing decode is pinned cross-decoder
    // against ImageIO in MultimodalSpec.
    "multimodal_decode_jpeg" -> ((s, d) => {
      def vv(i: Int) = jpegBlockVal(col("doc_id"), "m", i)
      val bitmap = unhex(concat(
        repeat(concat(repeat(hex2(vv(0)), 8), repeat(hex2(vv(1)), 4)), 8),
        repeat(concat(repeat(hex2(vv(2)), 8), repeat(hex2(vv(3)), 4)), 2)))
      def blobPx(i: Int) = {
        val mag = conv(hex(col("jpeg").substr(lit(163 + 4 * i), lit(1))), 16, 10).cast("int")
        when(mag < 64, mag - 127).otherwise(mag) + 128 // EXTEND⁻¹ + level shift
      }
      Tables.documents(s, d)
        .select(col("doc_id"),
          Multimodal.jpegEncodeGray8Dc(bitmap, lit(12)).as("jpeg"))
        .select(
          col("doc_id"),
          upper(hex(Multimodal.jpegDecodeGray8(col("jpeg")))).as("px_hex"),
          upper(concat(
            repeat(concat(repeat(hex2(blobPx(0)), 8), repeat(hex2(blobPx(1)), 4)), 8),
            repeat(concat(repeat(hex2(blobPx(2)), 8), repeat(hex2(blobPx(3)), 4)), 2)))
            .as("blob_px_hex"))
    }),
    // REAL 12-BIT (SOF1, extended sequential) JPEG decode, hash-oracled:
    // the per-block plant (tag "m12") coded by the deep fixture — SOF1
    // precision 12 with a Pq=1 16-bit DQT — through the wide-sample
    // path: 2048 level shift, 0..4095 clamp, luma stored as the top 8
    // bits, so each block reconstructs to (plant + 1920) >> 4 in closed
    // form. Pq/precision mismatch corruption is pinned in MultimodalSpec
    "multimodal_decode_jpeg12" -> ((s, d) => {
      def vv(i: Int) = jpegBlockVal(col("doc_id"), "m12", i)
      val bitmap = unhex(concat(
        repeat(concat(repeat(hex2(vv(0)), 8), repeat(hex2(vv(1)), 4)), 8),
        repeat(concat(repeat(hex2(vv(2)), 8), repeat(hex2(vv(3)), 4)), 2)))
      Tables.documents(s, d)
        .select(col("doc_id"),
          Multimodal.jpegEncodeGray8Dc(bitmap, lit(12), deep = true).as("jpeg"))
        .select(col("doc_id"),
          upper(hex(Multimodal.jpegDecodeLuma(col("jpeg")))).as("px_hex"))
    }),
    // REAL PROGRESSIVE (SOF2) JPEG decode, hash-oracled: the same 12×10
    // per-block-constant plant (tag "mp"), encoded by the PROGRESSIVE
    // fixture — five genuine scans: DC first at Al=1, DC refinement,
    // two banded AC-first scans and one AC refinement, all EOB-run coded
    // — and decoded through the full T.81 Annex G machinery (spectral
    // selection, successive approximation, EOB runs). Two pins per doc:
    // px_hex (the progressive decode must equal the analytic plant) and
    // px_base_hex (the BASELINE fixture's decode of the same plant —
    // cross-path equality proves the two entropy pipelines reconstruct
    // identical coefficients, sharing only the IDCT). Nonzero-AC births,
    // ZRL, and refinement correction bits are pinned by hand-assembled
    // spec vectors + ImageIO cross-decoder tests in MultimodalSpec.
    "multimodal_decode_jpeg_prog" -> ((s, d) => {
      def vv(i: Int) = jpegBlockVal(col("doc_id"), "mp", i)
      val bitmap = unhex(concat(
        repeat(concat(repeat(hex2(vv(0)), 8), repeat(hex2(vv(1)), 4)), 8),
        repeat(concat(repeat(hex2(vv(2)), 8), repeat(hex2(vv(3)), 4)), 2)))
      Tables.documents(s, d)
        .select(col("doc_id"),
          Multimodal.jpegEncodeGray8Prog(bitmap, lit(12)).as("prog"),
          Multimodal.jpegEncodeGray8Dc(bitmap, lit(12)).as("base"))
        .select(
          col("doc_id"),
          upper(hex(Multimodal.jpegDecodeLuma(col("prog")))).as("px_hex"),
          upper(hex(Multimodal.jpegDecodeLuma(col("base")))).as("px_base_hex"))
    }),
    // image near-dup on REAL PROGRESSIVE JPEG bytes end-to-end (Annex-G
    // decode → dHash → Hamming-LSH): dedup_image_jpeg's pair argument on
    // the multi-scan wire format — re-keyed copies share blobs
    // bit-for-bit → exactly one hamming-0 pair per doc
    "dedup_image_jpeg_prog" -> ((s, d) =>
      rekeyedCopyPairs(Tables.documents(s, d),
        Multimodal.imageNearDupSig(Multimodal.jpegDecodeLuma(
          Multimodal.jpegEncodeGray8Prog(plantedJpegBitmap(col("doc_id")), lit(72))),
          72, 64))),
    // image near-dup on REAL JPEG bytes end-to-end (decode → dHash →
    // Hamming-LSH): 72×64 block-constant plants make the dHash grid an
    // identity over ~iid block values; re-keyed copies share blobs
    // bit-for-bit → exactly one hamming-0 pair per doc (dedup_image's
    // analytic pair set, now behind a real entropy-coded decode)
    "dedup_image_jpeg" -> ((s, d) =>
      rekeyedCopyPairs(spread(Tables.documents(s, d)),
        Multimodal.imageNearDupSig(Multimodal.jpegDecodeLuma(
          Multimodal.jpegEncodeGray8Dc(plantedJpegBitmap(col("doc_id")), lit(72))),
          72, 64))),
    // multimodal_decode_jpeg's COLOR sibling: a real 3-component YCbCr
    // 4:2:0 baseline JPEG (24×20 luma over a 2×2 grid of 16×16-constant
    // MCU tiles, chroma planes pinned at 32/224 so the scan carries REAL
    // nonzero chroma DCs the decoder must entropy-skip) — px_hex via the
    // full color Huffman walk + luma IDCT, blob_px_hex via EXTEND⁻¹ of
    // the luma DC magnitude bytes at the fixed offsets 174 + 14·MCU
    // (173-byte 3-component header; two-code DC table + one-code AC
    // table byte-align every block to a 2-byte cell, stride = 4 luma
    // cells + Cb + Cr + RSTₙ = 14)
    "multimodal_decode_jpeg_color" -> ((s, d) => {
      def vv(i: Int) = jpegBlockVal(col("doc_id"), "mc", i)
      val bitmap = unhex(concat(
        repeat(concat(repeat(hex2(vv(0)), 16), repeat(hex2(vv(1)), 8)), 16),
        repeat(concat(repeat(hex2(vv(2)), 16), repeat(hex2(vv(3)), 8)), 4)))
      def blobPx(i: Int) = {
        val mag = conv(hex(col("jpeg").substr(lit(174 + 14 * i), lit(1))), 16, 10).cast("int")
        when(mag < 64, mag - 127).otherwise(mag) + 128 // EXTEND⁻¹ + level shift
      }
      spread(Tables.documents(s, d))
        .select(col("doc_id"),
          Multimodal.jpegEncodeYccDc(bitmap, lit(24), 2, 2, cb = 32, cr = 224).as("jpeg"))
        .select(
          col("doc_id"),
          upper(hex(Multimodal.jpegDecodeLuma(col("jpeg")))).as("px_hex"),
          upper(concat(
            repeat(concat(repeat(hex2(blobPx(0)), 16), repeat(hex2(blobPx(1)), 8)), 16),
            repeat(concat(repeat(hex2(blobPx(2)), 16), repeat(hex2(blobPx(3)), 8)), 4)))
            .as("blob_px_hex"))
    }),
    // image near-dup on REAL COLOR JPEG bytes end-to-end (luma decode →
    // dHash → Hamming-LSH): 144×64 luma at 4:2:2, one dHash cell per
    // constant 16×8 MCU tile (the dedup_image_jpeg identity argument on
    // 3-component subsampled payloads); re-keyed copies share blobs
    // bit-for-bit → exactly one hamming-0 pair per doc
    "dedup_image_jpeg_color" -> ((s, d) =>
      rekeyedCopyPairs(spread(Tables.documents(s, d)),
        Multimodal.imageNearDupSig(Multimodal.jpegDecodeLuma(
          Multimodal.jpegEncodeYccDc(plantedJpegColorBitmap(col("doc_id")), lit(144), 2, 1)),
          144, 64))),

    // REAL PCM sample decode + audio-quality gate on planted 16-bit WAVs:
    // four md5-derived int16 samples (u16 from the first 4 md5 hex chars,
    // two's-complement) each repeated 16× → 64 mono samples behind a
    // canonical 44-byte header; every stat is an exact integer DuckDB
    // recomputes in closed form, and `passes` is the integer-arithmetic
    // gate verdict (≤1% clipped, ≤90% silent, RMS ≥ 100)
    "multimodal_wav_pcm" -> ((s, d) => {
      def u(i: Int) = conv(substring(md5(concat(col("doc_id").cast("string"),
        lit(s"-w$i")).cast("binary")), 1, 4), 16, 10).cast("int")
      def leHex(uu: org.apache.spark.sql.Column) = concat(
        lpad(conv(uu.bitwiseAND(lit(255)).cast("string"), 10, 16), 2, "0"),
        lpad(conv(shiftright(uu, 8).cast("string"), 10, 16), 2, "0"))
      val data = unhex(concat((0 until 4).map(i => repeat(leHex(u(i)), 16)): _*))
      val clips = Tables.documents(s, d)
        .select(col("doc_id"),
          concat(Multimodal.wavHeader(lit(1L), lit(8000L), lit(16L), lit(128L)),
            data).as("wav"))
      Multimodal.audioQualityGate(clips)
        .select(col("doc_id"), col("n_samples"), col("peak_abs"),
          col("sum_abs"), col("sum_sq"), col("n_clipped"), col("n_silent"),
          col("passes").cast("bigint").as("passes"))
    }),

    // REAL video content through container AND codec: a 2-frame MJPEG AVI
    // per doc (72×64 4:4:4 color JPEG frames from md5-planted tiles), the
    // walker counts frames and the first frame luma-decodes to the
    // analytic plant — proving RIFF walk → '00dc' extraction → 3-component
    // Huffman+IDCT end-to-end against a DuckDB recompute
    "multimodal_avi" -> ((s, d) => {
      val frames = array((0 until 2).map(f =>
        Multimodal.jpegEncodeYccDc(plantedVideoFrame(col("doc_id"), f), lit(72), 1, 1)): _*)
      spread(Tables.documents(s, d))
        .select(col("doc_id"), Multimodal.aviMjpegEncode(frames, 72, 64).as("avi"))
        .select(col("doc_id"),
          size(Multimodal.aviMjpegFrames(col("avi"))).cast("bigint").as("n_frames"),
          upper(hex(Multimodal.jpegDecodeLuma(
            element_at(Multimodal.aviMjpegFrames(col("avi")), 1)))).as("f0_px_hex"))
    }),
    // REAL video content through the DOMINANT crawl container: the same
    // 2-frame MJPEG plants muxed into a genuine ISO-BMFF MP4 (ftyp/mdat/
    // moov with full stsd/stts/stsc/stsz/stco sample tables, one chunk
    // per frame so the walker must resolve every frame through
    // stsc×stco×stsz), the walker counts frames, frame 0 luma-decodes to
    // the analytic plant, and mdat's first payload bytes are pinned at
    // the analytic offset (ftyp 20 + mdat header 8 → SOI at byte 29)
    "multimodal_mp4_frames" -> ((s, d) => {
      val frames = array((0 until 2).map(f =>
        Multimodal.jpegEncodeYccDc(plantedVideoFrame(col("doc_id"), f), lit(72), 1, 1)): _*)
      spread(Tables.documents(s, d))
        .select(col("doc_id"), Multimodal.mp4MjpegEncode(frames, 72, 64).as("mp4"))
        .select(col("doc_id"),
          size(Multimodal.mp4MjpegFrames(col("mp4"))).cast("bigint").as("n_frames"),
          upper(hex(Multimodal.jpegDecodeLuma(
            element_at(Multimodal.mp4MjpegFrames(col("mp4")), 1)))).as("f0_px_hex"),
          upper(hex(substring(col("mp4"), 29, 2))).as("mdat_magic"))
    }),
    // cross-container video near-dup: base clips are MJPEG AVIs, their
    // re-keyed copies are the SAME frames re-MUXED into MP4 — the pair
    // set proves the signature expression's container dispatch (identical
    // footage pairs at hamming 0 across containers; a single-container
    // walk would null one side and emit nothing)
    "dedup_video_mp4" -> ((s, d) => {
      val frames = array((0 until 2).map(f =>
        Multimodal.jpegEncodeYccDc(plantedVideoFrameSmall(col("doc_id"), f), lit(72), 1, 1)): _*)
      val src = Tables.documents(s, d)
        .select(col("doc_id"), frames.as("frames"))
        .transform(Caches.persisted)
      val base = src.select(col("doc_id").as("id"),
        Multimodal.aviMjpegEncode(col("frames"), 72, 32).as("avi"))
      val copies = src.select((col("doc_id") + 100000L).as("id"),
        Multimodal.mp4MjpegEncode(col("frames"), 72, 32).as("avi"))
      Multimodal.videoNearDup(base.union(copies), 72, 32, nSample = 2, maxHamming = 1)
        .withColumn("hamming", col("hamming").cast("bigint"))
    }),
    // video near-dup on REAL MJPEG AVI bytes end-to-end (container walk →
    // sampled frame luma decodes → per-frame dHash → ONE wide 128-bit
    // signature through the shared banded LSH, each band = one frame's
    // hash): re-keyed copies share footage bit-for-bit → exactly one
    // hamming-0 pair per doc; independent ~iid tile plants keep cross
    // pairs out of the hamming-1 ball (~4e-18 per pair)
    "dedup_video" -> ((s, d) => {
      val frames = array((0 until 2).map(f =>
        Multimodal.jpegEncodeYccDc(plantedVideoFrameSmall(col("doc_id"), f), lit(72), 1, 1)): _*)
      rekeyedCopyPairs(Tables.documents(s, d),
        Multimodal.videoNearDupSig(Multimodal.aviMjpegEncode(frames, 72, 32), 72, 32,
          nSample = 2),
        maxHamming = 1, sigBits = 64 * 2)
    }),
    // audio near-dup on REAL WAV bytes end-to-end (PCM decode → 72-bucket
    // energy envelope → dHash → Hamming-LSH — dedup_image's argument on
    // the audio modality): 72 planted constant 16-sample segments give an
    // envelope of ~iid uniform bytes (v>>7 for v uniform in [0,32768)),
    // so the 9×8 dHash grid is an identity over segment loudness and
    // re-keyed copies pair at exactly hamming 0
    // REAL FLAC frame decode, hash-oracled END-TO-END: planted PCM16
    // samples (8 values per md5, each repeated 16× — the dedup_audio
    // plant shape, tag "fd") → the fixture's genuine FLAC stream (true
    // STREAMINFO, CRC-8/CRC-16 frames, FIXED-order-2 subframes with real
    // Rice residual coding) → the full frame decoder → a canonical PCM16
    // WAV whose EVERY byte the oracle recomputes in closed form (constant
    // 44-byte header || little-endian sample hex). FLAC is lossless, so
    // the pin is exact. LPC/escape/wasted-bits/stereo-decorrelation
    // paths the fixture doesn't emit are pinned by hand-assembled spec
    // vectors in MultimodalSpec.
    "multimodal_decode_flac" -> ((s, d) => {
      val data = unhex(concat(plantedPcm16Hex(col("doc_id"), "fd").map(repeat(_, 16)): _*))
      spread(Tables.documents(s, d))
        .select(col("doc_id"),
          Multimodal.flacEncodePcm16(data, lit(1), rate = 16000).as("flac"))
        .select(col("doc_id"),
          upper(hex(Multimodal.flacDecodeWav(col("flac")))).as("wav_hex"))
    }),
    // audio near-dup on REAL FLAC payloads end-to-end (frame decode →
    // WAV → envelope → dHash → Hamming-LSH): dedup_audio's analytic pair
    // argument on the compressed wire format — re-keyed copies share
    // blobs bit-for-bit → exactly one hamming-0 pair per doc
    "dedup_audio_flac" -> ((s, d) => {
      val data = unhex(concat(plantedPcm16Hex(col("doc_id"), "af").map(repeat(_, 16)): _*))
      rekeyedCopyPairs(spread(Tables.documents(s, d)),
        Multimodal.audioNearDupSig(Multimodal.flacDecodeWav(
          Multimodal.flacEncodePcm16(data, lit(1), rate = 16000))))
    }),
    // HEIF/AVIF image census, oracled: planted geometry behind REAL
    // meta/iprp machinery — the census must recover brand, primary item
    // type, codec id and the primary item's ispe through the actual
    // ipma property-association walk (validated separately against
    // libheif/aom/x265-encoded vectors in AvifSpec, incl. a grid-primary
    // HEIC whose display and tile ispe differ). The fastest-growing
    // crawl image formats get observability instead of misclassification;
    // the AV1/HEVC payload is the documented census boundary.
    "multimodal_avif_meta" -> ((s, d) => {
      val payload = unhex(md5(col("doc_id").cast("string").cast("binary")))
      val wh = ((col("doc_id") % 1920 + 1) * 65536 + (col("doc_id") % 1080 + 1))
        .cast("bigint")
      val fixture = when(col("doc_id") % 2 === 0,
        Multimodal.avifEncodeMeta(payload, wh, heic = false))
        .otherwise(Multimodal.avifEncodeMeta(payload, wh, heic = true))
      Tables.documents(s, d)
        .select(col("doc_id"), fixture.as("img"))
        .select(col("doc_id"),
          length(col("img")).cast("bigint").as("n_bytes"),
          Multimodal.avifMeta(col("img")).as("m"))
        .select(col("doc_id"), col("n_bytes"),
          col("m.brand").as("brand"),
          col("m.primary_type").as("primary_type"),
          col("m.codec").as("codec"),
          col("m.width").as("width"), col("m.height").as("height"),
          col("m.n_items").as("n_items"))
    }),
    // ISO-BMFF-family inventory: the media census over the container mix
    // a modern crawl actually carries — AVIF, HEIC, MP4, bare bytes.
    // Group keys and counters shuffle; payload bytes never move.
    "multimodal_inventory_bmff" -> ((s, d) => {
      val wh = ((col("doc_id") % 1920 + 1) * 65536 + (col("doc_id") % 1080 + 1))
        .cast("bigint")
      val media = when(col("doc_id") % 4 === 0,
        Multimodal.avifEncodeMeta(col("text").cast("binary"), wh, heic = false))
        .when(col("doc_id") % 4 === 1,
          Multimodal.avifEncodeMeta(col("text").cast("binary"), wh, heic = true))
        .when(col("doc_id") % 4 === 2,
          concat(Multimodal.mp4Header(lit(600L), lit(6000L)),
            col("text").cast("binary")))
        .otherwise(col("text").cast("binary"))
      Multimodal.mediaInventory(Tables.documents(s, d)
        .select(col("source"), media.as("media")))
    }),
    // REAL MPEG Audio Layer III decode, hash-oracled END-TO-END: planted
    // per-granule parameters (md5 closed form) → a real MPEG-1 mono
    // stream from the fixture encoder (two frames whose main data is one
    // packed stream — frame 2 carries an honest nonzero main_data_begin,
    // so the bit-reservoir walk sits INSIDE the oracled path) → full
    // decode (side info, scalefactors, validated-table Huffman,
    // requantize, IMDCT, window, overlap-add, polyphase synthesis) →
    // canonical WAV, emitted as header hex + int16 PCM hex. The oracle
    // restates the whole float chain straight from the formulas over the
    // same frozen constants (Mp3Oracle.decodeSql): decoder and oracle
    // share the NUMBERS (evaluated once — libm trig differs per runtime)
    // but none of the code or control flow. Lossy codec ⇒ this, not
    // byte-roundtrip, is the strongest pin the format admits.
    "multimodal_decode_mp3" -> ((s, d) =>
      spread(Tables.documents(s, d))
        .select(col("doc_id"),
          Multimodal.mp3DecodeWav(
            Multimodal.mp3FixtureEncode(mp3PlantedSpec(col("doc_id"), 4),
              lit(0))).as("wav"))
        .select(col("doc_id"),
          upper(hex(substring(col("wav"), 1, 44))).as("wav_hdr_hex"),
          upper(hex(substring(col("wav"), 45, 4608))).as("pcm_hex"))),
    // the MPEG-1 scfsi path, oracled: fixture variant 2 reuses
    // scalefactor groups 0 and 2 on each frame's SECOND granule (its
    // side info sets scfsi 1010 and its main data omits those groups'
    // bits), so the decoder must substitute granule 0's scalefactors —
    // the oracle restates that as a one-index change (odd granules read
    // the even granule's sf plant). No real asset exercises scfsi (the
    // box's one real MP3 is LSF, which has no scfsi), which is exactly
    // why it needs an oracle row.
    "multimodal_decode_mp3_scfsi" -> ((s, d) =>
      spread(Tables.documents(s, d))
        .select(col("doc_id"),
          Multimodal.mp3DecodeWav(
            Multimodal.mp3FixtureEncode(mp3PlantedSpec(col("doc_id"), 4),
              lit(2))).as("wav"))
        .select(col("doc_id"),
          upper(hex(substring(col("wav"), 1, 44))).as("wav_hdr_hex"),
          upper(hex(substring(col("wav"), 45, 4608))).as("pcm_hex"))),
    // r17: the SAME planted spectrum coded under Huffman table 10 (the
    // id graduated from the refusal list this round — independent
    // re-transcription, Kraft/prefix/completeness clean). The stream is
    // byte-different from the variant-0 coding, but the decode must
    // hash-match the SAME oracle restatement — a decode-side pin on the
    // new table that no byte-level check could provide.
    "multimodal_decode_mp3_t10" -> ((s, d) =>
      spread(Tables.documents(s, d))
        .select(col("doc_id"),
          Multimodal.mp3DecodeWav(
            Multimodal.mp3FixtureEncode(mp3PlantedSpec(col("doc_id"), 4),
              lit(3))).as("wav"))
        .select(col("doc_id"),
          upper(hex(substring(col("wav"), 1, 44))).as("wav_hdr_hex"),
          upper(hex(substring(col("wav"), 45, 4608))).as("pcm_hex"))),
    // r17 ADVICE follow-through: the preflag=1 class — value pairs moved
    // to lines 62..71 (sfb 11, pretab 1), so every nonzero exponent
    // carries the ISO pretab term. The r16 shifted-pretab bug decodes
    // 0.176 full-scale away from this oracle (proven in the prototype):
    // the row exists precisely so that bug class can never return
    // silently. Subband-3/4 synthesis + alias leak restated in the SQL.
    "multimodal_decode_mp3_preflag" -> ((s, d) =>
      spread(Tables.documents(s, d))
        .select(col("doc_id"),
          Multimodal.mp3DecodeWav(
            Multimodal.mp3FixtureEncode(mp3PlantedSpec(col("doc_id"), 4),
              lit(4))).as("wav"))
        .select(col("doc_id"),
          upper(hex(substring(col("wav"), 1, 44))).as("wav_hdr_hex"),
          upper(hex(substring(col("wav"), 45, 4608))).as("pcm_hex"))),
    // r17: MS joint stereo decodes for real — granule-blocks alternate
    // M,S channels; the decoder matrixes L=(M+S)·ISqrt2, R=(M−S)·ISqrt2
    // and interleaves the stereo WAV. Narrows the audio tier's stereo
    // boundary to intensity-only (most real music is joint stereo).
    "multimodal_decode_mp3_ms" -> ((s, d) =>
      spread(Tables.documents(s, d))
        .select(col("doc_id"),
          Multimodal.mp3DecodeWav(
            Multimodal.mp3FixtureEncode(mp3PlantedSpec(col("doc_id"), 8),
              lit(5))).as("wav"))
        .select(col("doc_id"),
          upper(hex(substring(col("wav"), 1, 44))).as("wav_hdr_hex"),
          upper(hex(substring(col("wav"), 45, 9216))).as("pcm_hex"))),
    // r17: short blocks (block_type 2) decode for real — the reorder
    // map, per-window subblock gains, and the triple 12-point IMDCT at
    // its ISO 6-sample offsets (this round fixed an out-of-range window
    // placement the long-only fixtures never executed; this row keeps
    // the path pinned end-to-end).
    "multimodal_decode_mp3_short" -> ((s, d) =>
      spread(Tables.documents(s, d))
        .select(col("doc_id"),
          Multimodal.mp3DecodeWav(
            Multimodal.mp3FixtureEncode(mp3PlantedSpec(col("doc_id"), 4),
              lit(6))).as("wav"))
        .select(col("doc_id"),
          upper(hex(substring(col("wav"), 1, 44))).as("wav_hdr_hex"),
          upper(hex(substring(col("wav"), 45, 4608))).as("pcm_hex"))),
    // exact dedup over DECODED Layer III audio: the base doc is coded
    // with tables (7,8) and a 40-byte bit reservoir, its copy with
    // tables (9,9) frame-aligned — byte-DIFFERENT MP3 files that decode
    // to identical PCM, so the pair exists only through real Layer III
    // decode (a byte-hash dedup finds nothing here). One digest shuffle
    // + an equi-join on digest; id-sized output (the dedup_image_vp8
    // stance, audio edition).
    "dedup_audio_mp3" -> ((s, d) => {
      def digested(variant: Int, shift: Long) = spread(Tables.documents(s, d))
        .select((col("doc_id") + lit(shift)).as("id"),
          sha2(Multimodal.mp3DecodeWav(
            Multimodal.mp3FixtureEncode(mp3PlantedSpec(col("doc_id"), 4),
              lit(variant))), 256).as("digest"))
      val a = digested(variant = 0, shift = 0L)
      val b = digested(variant = 1, shift = 100000L)
      a.join(b, "digest")
        .select(a("id").as("id_a"), b("id").as("id_b"))
    }),
    // r17: the dedup pairing, stereo edition — the same planted STEREO
    // audio coded MS/(7,8)/reservoir (variant 5) vs MS/(9,9)/aligned
    // (variant 7): byte-different joint-stereo files whose pairing
    // exists only through real two-channel Layer III decode. Same
    // digest-join shape as dedup_audio_mp3.
    "dedup_audio_mp3_stereo" -> ((s, d) => {
      def digested(variant: Int, shift: Long) = spread(Tables.documents(s, d)
        .select(col("doc_id")))
        .select((col("doc_id") + lit(shift)).as("id"),
          sha2(Multimodal.mp3DecodeWav(
            Multimodal.mp3FixtureEncode(mp3PlantedSpec(col("doc_id"), 8),
              lit(variant))), 256).as("digest"))
      val a = digested(variant = 5, shift = 0L)
      val b = digested(variant = 7, shift = 100000L)
      a.join(b, "digest")
        .select(a("id").as("id_a"), b("id").as("id_b"))
    }),
    // extended-profile WAV decode, hash-oracled: ONE planted PCM16 clip
    // → six REAL wire profiles (8/24/32-bit integer PCM, IEEE float32,
    // EXTENSIBLE-wrapped PCM16, a chunk-reordered layout with an
    // odd-sized junk chunk) → wavCanonical. Every output is a closed
    // form of the plant (pcm8 keeps the top byte, the rest are exact),
    // so the chunk walk, the GUID dispatch, the float scaling and the
    // even-boundary pad rule all sit inside the oracled query.
    // blob_hdr_f32 pins the float fixture's spec layout (fmt 18 + fact
    // chunk) straight off the blob, so builder and walker cannot share
    // a compensating offset bug.
    "multimodal_decode_wav_profiles" -> ((s, d) => {
      val pcm = unhex(concat(plantedPcm16Hex(col("doc_id"), "wp"): _*))
      def prof(p: String) = Multimodal.wavProfileEncode(pcm, lit(1), 16000, p)
      // the G.711 fixtures take the planted BYTES as the code stream
      def g711(p: String) = Multimodal.wavProfileEncode(
        plantedBitmap(col("doc_id")), lit(1), 8000, p)
      spread(Tables.documents(s, d))
        .select(col("doc_id"), prof("pcm8").as("w8"), prof("pcm24").as("w24"),
          prof("pcm32").as("w32"), prof("float32").as("wf"),
          prof("float64").as("wf64"),
          prof("extensible").as("wx"), prof("fmt18").as("w18"),
          g711("alaw").as("wa"), g711("mulaw").as("wu"))
        .select(col("doc_id"),
          upper(hex(Multimodal.wavCanonical(col("w8")))).as("wav_hex_pcm8"),
          upper(hex(Multimodal.wavCanonical(col("w24")))).as("wav_hex_pcm24"),
          upper(hex(Multimodal.wavCanonical(col("w32")))).as("wav_hex_pcm32"),
          upper(hex(Multimodal.wavCanonical(col("wf")))).as("wav_hex_f32"),
          // r14: IEEE float64 through the same seam — s/32768 is exact
          // in double, so canonicalization is the identity again
          upper(hex(Multimodal.wavCanonical(col("wf64")))).as("wav_hex_f64"),
          upper(hex(Multimodal.wavCanonical(col("wx")))).as("wav_hex_ext"),
          upper(hex(Multimodal.wavCanonical(col("w18")))).as("wav_hex_fmt18"),
          // ITU G.711: the closed-form segment expansions, restated by
          // the oracle in pure arithmetic over the planted codes
          upper(hex(substring(Multimodal.wavCanonical(col("wa")), 45, 144)))
            .as("pcm_hex_alaw"),
          upper(hex(substring(Multimodal.wavCanonical(col("wu")), 45, 144)))
            .as("pcm_hex_ulaw"),
          upper(hex(substring(col("wf"), 1, 58))).as("blob_hdr_f32"))
    }),
    // IMA/DVI ADPCM decode, oracled by an INDEPENDENT SQL decoder:
    // planted nibble bytes (md5 closed form — the data is the PLANT,
    // not an encoder output) wrapped by the fixture muxer into a real
    // two-block tag-0x11 WAV (per-block predictor/index headers, fact
    // chunk), decoded by the native step-table walk — and the oracle
    // recomputes every sample with a recursive CTE over the published
    // 89-step/8-delta IMA tables in DuckDB. Decoder and oracle share
    // nothing but the spec — the strongest pin a lossy coding admits.
    "multimodal_decode_adpcm" -> ((s, d) => {
      val nib = unhex(concat((0 until 48).map(j =>
        substring(md5(concat(col("doc_id").cast("string"), lit(s"-an$j"))
          .cast("binary")), 1, 2)): _*))
      spread(Tables.documents(s, d))
        .select(col("doc_id"),
          Multimodal.imaAdpcmWav(nib, (col("doc_id") % 89).cast("int"),
            rate = 8000, blockAlign = 28).as("wav"))
        .select(col("doc_id"),
          upper(hex(Multimodal.wavCanonical(col("wav")))).as("wav_hex"))
    }),
    // Microsoft ADPCM decode, oracled by an INDEPENDENT SQL decoder:
    // planted nibble bytes (md5 closed form) wrapped by the fixture
    // muxer into a real two-block tag-2 WAV (closed-form per-block
    // predictor/iDelta/seed headers, the published coefficient table in
    // fmt, fact chunk), decoded by the native coefficient/adaptation
    // walk — and the oracle recomputes every sample with a recursive
    // CTE over the published 7-pair/16-entry MS tables in DuckDB (the
    // same truncating /256 prediction and 16-floor/2^24-cap iDelta).
    // Decoder and oracle share nothing but the spec — the IMA stance,
    // MS edition.
    "multimodal_decode_msadpcm" -> ((s, d) => {
      val nib = unhex(concat((0 until 42).map(j =>
        substring(md5(concat(col("doc_id").cast("string"), lit(s"-mn$j"))
          .cast("binary")), 1, 2)): _*))
      spread(Tables.documents(s, d))
        .select(col("doc_id"),
          Multimodal.msAdpcmWav(nib, (col("doc_id") % 911).cast("int"),
            rate = 8000, blockAlign = 28).as("wav"))
        .select(col("doc_id"),
          upper(hex(Multimodal.wavCanonical(col("wav")))).as("wav_hex"))
    }),
    // audio near-dup ACROSS wire profiles: the same planted PCM as IEEE
    // float32 (base) and 24-bit integer (copies) — both normalize to
    // the identical canonical PCM16, so every doc pairs with its
    // cross-profile twin at hamming 0 (the WAV≡FLAC lossless argument,
    // extended across WAV's own profile zoo)
    "dedup_audio_wavx" -> ((s, d) => {
      val pcm = unhex(concat(plantedPcm16Hex(col("doc_id"), "ax"): _*))
      val base = spread(Tables.documents(s, d)).select(col("doc_id").as("id"),
        Multimodal.wavProfileEncode(pcm, lit(1), 16000, "float32").as("wav"))
      val copies = spread(Tables.documents(s, d)).select(
        (col("doc_id") + 100000L).as("id"),
        Multimodal.wavProfileEncode(pcm, lit(1), 16000, "pcm24").as("wav"))
      Multimodal.audioNearDup(base.union(copies), maxHamming = 2)
        .withColumn("hamming", col("hamming").cast("bigint"))
    }),
    "dedup_audio" -> ((s, d) => {
      val data = unhex(concat(plantedPcm16Hex(col("doc_id"), "a").map(repeat(_, 16)): _*))
      rekeyedCopyPairs(Tables.documents(s, d),
        Multimodal.audioNearDupSig(
          concat(Multimodal.wavHeader(lit(1L), lit(16000L), lit(16L), lit(2304L)), data)))
    }),

    // --- north-star: text analysis ---
    "text_token_stats" -> ((s, d) => TextAnalysis.tokenStats(spread(Tables.documents(s, d)))),
    "text_quality" -> ((s, d) => TextAnalysis.qualityScore(spread(Tables.documents(s, d)))),
    "text_lang_id" -> ((s, d) => TextAnalysis.langId(spread(Tables.documents(s, d)))),
    "text_fingerprint" -> ((s, d) =>
      Tables.documents(s, d).select(col("doc_id"),
        graft.functions.Funcs.fingerprint(col("text")).as("md5"))),
    "word_count" -> ((s, d) => TextAnalysis.wordCount(Tables.documents(s, d))),
    // project harness-sortable scalars only (the raw fp array crashes the
    // driver's pandas sort); the array itself stays pinned by FuncsSpec's
    // native≡declarative tests
    "text_winnow_fp" -> ((s, d) => TextAnalysis.winnowFingerprints(spread(Tables.documents(s, d)))
      .select(col("doc_id"), col("n_fp"), xxhash64(col("fp")).as("fp_xxh"))),
    // winnow POSITIONS hash-oracled by the planted-analytic move, tie-rule
    // edition: the corpus is replanted as one token repeated 5+doc_id%9
    // times, so every 4-gram hash is equal and the selected positions are
    // decided PURELY by the rightmost-min tie rule — positions 3…g−1 over
    // g = m−3 grams (or g−1 when g < 4), no hash in the oracle. A
    // leftmost-min implementation would emit 0…g−4 instead, so the oracle
    // discriminates the rule, not just the count. Values stay pinned by
    // the winnow ≡ hashes[pos] property and text_winnow_fp's rows-only row.
    "text_winnow_positions" -> ((s, d) =>
      TextAnalysis.winnowPositions(
        spread(Tables.documents(s, d)).select(col("doc_id"),
          concat_ws(" ", transform(sequence(lit(1), (lit(5) + col("doc_id") % 9).cast("int")),
            _ => lit("tok"))).as("text")))),
    "text_bpe_tokens" -> ((s, d) => TextAnalysis.bpeTokenCount(spread(Tables.documents(s, d)))),
    // REAL BPE (train merges on the corpus word table, encode with the
    // native greedy-merge loop), hash-oracled by the planted-analytic
    // move, BPE edition: the corpus is replanted from doc_id as one of
    // four disjoint-alphabet words repeated a class-weighted number of
    // times ("aaaa"×6, "bbbb"×5, "cccc"×4, "dddd"×3; class = doc_id % 4).
    // Class weighting plus lex tie-breaks analytically force the
    // Sennrich loop's first-10 merge SET for ANY corpus size — nominally
    // 1(a,a) 2(b,b) 3(c,c) 4(d,d) 5(aa,aa) 6(␠,aaaa) 7(bb,bb) 8(␠,bbbb)
    // 9(cc,cc) 10(␠,cccc), then 11(dd,dd) 12(␠,dddd); adjacent
    // same-weight merges may swap when doc_id%4 class counts differ by
    // one, but each class's own merges stay rank-increasing and (dd,dd)
    // can never enter the top 10 (3n_d ≤ 3n_c with " " < "d" on ties),
    // so every class's ENCODE is invariant. numMerges=10 cuts the table
    // mid-sequence: class d encodes PARTIALLY (["dd","dd"] /
    // [" ","dd","dd"]) — one hash pins the training weighting,
    // tie-breaks, the cutoff, and the greedy encode. Pieces ride as a
    // -joined string so DuckDB rebuilds them exactly; the
    // real-corpus encode stays pinned by the Sennrich fixture + the
    // lossless-segmentation law in OperatorsSpec.
    "text_bpe_encode" -> ((s, d) => {
      val planted = plantedBpeCorpus(Tables.documents(s, d))
      val merges = TextAnalysis.trainBpeMerges(planted, numMerges = 10)
      TextAnalysis.bpeEncode(planted, merges)
        .select(col("doc_id"), col("n_pieces"),
          concat_ws("\u0001", col("pieces")).as("pieces_str"))
    }),
    // token-distribution audit under the SAME planted-analytic trained
    // tokenizer: each class's pieces are known in closed form (class a:
    // 'aaaa' + 5 x ' aaaa'; b: 'bbbb' + 4 x ' bbbb'; c: 'cccc' + 3 x
    // ' cccc'; d cut mid-table: 6 x 'dd' + 2 x ' '), so collection and
    // document frequency per piece are exact arithmetic over the
    // doc_id % 4 class sizes - the oracle rebuilds the multiset
    "text_token_hist" -> ((s, d) => {
      val planted = plantedBpeCorpus(Tables.documents(s, d))
      val merges = TextAnalysis.trainBpeMerges(planted, numMerges = 10)
      TextAnalysis.bpeVocabHist(planted, merges)
    }),
    "text_normalize" -> ((s, d) => TextAnalysis.normalizeText(Tables.documents(s, d))),
    "text_heavy_hitters" -> ((s, d) => TextAnalysis.heavyHitters(spread(Tables.documents(s, d)))),
    // per-doc fraction of distinct 3-grams unique to that doc (the
    // boilerplate/dedup-coverage diagnostic); fp-keyed in the engine,
    // string-keyed in the oracle
    "text_novelty" -> ((s, d) => TextAnalysis.novelGramShare(Tables.documents(s, d))),
    // C4 §2.2 word-blocklist doc gate: token-exact match (vs c4_clean's
    // substring doc rule); "slow"/"window" exist in the corpus vocabulary
    // so both keep branches are exercised
    "text_badwords" -> ((s, d) =>
      TextAnalysis.badWordFilter(spread(Tables.documents(s, d)), Seq("slow", "window"))),
    // the Dolma-style per-doc attributes sidecar: every tagger's signal
    // in ONE zero-shuffle pass (plan-pinned); the oracle reassembles the
    // same row from each tagger's proven CTE via joins
    "text_attributes" -> ((s, d) => TextAnalysis.attributeReport(spread(Tables.documents(s, d)))),
    // TRAINED language-ID bank (per-language hashed-linear models): the
    // demo bank's weights are derived from the marker words (+1000 milli
    // at each marker's md5 bucket), so the oracle re-materializes the
    // exact weight arrays as literals and replays bucket → logit → argmax
    // integer-exactly — the text_model_score move, one model per language
    "text_lang_model" -> ((s, d) => TextAnalysis.langModelScore(spread(Tables.documents(s, d)))),
    "text_char_entropy" -> ((s, d) => TextAnalysis.charEntropy(Tables.documents(s, d))),
    // the RPv2 compressibility signal, hash-oracled via COMMITTED
    // deflate constants (DuckDB has no zlib, so the oracle cannot
    // recompute a deflate length — instead the fixture generator ran the
    // engine's own level-6/nowrap Deflater ONCE over four committed
    // structure classes and pinned the exact byte counts, the
    // canary-floor stance; FuncsSpecs's committed-constant test catches
    // a zlib-build shift loudly, and the wide-margin property tests on
    // REAL text — degenerate ≪ prose ≪ random, doubling lowers the ratio
    // — keep the corpus-facing operator behavior pinned). doc_id picks
    // the class, so every row is oracle-recomputable: class → committed
    // (n_chars, deflate_len) and the exact integer milli-ratio.
    "text_compress_ratio" -> ((s, d) => {
      val plant = compressPlant(col("doc_id"))
      Tables.documents(s, d).select(
        col("doc_id"),
        length(plant).cast("bigint").as("n_chars"),
        graft.functions.Native.deflateLen(plant).as("deflate_len"),
        (graft.functions.Native.deflateLen(plant) * 1000L /
          length(plant).cast("bigint")).cast("bigint").as("ratio_milli"))
    }),
    "text_repetition" -> ((s, d) => TextAnalysis.repetitionStats(spread(Tables.documents(s, d)))),
    // the COMPLETE Gopher repetition suite over the planted lined view
    // (gopherPlantedDocs); the oracle recomputes ALL 13 signals from the
    // contract in Native.GopherRepetition's scaladoc — including the
    // dup-{5..10}-gram coverage, via a per-gram dup-flag list
    "text_gopher_repetition" -> ((s, d) =>
      TextAnalysis.gopherRepetitionStats(gopherPlantedDocs(s, d))),
    // the published thresholds as per-rule gates over the same view
    "text_gopher_rep_filter" -> ((s, d) =>
      TextAnalysis.gopherRepetitionFilter(gopherPlantedDocs(s, d))),
    // the length precondition live: under-40-token docs abstain (gated 0,
    // all flags 1) instead of being judged by web-document thresholds
    "text_gopher_rep_gate_len" -> ((s, d) =>
      TextAnalysis.gopherRepetitionFilter(gopherPlantedDocs(s, d), minTokens = 40L)),
    "text_gopher_filter" -> ((s, d) => TextAnalysis.gopherFilter(Tables.documents(s, d))),
    // BM25 retrieval against a fixed bag-of-words query (targeted
    // selection / decontamination triage); scores rounded to 6dp on both
    // engines and ties broken by doc_id, so the top-50 cutoff is
    // deterministic
    "text_bm25" -> ((s, d) =>
      TextAnalysis.bm25TopK(Tables.documents(s, d), Bm25Query, k = 50)),
    // whole-benchmark retrieval triage: top-10 per prompt stand-in
    "text_bm25_multi" -> ((s, d) => {
      import s.implicits._
      TextAnalysis.bm25PerQuery(Tables.documents(s, d),
        BenchmarkQueries.toDF("query_id", "terms"), k = 10)
    }),
    // lexical decontamination: drop every doc in ANY prompt's top-20
    // retrieval neighborhood (the paraphrase-adjacent complement to the
    // exact n-gram decontaminate)
    "decontaminate_bm25" -> ((s, d) => {
      import s.implicits._
      TextAnalysis.decontaminateByRetrieval(Tables.documents(s, d),
        BenchmarkQueries.toDF("query_id", "terms"), k = 20).select("doc_id")
    }),
    "text_tfidf" -> ((s, d) => TextAnalysis.tfidfScore(spread(Tables.documents(s, d)))),
    "text_unigram_nll" -> ((s, d) => TextAnalysis.unigramSurprisal(Tables.documents(s, d))),
    "text_bigram_nll" -> ((s, d) => TextAnalysis.bigramSurprisal(spread(Tables.documents(s, d)))),
    "text_ppl_buckets" -> ((s, d) => TextAnalysis.perplexityBuckets(spread(Tables.documents(s, d)))),
    // Stupid Backoff trigram scoring against the non-src0 LM slice: src0
    // docs carry LM-unseen trigrams/bigrams, so the direct path AND both
    // backoff levels all bind under the hash
    "text_backoff_lm" -> ((s, d) =>
      TextAnalysis.stupidBackoffScore(Tables.documents(s, d), col("source") =!= "src0")),
    // DSIR importance weighting: target LM = the src0 slice (any
    // predicate works; the oracle mirrors this one)
    "text_dsir" -> ((s, d) =>
      TextAnalysis.importanceWeight(Tables.documents(s, d), col("source") === "src0")),
    // the selection-ablation table over the DSIR score: docs/token mass
    // surviving each candidate cutoff, from ONE aggregate pass
    "quality_sweep" -> ((s, d) => Pipeline.thresholdSweep(
      TextAnalysis.importanceWeight(Tables.documents(s, d), col("source") === "src0"),
      "mean_logratio", "n_tokens",
      Seq(-0.2, -0.1, -0.05, 0.0, 0.05, 0.1, 0.2))),
    "sample_importance" -> ((s, d) =>
      TextAnalysis.importanceTopK(Tables.documents(s, d), col("source") === "src0", k = 100)),
    // model-based quality scoring plumbing: the weights are an arbitrary
    // deterministic fixture (a real run loads trained ones); the oracle
    // pins the feature hashing + exact integer scoring arithmetic
    "text_model_score" -> ((s, d) =>
      TextAnalysis.linearQualityScore(spread(Tables.documents(s, d)), DemoWeightsMilli)),
    // the closed train→deploy loop: distill the Gopher gate into a hashed
    // linear model (distributed LBFGS), then score through the SAME
    // literal-weights codegen path text_model_score pins — now
    // hash-oracled via COMMITTED constants: the 200-row train set is the
    // SF-independent separable plant (TrainPlantClasses, labels =
    // class < 4), single-partition so the float gradient reduction has
    // ONE association order and the converged milli-weights are
    // bit-reproducible; the fixture generator ran the loop once and
    // committed the eight per-class logits in the oracle (and in
    // OperatorsSpec, so an MLlib/BLAS drift fails the suite loudly, the
    // deflate-constant stance). The corpus-scale train path
    // (maxTrainRows bound, hash-sampled input) stays pinned by its own
    // specs; LBFGS itself is not SQL-expressible, which is exactly why
    // the oracle pins the OUTPUT as committed constants instead.
    "text_train_score" -> ((s, _) => {
      val plant = s.range(0, 200).select(
        col("id").as("doc_id"),
        (col("id") % 8).cast("int").as("cls"))
        .withColumn("text", element_at(typedLit(TrainPlantClasses), col("cls") + 1))
        .withColumn("label", (col("cls") < 4).cast("int"))
        .repartition(1)
      val (w, bias) = TextAnalysis.trainQualityWeights(
        plant.select(col("doc_id"), col("text"), col("label")), dim = 256)
      TextAnalysis.linearQualityScore(plant, w, bias)
        .select(col("doc_id"), col("logit_milli"), col("keep"))
    }),
    // HTML extraction over a planted page wrapper (script/style blocks,
    // attributes, all six entities — built identically in the oracle)
    "html_extract" -> ((s, d) => TextAnalysis.stripHtml(
      Tables.documents(s, d).select(col("doc_id"),
        concat(
          lit("<html><head><style>p{color:red}</style><script>var x=1;</script></head><body class=\"c"),
          (col("doc_id") % 5).cast("string"),
          lit("\"><h1>T&amp;C "), col("doc_id").cast("string"),
          lit("</h1><p>A &quot;quoted&quot; &#39;intro&#39; &amp;&nbsp;more</p><p>"),
          col("text"),
          lit("</p></body></html>")).as("text")))),
    // URL gate over a derived deterministic URL fixture (the corpus has
    // no url column; the same expression builds it in the oracle).
    // doc_id%3 picks the registered domain (blocklist hits ~1/3),
    // doc_id%7 plants a blocked path word, doc_id%5 a harmless query
    // string — every rule path is exercised.
    "url_filter" -> ((s, d) => TextAnalysis.urlFilter(
      Tables.documents(s, d).select(col("doc_id"),
        concat(lit("https://www."), col("source"), lit(".example"),
          (col("doc_id") % 3).cast("string"), lit(".com/"), col("lang"),
          lit("/page"), col("doc_id").cast("string"),
          when(col("doc_id") % 7 === 0, lit("/casino-bonus")).otherwise(lit("")),
          when(col("doc_id") % 5 === 0, lit("?utm_source=feed")).otherwise(lit("")))
          .as("url")),
      blockedDomains = Seq("example0.com"),
      blockedWords = Seq("casino", "tracker"))),
    // C4 line/doc heuristics over the same lined fixture; "slow" stands
    // in for C4's "javascript" line-blocklist rule on this vocabulary
    "c4_clean" -> ((s, d) => TextAnalysis.c4LineFilter(
      spread(Tables.documents(s, d)).select(col("doc_id"),
        linedText(col("doc_id"), col("text")).as("text")),
      lineBlocklist = Seq("slow"))),

    // --- north-star: corpus-prep pipeline ---
    "pipeline_hash_split" -> ((s, d) => Pipeline.hashSplit(Tables.documents(s, d))),
    "vocab_top100" -> ((s, d) => Pipeline.vocabTopK(Tables.documents(s, d), k = 100)),
    // synthetic corpus carries no PII — inject a deterministic contact
    // line per doc (mirrored in the oracle) so the redaction is exercised
    "pii_redact" -> ((s, d) =>
      Pipeline.redactPii(spread(Tables.documents(s, d)).withColumn("text",
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com or 555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"))))),
    "embedding_quantize" -> ((s, d) => Pipeline.quantizeEmbeddings(Tables.embeddings(s, d))),
    "corpus_stats" -> ((s, d) => Pipeline.corpusStats(Tables.documents(s, d))),
    // sketch scale-path: HLL/t-digest internals are engine-specific →
    // rows-only here; accuracy pinned vs exact aggregates in PipelineSpec
    // the sketch path (HLL++ distinct counts + quantile summaries),
    // hash-oracled by the small-domain move: planted domains (31 ids,
    // 7 sources, 9-word vocab, 9 token-lengths — constant sets at every
    // SF) sit deep in the linear-counting / exact-summary regime where
    // both sketches return EXACTLY the true values, so DuckDB's exact
    // COUNT(DISTINCT) / quantile_disc are a hash oracle for the sketch
    // aggregation plan end-to-end. Sketch ACCURACY on real
    // high-cardinality data stays pinned by the OperatorsSpec
    // approx-vs-exact test (where estimates are engine-specific).
    "corpus_stats_approx" -> ((s, d) =>
      Pipeline.corpusStatsApprox(Tables.documents(s, d).select(
        (col("doc_id") % 31).as("doc_id"),
        concat(lit("s"), (col("doc_id") % 7).cast("string")).as("source"),
        concat_ws(" ", transform(
          sequence(lit(1), (lit(5) + col("doc_id") % 9).cast("int")),
          _ => concat(lit("w"), (col("doc_id") % 9).cast("string")))).as("text")))),
    "pipeline_filter_dedup" -> ((s, d) => Pipeline.qualityFilterDedup(Tables.documents(s, d))),
    "decontaminate" -> ((s, d) => Pipeline.decontaminate(Tables.documents(s, d), n = 5)),
    // identical semantics to decontaminate (the verify join removes bloom
    // false positives), so it shares that oracle SQL verbatim — the hash
    // match pins that the map-side bloom prune loses nothing
    "decontaminate_bloom" -> ((s, d) => Pipeline.decontaminateBloom(Tables.documents(s, d), n = 5)),
    "contamination_report" -> ((s, d) => Pipeline.contaminationReport(Tables.documents(s, d), n = 5)),
    "sample_bernoulli" -> ((s, d) => Pipeline.bernoulliSample(Tables.documents(s, d), p = 0.25)),
    "sample_stratified" -> ((s, d) => Pipeline.stratifiedSample(Tables.documents(s, d),
      fractions = Map("src0" -> 0.75, "src1" -> 0.5), defaultFraction = 0.125)),
    "pack_sequences" -> ((s, d) => Pipeline.packSequences(Tables.documents(s, d))),
    // packing-efficiency diagnostics over the same default layout
    "pack_report" -> ((s, d) => Pipeline.packingReport(Tables.documents(s, d))),
    // short-to-long curriculum: stage = fixed length-band cutoffs (225/390
    // chars ≈ corpus tertiles; literals so the oracle mirrors them) —
    // stage-ascending global order, hash-shuffled within each stage
    "pipeline_curriculum" -> ((s, d) => Pipeline.curriculumOrder(
      Tables.documents(s, d),
      when(col("n_chars") < 225, 0).when(col("n_chars") < 390, 1).otherwise(2))),
    // The COMPOSED prep DAG end-to-end — every stage is the separately
    // oracled operator, chained in production order over the lined
    // fixture: C4 line/doc rules → URL gate → Gopher composite (all
    // rules active; thresholds are caller-tuned to the fixture's
    // post-C4 shape, as a production run tunes to its corpus) → corpus
    // line dedup (keep-first) → exact dedup → hash split +
    // 3-gram decontamination of the train slice → sequence packing.
    // The DuckDB oracle replays the identical chain as one WITH
    // cascade, so the hash pins stage ORDER and interplay (each
    // stage's input is the previous stage's actual output), not just
    // the stages in isolation. Stage-drop profile at sf0.001:
    // 500 → 478 (C4) → 285 (URL) → 130 (Gopher) → 128 (line dedup)
    // → 128 (exact — no full-doc dups survive line dedup on this
    // fixture; the stage still pins pass-through fidelity) → 88
    // (split + 2 contaminated dropped) → packed.
    "pipeline_full_prep" -> ((s, d) => {
      // r18: NO spread here (withdrawn per the r17 verdict). The 9-stage
      // DAG multiplies ACTIONS (persisted boundaries, counts, the split/
      // pack stages), and a pinned user-repartition width makes every one
      // of those actions schedule `cpus` tasks over kilobytes — the
      // driver measured the ND tier 3× FASTER at 8 cores than 32. The
      // per-row work here (line split, token stats) is light; AQE's
      // size-based coalescing keeps the post-shuffle stages matched to
      // the data instead.
      val docs = Tables.documents(s, d)
      // r18: the URL gate, the Gopher gate and the split assignment are
      // PURE PER-ROW verdicts (urlKeepExpr / gopherKeepExpr / splitExpr),
      // so they gate the scan in place — the old verdict-projection
      // joins ("derive doc_id keep set, join it back") cost a doc_id
      // exchange of BOTH sides per gate at any corpus size for rules
      // that never look past their own row (guide §2.4: remove shuffles
      // outright). Filters commute with the per-row C4 pass, so gating
      // URLs before the line filter is the same set. Result
      // hash-oracle-pinned unchanged. Aggregation-backed stages (line
      // dedup's corpus claims, exact dedup's digest keepers,
      // decontamination) keep their joins — those are corpus-wide by
      // nature — and their multi-consumer boundaries stay persisted
      // (without them Catalyst re-executes the whole upstream chain once
      // per branch; measured 15 s → ~2 s at sf0.1).
      val url = concat(lit("https://www."), col("source"), lit(".example"),
        (col("doc_id") % 3).cast("string"), lit(".com/"), col("lang"),
        lit("/page"), col("doc_id").cast("string"),
        when(col("doc_id") % 7 === 0, lit("/casino-bonus")).otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit("?utm_source=feed")).otherwise(lit("")))
      val raw = docs
        .filter(TextAnalysis.urlKeepExpr(url,
          blockedDomains = Seq("example0.com"),
          blockedWords = Seq("casino", "tracker")))
        .select(col("doc_id"), linedText(col("doc_id"), col("text")).as("text"))
      val afterUrl = TextAnalysis.c4LineFilter(raw, lineBlocklist = Seq("slow"))
        .filter(col("keep") === 1)
        .select(col("doc_id"), col("text_clean").as("text"))
        .transform(Caches.persisted)
      val gated = afterUrl.filter(TextAnalysis.gopherKeepExpr(
        minTokens = 10L, maxTokens = 60L, minMeanTokLen = 6.5,
        maxMeanTokLen = 8.2, maxTopUnigramFrac = 0.15,
        maxDupTokenFrac = 0.3, minStopwords = 1L))
      val lineDeduped = Dedup.lineDedup(gated)
        .filter(col("n_kept") > 0)
        .select(col("doc_id"), col("text_clean").as("text"))
        .transform(Caches.persisted)
      val exact = lineDeduped.join(
        Dedup.exact(lineDeduped).select(col("keep_id").as("doc_id")), Seq("doc_id"))
        .transform(Caches.persisted)
      val contaminated = Pipeline.decontaminate(exact, n = 3).select("doc_id")
      val train = exact
        .filter(Pipeline.splitExpr(col("doc_id")) === "train")
        .join(contaminated, Seq("doc_id"), "left_anti")
      Pipeline.packSequences(train, budgetTokens = 128L, numBuckets = 8)
    }),
    // pipeline_full_prep with the production near-dup tier composed in —
    // the RefinedWeb chain runs near-dup + component canonicalization
    // BETWEEN exact dedup and decontamination. Exact dedup collapses
    // bit-identical texts only, so the near-dup fixture is a planted
    // perturbed RE-CRAWL: every 10th surviving doc re-enters re-keyed
    // with one appended token — different bytes (exact dedup keeps it)
    // but 3-gram Jaccard (n−2)/(n−1) ≥ 0.5 (the component stage MUST
    // collapse it back onto its original, the smaller component id). The
    // pair stage is the losslessly-prefix-filtered ngramJaccard (the
    // SSJoin lemma), so the oracle replays it quadratically and the CC +
    // keeper + downstream interplay is hash-pinned end-to-end.
    "pipeline_full_prep_nd" -> ((s, d) => {
      // r18: spread withdrawn (see pipeline_full_prep) — it pinned a
      // 32-wide layout that union doubled to 64-task stages for every
      // downstream action of the action-heaviest query in the suite
      // (r17 driver: 10.1 s at 32 cores vs 3.3 s at 8 — active
      // anti-scaling, not parallelism).
      val docs = Tables.documents(s, d)
      // r18: per-row gates inline (urlKeepExpr/gopherKeepExpr/splitExpr) —
      // see pipeline_full_prep; same rewrite, same oracle pin.
      val url = concat(lit("https://www."), col("source"), lit(".example"),
        (col("doc_id") % 3).cast("string"), lit(".com/"), col("lang"),
        lit("/page"), col("doc_id").cast("string"),
        when(col("doc_id") % 7 === 0, lit("/casino-bonus")).otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit("?utm_source=feed")).otherwise(lit("")))
      val raw = docs
        .filter(TextAnalysis.urlKeepExpr(url,
          blockedDomains = Seq("example0.com"),
          blockedWords = Seq("casino", "tracker")))
        .select(col("doc_id"), linedText(col("doc_id"), col("text")).as("text"))
      val afterUrl = TextAnalysis.c4LineFilter(raw, lineBlocklist = Seq("slow"))
        .filter(col("keep") === 1)
        .select(col("doc_id"), col("text_clean").as("text"))
        .transform(Caches.persisted)
      val gated = afterUrl.filter(TextAnalysis.gopherKeepExpr(
        minTokens = 10L, maxTokens = 60L, minMeanTokLen = 6.5,
        maxMeanTokLen = 8.2, maxTopUnigramFrac = 0.15,
        maxDupTokenFrac = 0.3, minStopwords = 1L))
      val lineDeduped = Dedup.lineDedup(gated)
        .filter(col("n_kept") > 0)
        .select(col("doc_id"), col("text_clean").as("text"))
        .transform(Caches.persisted)
      val exact = lineDeduped.join(
        Dedup.exact(lineDeduped).select(col("keep_id").as("doc_id")), Seq("doc_id"))
        .transform(Caches.persisted)
      // planted perturbed re-crawls (see the query comment above)
      val copies = exact.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 200000L).as("doc_id"),
          concat(col("text"), lit(" zz"), col("doc_id").cast("string")).as("text"))
      // localCheckpoint, not persist: a persist substitutes the CACHE at
      // physical planning but every downstream ACTION still re-analyzes
      // the full 6-stage logical tree — and the ND tier multiplies
      // actions (pair-stage df computation, the CC driver collect and
      // its iterations, decontaminate, split, pack), which turned ~3 s
      // of execution into ~25 s of repeated Catalyst optimization.
      // Truncating lineage here (the connectedComponents stance) cut the
      // measured post-checkpoint stages 10× at sf0.1.
      val ndIn = exact.unionByName(copies).localCheckpoint()
      val ndKeep = Dedup.dedupComponents(ndIn, n = 3, threshold = 0.5)
        .filter(col("is_keeper") === 1).select("doc_id")
      val nd = ndIn.join(ndKeep, Seq("doc_id")).localCheckpoint()
      val contaminated = Pipeline.decontaminate(nd, n = 3).select("doc_id")
      val train = nd
        .filter(Pipeline.splitExpr(col("doc_id")) === "train")
        .join(contaminated, Seq("doc_id"), "left_anti")
      Pipeline.packSequences(train, budgetTokens = 128L, numBuckets = 8)
    }),
    "cap_per_source" -> ((s, d) => Pipeline.capPerSource(Tables.documents(s, d), k = 10)),
    "sample_token_budget" -> ((s, d) =>
      Pipeline.sampleToTokenBudget(Tables.documents(s, d), budgetTokens = 800L)),
    "chunk_documents" -> ((s, d) =>
      Pipeline.chunkDocuments(Tables.documents(s, d), chunkTokens = 32, overlap = 8)),
    "mixture_weights" -> ((s, d) => Pipeline.mixtureWeights(Tables.documents(s, d))),
    "mixture_temperature" -> ((s, d) => Pipeline.temperatureMixture(Tables.documents(s, d))),
    "epoch_plan" -> ((s, d) => Pipeline.epochPlan(Tables.documents(s, d), budgetTokens = 1000000L)),
    // the mixture MATERIALIZED: per-source targets from the α=0.5
    // temperature plan, each source filled to its own target in md5
    // order. At sf0.01 the 24k budget puts small sources over their
    // availability (keep-all branch) and large ones under (boundary
    // branch), so both paths hash-pin
    "mixture_materialize" -> ((s, d) =>
      Pipeline.materializeMixture(Tables.documents(s, d), budgetTokens = 24000L)),
    "span_corrupt" -> ((s, d) => Pipeline.spanCorrupt(Tables.documents(s, d))),
    "corpus_report" -> ((s, d) => Pipeline.corpusReport(Tables.documents(s, d))),
    "pipeline_global_order" -> ((s, d) => Pipeline.globalOrderShards(Tables.documents(s, d))),
    "asof_attribution" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val facts = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val dims = ev.filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("click_id"))
        .select(col("user_id"), col("ts"), col("click_id"), col("ts").as("click_ts"))
      Relational.asofJoin(facts, dims, "user_id", "ts")
        .withColumn("ts", fmtTs(col("ts")))
        .withColumn("click_ts", fmtTs(col("click_ts")))
    })
  )

  def oracleSql: Map[String, String] = Map(
    "t1_uppercase" ->
      "SELECT doc_id, upper(text) AS text_upper FROM documents",
    "t2_typed_scan" ->
      s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
          strftime(o_orderdate, '$FmtTsSql') AS o_orderdate, o_orderpriority FROM orders""",
    "t3_running_count" ->
      """SELECT CAST(o_custkey AS VARCHAR) AS key, count(*) AS cnt
         FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1""",
    "t4_tumbling_count_user" ->
      s"""SELECT strftime(date_trunc('minute', ts), '$FmtTsSql') AS window_start,
          CAST(user_id AS VARCHAR) AS key, count(*) AS cnt FROM events GROUP BY 1, 2""",
    "t5_tumbling_count_type" ->
      s"""SELECT strftime(date_trunc('minute', ts), '$FmtTsSql') AS window_start,
          CAST(event_type AS VARCHAR) AS key, count(*) AS cnt FROM events GROUP BY 1, 2""",
    "t6_windowed_fraud" ->
      s"""SELECT strftime(date_trunc('day', ts), '$FmtTsSql') AS window_start,
          CAST(user_id AS VARCHAR) AS key, count(*) AS cnt FROM events
          GROUP BY 1, 2 HAVING count(*) > 3""",
    "t7_sliding_count" ->
      s"""SELECT CAST(user_id AS VARCHAR) AS key, strftime(ts, '$FmtTsSql') AS window_start,
          count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
            RANGE BETWEEN CURRENT ROW AND 299999999 FOLLOWING) AS cnt FROM events""",
    "t8_stream_stream_join" ->
      s"""SELECT o_orderkey, o_custkey, l_linenumber, l_extendedprice,
          strftime(o_orderdate, '$FmtTsSql') AS o_orderdate,
          strftime(l_shipdate, '$FmtTsSql') AS l_shipdate
          FROM orders JOIN lineitem ON l_orderkey = o_orderkey
          AND l_shipdate >= o_orderdate AND l_shipdate <= o_orderdate + INTERVAL 5 DAY""",
    "t8_left_join" ->
      s"""SELECT o_orderkey, o_custkey, l_orderkey, l_linenumber, l_extendedprice,
          strftime(o_orderdate, '$FmtTsSql') AS o_orderdate,
          strftime(l_shipdate, '$FmtTsSql') AS l_shipdate
          FROM orders LEFT JOIN lineitem ON l_orderkey = o_orderkey
          AND l_shipdate >= o_orderdate AND l_shipdate <= o_orderdate + INTERVAL 5 DAY""",
    "t8_outer_join" ->
      s"""SELECT o_orderkey, o_custkey, l_orderkey, l_linenumber, l_extendedprice,
          strftime(o_orderdate, '$FmtTsSql') AS o_orderdate,
          strftime(l_shipdate, '$FmtTsSql') AS l_shipdate
          FROM orders FULL OUTER JOIN lineitem ON l_orderkey = o_orderkey
          AND l_shipdate >= o_orderdate AND l_shipdate <= o_orderdate + INTERVAL 5 DAY""",
    "t9_stream_table_join" ->
      s"""SELECT o_orderkey, o_custkey, o_totalprice,
          strftime(o_orderdate, '$FmtTsSql') AS o_orderdate, c_name, c_mktsegment
          FROM orders JOIN customer ON o_custkey = c_custkey""",
    "t10_fraud_alerts" ->
      """SELECT key, order_key, running_cnt,
           printf('Fraud alert! Customer %s placed %d high-value orders.', key, running_cnt) AS alert
         FROM (
           SELECT CAST(o_custkey AS VARCHAR) AS key, o_orderkey AS order_key,
                  count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS running_cnt
           FROM orders WHERE o_totalprice >= 500.0)
         WHERE running_cnt > 3""",
    "ts_parse_chain" ->
      s"""SELECT event_id, strftime(coalesce(
            try_cast(json_extract_string(props, '$$.k') AS TIMESTAMP),
            try_strptime(json_extract_string(props, '$$.k'), '%Y-%m-%d'),
            epoch_ms(try_cast(json_extract_string(props, '$$.k') AS BIGINT)),
            ts), '$FmtTsSql') AS event_time FROM events""",
    "t11_session_count" ->
      s"""WITH g AS (
           SELECT user_id, ts,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                  >= INTERVAL 30 SECOND THEN 1 ELSE 0 END AS brk
           FROM events),
         s AS (
           SELECT user_id, ts,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts
               ROWS UNBOUNDED PRECEDING) AS sid
           FROM g)
         SELECT strftime(min(ts), '$FmtTsSql') AS session_start,
                strftime(max(ts) + INTERVAL 30 SECOND, '$FmtTsSql') AS session_end,
                CAST(user_id AS VARCHAR) AS key, count(*) AS cnt
         FROM s GROUP BY user_id, sid""",
    "json_rekey_count" ->
      """SELECT key, count(*) AS cnt, CAST(sum(amt) AS DOUBLE) AS total FROM (
           SELECT CASE WHEN o_orderkey % 97 = 0 THEN 'UNKNOWN'
                       ELSE CAST(o_custkey AS VARCHAR) END AS key,
                  CASE WHEN o_orderkey % 97 = 0 THEN NULL
                       ELSE CAST(o_totalprice AS DECIMAL(12,2)) END AS amt
           FROM orders) GROUP BY 1""",
    "dedup_exact" ->
      """SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS dup_cnt
         FROM documents GROUP BY 1""",
    // Jaccard-1 pairs over corpus + replants = pairs with EQUAL sorted
    // distinct-shingle sets (each doc ⋈ its replant, plus the corpus's
    // own identical-shingle-set families and their replant cross pairs)
    "dedup_minhash_lsh" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
           sh AS (SELECT doc_id, list_sort(list_distinct(CASE WHEN len(toks) >= 3
                    THEN [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]
                    ELSE [array_to_string(toks, ' ')] END)) AS s FROM t),
           u AS (SELECT doc_id, s FROM sh
                 UNION ALL SELECT doc_id + 100000, s FROM sh)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b
         FROM u a JOIN u b ON a.doc_id < b.doc_id AND a.s = b.s""",
    // kept at threshold 1.0 ⟺ equal full texts among (corpus ∪ replants):
    // dist 0, edit_sim exactly 1.0
    "dedup_editsim" ->
      """WITH u AS (SELECT doc_id, text FROM documents
                    UNION ALL SELECT doc_id + 100000, text FROM documents)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                CAST(0 AS BIGINT) AS dist, 1.0 AS edit_sim
         FROM u a JOIN u b ON a.doc_id < b.doc_id AND a.text = b.text""",
    // the budgeted pair set in closed form: pairs among each identical-
    // text group's first 4 members (cap 3 + both-endpoints-keep — see the
    // query comment), distance 0 / similarity 1 since the group shares
    // one planted text
    "dedup_editsim_cap" ->
      """WITH g AS (SELECT doc_id,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT %
                 (SELECT greatest(1, count(*) // 6) FROM documents) AS grp
             FROM documents),
           r AS (SELECT doc_id, grp,
               row_number() OVER (PARTITION BY grp ORDER BY doc_id) - 1 AS pos
             FROM g)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                CAST(0 AS BIGINT) AS dist, 1.0 AS edit_sim
         FROM r a JOIN r b ON a.grp = b.grp AND a.pos < b.pos AND b.pos <= 3""",
    // DuckDB's levenshtein over the same 256-char truncation and the
    // same sim algebra — exact integer distances, same double compare
    "dedup_editsim_pairs" ->
      """WITH t AS (SELECT doc_id, substr(text, 1, 256) AS t FROM documents),
           p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(levenshtein(a.t, b.t) AS BIGINT) AS dist,
                   greatest(len(a.t), len(b.t), 1) AS ml
                 FROM t a JOIN t b ON b.doc_id = a.doc_id + 1)
         SELECT id_a, id_b, dist,
                1.0 - CAST(dist AS DOUBLE) / CAST(ml AS DOUBLE) AS edit_sim
         FROM p WHERE 1.0 - CAST(dist AS DOUBLE) / CAST(ml AS DOUBLE) >= 0.25""",
    // the planted token distances are pure arithmetic: k for the
    // append/prepend classes, n (token count) for substitute-all; the
    // sim denominator is the longer side's token count
    "dedup_editsim_tokens" ->
      """WITH base AS (SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
               CAST(doc_id % 4 + 1 AS BIGINT) AS k FROM documents),
           p AS (SELECT doc_id,
                   CASE WHEN doc_id % 3 = 1 THEN n ELSE k END AS dist,
                   CASE WHEN doc_id % 3 = 1 THEN n ELSE n + k END AS ml
                 FROM base)
         SELECT doc_id AS id_a, doc_id + 100000 AS id_b, dist,
                1.0 - CAST(dist AS DOUBLE) / CAST(ml AS DOUBLE) AS edit_sim
         FROM p""",
    // kept at threshold 1.0 ⟺ equal token sequences among (corpus ∪
    // replants) — the single-spaced corpus makes that equal text
    "dedup_editsim_tok" ->
      """WITH u AS (SELECT doc_id, text FROM documents
                    UNION ALL SELECT doc_id + 100000, text FROM documents)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                CAST(0 AS BIGINT) AS dist, 1.0 AS edit_sim
         FROM u a JOIN u b ON a.doc_id < b.doc_id AND a.text = b.text""",
    // cross pairs = equal sorted-distinct-shingle sets ACROSS the two
    // relations (left original ids × right replanted ids, a == b allowed)
    "dedup_cross" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
           sh AS (SELECT doc_id, list_sort(list_distinct(CASE WHEN len(toks) >= 3
                    THEN [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]
                    ELSE [array_to_string(toks, ' ')] END)) AS s FROM t)
         SELECT a.doc_id AS id_a, b.doc_id + 100000 AS id_b
         FROM sh a JOIN sh b ON a.s = b.s""",
    // equal shingle sets across the md5 train/test split of the planted
    // (corpus ∪ replants) relation, counted per train doc
    "decontaminate_neardup" ->
      """WITH u AS (SELECT doc_id, text FROM documents
                    UNION ALL SELECT doc_id + 100000, text FROM documents),
           s AS (SELECT doc_id,
                   CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 32, 1) IN ('c','d') THEN 'val'
                        WHEN substr(md5(CAST(doc_id AS VARCHAR)), 32, 1) IN ('e','f') THEN 'test'
                        ELSE 'train' END AS split,
                   string_split(text, ' ') AS toks
                 FROM u),
           sh AS (SELECT doc_id, split, list_sort(list_distinct(CASE WHEN len(toks) >= 3
                    THEN [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]
                    ELSE [array_to_string(toks, ' ')] END)) AS sset FROM s)
         SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_hits
         FROM sh a JOIN sh b ON a.sset = b.sset
         WHERE a.split = 'train' AND b.split = 'test'
         GROUP BY 1""",
    // identity-size planted bitmaps: the oracle recomputes the dHash with
    // pure integer arithmetic on the same md5 byte formula (px[i] = first
    // md5 byte of "<doc_id>-<i>"), packs row bytes, and prints the same
    // 16-char two's-complement hex the engine emits
    "multimodal_dhash" ->
      """WITH px AS (SELECT doc_id,
             [('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-' || CAST(i AS VARCHAR)), 1, 2))::INT
              for i in range(0, 72)] AS p
           FROM documents),
           b AS (SELECT doc_id,
             [CAST(list_sum(list_transform(range(0, 8),
                c -> CASE WHEN p[r*9+c+1] > p[r*9+c+2] THEN (1<<c) ELSE 0 END)) AS INT)
              for r in range(0, 8)] AS rws
           FROM px)
         SELECT doc_id,
           upper(array_to_string([lpad(to_hex(rws[8-j]), 2, '0') for j in range(0, 8)], ''))
             AS dhash_hex
         FROM b""",
    // iid-coin dhash bits ⇒ only each image's re-keyed copy is within
    // hamming 2: exactly one hamming-0 pair per document
    "dedup_image" ->
      """SELECT doc_id AS id_a, doc_id + 100000 AS id_b, CAST(0 AS BIGINT) AS hamming
         FROM documents""",
    // both pixel columns must equal the analytic plant (px[i] = first md5
    // byte of "<doc_id>-<i>"): px_hex via the real decoder, blob_px_hex
    // via spec-offset slicing of the real PNG blob — the oracle needs no
    // zlib because the fixture writes STORED deflate blocks
    "multimodal_decode" ->
      """SELECT doc_id,
           upper(array_to_string([substr(md5(CAST(doc_id AS VARCHAR) || '-' || CAST(i AS VARCHAR)), 1, 2)
             for i in range(0, 72)], '')) AS px_hex,
           upper(array_to_string([substr(md5(CAST(doc_id AS VARCHAR) || '-' || CAST(i AS VARCHAR)), 1, 2)
             for i in range(0, 72)], '')) AS blob_px_hex
         FROM documents""",
    // identical pair-set argument to dedup_image: decode(encode(bitmap))
    // round-trips bit-exactly, so copies pair at hamming 0 and iid-coin
    // cross pairs never land within hamming 2
    "dedup_image_png" ->
      """SELECT doc_id AS id_a, doc_id + 100000 AS id_b, CAST(0 AS BIGINT) AS hamming
         FROM documents""",
    // color edition of the multimodal_decode pin, with the two columns now
    // INDEPENDENT: px_hex must equal the oracle's own exact-integer ITU-R
    // 601 luma over the planted channel bytes (channel ch of pixel i = md5
    // hex chars 2ch+1..2ch+2 of "<doc_id>-pc<i>"), and blob_rgb_hex must
    // equal the raw planted RGB bytes — the stored-block layout lets the
    // oracle slice them with no zlib
    // the WebP decoder's luma must equal the same closed-form ITU-R 601
    // luma of the planted channel bytes (the png_color formula — both
    // decoders share the exact-integer luma core)
    "multimodal_decode_webp" ->
      """WITH c AS (SELECT doc_id,
             [('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-pc' || CAST(i AS VARCHAR)), 1, 2))::INT
              for i in range(0, 72)] AS r,
             [('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-pc' || CAST(i AS VARCHAR)), 3, 2))::INT
              for i in range(0, 72)] AS g,
             [('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-pc' || CAST(i AS VARCHAR)), 5, 2))::INT
              for i in range(0, 72)] AS b
           FROM documents)
         SELECT doc_id,
           upper(array_to_string([lpad(to_hex((299 * r[i+1] + 587 * g[i+1] + 114 * b[i+1] + 500) // 1000), 2, '0')
             for i in range(0, 72)], '')) AS px_hex
         FROM c""",
    // the palette decoder's luma must equal the closed-form palette-luma
    // of the planted index bytes — luma601 over the ANALYTIC PLTE entry
    // (i, 255−i, (7·i) mod 256) — interlaced or not, tRNS or not; the
    // blob slice pins the PLTE formula bytes at their fixed spec offset
    // with no decoder in the loop
    "multimodal_decode_png_palette" ->
      """WITH c AS (SELECT doc_id,
             [('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-' || CAST(i AS VARCHAR)), 1, 2))::INT
              for i in range(0, 72)] AS idx
           FROM documents)
         SELECT doc_id,
           upper(array_to_string([lpad(to_hex((299 * idx[i+1] + 587 * (255 - idx[i+1]) + 114 * ((7 * idx[i+1]) % 256) + 500) // 1000), 2, '0')
             for i in range(0, 72)], '')) AS px_hex,
           upper(array_to_string([lpad(to_hex((299 * idx[i+1] + 587 * (255 - idx[i+1]) + 114 * ((7 * idx[i+1]) % 256) + 500) // 1000), 2, '0')
             for i in range(0, 72)], '')) AS px_hex_i,
           upper(array_to_string([lpad(to_hex(j), 2, '0') || lpad(to_hex(255 - j), 2, '0') || lpad(to_hex((7 * j) % 256), 2, '0')
             for j in range(0, 256)], '')) AS blob_plte_hex
         FROM c""",
    // every depth's decode is the §12 scaling of the reduced plant in
    // closed form — ·255 at 1 bit, ·85 at 2, ·17 at 4 — and the 16-bit
    // and gray+alpha variants keep the planted byte verbatim
    "multimodal_decode_png_depths" ->
      """WITH c AS (SELECT doc_id,
             [('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-' || CAST(i AS VARCHAR)), 1, 2))::INT
              for i in range(0, 72)] AS v
           FROM documents)
         SELECT doc_id,
           upper(array_to_string([lpad(to_hex((v[i+1] % 2) * 255), 2, '0') for i in range(0, 72)], '')) AS px_hex_d1,
           upper(array_to_string([lpad(to_hex((v[i+1] % 4) * 85), 2, '0') for i in range(0, 72)], '')) AS px_hex_d2,
           upper(array_to_string([lpad(to_hex((v[i+1] % 16) * 17), 2, '0') for i in range(0, 72)], '')) AS px_hex_d4,
           upper(array_to_string([lpad(to_hex(v[i+1]), 2, '0') for i in range(0, 72)], '')) AS px_hex_d16,
           upper(array_to_string([lpad(to_hex(v[i+1]), 2, '0') for i in range(0, 72)], '')) AS px_hex_ga,
           upper(array_to_string([lpad(to_hex(v[i+1]), 2, '0') for i in range(0, 72)], '')) AS px_hex_ga16
         FROM c""",
    // identical pair-set argument to dedup_image_png on PALETTE payloads:
    // decode(encode(idx)) luma round-trips bit-exactly through the PLTE
    // (either stream layout), so copies pair at hamming 0
    "dedup_image_png_palette" ->
      """SELECT doc_id AS id_a, doc_id + 100000 AS id_b, CAST(0 AS BIGINT) AS hamming
         FROM documents""",
    // identical pair-set argument to dedup_image_png_color on WebP
    // payloads: decode(encode(RGBA bitmap)) luma round-trips bit-exactly
    "dedup_image_webp" ->
      """SELECT doc_id AS id_a, doc_id + 100000 AS id_b, CAST(0 AS BIGINT) AS hamming
         FROM documents""",
    // the lossy VP8 decoder's luma must equal the per-MB md5 plants in
    // closed form: the DC-only fixture reconstructs each 16x16 MB to its
    // planted constant EXACTLY (y_ac_qi 0 → Y2 quantizer 8 → level 8r
    // adds r with zero rounding error), so row r of the 48x40 crop is
    // the three MB constants of MB row r/16 repeated 16 pixels each
    "multimodal_decode_vp8" ->
      """WITH c AS (SELECT doc_id,
             [upper(substr(md5(CAST(doc_id AS VARCHAR) || '-vp8' || CAST(m AS VARCHAR)), 1, 2))
              for m in range(0, 9)] AS mb
           FROM documents)
         SELECT doc_id,
           array_to_string([repeat(mb[(r // 16) * 3 + 1], 16) ||
             repeat(mb[(r // 16) * 3 + 2], 16) ||
             repeat(mb[(r // 16) * 3 + 3], 16) for r in range(0, 40)], '') AS px_hex
         FROM c""",
    // pair-set argument on LOSSY VP8 payloads: decode(encode) is the
    // identity for per-MB-constant bitmaps at EITHER partition count, so
    // the 1-partition base and its 2-partition re-encode carry identical
    // decoded pixels — one digest pair per doc, nothing else
    "dedup_image_vp8" ->
      """SELECT doc_id AS id_a, doc_id + 100000 AS id_b FROM documents""",
    "multimodal_decode_png_color" ->
      """WITH c AS (SELECT doc_id,
             [('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-pc' || CAST(i AS VARCHAR)), 1, 2))::INT
              for i in range(0, 72)] AS r,
             [('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-pc' || CAST(i AS VARCHAR)), 3, 2))::INT
              for i in range(0, 72)] AS g,
             [('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-pc' || CAST(i AS VARCHAR)), 5, 2))::INT
              for i in range(0, 72)] AS b
           FROM documents)
         SELECT doc_id,
           upper(array_to_string([lpad(to_hex((299 * r[i+1] + 587 * g[i+1] + 114 * b[i+1] + 500) // 1000), 2, '0')
             for i in range(0, 72)], '')) AS px_hex,
           upper(array_to_string([substr(md5(CAST(doc_id AS VARCHAR) || '-pc' || CAST(i AS VARCHAR)), 1, 6)
             for i in range(0, 72)], '')) AS blob_rgb_hex
         FROM c""",
    // identical pair-set argument to dedup_image_png on TRUECOLOR payloads:
    // decode(encode(RGBA bitmap)) luma round-trips bit-exactly, so copies
    // pair at hamming 0 and ~iid-luma cross pairs never land within
    // hamming 2
    "dedup_image_png_color" ->
      """SELECT doc_id AS id_a, doc_id + 100000 AS id_b, CAST(0 AS BIGINT) AS hamming
         FROM documents""",
    // every (source, modality, reason) counter recomputed from the planted
    // class arithmetic: classes 0, 6 and 9 decode (NO row — the valid
    // PNG, MJPEG MP4, and lossless WebP), the rest map to fixed
    // (modality, reason) pairs
    // the GIF decoder's luma must equal the analytic gray plant (the
    // 256-gray palette makes luma601(i,i,i) = i exactly), interlaced or
    // not; the header slice is the constant spec layout for a 9×8 GIF89a
    // with a global 256-entry table (magic + w/h LE16 + F7 00 00)
    "multimodal_decode_gif" ->
      """SELECT doc_id,
           upper(array_to_string([substr(md5(CAST(doc_id AS VARCHAR) || '-' || CAST(i AS VARCHAR)), 1, 2)
             for i in range(0, 72)], '')) AS px_hex,
           upper(array_to_string([substr(md5(CAST(doc_id AS VARCHAR) || '-' || CAST(i AS VARCHAR)), 1, 2)
             for i in range(0, 72)], '')) AS px_hex_i,
           '47494638396109000800F70000' AS blob_hdr_hex,
           CAST(9 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height
         FROM documents""",
    // identical pair-set argument to dedup_image_png on GIF payloads:
    // decode(encode(bitmap)) round-trips bit-exactly (gray palette
    // identity), so copies pair at hamming 0 and iid-coin cross pairs
    // never land within hamming 2
    "dedup_image_gif" ->
      """SELECT doc_id AS id_a, doc_id + 100000 AS id_b, CAST(0 AS BIGINT) AS hamming
         FROM documents""",
    // the BMP decoder's luma must equal the analytic gray plant (the
    // gray palette identity, either row order); the header slice is the
    // constant spec layout for a 9×8 8-bit BI_RGB BMP (rowBytes 12,
    // data offset 14+40+1024 = 0x436, file size 0x496)
    // identity for the palette paths; the depth/mask tiers are the
    // documented closed forms — 555: every 5-bit channel is idx>>3
    // widened by the truncating scale (equal channels ⇒ luma = channel);
    // 565: the 6-bit green widens at 63; bf32: the non-BGR mask plant
    // (idx, 255−idx, 7·idx mod 256) through the 601 luma; pal2: index
    // idx mod 4 over the i·85 gray palette
    "multimodal_decode_bmp" ->
      """WITH c AS (SELECT doc_id,
             [('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-' || CAST(i AS VARCHAR)), 1, 2))::INT
              for i in range(0, 72)] AS idx,
             [CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-bj' || CAST(i AS VARCHAR)), 1, 2))::INT % 128 < 64
                   THEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-bj' || CAST(i AS VARCHAR)), 1, 2))::INT % 128 + 1
                   ELSE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-bj' || CAST(i AS VARCHAR)), 1, 2))::INT % 128 + 128 END
              for i in range(0, 4)] AS jv
           FROM documents),
         cx AS (SELECT doc_id, idx,
             list_transform(jv, x -> upper(lpad(to_hex(x), 2, '0'))) AS jh
           FROM c)
         SELECT doc_id,
           upper(array_to_string([substr(md5(CAST(doc_id AS VARCHAR) || '-' || CAST(i AS VARCHAR)), 1, 2)
             for i in range(0, 72)], '')) AS px_hex,
           upper(array_to_string([substr(md5(CAST(doc_id AS VARCHAR) || '-' || CAST(i AS VARCHAR)), 1, 2)
             for i in range(0, 72)], '')) AS px_hex_td,
           upper(array_to_string([substr(md5(CAST(doc_id AS VARCHAR) || '-' || CAST(i AS VARCHAR)), 1, 2)
             for i in range(0, 72)], '')) AS px_hex_rle,
           upper(array_to_string([lpad(to_hex(((x // 8) * 255) // 31), 2, '0')
             for x in idx], '')) AS px_hex_555,
           upper(array_to_string([lpad(to_hex((413 * (((x // 8) * 255) // 31)
             + 587 * (((x // 4) * 255) // 63) + 500) // 1000), 2, '0')
             for x in idx], '')) AS px_hex_565,
           upper(array_to_string([lpad(to_hex((299 * x + 587 * (255 - x)
             + 114 * ((7 * x) % 256) + 500) // 1000), 2, '0')
             for x in idx], '')) AS px_hex_bf32,
           upper(array_to_string([lpad(to_hex((x % 4) * 85), 2, '0')
             for x in idx], '')) AS px_hex_pal2,
           repeat(repeat(jh[1], 8) || repeat(jh[2], 4), 8) ||
             repeat(repeat(jh[3], 8) || repeat(jh[4], 4), 2) AS px_hex_jpg,
           upper(array_to_string([substr(md5(CAST(doc_id AS VARCHAR) || '-' || CAST(i AS VARCHAR)), 1, 2)
             for i in range(0, 72)], '')) AS px_hex_png,
           upper(array_to_string([substr(md5(CAST(doc_id AS VARCHAR) || '-' || CAST(i AS VARCHAR)), 1, 2)
             for i in range(0, 72)], '')) AS px_hex_os2,
           '424D960400000000000036040000280000000900000008000000' ||
             '01000800000000006000000000000000000000000001000000000000' AS blob_hdr_hex,
           CAST(9 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height
         FROM cx""",
    // identical pair-set argument to dedup_image_png on BMP payloads
    "dedup_image_bmp" ->
      """SELECT doc_id AS id_a, doc_id + 100000 AS id_b, CAST(0 AS BIGINT) AS hamming
         FROM documents""",
    // the TIFF decoder's luma must equal the analytic gray plant in both
    // byte orders (BlackIsZero identity); the header slice is the
    // constant spec layout (II magic, IFD at 8, nine entries, strip at
    // 0x7A) and the pixel-strip slice is the plant again, read straight
    // off the blob with no decoder
    "multimodal_decode_tiff" ->
      """WITH c AS (SELECT doc_id,
             [('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-' || CAST(i AS VARCHAR)), 1, 2))::INT
              for i in range(0, 72)] AS idx,
             [('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-pc' || CAST(i AS VARCHAR)), 1, 2))::INT
              for i in range(0, 72)] AS cr,
             [('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-pc' || CAST(i AS VARCHAR)), 3, 2))::INT
              for i in range(0, 72)] AS cg,
             [('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-pc' || CAST(i AS VARCHAR)), 5, 2))::INT
              for i in range(0, 72)] AS cb,
             [('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-pc' || CAST(i AS VARCHAR)), 7, 2))::INT
              for i in range(0, 72)] AS ca
           FROM documents)
         SELECT doc_id,
           upper(array_to_string([substr(md5(CAST(doc_id AS VARCHAR) || '-' || CAST(i AS VARCHAR)), 1, 2)
             for i in range(0, 72)], '')) AS px_hex,
           upper(array_to_string([substr(md5(CAST(doc_id AS VARCHAR) || '-' || CAST(i AS VARCHAR)), 1, 2)
             for i in range(0, 72)], '')) AS px_hex_be,
           upper(array_to_string([substr(md5(CAST(doc_id AS VARCHAR) || '-' || CAST(i AS VARCHAR)), 1, 2)
             for i in range(0, 72)], '')) AS px_hex_pb,
           upper(array_to_string([substr(md5(CAST(doc_id AS VARCHAR) || '-' || CAST(i AS VARCHAR)), 1, 2)
             for i in range(0, 72)], '')) AS px_hex_lzw,
           upper(array_to_string([substr(md5(CAST(doc_id AS VARCHAR) || '-' || CAST(i AS VARCHAR)), 1, 2)
             for i in range(0, 72)], '')) AS px_hex_zip,
           upper(array_to_string([lpad(to_hex((299 * idx[i+1] + 587 * (255 - idx[i+1]) + 114 * ((7 * idx[i+1]) % 256) + 500) // 1000), 2, '0')
             for i in range(0, 72)], '')) AS px_hex_pal,
           upper(array_to_string([substr(md5(CAST(doc_id AS VARCHAR) || '-' || CAST(i AS VARCHAR)), 1, 2)
             for i in range(0, 72)], '')) AS px_hex_16,
           upper(array_to_string([substr(md5(CAST(doc_id AS VARCHAR) || '-' || CAST(i AS VARCHAR)), 1, 2)
             for i in range(0, 72)], '')) AS px_hex_tile,
           upper(array_to_string([lpad(to_hex((x // 16) * 17), 2, '0')
             for x in idx], '')) AS px_hex_gray4,
           upper(array_to_string([lpad(to_hex((299 * (17 * (x % 16)) + 587 * (255 - 17 * (x % 16))
             + 114 * ((119 * (x % 16)) % 256) + 500) // 1000), 2, '0')
             for x in idx], '')) AS px_hex_pal4,
           upper(array_to_string([lpad(to_hex((299 * cr[i+1] + 587 * cg[i+1] + 114 * cb[i+1] + 500) // 1000), 2, '0')
             for i in range(0, 72)], '')) AS px_hex_rgba,
           upper(array_to_string([lpad(to_hex((
               299 * ((255 - cr[i+1]) * (255 - ca[i+1]) // 255)
             + 587 * ((255 - cg[i+1]) * (255 - ca[i+1]) // 255)
             + 114 * ((255 - cb[i+1]) * (255 - ca[i+1]) // 255) + 500) // 1000), 2, '0')
             for i in range(0, 72)], '')) AS px_hex_cmyk,
           '49492A000800000009000001030001000000090000000101030001000000080000000201030001000000' ||
             '080000000301030001000000010000000601030001000000010000001101040001000000' ||
             '7A000000150103000100000001000000160103000100000008000000170104000100000048000000' ||
             '00000000' AS blob_hdr_hex,
           upper(array_to_string([substr(md5(CAST(doc_id AS VARCHAR) || '-' || CAST(i AS VARCHAR)), 1, 2)
             for i in range(0, 72)], '')) AS blob_px_hex
         FROM c""",
    // identical pair-set argument to dedup_image_png on TIFF payloads
    "dedup_image_tiff" ->
      """SELECT doc_id AS id_a, doc_id + 100000 AS id_b, CAST(0 AS BIGINT) AS hamming
         FROM documents""",
    // the G4 decode must equal the THRESHOLDED plant (v < 128 = ink =
    // luma 00, else FF) in every layout; the jpeg columns are the
    // DC-only block plant restated (the multimodal_decode_jpeg closed
    // form under the '-jt' tag)
    "multimodal_decode_tiff_ccitt" ->
      """WITH g AS (SELECT doc_id,
             array_to_string([CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-' || CAST(i AS VARCHAR)), 1, 2))::INT < 128
                                   THEN '00' ELSE 'FF' END
               for i in range(0, 72)], '') AS bil
           FROM documents),
           v AS (SELECT doc_id,
             [CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-jt' || CAST(i AS VARCHAR)), 1, 2))::INT % 128 < 64
                   THEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-jt' || CAST(i AS VARCHAR)), 1, 2))::INT % 128 + 1
                   ELSE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-jt' || CAST(i AS VARCHAR)), 1, 2))::INT % 128 + 128 END
              for i in range(0, 4)] AS vv
           FROM documents),
           hx AS (SELECT doc_id,
             list_transform(vv, x -> upper(lpad(to_hex(x), 2, '0'))) AS hh
           FROM v)
         SELECT g.doc_id,
           g.bil AS px_hex_g4,
           g.bil AS px_hex_g4_be,
           g.bil AS px_hex_g4_ms,
           g.bil AS px_hex_g3_mh,
           g.bil AS px_hex_t4,
           g.bil AS px_hex_t4_2d,
           repeat(repeat(hh[1], 8) || repeat(hh[2], 4), 8) ||
             repeat(repeat(hh[3], 8) || repeat(hh[4], 4), 2) AS px_hex_jpeg,
           repeat(repeat(hh[1], 8) || repeat(hh[2], 4), 8) ||
             repeat(repeat(hh[3], 8) || repeat(hh[4], 4), 2) AS px_hex_jpeg_sp
         FROM g JOIN hx ON g.doc_id = hx.doc_id""",
    // identical pair-set argument to dedup_image_tiff on G4 payloads
    "dedup_image_tiff_g4" ->
      """SELECT doc_id AS id_a, doc_id + 100000 AS id_b, CAST(0 AS BIGINT) AS hamming
         FROM documents""",
    // every field is the planted WebM arithmetic restated (timescale
    // 1e6 ns makes duration_ms the planted value verbatim; two tracks,
    // codecs by the planted modulus)
    "multimodal_webm_meta" ->
      """SELECT doc_id,
           'webm' AS doc_type,
           CAST(1000000 AS BIGINT) AS timescale_ns,
           CAST((doc_id % 60) * 500 + 1000 AS BIGINT) AS duration_ms,
           CAST(2 AS BIGINT) AS n_tracks,
           CAST((doc_id % 40) * 8 + 160 AS BIGINT) AS width,
           CAST((doc_id % 30) * 8 + 90 AS BIGINT) AS height,
           CASE WHEN doc_id % 2 = 0 THEN 'V_VP8' ELSE 'V_VP9' END AS video_codec,
           CASE WHEN doc_id % 3 = 0 THEN 'A_OPUS' ELSE 'A_FLAC' END AS audio_codec
         FROM documents""",
    // every counter is the planted page arithmetic: n pages, 1+parity
    // streams, serial, granule 441·(n−1), payload 27n + Σ_{i<n}(i mod 5)
    // with the mod-sum in closed form
    "multimodal_ogg_meta" ->
      """WITH p AS (SELECT doc_id,
             doc_id % 7 + 4 AS np,
             doc_id % 100000 + 1000 AS serial
           FROM documents)
         SELECT doc_id,
           CAST(np AS BIGINT) AS n_pages,
           CAST(1 + doc_id % 2 AS BIGINT) AS n_streams,
           CAST(serial AS BIGINT) AS first_serial,
           CAST(441 * (np - 1) AS BIGINT) AS last_granule,
           CAST(27 * np + 10 * (np // 5) + (np % 5) * ((np % 5) - 1) // 2 AS BIGINT) AS payload_bytes
         FROM p""",
    // every field is the planted variant table restated; the duration
    // is the granule arithmetic (441·(np−1)) at the variant's clock
    "multimodal_ogg_codec" ->
      """WITH p AS (SELECT doc_id, doc_id % 4 AS cls, doc_id % 7 + 4 AS np
           FROM documents)
         SELECT doc_id,
           CASE WHEN cls IN (0, 1) THEN 'vorbis' ELSE 'opus' END AS codec,
           CAST(CASE cls WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 2 ELSE 1 END AS BIGINT) AS n_channels,
           CAST(CASE cls WHEN 0 THEN 8000 WHEN 1 THEN 44100 WHEN 2 THEN 48000 ELSE 24000 END AS BIGINT) AS sample_rate,
           CAST(CASE cls
             WHEN 0 THEN 441 * (np - 1) * 1000 // 8000
             WHEN 1 THEN 441 * (np - 1) * 1000 // 44100
             WHEN 2 THEN (441 * (np - 1) - 312) * 1000 // 48000
             ELSE 441 * (np - 1) * 1000 // 48000 END AS BIGINT) AS duration_ms
         FROM p""",
    // every field is the planted MP3 geometry restated: the variant
    // table (bitrate/rate/channels/Xing by doc_id mod 4), the frame
    // count, and the exact integer duration floor(frames·1152·1000/rate)
    "multimodal_mp3_meta" ->
      """WITH p AS (SELECT doc_id, doc_id % 4 AS cls, doc_id % 10 + 2 AS nf
           FROM documents)
         SELECT doc_id,
           '1' AS version,
           CAST(3 AS BIGINT) AS layer,
           CAST(CASE cls WHEN 0 THEN 128 WHEN 1 THEN 64 WHEN 2 THEN 320 ELSE 32 END AS BIGINT) AS bitrate_kbps,
           CAST(CASE cls WHEN 0 THEN 44100 WHEN 1 THEN 48000 WHEN 2 THEN 32000 ELSE 44100 END AS BIGINT) AS sample_rate,
           CAST(CASE cls WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 2 ELSE 1 END AS BIGINT) AS n_channels,
           CAST(nf AS BIGINT) AS n_frames,
           CAST(nf * 1152 * 1000 // (CASE cls WHEN 0 THEN 44100 WHEN 1 THEN 48000 WHEN 2 THEN 32000 ELSE 44100 END) AS BIGINT) AS duration_ms,
           CASE WHEN cls IN (0, 2) THEN CAST(nf AS BIGINT) ELSE NULL END AS xing_frames
         FROM p""",
    // every field is the planted geometry formula restated; duration is
    // the same double floor both engines compute
    "multimodal_flac_meta" ->
      """SELECT doc_id,
           CAST(8000 + (doc_id % 10) * 4410 AS BIGINT) AS sample_rate,
           CAST(doc_id % 8 + 1 AS BIGINT) AS n_channels,
           CAST(16 + (doc_id % 2) * 8 AS BIGINT) AS bits_per_sample,
           CAST((doc_id % 1000000) * 1000 + 12345 AS BIGINT) AS total_samples,
           CAST(floor(((doc_id % 1000000) * 1000 + 12345) * 1000.0 /
             (8000 + (doc_id % 10) * 4410)) AS BIGINT) AS duration_ms
         FROM documents""",
    // frame and loop counts are pure class arithmetic; the first frame
    // decodes to the planted gray bytes whatever the frame count
    "multimodal_gif_meta" ->
      """SELECT doc_id,
           CAST(doc_id % 4 + 1 AS BIGINT) AS n_frames,
           CASE WHEN doc_id % 4 = 0 THEN NULL
                ELSE CAST(doc_id % 3 AS BIGINT) END AS loop_count,
           CAST(9 AS BIGINT) AS width,
           upper(array_to_string([substr(md5(CAST(doc_id AS VARCHAR) || '-' || CAST(i AS VARCHAR)), 1, 2)
             for i in range(0, 72)], '')) AS first_frame_hex
         FROM documents""",
    // every counter recomputed from the planted class arithmetic: class 0
    // decodes (NO row — the valid GIF), 1-4 map to the four GIF reasons,
    // 5-7 are recognized-magic media under their true mime
    "multimodal_drop_report_gif" ->
      """WITH m AS (SELECT doc_id,
             's' || CAST((doc_id // 8) % 3 AS VARCHAR) AS source,
             CASE doc_id % 8
               WHEN 1 THEN 'image/gif' WHEN 2 THEN 'image/gif'
               WHEN 3 THEN 'image/gif' WHEN 4 THEN 'image/gif'
               WHEN 5 THEN 'audio/mpeg' WHEN 6 THEN 'audio/ogg'
               WHEN 7 THEN 'video/webm' END AS modality,
             CASE doc_id % 8
               WHEN 1 THEN 'truncated' WHEN 2 THEN 'corrupt'
               WHEN 3 THEN 'unsupported_profile' WHEN 4 THEN 'bomb_guard'
               WHEN 5 THEN 'unsupported_profile' WHEN 6 THEN 'unsupported_profile'
               WHEN 7 THEN 'unsupported_profile' END AS reason
           FROM documents WHERE doc_id % 8 <> 0)
         SELECT source, modality, reason, CAST(count(*) AS BIGINT) AS n_dropped
         FROM m GROUP BY 1, 2, 3""",
    "multimodal_drop_report" ->
      """WITH m AS (SELECT doc_id,
             's' || CAST((doc_id // 12) % 3 AS VARCHAR) AS source,
             CASE doc_id % 12
               WHEN 1 THEN 'application/octet-stream'
               WHEN 2 THEN 'image/png' WHEN 3 THEN 'image/png'
               WHEN 4 THEN 'image/png' WHEN 5 THEN 'audio/wav'
               WHEN 7 THEN 'video/mp4' WHEN 8 THEN 'video/mp4'
               WHEN 10 THEN 'image/webp' WHEN 11 THEN 'image/webp' END AS modality,
             CASE doc_id % 12
               WHEN 1 THEN 'bad_magic' WHEN 2 THEN 'corrupt'
               WHEN 3 THEN 'unsupported_profile' WHEN 4 THEN 'bomb_guard'
               WHEN 5 THEN 'unsupported_profile'
               WHEN 7 THEN 'corrupt' WHEN 8 THEN 'unsupported_profile'
               WHEN 10 THEN 'unsupported_profile' WHEN 11 THEN 'corrupt' END AS reason
           FROM documents WHERE doc_id % 12 NOT IN (0, 6, 9))
         SELECT source, modality, reason, CAST(count(*) AS BIGINT) AS n_dropped
         FROM m GROUP BY 1, 2, 3""",
    // the codec-boundary pin: true geometry per modality (9×8 PNG luma /
    // 12×10 MP4 first-frame luma) plus the 8-bin luma histogram — PNG
    // docs recompute it from the planted channel bytes (the decoder's
    // luma formula restated in SQL, bin counts via list_filter); clip
    // docs from the four DC block values with their 12×10 layout
    // multiplicities (64/32/16/8 pixels)
    "multimodal_codec_decode" ->
      """WITH c AS (SELECT doc_id,
             [(299 * ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-pc' || CAST(i AS VARCHAR)), 1, 2))::INT
               + 587 * ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-pc' || CAST(i AS VARCHAR)), 3, 2))::INT
               + 114 * ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-pc' || CAST(i AS VARCHAR)), 5, 2))::INT
               + 500) // 1000
              for i in range(0, 72)] AS luma,
             [CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-cd' || CAST(i AS VARCHAR)), 1, 2))::INT % 128 < 64
                   THEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-cd' || CAST(i AS VARCHAR)), 1, 2))::INT % 128 + 1
                   ELSE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-cd' || CAST(i AS VARCHAR)), 1, 2))::INT % 128 + 128 END
              for i in range(0, 4)] AS vv
           FROM documents)
         SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 9 ELSE 12 END AS width,
           CASE WHEN doc_id % 2 = 0 THEN 8 ELSE 10 END AS height,
           1 AS channels,
           CASE WHEN doc_id % 2 = 0 THEN
             array_to_string([CAST(len(list_filter(luma, x -> x // 32 = k)) AS BIGINT)
               for k in range(0, 8)], '-')
           ELSE
             array_to_string([CAST(64 * (CASE WHEN vv[1] // 32 = k THEN 1 ELSE 0 END)
                 + 32 * (CASE WHEN vv[2] // 32 = k THEN 1 ELSE 0 END)
                 + 16 * (CASE WHEN vv[3] // 32 = k THEN 1 ELSE 0 END)
                 + 8 * (CASE WHEN vv[4] // 32 = k THEN 1 ELSE 0 END) AS BIGINT)
               for k in range(0, 8)], '-')
           END AS hist
         FROM c""",
    // both pixel columns must equal the analytic plant: block value
    // v(i) from the first md5 byte of "<doc_id>-m<i>" folded into DC
    // category 7 (low = raw%128; low<64 → low+1 else low+128), laid out
    // 12×10 over a 2×2 block grid — px_hex via the real Huffman+IDCT
    // decoder, blob_px_hex via EXTEND⁻¹ of the DC magnitude bytes at the
    // fixed scan offsets; the oracle needs no Huffman decoder because the
    // single-code tables + restart-interval-1 layout byte-align every MCU
    // the 12-bit decoder's luma must equal the closed-form wide-sample
    // reinterpretation of the plants: (v + 1920) >> 4 per block pixel
    "multimodal_decode_jpeg12" ->
      """WITH v AS (SELECT doc_id,
             [CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-m12' || CAST(i AS VARCHAR)), 1, 2))::INT % 128 < 64
                   THEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-m12' || CAST(i AS VARCHAR)), 1, 2))::INT % 128 + 1
                   ELSE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-m12' || CAST(i AS VARCHAR)), 1, 2))::INT % 128 + 128 END
              for i in range(0, 4)] AS vv
           FROM documents),
           hx AS (SELECT doc_id,
             list_transform(vv, x -> upper(lpad(to_hex((x + 1920) // 16), 2, '0'))) AS hh
           FROM v)
         SELECT doc_id,
           repeat(repeat(hh[1], 8) || repeat(hh[2], 4), 8) ||
             repeat(repeat(hh[3], 8) || repeat(hh[4], 4), 2) AS px_hex
         FROM hx""",
    "multimodal_decode_jpeg" ->
      """WITH v AS (SELECT doc_id,
             [CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-m' || CAST(i AS VARCHAR)), 1, 2))::INT % 128 < 64
                   THEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-m' || CAST(i AS VARCHAR)), 1, 2))::INT % 128 + 1
                   ELSE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-m' || CAST(i AS VARCHAR)), 1, 2))::INT % 128 + 128 END
              for i in range(0, 4)] AS vv
           FROM documents),
           hx AS (SELECT doc_id,
             list_transform(vv, x -> upper(lpad(to_hex(x), 2, '0'))) AS hh
           FROM v)
         SELECT doc_id,
           repeat(repeat(hh[1], 8) || repeat(hh[2], 4), 8) ||
             repeat(repeat(hh[3], 8) || repeat(hh[4], 4), 2) AS px_hex,
           repeat(repeat(hh[1], 8) || repeat(hh[2], 4), 8) ||
             repeat(repeat(hh[3], 8) || repeat(hh[4], 4), 2) AS blob_px_hex
         FROM hx""",
    // both columns are the same analytic plant: the progressive decode
    // and the baseline decode of the same per-block-constant bitmap are
    // each bit-exact (DC-only closed form), tag "mp"
    "multimodal_decode_jpeg_prog" ->
      """WITH v AS (SELECT doc_id,
             [CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-mp' || CAST(i AS VARCHAR)), 1, 2))::INT % 128 < 64
                   THEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-mp' || CAST(i AS VARCHAR)), 1, 2))::INT % 128 + 1
                   ELSE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-mp' || CAST(i AS VARCHAR)), 1, 2))::INT % 128 + 128 END
              for i in range(0, 4)] AS vv
           FROM documents),
           hx AS (SELECT doc_id,
             list_transform(vv, x -> upper(lpad(to_hex(x), 2, '0'))) AS hh
           FROM v)
         SELECT doc_id,
           repeat(repeat(hh[1], 8) || repeat(hh[2], 4), 8) ||
             repeat(repeat(hh[3], 8) || repeat(hh[4], 4), 2) AS px_hex,
           repeat(repeat(hh[1], 8) || repeat(hh[2], 4), 8) ||
             repeat(repeat(hh[3], 8) || repeat(hh[4], 4), 2) AS px_base_hex
         FROM hx""",
    // identical pair-set argument to dedup_image_jpeg on PROGRESSIVE
    // payloads: the Annex-G decode round-trips the DC-only plant
    // bit-exactly, so copies pair at hamming 0
    "dedup_image_jpeg_prog" ->
      """SELECT doc_id AS id_a, doc_id + 100000 AS id_b, CAST(0 AS BIGINT) AS hamming
         FROM documents""",
    // identical pair-set argument to dedup_image_png, JPEG edition:
    // decode(encode(block-constant bitmap)) round-trips bit-exactly, so
    // copies pair at hamming 0 and ~iid-coin cross pairs never land
    // within hamming 2
    "dedup_image_jpeg" ->
      """SELECT doc_id AS id_a, doc_id + 100000 AS id_b, CAST(0 AS BIGINT) AS hamming
         FROM documents""",
    // the color sibling: v(i) from md5("<doc_id>-mc<i>") folded into DC
    // category 7, laid out 24×20 over a 2×2 grid of 16×16 MCU tiles —
    // both columns are the same analytic luma plane (the Spark side
    // computes px_hex through the real 3-component Huffman+IDCT decode
    // and blob_px_hex by slicing luma DC bytes out of the blob at the
    // byte-aligned offsets, so equality here proves BOTH paths)
    "multimodal_decode_jpeg_color" ->
      """WITH v AS (SELECT doc_id,
             [CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-mc' || CAST(i AS VARCHAR)), 1, 2))::INT % 128 < 64
                   THEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-mc' || CAST(i AS VARCHAR)), 1, 2))::INT % 128 + 1
                   ELSE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-mc' || CAST(i AS VARCHAR)), 1, 2))::INT % 128 + 128 END
              for i in range(0, 4)] AS vv
           FROM documents),
           hx AS (SELECT doc_id,
             list_transform(vv, x -> upper(lpad(to_hex(x), 2, '0'))) AS hh
           FROM v)
         SELECT doc_id,
           repeat(repeat(hh[1], 16) || repeat(hh[2], 8), 16) ||
             repeat(repeat(hh[3], 16) || repeat(hh[4], 8), 4) AS px_hex,
           repeat(repeat(hh[1], 16) || repeat(hh[2], 8), 16) ||
             repeat(repeat(hh[3], 16) || repeat(hh[4], 8), 4) AS blob_px_hex
         FROM hx""",
    // same pair-set argument as dedup_image_jpeg on COLOR payloads:
    // bit-exact luma round-trip ⇒ copies pair at hamming 0; ~iid-coin
    // cross pairs never land within hamming 2
    "dedup_image_jpeg_color" ->
      """SELECT doc_id AS id_a, doc_id + 100000 AS id_b, CAST(0 AS BIGINT) AS hamming
         FROM documents""",
    // frame-0 luma recomputed in closed form from the md5 tile plants
    // (same folding as the jpeg oracles, 8 tile values per digest), laid
    // out 72×64 over 8×8 tiles; n_frames is the planted count
    "multimodal_avi" ->
      """WITH v AS (SELECT doc_id,
             [CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-vr' || CAST(i // 8 AS VARCHAR)), 1 + 2 * (i % 8), 2))::INT % 128 < 64
                   THEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-vr' || CAST(i // 8 AS VARCHAR)), 1 + 2 * (i % 8), 2))::INT % 128 + 1
                   ELSE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-vr' || CAST(i // 8 AS VARCHAR)), 1 + 2 * (i % 8), 2))::INT % 128 + 128 END
              for i in range(0, 72)] AS vv
           FROM documents),
           hx AS (SELECT doc_id,
             list_transform(vv, x -> upper(lpad(to_hex(x), 2, '0'))) AS hh
           FROM v)
         SELECT doc_id, CAST(2 AS BIGINT) AS n_frames,
           array_to_string([repeat(array_to_string([repeat(hh[9 * r + c + 1], 8)
                                                     for c in range(0, 9)], ''), 8)
                            for r in range(0, 8)], '') AS f0_px_hex
         FROM hx""",
    // the MP4 edition of the multimodal_avi pin: same planted tiles, so
    // the same closed-form frame-0 luma; mdat_magic pins the first frame's
    // SOI at the analytic ftyp+mdat-header offset
    "multimodal_mp4_frames" ->
      """WITH v AS (SELECT doc_id,
             [CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-vr' || CAST(i // 8 AS VARCHAR)), 1 + 2 * (i % 8), 2))::INT % 128 < 64
                   THEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-vr' || CAST(i // 8 AS VARCHAR)), 1 + 2 * (i % 8), 2))::INT % 128 + 1
                   ELSE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-vr' || CAST(i // 8 AS VARCHAR)), 1 + 2 * (i % 8), 2))::INT % 128 + 128 END
              for i in range(0, 72)] AS vv
           FROM documents),
           hx AS (SELECT doc_id,
             list_transform(vv, x -> upper(lpad(to_hex(x), 2, '0'))) AS hh
           FROM v)
         SELECT doc_id, CAST(2 AS BIGINT) AS n_frames,
           array_to_string([repeat(array_to_string([repeat(hh[9 * r + c + 1], 8)
                                                     for c in range(0, 9)], ''), 8)
                            for r in range(0, 8)], '') AS f0_px_hex,
           'FFD8' AS mdat_magic
         FROM hx""",
    // cross-container pair set: every doc's AVI pairs its MP4 re-mux at
    // hamming 0 (identical frame bytes → identical per-frame signatures,
    // whichever container carries them); nothing else pairs
    "dedup_video_mp4" ->
      """SELECT doc_id AS id_a, doc_id + 100000 AS id_b, CAST(0 AS BIGINT) AS hamming
         FROM documents""",
    // dedup_image's pair-set argument on video: copies share AVI bytes
    // bit-for-bit → identical sampled-frame signatures → exactly one
    // hamming-0 pair per doc
    "dedup_video" ->
      """SELECT doc_id AS id_a, doc_id + 100000 AS id_b, CAST(0 AS BIGINT) AS hamming
         FROM documents""",
    // dedup_image's pair-set argument on audio: copies share WAV bytes
    // bit-for-bit → envelope/dHash identical → exactly one hamming-0
    // pair per doc; ~iid uniform envelope bytes keep cross pairs out of
    // the hamming-2 ball
    "dedup_audio" ->
      """SELECT doc_id AS id_a, doc_id + 100000 AS id_b, CAST(0 AS BIGINT) AS hamming
         FROM documents""",
    // the FLAC tier's whole decoded WAV pinned byte-for-byte: constant
    // canonical 44-byte header (mono, 16 kHz, 16-bit, 2304 data bytes)
    // followed by the planted samples in little-endian hex — FLAC is
    // lossless, so decode(encode(plant)) must reproduce every byte
    "multimodal_decode_flac" ->
      """WITH v AS (SELECT doc_id,
             [('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-fd' || CAST(i // 8 AS VARCHAR)), 1 + 4 * (i % 8), 4))::INT % 32768
              for i in range(0, 72)] AS vv
           FROM documents)
         SELECT doc_id,
           '52494646240900005741564' || '5666D74201000000001000100803E0000007D000002001000' ||
             '6461746100090000' ||
             upper(array_to_string([repeat(lpad(to_hex(vv[i+1] % 256), 2, '0') ||
               lpad(to_hex(vv[i+1] // 256), 2, '0'), 16) for i in range(0, 72)], '')) AS wav_hex
         FROM v""",
    // identical pair-set argument to dedup_audio on FLAC payloads: the
    // lossless decode hands the envelope the same PCM, so copies pair at
    // hamming 0
    "dedup_audio_flac" ->
      """SELECT doc_id AS id_a, doc_id + 100000 AS id_b, CAST(0 AS BIGINT) AS hamming
         FROM documents""",
    // planted-analytic: brand/type/codec from the parity routing, the
    // geometry from the doc_id closed form, n_bytes = the builder's
    // constant 195-byte overhead + the 16-byte md5 payload
    "multimodal_avif_meta" ->
      """SELECT doc_id, CAST(211 AS BIGINT) AS n_bytes,
           CASE doc_id % 2 WHEN 0 THEN 'avif' ELSE 'heic' END AS brand,
           CASE doc_id % 2 WHEN 0 THEN 'av01' ELSE 'hvc1' END AS primary_type,
           CASE doc_id % 2 WHEN 0 THEN 'av01' ELSE 'hevc' END AS codec,
           CAST(doc_id % 1920 + 1 AS INT) AS width,
           CAST(doc_id % 1080 + 1 AS INT) AS height,
           CAST(1 AS INT) AS n_items
         FROM documents""",
    "multimodal_inventory_bmff" ->
      """SELECT source,
           CASE doc_id % 4 WHEN 0 THEN 'image/avif' WHEN 1 THEN 'image/heic'
                WHEN 2 THEN 'video/mp4'
                ELSE 'application/octet-stream' END AS modality,
           CAST(count(*) AS BIGINT) AS n_media,
           CAST(sum(octet_length(encode(text)) +
                CASE doc_id % 4 WHEN 0 THEN 195 WHEN 1 THEN 195
                     WHEN 2 THEN 132 ELSE 0 END) AS BIGINT) AS total_bytes
         FROM documents GROUP BY 1, 2""",
    // the full Layer III float chain restated straight from the spec
    // formulas over the frozen shared constants — generated from
    // Mp3Tables by Mp3Oracle (see its scaladoc for the bit-exactness
    // argument: matched operation order, D*(N*S) two-step rounding,
    // single-subband tap algebra proven in the prototype)
    "multimodal_decode_mp3" -> graft.functions.Mp3Oracle.decodeSql,
    "multimodal_decode_mp3_scfsi" -> graft.functions.Mp3Oracle.decodeScfsiSql,
    // table-10 coding of the same planted spectrum: the oracle is the
    // SAME restatement (decode-identical by construction); only a
    // decoder actually honoring the re-transcribed table can match it
    "multimodal_decode_mp3_t10" -> graft.functions.Mp3Oracle.decodeSql,
    "multimodal_decode_mp3_preflag" -> graft.functions.Mp3Oracle.decodePreflagSql,
    "multimodal_decode_mp3_ms" -> graft.functions.Mp3Oracle.decodeMsSql,
    "multimodal_decode_mp3_short" -> graft.functions.Mp3Oracle.decodeShortSql,
    // byte-different codings of the same spectrum decode identically ⇒
    // exactly one digest pair per doc
    "dedup_audio_mp3" ->
      """SELECT doc_id AS id_a, doc_id + 100000 AS id_b FROM documents""",
    // stereo edition: same argument — byte-different MS codings of the
    // same planted stereo audio decode identically ⇒ one pair per doc
    "dedup_audio_mp3_stereo" ->
      """SELECT doc_id AS id_a, doc_id + 100000 AS id_b FROM documents""",
    // every profile's canonicalization is the closed-form restatement
    // of the planted samples behind the constant canonical header
    // (ch 1, 16 kHz, 144 data bytes); pcm8 keeps only the top byte
    // ((u8−128)·256); the float header slice is the constant spec
    // layout (fmt 18 + fact + data at 58)
    "multimodal_decode_wav_profiles" ->
      """WITH v AS (SELECT doc_id,
             [('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-wp' || CAST(i // 8 AS VARCHAR)), 1 + 4 * (i % 8), 4))::INT % 32768
              for i in range(0, 72)] AS vv
           FROM documents),
         g AS (SELECT doc_id,
             [('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-' || CAST(i AS VARCHAR)), 1, 2))::INT
              for i in range(0, 72)] AS code
           FROM documents),
         gs AS (SELECT doc_id,
             [CASE WHEN (255 - c) >= 128
                THEN 132 - ((((255 - c) % 16) * 8 + 132) << (((255 - c) // 16) % 8))
                ELSE ((((255 - c) % 16) * 8 + 132) << (((255 - c) // 16) % 8)) - 132 END
              for c in code] AS ulaw,
             [CASE WHEN xor(c, 85) >= 128 THEN 1 ELSE -1 END *
              (CASE ((xor(c, 85) // 16) % 8)
                 WHEN 0 THEN (xor(c, 85) % 16) * 16 + 8
                 WHEN 1 THEN (xor(c, 85) % 16) * 16 + 264
                 ELSE ((xor(c, 85) % 16) * 16 + 264) << (((xor(c, 85) // 16) % 8) - 1) END)
              for c in code] AS alaw
           FROM g),
         h AS (SELECT v.doc_id,
             upper(array_to_string([lpad(to_hex(vv[i+1] % 256), 2, '0') ||
               lpad(to_hex(vv[i+1] // 256), 2, '0') for i in range(0, 72)], '')) AS ident,
             upper(array_to_string(['00' ||
               lpad(to_hex(vv[i+1] // 256), 2, '0') for i in range(0, 72)], '')) AS p8,
             upper(array_to_string([lpad(to_hex(((s + 65536) % 65536) % 256), 2, '0') ||
               lpad(to_hex(((s + 65536) % 65536) // 256), 2, '0') for s in alaw], '')) AS ahex,
             upper(array_to_string([lpad(to_hex(((s + 65536) % 65536) % 256), 2, '0') ||
               lpad(to_hex(((s + 65536) % 65536) // 256), 2, '0') for s in ulaw], '')) AS uhex
           FROM v JOIN gs ON v.doc_id = gs.doc_id)
         SELECT doc_id,
           '52494646B400000057415645666D74201000000001000100803E0000007D000002001000' ||
             '6461746190000000' || p8 AS wav_hex_pcm8,
           '52494646B400000057415645666D74201000000001000100803E0000007D000002001000' ||
             '6461746190000000' || ident AS wav_hex_pcm24,
           '52494646B400000057415645666D74201000000001000100803E0000007D000002001000' ||
             '6461746190000000' || ident AS wav_hex_pcm32,
           '52494646B400000057415645666D74201000000001000100803E0000007D000002001000' ||
             '6461746190000000' || ident AS wav_hex_f32,
           '52494646B400000057415645666D74201000000001000100803E0000007D000002001000' ||
             '6461746190000000' || ident AS wav_hex_f64,
           '52494646B400000057415645666D74201000000001000100803E0000007D000002001000' ||
             '6461746190000000' || ident AS wav_hex_ext,
           '52494646B400000057415645666D74201000000001000100803E0000007D000002001000' ||
             '6461746190000000' || ident AS wav_hex_fmt18,
           ahex AS pcm_hex_alaw,
           uhex AS pcm_hex_ulaw,
           '524946465201000057415645666D74201200000003000100803E000000FA0000040020000000' ||
             '6661637404000000480000006461746120010000' AS blob_hdr_f32
         FROM h""",
    // the independent SQL IMA decoder: nibbles from the md5 plant (low
    // nibble first), per-block state (pred 0, index (doc_id+b) mod 89)
    // advanced through the published step/index tables with the same
    // clamps, samples two's-complemented into little-endian hex behind
    // the constant canonical header (ch 1, 8 kHz, 196 data bytes)
    "multimodal_decode_adpcm" ->
      """WITH RECURSIVE
         stept AS (SELECT i AS idx,
             ([7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,50,55,60,66,73,80,88,97,107,118,130,143,157,173,190,209,230,253,279,307,337,371,408,449,494,544,598,658,724,796,876,963,1060,1166,1282,1411,1552,1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,11487,12635,13899,15289,16818,18500,20350,22385,24623,27086,29794,32767])[i+1] AS s
           FROM generate_series(0, 88) t(i)),
         nib AS (SELECT doc_id, b, k,
             CASE WHEN k % 2 = 0
               THEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-an' || CAST(b * 24 + k // 2 AS VARCHAR)), 1, 2))::INT % 16
               ELSE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-an' || CAST(b * 24 + k // 2 AS VARCHAR)), 1, 2))::INT // 16
             END AS nv
           FROM documents, generate_series(0, 1) bb(b), generate_series(0, 47) kk(k)),
         dec AS (
           SELECT doc_id, b, -1 AS k, 0 AS pred,
             CAST((doc_id % 89 + b) % 89 AS INT) AS idx
           FROM documents, generate_series(0, 1) bb(b)
           UNION ALL
           SELECT d.doc_id, d.b, d.k + 1,
             GREATEST(-32768, LEAST(32767, d.pred +
               CASE WHEN nb.nv >= 8 THEN -1 ELSE 1 END *
                 (st.s // 8
                  + CASE WHEN (nb.nv // 4) % 2 = 1 THEN st.s ELSE 0 END
                  + CASE WHEN (nb.nv // 2) % 2 = 1 THEN st.s // 2 ELSE 0 END
                  + CASE WHEN nb.nv % 2 = 1 THEN st.s // 4 ELSE 0 END))) AS pred,
             GREATEST(0, LEAST(88,
               d.idx + ([-1,-1,-1,-1,2,4,6,8])[(nb.nv % 8) + 1])) AS idx
           FROM dec d
           JOIN nib nb ON nb.doc_id = d.doc_id AND nb.b = d.b AND nb.k = d.k + 1
           JOIN stept st ON st.idx = d.idx
           WHERE d.k < 47),
         hexed AS (SELECT doc_id,
             string_agg(
               lpad(to_hex((pred + 65536) % 65536 % 256), 2, '0') ||
               lpad(to_hex((pred + 65536) % 65536 // 256), 2, '0'),
               '' ORDER BY b, k) AS datahex
           FROM dec GROUP BY doc_id)
         SELECT doc_id,
           '52494646E800000057415645666D74201000000001000100401F0000803E000002001000' ||
             '64617461C4000000' || upper(datahex) AS wav_hex
         FROM hexed""",
    // the independent SQL MS-ADPCM decoder: nibbles HIGH-first from the
    // md5 plant, per-block closed-form headers (predictor (ip+b) mod 7,
    // iDelta 16+(31ip+17b) mod 1000, seeds (131ip+37b)/(173ip+59b) mod
    // 60000 − 30000 with ip = doc_id mod 911), state advanced through
    // the published coefficient pairs and adaptation table with the
    // same truncating /256 prediction and 16-floor/2^24-cap iDelta;
    // seeds emit oldest-first behind the constant canonical header
    // (ch 1, 8 kHz, 176 data bytes)
    "multimodal_decode_msadpcm" ->
      """WITH RECURSIVE
         init AS (SELECT doc_id, b,
             CAST((doc_id % 911 + b) % 7 AS INT) AS p,
             CAST(16 + ((doc_id % 911) * 31 + b * 17) % 1000 AS BIGINT) AS delta,
             CAST(((doc_id % 911) * 131 + b * 37) % 60000 - 30000 AS BIGINT) AS s1,
             CAST(((doc_id % 911) * 173 + b * 59) % 60000 - 30000 AS BIGINT) AS s2
           FROM documents, generate_series(0, 1) bb(b)),
         nib AS (SELECT doc_id, b, k,
             CASE WHEN k % 2 = 0
               THEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-mn' || CAST(b * 21 + k // 2 AS VARCHAR)), 1, 2))::INT // 16
               ELSE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-mn' || CAST(b * 21 + k // 2 AS VARCHAR)), 1, 2))::INT % 16
             END AS nv
           FROM documents, generate_series(0, 1) bb(b), generate_series(0, 41) kk(k)),
         dec AS (
           SELECT doc_id, b, -1 AS k, s1, s2, delta, p FROM init
           UNION ALL
           SELECT d.doc_id, d.b, d.k + 1,
             GREATEST(-32768, LEAST(32767,
               CAST(trunc((d.s1 * ([256,512,0,192,240,460,392])[d.p+1]
                         + d.s2 * ([0,-256,0,64,0,-208,-232])[d.p+1]) / 256.0) AS BIGINT)
               + (CASE WHEN nb.nv >= 8 THEN nb.nv - 16 ELSE nb.nv END) * d.delta)) AS s1,
             d.s1 AS s2,
             LEAST(16777216, GREATEST(16,
               (([230,230,230,230,307,409,512,614,768,614,512,409,307,230,230,230])[nb.nv+1] * d.delta) // 256)) AS delta,
             d.p
           FROM dec d
           JOIN nib nb ON nb.doc_id = d.doc_id AND nb.b = d.b AND nb.k = d.k + 1
           WHERE d.k < 41),
         emitted AS (
           SELECT doc_id, b, -2 AS k, s2 AS smp FROM init
           UNION ALL SELECT doc_id, b, -1 AS k, s1 AS smp FROM init
           UNION ALL SELECT doc_id, b, k, s1 AS smp FROM dec WHERE k >= 0),
         hexed AS (SELECT doc_id,
             string_agg(
               lpad(to_hex((smp + 65536) % 65536 % 256), 2, '0') ||
               lpad(to_hex((smp + 65536) % 65536 // 256), 2, '0'),
               '' ORDER BY b, k) AS datahex
           FROM emitted GROUP BY doc_id)
         SELECT doc_id,
           '52494646D400000057415645666D74201000000001000100401F0000803E000002001000' ||
             '64617461B0000000' || upper(datahex) AS wav_hex
         FROM hexed""",
    // one cross-profile pair per doc: float32 and pcm24 canonicalize to
    // the same PCM, so the envelopes hash identically
    "dedup_audio_wavx" ->
      """SELECT doc_id AS id_a, doc_id + 100000 AS id_b, CAST(0 AS BIGINT) AS hamming
         FROM documents""",
    // the audio edition of the aligned-layout codec oracle: PCM has no
    // entropy coding, so the planted samples are recomputable in closed
    // form — u16 from md5("<doc_id>-w<i>") hex, two's-complement to
    // int16, each value covering 16 of the 64 samples; stats are exact
    // integers and the gate verdict is pure integer arithmetic
    "multimodal_wav_pcm" ->
      """WITH u AS (SELECT doc_id,
             [('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '-w' || CAST(i AS VARCHAR)), 1, 4))::INT
              for i in range(0, 4)] AS uu
           FROM documents),
           s AS (SELECT doc_id,
             list_transform(uu, x -> CASE WHEN x >= 32768 THEN x - 65536 ELSE x END) AS ss
           FROM u),
           agg AS (SELECT doc_id,
             CAST(64 AS BIGINT) AS n_samples,
             CAST(list_max(list_transform(ss, x -> abs(x))) AS BIGINT) AS peak_abs,
             CAST(16 * list_sum(list_transform(ss, x -> abs(x))) AS BIGINT) AS sum_abs,
             CAST(16 * list_sum(list_transform(ss, x -> x * x)) AS BIGINT) AS sum_sq,
             CAST(16 * len(list_filter(ss, x -> x = 32767 OR x = -32768)) AS BIGINT) AS n_clipped,
             CAST(16 * len(list_filter(ss, x -> abs(x) < 328)) AS BIGINT) AS n_silent
           FROM s)
         SELECT doc_id, n_samples, peak_abs, sum_abs, sum_sq, n_clipped, n_silent,
           CAST(CASE WHEN n_clipped * 100 <= n_samples * 1
                      AND n_silent * 1000 <= n_samples * 900
                      AND sum_sq >= n_samples * 10000
                     THEN 1 ELSE 0 END AS BIGINT) AS passes
         FROM agg""",
    // doc-unique token prefixes ⇒ only each doc's replant shares content:
    // exactly one hamming-0 pair per document
    "dedup_simhash" ->
      """SELECT doc_id AS id_a, doc_id + 100000 AS id_b, CAST(0 AS BIGINT) AS hamming
         FROM documents""",
    // quadratic all-pairs oracle — the Spark side must reproduce it EXACTLY
    // via lossless prefix filtering (no false negatives by the SSJoin lemma)
    "dedup_ngram_jaccard" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         sh AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
                  THEN [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]
                  ELSE [array_to_string(toks, ' ')] END) AS s FROM t)
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(a.s || b.s)) AS jaccard
         FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(list_distinct(a.s || b.s)) >= 0.5""",
    // same quadratic pair oracle as above feeding a recursive-CTE
    // transitive closure: component id = min reachable doc id
    "dedup_components" ->
      """WITH RECURSIVE
           t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
           sh AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
                    THEN [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]
                    ELSE [array_to_string(toks, ' ')] END) AS s FROM t),
           e AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
                 FROM sh a JOIN sh b ON a.doc_id < b.doc_id
                 WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                       / len(list_distinct(a.s || b.s)) >= 0.5),
           sym AS (SELECT id_a AS src, id_b AS dst FROM e
                   UNION ALL SELECT id_b, id_a FROM e),
           walk(id, comp) AS (
             SELECT DISTINCT src, src FROM sym
             UNION
             SELECT sym.dst, walk.comp FROM walk JOIN sym ON walk.id = sym.src),
           m AS (SELECT id, min(comp) AS comp FROM walk GROUP BY id)
         SELECT d.doc_id, coalesce(m.comp, d.doc_id) AS component_id,
                CAST(d.doc_id = coalesce(m.comp, d.doc_id) AS BIGINT) AS is_keeper
         FROM documents d LEFT JOIN m ON d.doc_id = m.id""",
    // same transitive closure, but the keeper is the longest doc per
    // component (ties → smallest id)
    "dedup_keep_best" ->
      """WITH RECURSIVE
           t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
           sh AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
                    THEN [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]
                    ELSE [array_to_string(toks, ' ')] END) AS s FROM t),
           e AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
                 FROM sh a JOIN sh b ON a.doc_id < b.doc_id
                 WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                       / len(list_distinct(a.s || b.s)) >= 0.5),
           sym AS (SELECT id_a AS src, id_b AS dst FROM e
                   UNION ALL SELECT id_b, id_a FROM e),
           walk(id, comp) AS (
             SELECT DISTINCT src, src FROM sym
             UNION
             SELECT sym.dst, walk.comp FROM walk JOIN sym ON walk.id = sym.src),
           m AS (SELECT id, min(comp) AS comp FROM walk GROUP BY id),
           lab AS (SELECT d.doc_id, coalesce(m.comp, d.doc_id) AS component_id, d.n_chars
                   FROM documents d LEFT JOIN m ON d.doc_id = m.id),
           best AS (SELECT component_id, doc_id AS keeper_id FROM (
                      SELECT component_id, doc_id,
                        row_number() OVER (PARTITION BY component_id
                          ORDER BY n_chars DESC, doc_id) AS rk
                      FROM lab) WHERE rk = 1)
         SELECT lab.doc_id, lab.component_id, best.keeper_id,
                CAST(lab.doc_id = best.keeper_id AS BIGINT) AS is_keeper
         FROM lab JOIN best USING (component_id)""",
    // span REMOVAL: non-first occurrences (by packed doc_id·2³²+pos key)
    // of ≥2-frequency grams mark intervals; a token survives iff no
    // marked interval of its doc covers its position (correlated NOT
    // EXISTS — the set-based mirror of the engine's region filter)
    "dedup_remove_spans" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           i AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n_toks,
                   unnest(generate_series(1, greatest(len(w) - 4, 1))) AS i FROM t),
           g AS (SELECT doc_id, n_toks, CAST(i - 1 AS BIGINT) AS pos,
                   doc_id * 4294967296 + CAST(i - 1 AS BIGINT) AS okey,
                   array_to_string(w[i : least(i + 4, len(w))], ' ') AS gram FROM i),
           s AS (SELECT gram, min(okey) AS first_okey FROM g
                 GROUP BY 1 HAVING count(*) >= 2),
           d AS (SELECT doc_id, pos, least(pos + 5, n_toks) AS e
                 FROM g JOIN s USING (gram) WHERE g.okey != s.first_okey),
           tok AS (SELECT doc_id, unnest(w) AS token,
                     unnest(range(0, len(w))) AS p FROM t),
           kept AS (SELECT doc_id, token, p FROM tok
                    WHERE NOT EXISTS (SELECT 1 FROM d
                      WHERE d.doc_id = tok.doc_id AND tok.p >= d.pos AND tok.p < d.e))
         SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_tokens,
                CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
                coalesce(k.text_clean, '') AS text_clean
         FROM t LEFT JOIN (
           SELECT doc_id, count(*) AS n_kept,
                  string_agg(token, ' ' ORDER BY p) AS text_clean
           FROM kept GROUP BY 1) k USING (doc_id)""",
    // cross-source gram overlap by STRING-keyed distinct shingles (the
    // Spark side joins on xxhash64 fingerprints); same 3-gram +
    // whole-short-doc shingling as the ngram-jaccard oracle
    "source_overlap" ->
      """WITH t AS (SELECT source, string_split(text, ' ') AS toks FROM documents),
           g AS (SELECT DISTINCT source,
                   unnest(CASE WHEN len(toks) >= 3
                     THEN [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]
                     ELSE [array_to_string(toks, ' ')] END) AS gram
                 FROM t),
           per AS (SELECT source, count(*) AS n_grams FROM g GROUP BY 1),
           p AS (SELECT a.source AS source_a, b.source AS source_b,
                   count(*) AS shared_grams
                 FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
                 GROUP BY 1, 2)
         SELECT p.source_a, p.source_b,
                CAST(p.shared_grams AS BIGINT) AS shared_grams,
                round(CAST(p.shared_grams AS DOUBLE) /
                      (pa.n_grams + pb.n_grams - p.shared_grams), 6) AS jaccard
         FROM p JOIN per pa ON pa.source = p.source_a
                JOIN per pb ON pb.source = p.source_b""",
    // line dedup: corpus-first occurrence by the packed doc_id·2³²+pos
    // key over STRING-keyed lines (the Spark side groups by xxhash64
    // fingerprints — identical modulo a 2⁻⁶⁴ collision)
    "dedup_lines" ->
      s"""WITH $LinedCte,
           l AS (SELECT doc_id,
                   unnest(range(0, len(string_split(text, chr(10))))) AS pos,
                   unnest(string_split(text, chr(10))) AS line
                 FROM lined),
           f AS (SELECT line, min(doc_id * 4294967296 + pos) AS first_okey
                 FROM l GROUP BY 1),
           agg AS (SELECT doc_id, count(*) AS n_kept,
                     string_agg(line, chr(10) ORDER BY pos) AS text_clean
                   FROM l JOIN f USING (line)
                   WHERE doc_id * 4294967296 + pos = first_okey
                   GROUP BY 1),
           tot AS (SELECT doc_id, count(*) AS n_lines FROM l GROUP BY 1)
         SELECT t.doc_id, CAST(t.n_lines AS BIGINT) AS n_lines,
                CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
                coalesce(a.text_clean, '') AS text_clean
         FROM tot t LEFT JOIN agg a USING (doc_id)""",
    // URL dedup: the oracle rebuilds the derived URL fixture, then runs
    // the same anchored-regex canonicalization chain (scheme → fragment →
    // userinfo → www → default port → param drop/sort → trailing slash)
    // and keeps the longest capture per canonical URL. The Spark side
    // windows over xxhash64(canon_url) — identical modulo a 2⁻⁶⁴
    // collision (the dedup_lines stance).
    "dedup_url" ->
      """WITH u AS (SELECT doc_id, n_chars,
             (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'HTTP://' END ||
              CASE WHEN doc_id % 11 = 0 THEN 'crawler:secret@' ELSE '' END ||
              CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END ||
              source || '.example.com' ||
              CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END ||
              '/item/' || CAST(doc_id % 25 AS VARCHAR) ||
              CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '' END ||
              CASE WHEN doc_id % 5 = 0 THEN '?utm_source=feed&b=2&a=1'
                   WHEN doc_id % 5 = 1 THEN '?a=1&b=2&fbclid=xyz' ELSE '' END ||
              CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END) AS url
           FROM documents),
           s1 AS (SELECT doc_id, n_chars,
                    regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                      regexp_replace(lower(trim(url)),
                        '^[a-z][a-z0-9+.-]*://', ''),
                      '#.*$', ''),
                      '^[^/?#]*@', ''),
                      '^www\.', ''),
                      '^([^/:?#]+):(?:80|443)([/?]|$)', '\1\2') AS r
                  FROM u),
           s2 AS (SELECT doc_id, n_chars, r, strpos(r, '?') AS qp FROM s1),
           s3 AS (SELECT doc_id, n_chars,
                    regexp_replace(CASE WHEN qp > 0 THEN substr(r, 1, qp - 1)
                                        ELSE r END, '/+$', '') AS path,
                    CASE WHEN qp > 0 THEN substr(r, qp + 1) ELSE '' END AS query
                  FROM s2),
           s4 AS (SELECT doc_id, n_chars, path,
                    list_sort(list_filter(string_split(query, '&'),
                      p -> p <> '' AND NOT regexp_matches(p,
                        '^(utm_[^=]*|fbclid|gclid|ref)(=|$)'))) AS params
                  FROM s3),
           c AS (SELECT doc_id, n_chars,
                   path || CASE WHEN len(params) > 0
                             THEN '?' || array_to_string(params, '&')
                             ELSE '' END AS canon_url
                 FROM s4)
         SELECT doc_id, canon_url,
           first_value(doc_id) OVER (PARTITION BY canon_url
             ORDER BY n_chars DESC, doc_id) AS keeper_id,
           CAST(count(*) OVER (PARTITION BY canon_url) AS BIGINT) AS n_dups,
           CAST(doc_id = first_value(doc_id) OVER (PARTITION BY canon_url
             ORDER BY n_chars DESC, doc_id) AS BIGINT) AS is_keeper
         FROM c""",
    // per-domain rollup over the same derived-URL fixture. The canonical
    // domain of every spelling variant is analytically
    // '<source>.example.com' (dedup_url's oracle pins the regex chain
    // that collapses them); the quality/gate arithmetic mirrors
    // text_quality / text_gopher_filter verbatim, and the flag compares
    // the ROUNDED keep_rate exactly as the Spark side does
    "domain_quality" ->
      """WITH t AS (SELECT doc_id, source, text, string_split(text, ' ') AS toks
                    FROM documents),
           s AS (SELECT source || '.example.com' AS domain,
                   CAST(length(text) AS DOUBLE) AS n_chars_d,
                   CAST(len(list_filter(toks,
                     x -> x IN ('the','a','of','and','to','in','is','on'))) AS DOUBLE)
                     / CAST(len(toks) AS DOUBLE) AS stop_ratio,
                   CAST((CAST(len(toks) AS BIGINT) >= 30
                     AND CAST(len(toks) AS BIGINT) <= 90
                     AND (CAST(length(text) AS DOUBLE) - (CAST(len(toks) AS DOUBLE) - 1.0))
                       / CAST(len(toks) AS DOUBLE) >= 3.0
                     AND (CAST(length(text) AS DOUBLE) - (CAST(len(toks) AS DOUBLE) - 1.0))
                       / CAST(len(toks) AS DOUBLE) <= 4.6
                     AND CAST(list_max(list_transform(list_distinct(toks),
                       u -> len(list_filter(toks, x -> x = u)))) AS DOUBLE)
                       / CAST(len(toks) AS DOUBLE) <= 0.12
                     AND CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE)
                       / CAST(len(toks) AS DOUBLE) <= 0.5
                     AND len(list_filter(toks,
                       x -> x IN ('the','a','of','and','to','in','is','on'))) >= 2)
                     AS DOUBLE) AS keep_d
                 FROM t),
           g AS (SELECT domain,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   round(avg(n_chars_d), 6) AS mean_chars,
                   round(avg(stop_ratio), 6) AS mean_stopword_ratio,
                   round(avg(keep_d), 6) AS keep_rate
                 FROM s GROUP BY domain)
         SELECT domain, n_docs, mean_chars, mean_stopword_ratio, keep_rate,
           CAST(keep_rate < 0.5 AND n_docs >= 3 AS BIGINT) AS flagged
         FROM g""",
    // C4 line/doc rules over the same lined CTE: ≥3 words, terminal
    // punctuation, no "slow" (the blocklist stand-in); doc keeps iff ≥3
    // surviving lines and no '{' / 'lorem ipsum' anywhere in the text
    "url_filter" ->
      """WITH u AS (SELECT doc_id,
             lower('https://www.' || source || '.example' ||
               CAST(doc_id % 3 AS VARCHAR) || '.com/' || lang ||
               '/page' || CAST(doc_id AS VARCHAR) ||
               CASE WHEN doc_id % 7 = 0 THEN '/casino-bonus' ELSE '' END ||
               CASE WHEN doc_id % 5 = 0 THEN '?utm_source=feed' ELSE '' END)
               AS url
           FROM documents),
           h AS (SELECT doc_id, url,
                   regexp_replace(regexp_extract(url,
                     '^(?:[a-z][a-z0-9+.-]*://)?(?:[^/@?#]*@)?(?:www\.)?([^/:?#]+)', 1),
                     '\.+$', '') AS host
                 FROM u),
           d2 AS (SELECT doc_id, url, host,
                    regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS domain
                  FROM h)
         SELECT doc_id, host, domain,
           CAST(domain = 'example0.com' AS BIGINT) AS flag_domain,
           CAST(contains(url, 'casino') OR contains(url, 'tracker') AS BIGINT)
             AS flag_word,
           CAST(NOT (domain = 'example0.com' OR contains(url, 'casino')
                     OR contains(url, 'tracker')) AS BIGINT) AS keep
         FROM d2""",
    "c4_clean" ->
      s"""WITH $LinedCte,
           l AS (SELECT doc_id,
                   unnest(range(0, len(string_split(text, chr(10))))) AS pos,
                   unnest(string_split(text, chr(10))) AS line
                 FROM lined),
           fl AS (SELECT doc_id, pos, line,
                    (len(string_split(line, ' ')) >= 3
                     AND regexp_matches(line, '[.!?"]$$')
                     AND NOT contains(lower(line), 'slow')) AS kl
                  FROM l),
           agg AS (SELECT doc_id, count(*) AS n_lines,
                     sum(CASE WHEN kl THEN 1 ELSE 0 END) AS n_kept
                   FROM fl GROUP BY 1),
           txt AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text_clean
                   FROM fl WHERE kl GROUP BY 1)
         SELECT a.doc_id, CAST(a.n_lines AS BIGINT) AS n_lines,
                CAST(a.n_kept AS BIGINT) AS n_kept,
                CAST(CASE WHEN a.n_kept >= 3
                           AND NOT contains(lower(d.text), '{')
                           AND NOT contains(lower(d.text), 'lorem ipsum')
                      THEN 1 ELSE 0 END AS BIGINT) AS keep,
                coalesce(t.text_clean, '') AS text_clean
         FROM agg a JOIN lined d USING (doc_id) LEFT JOIN txt t USING (doc_id)""",
    // duplicated 5-gram spans by STRING frequency (the Spark side counts
    // by xxhash64 — identical modulo a 2⁻⁶⁴ collision), merged into
    // maximal per-doc regions via gaps-and-islands
    "dedup_spans" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           i AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n_toks,
                   unnest(generate_series(1, greatest(len(w) - 4, 1))) AS i FROM t),
           g AS (SELECT doc_id, n_toks, CAST(i - 1 AS BIGINT) AS pos,
                   array_to_string(w[i : least(i + 4, len(w))], ' ') AS gram FROM i),
           f AS (SELECT gram FROM g GROUP BY 1 HAVING count(*) >= 2),
           d AS (SELECT doc_id, n_toks, pos, least(pos + 5, n_toks) AS e
                 FROM g JOIN f USING (gram)),
           r AS (SELECT doc_id, n_toks, pos, e,
                   CASE WHEN max(e) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                        OR pos > max(e) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     THEN 1 ELSE 0 END AS brk
                 FROM d),
           s AS (SELECT doc_id, n_toks, pos, e,
                   sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS UNBOUNDED PRECEDING) AS rid FROM r),
           reg AS (SELECT doc_id, rid, min(pos) AS rstart, max(e) AS rend,
                     count(*) AS grams FROM s GROUP BY 1, 2),
           agg AS (SELECT doc_id, CAST(sum(grams) AS BIGINT) AS n_dup_grams,
                     CAST(count(*) AS BIGINT) AS n_dup_regions,
                     CAST(sum(rend - rstart) AS BIGINT) AS dup_tokens
                   FROM reg GROUP BY 1)
         SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_tokens,
                coalesce(a.n_dup_grams, 0) AS n_dup_grams,
                coalesce(a.n_dup_regions, 0) AS n_dup_regions,
                coalesce(a.dup_tokens, 0) AS dup_tokens,
                CAST(coalesce(a.dup_tokens, 0) AS DOUBLE) / len(t.w) AS dup_token_frac
         FROM t LEFT JOIN agg a USING (doc_id)""",
    "sim_topk_bruteforce" ->
      """SELECT query_id, vec_id, rank FROM (
           SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                  row_number() OVER (PARTITION BY q.vec_id ORDER BY
                    list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                           CAST(c.embedding AS DOUBLE[])) DESC,
                    c.vec_id) AS rank
           FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
           WHERE q.vec_id < 8)
         WHERE rank <= 10""",
    // cluster-capped diversity sampling: medoids = vec_id < 8, cluster
    // index = medoid vec_id (the Spark side collects medoids in vec_id
    // order). Assignment = exact-cosine argmax, ties to the lowest
    // medoid id — the Spark side ranks dot/‖m‖ (the row norm is constant
    // per vec, so the argmax is identical); the cap is the same
    // md5-then-id order capPerSource pins
    "sample_cluster_balance" ->
      """WITH m AS (SELECT vec_id AS cluster, embedding AS m_emb
                    FROM embeddings WHERE vec_id < 8),
           a AS (SELECT e.vec_id, m.cluster,
                   list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                          CAST(m.m_emb AS DOUBLE[])) AS sim
                 FROM embeddings e CROSS JOIN m),
           asg AS (SELECT vec_id, cluster FROM (
                     SELECT vec_id, cluster,
                       row_number() OVER (PARTITION BY vec_id
                         ORDER BY sim DESC, cluster) AS rn
                     FROM a)
                   WHERE rn = 1)
         SELECT vec_id, CAST(cluster AS BIGINT) AS cluster, rk FROM (
           SELECT vec_id, cluster,
             CAST(row_number() OVER (PARTITION BY cluster
               ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS BIGINT) AS rk
           FROM asg)
         WHERE rk <= 40""",
    // hard negatives over the planted-copy corpus: the positive band
    // (sim ≥ 0.95) contains EXACTLY the query's own re-encode — no cross
    // pair reaches 0.95 — so the engine's cosine-band filter reduces to
    // the analytic exclusion c.vec_id != q.vec_id + 100000; rank parity
    // over the remainder is the bruteforce oracle's exact-cosine ordering
    "sim_hard_negatives" ->
      """SELECT query_id, vec_id, rank FROM (
           SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                  row_number() OVER (PARTITION BY q.vec_id ORDER BY
                    list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                           CAST(c.embedding AS DOUBLE[])) DESC,
                    c.vec_id) AS rank
           FROM embeddings q
           JOIN (SELECT vec_id, embedding FROM embeddings
                 UNION ALL
                 SELECT vec_id + 100000, embedding FROM embeddings) c
             ON c.vec_id != q.vec_id AND c.vec_id != q.vec_id + 100000
           WHERE q.vec_id < 8)
         WHERE rank <= 10""",
    // nprobe = numCentroids ⇒ exhaustive probe ⇒ identical to brute force
    // (the oracle is deliberately the same exact-cosine SQL)
    "sim_topk_ivf_full" ->
      """SELECT query_id, vec_id, rank FROM (
           SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                  row_number() OVER (PARTITION BY q.vec_id ORDER BY
                    list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                           CAST(c.embedding AS DOUBLE[])) DESC,
                    c.vec_id) AS rank
           FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
           WHERE q.vec_id < 8)
         WHERE rank <= 10""",
    // partial-probe IVF with planted medoid centroids (vec_id < 16):
    // corpus ×3 multi-assignment and query top-4 probes are cosine
    // row_numbers against the medoids (the engine ranks dot/‖m‖ — the
    // row norm is constant per vector, so the bucket ORDER is
    // identical), candidates = shared-bucket pairs dedup'd, final rank
    // = exact cosine with the bruteforce tie-break
    "sim_topk_ivf_medoid" ->
      """WITH m AS (SELECT vec_id AS cid, embedding AS m_emb
                    FROM embeddings WHERE vec_id < 16),
           ca AS (SELECT e.vec_id, m.cid,
                    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                           CAST(m.m_emb AS DOUBLE[])) AS sim
                  FROM embeddings e CROSS JOIN m),
           cassign AS (SELECT vec_id, cid AS bucket FROM (
                         SELECT vec_id, cid,
                           row_number() OVER (PARTITION BY vec_id
                             ORDER BY sim DESC, cid) AS rn
                         FROM ca)
                       WHERE rn <= 3),
           qassign AS (SELECT vec_id AS query_id, cid AS bucket FROM (
                         SELECT vec_id, cid,
                           row_number() OVER (PARTITION BY vec_id
                             ORDER BY sim DESC, cid) AS rn
                         FROM ca WHERE vec_id < 8)
                       WHERE rn <= 4),
           cand AS (SELECT DISTINCT q.query_id, c.vec_id
                    FROM qassign q JOIN cassign c USING (bucket)
                    WHERE c.vec_id != q.query_id),
           scored AS (SELECT cd.query_id, cd.vec_id,
                        list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                               CAST(e.embedding AS DOUBLE[])) AS sim
                      FROM cand cd
                      JOIN embeddings q ON q.vec_id = cd.query_id
                      JOIN embeddings e ON e.vec_id = cd.vec_id)
         SELECT query_id, vec_id, rank FROM (
           SELECT query_id, vec_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY sim DESC, vec_id) AS rank
           FROM scored)
         WHERE rank <= 10""",
    // sim_topk_ivf_medoid's derivation with the corpus-assign CTE
    // restricted to the planted predicate (vec_id % 3 = 0) — the same
    // scan-stage placement the engine uses (filter BEFORE bucket
    // assignment); queries stay unrestricted
    "sim_topk_filtered" ->
      """WITH m AS (SELECT vec_id AS cid, embedding AS m_emb
                    FROM embeddings WHERE vec_id < 16),
           ca AS (SELECT e.vec_id, m.cid,
                    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                           CAST(m.m_emb AS DOUBLE[])) AS sim
                  FROM embeddings e CROSS JOIN m),
           cassign AS (SELECT vec_id, cid AS bucket FROM (
                         SELECT vec_id, cid,
                           row_number() OVER (PARTITION BY vec_id
                             ORDER BY sim DESC, cid) AS rn
                         FROM ca WHERE vec_id % 3 = 0)
                       WHERE rn <= 3),
           qassign AS (SELECT vec_id AS query_id, cid AS bucket FROM (
                         SELECT vec_id, cid,
                           row_number() OVER (PARTITION BY vec_id
                             ORDER BY sim DESC, cid) AS rn
                         FROM ca WHERE vec_id < 8)
                       WHERE rn <= 4),
           cand AS (SELECT DISTINCT q.query_id, c.vec_id
                    FROM qassign q JOIN cassign c USING (bucket)
                    WHERE c.vec_id != q.query_id),
           scored AS (SELECT cd.query_id, cd.vec_id,
                        list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                               CAST(e.embedding AS DOUBLE[])) AS sim
                      FROM cand cd
                      JOIN embeddings q ON q.vec_id = cd.query_id
                      JOIN embeddings e ON e.vec_id = cd.vec_id)
         SELECT query_id, vec_id, rank FROM (
           SELECT query_id, vec_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY sim DESC, vec_id) AS rank
           FROM scored)
         WHERE rank <= 10""",
    // all-short move: under k survivors corpus-wide forces every query
    // down the wide (every-bucket) re-probe, whose candidate set is the
    // whole filtered corpus — so the adaptive result equals exact search
    // over it
    "sim_topk_filtered_idx" ->
      """SELECT query_id, vec_id, rank FROM (
           SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                  row_number() OVER (PARTITION BY q.vec_id ORDER BY
                    list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                           CAST(c.embedding AS DOUBLE[])) DESC,
                    c.vec_id) AS rank
           FROM embeddings q JOIN embeddings c
             ON c.vec_id != q.vec_id AND c.vec_id % 250 = 0
           WHERE q.vec_id < 8)
         WHERE rank <= 10""",
    // identical derivation to sim_topk_ivf_medoid: the two parity append
    // batches share the medoid centroids, so the incremental probe's
    // unioned candidates equal the single-index candidate set exactly
    "sim_topk_ivf_incr" ->
      """WITH m AS (SELECT vec_id AS cid, embedding AS m_emb
                    FROM embeddings WHERE vec_id < 16),
           ca AS (SELECT e.vec_id, m.cid,
                    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                           CAST(m.m_emb AS DOUBLE[])) AS sim
                  FROM embeddings e CROSS JOIN m),
           cassign AS (SELECT vec_id, cid AS bucket FROM (
                         SELECT vec_id, cid,
                           row_number() OVER (PARTITION BY vec_id
                             ORDER BY sim DESC, cid) AS rn
                         FROM ca)
                       WHERE rn <= 3),
           qassign AS (SELECT vec_id AS query_id, cid AS bucket FROM (
                         SELECT vec_id, cid,
                           row_number() OVER (PARTITION BY vec_id
                             ORDER BY sim DESC, cid) AS rn
                         FROM ca WHERE vec_id < 8)
                       WHERE rn <= 4),
           cand AS (SELECT DISTINCT q.query_id, c.vec_id
                    FROM qassign q JOIN cassign c USING (bucket)
                    WHERE c.vec_id != q.query_id),
           scored AS (SELECT cd.query_id, cd.vec_id,
                        list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                               CAST(e.embedding AS DOUBLE[])) AS sim
                      FROM cand cd
                      JOIN embeddings q ON q.vec_id = cd.query_id
                      JOIN embeddings e ON e.vec_id = cd.vec_id)
         SELECT query_id, vec_id, rank FROM (
           SELECT query_id, vec_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY sim DESC, vec_id) AS rank
           FROM scored)
         WHERE rank <= 10""",
    // sim_topk_ivf_incr's derivation with the retracted set (vec_id % 5 =
    // 2) excluded from the corpus-assignment CTE — queries still probe
    // (retraction removes index rows, not query rights) — and each ranked
    // row duplicated across both phases (anti-join read before
    // compaction, physical drop after: identical results by contract)
    "sim_topk_ivf_retract" ->
      """WITH m AS (SELECT vec_id AS cid, embedding AS m_emb
                    FROM embeddings WHERE vec_id < 16),
           ca AS (SELECT e.vec_id, m.cid,
                    list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                           CAST(m.m_emb AS DOUBLE[])) AS sim
                  FROM embeddings e CROSS JOIN m),
           cassign AS (SELECT vec_id, cid AS bucket FROM (
                         SELECT vec_id, cid,
                           row_number() OVER (PARTITION BY vec_id
                             ORDER BY sim DESC, cid) AS rn
                         FROM ca WHERE vec_id % 5 <> 2)
                       WHERE rn <= 3),
           qassign AS (SELECT vec_id AS query_id, cid AS bucket FROM (
                         SELECT vec_id, cid,
                           row_number() OVER (PARTITION BY vec_id
                             ORDER BY sim DESC, cid) AS rn
                         FROM ca WHERE vec_id < 8)
                       WHERE rn <= 4),
           cand AS (SELECT DISTINCT q.query_id, c.vec_id
                    FROM qassign q JOIN cassign c USING (bucket)
                    WHERE c.vec_id != q.query_id),
           scored AS (SELECT cd.query_id, cd.vec_id,
                        list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                               CAST(e.embedding AS DOUBLE[])) AS sim
                      FROM cand cd
                      JOIN embeddings q ON q.vec_id = cd.query_id
                      JOIN embeddings e ON e.vec_id = cd.vec_id),
           ranked AS (SELECT query_id, vec_id, rank FROM (
                        SELECT query_id, vec_id,
                          row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, vec_id) AS rank
                        FROM scored)
                      WHERE rank <= 10)
         SELECT p.phase, r.query_id, r.vec_id, r.rank
         FROM ranked r CROSS JOIN (SELECT 1 AS phase UNION ALL SELECT 2) p""",
    // the stored corpus equals documents-minus-retracted with the exact
    // planted five-md5-token text, in BOTH phases (read-path exclusion
    // before compaction, physical absence after)
    "store_retract" ->
      """WITH t AS (SELECT doc_id,
             md5(CAST(doc_id AS VARCHAR) || '-st0') || ' ' ||
             md5(CAST(doc_id AS VARCHAR) || '-st1') || ' ' ||
             md5(CAST(doc_id AS VARCHAR) || '-st2') || ' ' ||
             md5(CAST(doc_id AS VARCHAR) || '-st3') || ' ' ||
             md5(CAST(doc_id AS VARCHAR) || '-st4') AS text
           FROM documents WHERE doc_id % 5 <> 2)
         SELECT p.phase, t.doc_id, t.text
         FROM t CROSS JOIN (SELECT 1 AS phase UNION ALL SELECT 2) p""",
    // kept set = docs whose analytic token count 3 + doc_id%7 stays
    // under the predicate's 7 (the sidecar n_tokens the engine computed
    // must agree with the plant for the retraction to land on exactly
    // doc_id % 7 >= 4); both phases list the kept docs
    "store_retract_attrs" ->
      """WITH t AS (SELECT doc_id,
             array_to_string([md5(CAST(doc_id AS VARCHAR) || '-sa' || CAST(i AS VARCHAR))
               for i in range(0, CAST(3 + doc_id % 7 AS INTEGER))], ' ') AS text
           FROM documents WHERE doc_id % 7 < 4)
         SELECT p.phase, t.doc_id, t.text
         FROM t CROSS JOIN (SELECT 1 AS phase UNION ALL SELECT 2) p""",
    // PQ over planted reconstructions: the oracle rebuilds the SAME
    // integer vectors from the code formula (corpus: (id·7+s·3)%16,
    // queries: (id·11+s·5+1)%16; component = ((s·3+c·5+j·7)%17)−8 with
    // s=i//8, j=i%8) and ranks by exact integer inner product — which
    // the engine's encode→LUT→ADC path must reproduce bit-for-bit
    "sim_topk_pq" ->
      """WITH corp AS (SELECT vec_id,
             [CAST((((i//8)*3 + ((vec_id*7 + (i//8)*3) % 16)*5 + (i%8)*7) % 17) - 8 AS DOUBLE)
              for i in range(0, 64)] AS v FROM embeddings),
           qry AS (SELECT vec_id AS query_id,
             [CAST((((i//8)*3 + ((vec_id*11 + (i//8)*5 + 1) % 16)*5 + (i%8)*7) % 17) - 8 AS DOUBLE)
              for i in range(0, 64)] AS q FROM embeddings WHERE vec_id < 8),
           sc AS (SELECT query_id, vec_id,
                    list_sum([q[i+1] * v[i+1] for i in range(0, 64)]) AS sim
                  FROM qry, corp WHERE query_id <> vec_id),
           r AS (SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY sim DESC, vec_id) AS rank
                 FROM sc)
         SELECT query_id, vec_id, CAST(rank AS BIGINT) AS rank
         FROM r WHERE rank <= 10""",
    // incremental IVF-PQ: buckets from the planted medoids (the first 16
    // planted-corpus vectors, the sim_topk_ivf_incr derivation), ADC sim
    // == exact integer inner product (planted-PQ corpus, the sim_topk_pq
    // derivation) == the refine sim — so the shortlist truncation at
    // k·refineFactor cannot change the final top-10 and the whole
    // append→probe→ADC→union→re-rank cascade folds to candidate ranking
    "sim_topk_ivfpq_incr" ->
      """WITH corp AS (SELECT vec_id,
             [CAST((((i//8)*3 + ((vec_id*7 + (i//8)*3) % 16)*5 + (i%8)*7) % 17) - 8 AS DOUBLE)
              for i in range(0, 64)] AS v FROM embeddings),
           qry AS (SELECT vec_id AS query_id,
             [CAST((((i//8)*3 + ((vec_id*11 + (i//8)*5 + 1) % 16)*5 + (i%8)*7) % 17) - 8 AS DOUBLE)
              for i in range(0, 64)] AS q FROM embeddings WHERE vec_id < 8),
           m AS (SELECT vec_id AS cid, v AS m_emb FROM corp WHERE vec_id < 16),
           ca AS (SELECT c.vec_id, m.cid,
                    list_cosine_similarity(c.v, m.m_emb) AS sim
                  FROM corp c CROSS JOIN m),
           cassign AS (SELECT vec_id, cid AS bucket FROM (
                         SELECT vec_id, cid,
                           row_number() OVER (PARTITION BY vec_id
                             ORDER BY sim DESC, cid) AS rn
                         FROM ca)
                       WHERE rn <= 3),
           qa AS (SELECT q.query_id, m.cid,
                    list_cosine_similarity(q.q, m.m_emb) AS sim
                  FROM qry q CROSS JOIN m),
           qassign AS (SELECT query_id, cid AS bucket FROM (
                         SELECT query_id, cid,
                           row_number() OVER (PARTITION BY query_id
                             ORDER BY sim DESC, cid) AS rn
                         FROM qa)
                       WHERE rn <= 4),
           cand AS (SELECT DISTINCT q.query_id, c.vec_id
                    FROM qassign q JOIN cassign c USING (bucket)
                    WHERE c.vec_id != q.query_id),
           sc AS (SELECT cd.query_id, cd.vec_id,
                    list_sum([q.q[i+1] * c.v[i+1] for i in range(0, 64)]) AS sim
                  FROM cand cd
                  JOIN qry q ON q.query_id = cd.query_id
                  JOIN corp c ON c.vec_id = cd.vec_id),
           r AS (SELECT query_id, vec_id,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY sim DESC, vec_id) AS rank
                 FROM sc)
         SELECT query_id, vec_id, CAST(rank AS BIGINT) AS rank
         FROM r WHERE rank <= 10""",
    // JPEG/PNG payloads carry real headers; the oracle re-parses the
    // dimension fields out of the blob at the (known, spec-fixed) header
    // offsets: PNG IHDR w/h at bytes 17-20/21-24, JPEG SOF0 h/w at bytes
    // 26-27/28-29 of the SOI+APP0+SOF0 layout (hex-string chars 2i-1…)
    "multimodal_meta" ->
      """SELECT doc_id, octet_length(bin) AS n_bytes, md5(hex(bin)) AS content_md5,
           CASE WHEN left(hex(bin), 6) = 'FFD8FF' THEN 'image/jpeg'
                WHEN left(hex(bin), 8) = '89504E47' THEN 'image/png'
                WHEN left(hex(bin), 8) = '52494646' THEN
                  CASE substr(hex(bin), 17, 8)
                    WHEN '57415645' THEN 'audio/wav'
                    WHEN '57454250' THEN 'image/webp'
                    WHEN '41564920' THEN 'video/avi'
                    ELSE 'application/riff' END
                ELSE 'application/octet-stream' END AS modality,
           CASE WHEN doc_id % 4 = 1 THEN ('0x' || substr(hex(bin), 33, 8))::BIGINT
                WHEN doc_id % 4 = 0 THEN ('0x' || substr(hex(bin), 55, 4))::BIGINT
                END AS width,
           CASE WHEN doc_id % 4 = 1 THEN ('0x' || substr(hex(bin), 41, 8))::BIGINT
                WHEN doc_id % 4 = 0 THEN ('0x' || substr(hex(bin), 51, 4))::BIGINT
                END AS height
         FROM (
           SELECT doc_id, CASE CAST(doc_id % 4 AS INTEGER)
             WHEN 0 THEN unhex('FFD8FFE000104A46494600010100000100010000FFC0001108')
                         || unhex(lpad(hex(1 + doc_id % 1080), 4, '0'))
                         || unhex(lpad(hex(1 + doc_id % 1920), 4, '0'))
                         || unhex('03011100021101031101') || encode(text)
             WHEN 1 THEN unhex('89504E470D0A1A0A0000000D49484452')
                         || unhex(lpad(hex(1 + doc_id % 1920), 8, '0'))
                         || unhex(lpad(hex(1 + doc_id % 1080), 8, '0'))
                         || unhex('0806000000') || encode(text)
             WHEN 2 THEN 'RIFF'::BLOB || encode(text)
             ELSE encode(text) END AS bin
           FROM documents)""",
    // WAV blob built independently in SQL (LE byte encoding via reversed
    // hex pairs), fields re-extracted by hex slicing at the spec offsets
    // header sizes by construction: JPEG prefix 39 B, PNG 29 B, bare RIFF
    // magic 4 B, none 0 — so total_bytes is analytic per modality class
    "multimodal_inventory" ->
      """SELECT source,
           CASE doc_id % 4 WHEN 0 THEN 'image/jpeg' WHEN 1 THEN 'image/png'
                WHEN 2 THEN 'application/riff'
                ELSE 'application/octet-stream' END AS modality,
           CAST(count(*) AS BIGINT) AS n_media,
           CAST(sum(octet_length(encode(text)) +
                CASE doc_id % 4 WHEN 0 THEN 39 WHEN 1 THEN 29 WHEN 2 THEN 4
                     ELSE 0 END) AS BIGINT) AS total_bytes
         FROM documents GROUP BY 1, 2""",
    // planted-analytic: the engine must RECOVER the movie geometry the
    // fixture derived from doc_id through a real box walk; the builder's
    // byte layout is pinned by the hand-computed-hex golden in
    // MultimodalSpec, so a compensating builder/parser offset bug cannot
    // hash-pass
    "multimodal_video" ->
      """SELECT doc_id, 'isom' AS major_brand, CAST(0 AS BIGINT) AS version,
           CAST(600 + (doc_id % 10) * 100 AS BIGINT) AS timescale,
           CAST((doc_id % 50 + 1) * 600 AS BIGINT) AS duration,
           CAST(floor((doc_id % 50 + 1) * 600 * 1000.0
                / (600 + (doc_id % 10) * 100)) AS BIGINT) AS duration_ms
         FROM documents WHERE doc_id % 4 = 3""",
    // frame positions replayed from the analytic duration: range()
    // excludes the bound like sequence(0, dm-1) includes dm-1 — equal sets
    "multimodal_frames" ->
      """WITH v AS (SELECT doc_id,
             CAST(floor((doc_id % 50 + 1) * 600 * 1000.0
                  / (600 + (doc_id % 10) * 100)) AS BIGINT) AS dm
           FROM documents WHERE doc_id % 4 = 3),
           p AS (SELECT doc_id, unnest(range(0, dm, 500)) AS pos FROM v)
         SELECT doc_id, CAST(pos / 500 AS BIGINT) AS frame_idx,
                CAST(pos AS BIGINT) AS pos_ms
         FROM p""",
    "multimodal_audio" ->
      """WITH src AS (SELECT doc_id, text,
             CAST(doc_id % 2 + 1 AS BIGINT) AS c,
             CAST(8000 + (doc_id % 8) * 1000 AS BIGINT) AS r,
             CAST(octet_length(encode(text)) AS BIGINT) AS db
           FROM documents WHERE doc_id % 4 = 2),
           b AS (SELECT doc_id,
             'RIFF'::BLOB
             || unhex(substr(lpad(hex(db+36),8,'0'),7,2)||substr(lpad(hex(db+36),8,'0'),5,2)
                ||substr(lpad(hex(db+36),8,'0'),3,2)||substr(lpad(hex(db+36),8,'0'),1,2))
             || 'WAVEfmt '::BLOB || unhex('10000000') || unhex('0100')
             || unhex(substr(lpad(hex(c),4,'0'),3,2)||substr(lpad(hex(c),4,'0'),1,2))
             || unhex(substr(lpad(hex(r),8,'0'),7,2)||substr(lpad(hex(r),8,'0'),5,2)
                ||substr(lpad(hex(r),8,'0'),3,2)||substr(lpad(hex(r),8,'0'),1,2))
             || unhex(substr(lpad(hex(r*c*2),8,'0'),7,2)||substr(lpad(hex(r*c*2),8,'0'),5,2)
                ||substr(lpad(hex(r*c*2),8,'0'),3,2)||substr(lpad(hex(r*c*2),8,'0'),1,2))
             || unhex(substr(lpad(hex(c*2),4,'0'),3,2)||substr(lpad(hex(c*2),4,'0'),1,2))
             || unhex('1000') || 'data'::BLOB
             || unhex(substr(lpad(hex(db),8,'0'),7,2)||substr(lpad(hex(db),8,'0'),5,2)
                ||substr(lpad(hex(db),8,'0'),3,2)||substr(lpad(hex(db),8,'0'),1,2))
             || encode(text) AS wav
           FROM src),
           x AS (SELECT doc_id, hex(wav) AS h FROM b),
           f AS (SELECT doc_id,
             ('0x'||substr(h,45,2))::BIGINT + 256*('0x'||substr(h,47,2))::BIGINT AS n_channels,
             ('0x'||substr(h,49,2))::BIGINT + 256*('0x'||substr(h,51,2))::BIGINT
               + 65536*('0x'||substr(h,53,2))::BIGINT + 16777216*('0x'||substr(h,55,2))::BIGINT AS sample_rate,
             ('0x'||substr(h,57,2))::BIGINT + 256*('0x'||substr(h,59,2))::BIGINT
               + 65536*('0x'||substr(h,61,2))::BIGINT + 16777216*('0x'||substr(h,63,2))::BIGINT AS byte_rate,
             ('0x'||substr(h,69,2))::BIGINT + 256*('0x'||substr(h,71,2))::BIGINT AS bits_per_sample,
             ('0x'||substr(h,81,2))::BIGINT + 256*('0x'||substr(h,83,2))::BIGINT
               + 65536*('0x'||substr(h,85,2))::BIGINT + 16777216*('0x'||substr(h,87,2))::BIGINT AS data_bytes
           FROM x)
         SELECT doc_id, n_channels, sample_rate, bits_per_sample, data_bytes,
           CAST(floor(data_bytes * 1000.0 / byte_rate) AS BIGINT) AS duration_ms
         FROM f""",
    "multimodal_report" ->
      """WITH src AS (SELECT source,
             CAST(doc_id % 2 + 1 AS BIGINT) AS c,
             CAST(8000 + (doc_id % 8) * 1000 AS BIGINT) AS r,
             CAST(octet_length(encode(text)) AS BIGINT) AS db
           FROM documents WHERE doc_id % 4 = 2)
         SELECT source, r AS sample_rate,
           CAST(count(*) AS BIGINT) AS n_clips,
           CAST(sum(db + 44) AS BIGINT) AS sum_bytes,
           CAST(sum(CAST(floor(db * 1000.0 / (r * c * 2)) AS BIGINT)) AS BIGINT)
             AS sum_duration_ms
         FROM src GROUP BY 1, 2""",
    "text_token_stats" ->
"""SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_computed,
           CAST(list_sum(list_transform(string_split(text, ' '),
             t -> CAST(ceil(length(t) / 4.0) AS BIGINT))) AS BIGINT) AS n_subtokens
         FROM documents""",
    "text_quality" ->
      """SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           length(text) / CAST(len(string_split(text, ' ')) AS DOUBLE) AS mean_token_len,
           len(list_filter(string_split(text, ' '),
             t -> t IN ('the','a','of','and','to','in','is','on')))
             / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stopword_ratio,
           (length(text) - length(regexp_replace(text, '[^\p{L}\p{N} ]', '', 'g')))
             / CAST(length(text) AS DOUBLE) AS punct_ratio,
           (length(text) - length(regexp_replace(text, '\p{Lu}', '', 'g')))
             / CAST(length(text) AS DOUBLE) AS upper_ratio
         FROM documents""",
    "text_lang_id" ->
      """SELECT doc_id, CASE
           WHEN c_en = g AND c_en > 0 THEN 'en'
           WHEN c_de = g AND c_de > 0 THEN 'de'
           WHEN c_es = g AND c_es > 0 THEN 'es'
           WHEN c_fr = g AND c_fr > 0 THEN 'fr'
           ELSE 'und' END AS pred_lang
         FROM (
           SELECT doc_id,
             len(list_filter(string_split(text, ' '), t -> t IN ('the','a','of','and','to'))) AS c_en,
             len(list_filter(string_split(text, ' '), t -> t IN ('der','die','das','und','nicht'))) AS c_de,
             len(list_filter(string_split(text, ' '), t -> t IN ('el','la','de','y','que'))) AS c_es,
             len(list_filter(string_split(text, ' '), t -> t IN ('le','la','et','les','des'))) AS c_fr,
             greatest(
               len(list_filter(string_split(text, ' '), t -> t IN ('the','a','of','and','to'))),
               len(list_filter(string_split(text, ' '), t -> t IN ('der','die','das','und','nicht'))),
               len(list_filter(string_split(text, ' '), t -> t IN ('el','la','de','y','que'))),
               len(list_filter(string_split(text, ' '), t -> t IN ('le','la','et','les','des')))) AS g
           FROM documents)""",
    "text_fingerprint" ->
      "SELECT doc_id, md5(text) AS md5 FROM documents",
    // parallel unnest zips the two slices positionally (DuckDB semantics);
    // engine side joins on xxhash64 fingerprints of the same string pairs
    "text_bigram_nll" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
           bg AS (SELECT doc_id, unnest(toks[1:len(toks)-1]) AS prev,
                         unnest(toks[2:len(toks)]) AS word
                  FROM t WHERE len(toks) >= 2),
           c AS (SELECT prev, word, CAST(count(*) AS BIGINT) AS cnt FROM bg GROUP BY 1, 2),
           p AS (SELECT prev, CAST(count(*) AS BIGINT) AS pcnt FROM bg GROUP BY 1)
         SELECT doc_id,
           round(avg(-ln(CAST(cnt AS DOUBLE) / CAST(pcnt AS DOUBLE))), 6) AS mean_nll,
           round(max(-ln(CAST(cnt AS DOUBLE) / CAST(pcnt AS DOUBLE))), 6) AS max_nll,
           CAST(count(*) AS BIGINT) AS n_bigrams
         FROM bg JOIN c USING (prev, word) JOIN p USING (prev)
         GROUP BY doc_id""",
    // each language's literal weight array is the SAME Seq the Spark side
    // folds into its aggregate (langModels() interpolated on both sides);
    // verdict CASE order = model order = the engine's tie-break
    "text_lang_model" ->
      s"""WITH w AS (SELECT ${TextAnalysis.langModels()
        .map { case (l, wts, _) => s"[${wts.mkString(", ")}] AS w_$l" }.mkString(", ")}),
           s AS (SELECT doc_id,
             ${TextAnalysis.langModels().map { case (l, _, _) =>
          s"CAST(list_sum(list_transform(string_split(text, ' '), t -> w_$l[(('0x' || substr(md5(t), 1, 4))::INT % 64) + 1])) AS BIGINT) AS logit_$l"
        }.mkString(",\n             ")}
           FROM documents, w),
           g AS (SELECT *, greatest(logit_en, logit_de, logit_es, logit_fr) AS mx FROM s)
         SELECT doc_id, logit_en, logit_de, logit_es, logit_fr,
           CASE WHEN logit_en = mx AND logit_en > 0 THEN 'en'
                WHEN logit_de = mx AND logit_de > 0 THEN 'de'
                WHEN logit_es = mx AND logit_es > 0 THEN 'es'
                WHEN logit_fr = mx AND logit_fr > 0 THEN 'fr'
                ELSE 'und' END AS pred_lang
         FROM g""",
    "text_model_score" ->
      s"""WITH w AS (SELECT [${DemoWeightsMilli.mkString(", ")}] AS wt),
            s AS (SELECT doc_id,
                    CAST(list_sum(list_transform(string_split(text, ' '),
                      t -> wt[(('0x' || substr(md5(t), 1, 4))::INT % 64) + 1])) AS BIGINT)
                      AS logit_milli
                  FROM documents, w)
          SELECT doc_id, logit_milli,
                 CAST(logit_milli >= 0 AS BIGINT) AS keep FROM s""",
    "text_normalize" ->
      """SELECT doc_id,
           trim(regexp_replace(regexp_replace(lower(text), '[\x00-\x1f\x7f]', ' ', 'g'), ' +', ' ', 'g')) AS text_norm,
           CAST(length(trim(regexp_replace(regexp_replace(lower(text), '[\x00-\x1f\x7f]', ' ', 'g'), ' +', ' ', 'g'))) AS BIGINT) AS n_chars_norm
         FROM documents""",
    "dedup_embedding_srp" ->
      "SELECT vec_id AS id_a, vec_id + 100000 AS id_b FROM embeddings",
    "dedup_embedding" ->
      "SELECT vec_id AS id_a, vec_id + 100000 AS id_b FROM embeddings",
    "dedup_semantic" ->
      """SELECT vec_id, vec_id AS component_id, CAST(1 AS BIGINT) AS is_keeper FROM embeddings
         UNION ALL
         SELECT vec_id + 100000, vec_id, CAST(0 AS BIGINT) FROM embeddings""",
    "pipeline_global_order" ->
      """SELECT doc_id,
           CAST(row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS BIGINT) AS pos,
           CAST((row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1) // 100 AS BIGINT) AS shard
         FROM documents""",
    // g = m − 3 grams over m = 5 + doc_id % 9 repeated tokens; rightmost
    // min in every window ⇒ positions 3…g−1 (range(3, g)), or g−1 alone
    // for short docs
    "text_winnow_positions" ->
      """WITH g AS (SELECT doc_id, (5 + doc_id % 9) - 3 AS g FROM documents)
         SELECT doc_id,
           CAST(unnest(CASE WHEN g >= 4 THEN range(3, g) ELSE [g - 1] END) AS BIGINT) AS pos
         FROM g""",
    "text_bpe_tokens" ->
      """SELECT doc_id, len(regexp_extract_all(text,
           '''(?:[sdmt]|ll|ve|re)| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+|\s+')) AS n_bpe_tokens
         FROM documents""",
    // planted-analytic BPE (see the queries entry): the merge table and
    // the greedy encode of each class are derived by hand, so the oracle
    // just rebuilds the expected piece strings from doc_id % 4.
    "text_bpe_encode" ->
      """SELECT doc_id,
           CAST(CASE doc_id % 4 WHEN 0 THEN 6 WHEN 1 THEN 5 WHEN 2 THEN 4
                ELSE 8 END AS BIGINT) AS n_pieces,
           CASE doc_id % 4
             WHEN 0 THEN 'aaaa' || repeat(chr(1) || ' aaaa', 5)
             WHEN 1 THEN 'bbbb' || repeat(chr(1) || ' bbbb', 4)
             WHEN 2 THEN 'cccc' || repeat(chr(1) || ' cccc', 3)
             ELSE 'dd' || chr(1) || 'dd' ||
                  repeat(chr(1) || ' ' || chr(1) || 'dd' || chr(1) || 'dd', 2)
           END AS pieces_str
         FROM documents""",
    // planted-analytic BPE token histogram: each class's piece multiset
    // is known in closed form (see text_bpe_encode), so collection and
    // document frequencies are exact arithmetic over the class sizes
    "text_token_hist" ->
      """WITH cls AS (SELECT doc_id, doc_id % 4 AS c FROM documents),
           p AS (
             SELECT doc_id, 'aaaa' AS piece, 1 AS n FROM cls WHERE c = 0
             UNION ALL SELECT doc_id, ' aaaa', 5 FROM cls WHERE c = 0
             UNION ALL SELECT doc_id, 'bbbb', 1 FROM cls WHERE c = 1
             UNION ALL SELECT doc_id, ' bbbb', 4 FROM cls WHERE c = 1
             UNION ALL SELECT doc_id, 'cccc', 1 FROM cls WHERE c = 2
             UNION ALL SELECT doc_id, ' cccc', 3 FROM cls WHERE c = 2
             UNION ALL SELECT doc_id, 'dd', 6 FROM cls WHERE c = 3
             UNION ALL SELECT doc_id, ' ', 2 FROM cls WHERE c = 3)
         SELECT piece, CAST(sum(n) AS BIGINT) AS n_tokens,
                CAST(count(*) AS BIGINT) AS n_docs
         FROM p GROUP BY 1""",
    // COMMITTED deflate constants (the canary-floor stance): DuckDB has
    // no zlib, so the oracle pins the fixture generator's own level-6/
    // nowrap Deflater output per committed structure class — 8/17/51/163
    // bytes for run/periodic/prose/garble. FuncsSpec re-asserts the same
    // constants, so a zlib-build shift fails the suite before it fails
    // the oracle.
    "text_compress_ratio" ->
      """SELECT doc_id,
           CAST(CASE doc_id % 4 WHEN 0 THEN 400 WHEN 1 THEN 400 WHEN 2 THEN 450 ELSE 183 END AS BIGINT) AS n_chars,
           CAST(CASE doc_id % 4 WHEN 0 THEN 8 WHEN 1 THEN 17 WHEN 2 THEN 51 ELSE 163 END AS BIGINT) AS deflate_len,
           CAST(CASE doc_id % 4 WHEN 0 THEN 20 WHEN 1 THEN 42 WHEN 2 THEN 113 ELSE 890 END AS BIGINT) AS ratio_milli
         FROM documents""",
    // COMMITTED converged-LBFGS logits: the train set is the
    // SF-independent 200-row separable plant (single partition ⇒ one
    // float association order ⇒ bit-reproducible milli-weights, verified
    // identical across executor counts); the generator ran the loop once
    // and pinned the eight per-class logits. OperatorsSpec re-asserts
    // them, so an MLlib/BLAS drift fails the suite loudly.
    "text_train_score" ->
      """SELECT CAST(i AS BIGINT) AS doc_id,
           CAST(CASE i % 8 WHEN 0 THEN 5858 WHEN 1 THEN 5326 WHEN 2 THEN 5627 WHEN 3 THEN 5627
                WHEN 4 THEN -5683 WHEN 5 THEN -5683 WHEN 6 THEN -5362 ELSE -5683 END AS BIGINT) AS logit_milli,
           CAST(CASE WHEN i % 8 < 4 THEN 1 ELSE 0 END AS BIGINT) AS keep
         FROM range(200) t(i)""",
    "text_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
           b AS (SELECT doc_id, toks,
                   CASE WHEN len(toks) >= 2
                     THEN [array_to_string(toks[i:i+1], ' ') for i in range(1, len(toks))]
                     ELSE [array_to_string(toks, ' ')] END AS bis
                 FROM t)
         SELECT doc_id,
           CAST(list_max(list_transform(list_distinct(toks),
             u -> len(list_filter(toks, x -> x = u)))) AS DOUBLE)
             / CAST(len(toks) AS DOUBLE) AS top_unigram_frac,
           CAST(list_max(list_transform(list_distinct(bis),
             u -> len(list_filter(bis, x -> x = u)))) AS DOUBLE)
             / CAST(len(bis) AS DOUBLE) AS top_bigram_frac,
           CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE)
             / CAST(len(toks) AS DOUBLE) AS dup_token_frac
         FROM b""",
    // all 13 signals recomputed from the stated contract: splits keep
    // empty fields, denominators are whole-text character counts, top
    // gram = (count desc, length desc, gram asc), dup-gram coverage =
    // token chars covered by any occurrence of a ≥2-count gram
    "text_gopher_repetition" ->
      s"""WITH $GopherRepCtes
         SELECT * FROM sig""",
    // the published Table A1 thresholds as per-rule pass flags over the
    // same signal pipeline; keep = their conjunction
    "text_gopher_rep_filter" ->
      s"""WITH $GopherRepCtes
         SELECT doc_id,
           CAST(dup_line_frac <= 0.30 AS BIGINT) AS ok_dup_line_frac,
           CAST(dup_para_frac <= 0.30 AS BIGINT) AS ok_dup_para_frac,
           CAST(dup_line_char_frac <= 0.20 AS BIGINT) AS ok_dup_line_char_frac,
           CAST(dup_para_char_frac <= 0.20 AS BIGINT) AS ok_dup_para_char_frac,
           CAST(top_2_gram_char_frac <= 0.20 AS BIGINT) AS ok_top_2_gram_char_frac,
           CAST(top_3_gram_char_frac <= 0.18 AS BIGINT) AS ok_top_3_gram_char_frac,
           CAST(top_4_gram_char_frac <= 0.16 AS BIGINT) AS ok_top_4_gram_char_frac,
           CAST(dup_5_gram_char_frac <= 0.15 AS BIGINT) AS ok_dup_5_gram_char_frac,
           CAST(dup_6_gram_char_frac <= 0.14 AS BIGINT) AS ok_dup_6_gram_char_frac,
           CAST(dup_7_gram_char_frac <= 0.13 AS BIGINT) AS ok_dup_7_gram_char_frac,
           CAST(dup_8_gram_char_frac <= 0.12 AS BIGINT) AS ok_dup_8_gram_char_frac,
           CAST(dup_9_gram_char_frac <= 0.11 AS BIGINT) AS ok_dup_9_gram_char_frac,
           CAST(dup_10_gram_char_frac <= 0.10 AS BIGINT) AS ok_dup_10_gram_char_frac,
           CAST(dup_line_frac <= 0.30 AND dup_para_frac <= 0.30
            AND dup_line_char_frac <= 0.20 AND dup_para_char_frac <= 0.20
            AND top_2_gram_char_frac <= 0.20 AND top_3_gram_char_frac <= 0.18
            AND top_4_gram_char_frac <= 0.16 AND dup_5_gram_char_frac <= 0.15
            AND dup_6_gram_char_frac <= 0.14 AND dup_7_gram_char_frac <= 0.13
            AND dup_8_gram_char_frac <= 0.12 AND dup_9_gram_char_frac <= 0.11
            AND dup_10_gram_char_frac <= 0.10 AS BIGINT) AS keep,
           CAST(1 AS BIGINT) AS gated
         FROM sig""",
    // the LENGTH-PRECONDITIONED gate (minTokens = 40): docs under 40
    // space tokens are not judged — every flag and keep read 1, gated 0
    // (the gate abstains; the published char-fraction thresholds presume
    // web-document lengths). Same signal pipeline, plus one token-count
    // CTE over the identical planted text.
    "text_gopher_rep_gate_len" ->
      s"""WITH $GopherRepCtes,
           tc AS (SELECT doc_id, len(string_split(t, ' ')) AS ntok FROM pl)
         SELECT s.doc_id,
           CAST(ntok < 40 OR dup_line_frac <= 0.30 AS BIGINT) AS ok_dup_line_frac,
           CAST(ntok < 40 OR dup_para_frac <= 0.30 AS BIGINT) AS ok_dup_para_frac,
           CAST(ntok < 40 OR dup_line_char_frac <= 0.20 AS BIGINT) AS ok_dup_line_char_frac,
           CAST(ntok < 40 OR dup_para_char_frac <= 0.20 AS BIGINT) AS ok_dup_para_char_frac,
           CAST(ntok < 40 OR top_2_gram_char_frac <= 0.20 AS BIGINT) AS ok_top_2_gram_char_frac,
           CAST(ntok < 40 OR top_3_gram_char_frac <= 0.18 AS BIGINT) AS ok_top_3_gram_char_frac,
           CAST(ntok < 40 OR top_4_gram_char_frac <= 0.16 AS BIGINT) AS ok_top_4_gram_char_frac,
           CAST(ntok < 40 OR dup_5_gram_char_frac <= 0.15 AS BIGINT) AS ok_dup_5_gram_char_frac,
           CAST(ntok < 40 OR dup_6_gram_char_frac <= 0.14 AS BIGINT) AS ok_dup_6_gram_char_frac,
           CAST(ntok < 40 OR dup_7_gram_char_frac <= 0.13 AS BIGINT) AS ok_dup_7_gram_char_frac,
           CAST(ntok < 40 OR dup_8_gram_char_frac <= 0.12 AS BIGINT) AS ok_dup_8_gram_char_frac,
           CAST(ntok < 40 OR dup_9_gram_char_frac <= 0.11 AS BIGINT) AS ok_dup_9_gram_char_frac,
           CAST(ntok < 40 OR dup_10_gram_char_frac <= 0.10 AS BIGINT) AS ok_dup_10_gram_char_frac,
           CAST(ntok < 40 OR (dup_line_frac <= 0.30 AND dup_para_frac <= 0.30
            AND dup_line_char_frac <= 0.20 AND dup_para_char_frac <= 0.20
            AND top_2_gram_char_frac <= 0.20 AND top_3_gram_char_frac <= 0.18
            AND top_4_gram_char_frac <= 0.16 AND dup_5_gram_char_frac <= 0.15
            AND dup_6_gram_char_frac <= 0.14 AND dup_7_gram_char_frac <= 0.13
            AND dup_8_gram_char_frac <= 0.12 AND dup_9_gram_char_frac <= 0.11
            AND dup_10_gram_char_frac <= 0.10) AS BIGINT) AS keep,
           CAST(ntok >= 40 AS BIGINT) AS gated
         FROM sig s JOIN tc USING (doc_id)""",
    "text_gopher_filter" ->
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
           s AS (SELECT doc_id,
                   CAST(len(toks) AS BIGINT) AS n_tokens,
                   (CAST(length(text) AS DOUBLE) - (CAST(len(toks) AS DOUBLE) - 1.0))
                     / CAST(len(toks) AS DOUBLE) AS mean_len,
                   CAST(list_max(list_transform(list_distinct(toks),
                     u -> len(list_filter(toks, x -> x = u)))) AS DOUBLE)
                     / CAST(len(toks) AS DOUBLE) AS top_uni,
                   CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE)
                     / CAST(len(toks) AS DOUBLE) AS dup_frac,
                   len(list_filter(toks,
                     x -> x IN ('the','a','of','and','to','in','is','on'))) AS n_stop
                 FROM t)
         SELECT doc_id,
           CAST(n_tokens >= 30 AND n_tokens <= 90 AS BIGINT) AS flag_len,
           CAST(mean_len >= 3.0 AND mean_len <= 4.6 AS BIGINT) AS flag_word_len,
           CAST(top_uni <= 0.12 AND dup_frac <= 0.5 AS BIGINT) AS flag_rep,
           CAST(n_stop >= 2 AS BIGINT) AS flag_stop,
           CAST(n_tokens >= 30 AND n_tokens <= 90
                AND mean_len >= 3.0 AND mean_len <= 4.6
                AND top_uni <= 0.12 AND dup_frac <= 0.5
                AND n_stop >= 2 AS BIGINT) AS keep
         FROM s""",
    // BM25 (Okapi k1=1.2, b=0.75, non-negative ln(1+…) idf): operand
    // order mirrors the Spark expression exactly — (k1·(…)) association,
    // (b·dl)/avgdl grouping — so the 6dp round lands identically
    "text_bm25" ->
      """WITH dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
                     FROM documents),
           stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                            avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
           matched AS (SELECT doc_id, word FROM
                         (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                          FROM documents)
                       WHERE word IN ('spark', 'join', 'window', 'stream')),
           tf AS (SELECT doc_id, word, CAST(count(*) AS DOUBLE) AS tf
                  FROM matched GROUP BY 1, 2),
           df AS (SELECT word, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
                  FROM matched GROUP BY 1)
         SELECT doc_id, bm25 FROM (
           SELECT tf.doc_id,
             round(sum(ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5))
               * tf * 2.2
               / (tf + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / avgdl))), 6) AS bm25
           FROM tf JOIN df USING (word) JOIN dl ON tf.doc_id = dl.doc_id
           CROSS JOIN stats
           GROUP BY tf.doc_id)
         ORDER BY bm25 DESC, doc_id
         LIMIT 50""",
    // multi-query BM25: same arithmetic, tf/df computed once over the
    // union vocabulary, fanned out by the query-term list, top-10 per
    // query with the deterministic (bm25 DESC, doc_id) cutoff
    "text_bm25_multi" ->
      """WITH q AS (SELECT * FROM (VALUES
             (0, ['spark', 'join']),
             (1, ['window', 'stream']),
             (2, ['hash', 'scan', 'merge'])) AS t(query_id, terms)),
           qt AS (SELECT DISTINCT query_id, unnest(terms) AS word FROM q),
           dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
                  FROM documents),
           stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                            avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
           matched AS (SELECT doc_id, word FROM
                         (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                          FROM documents)
                       WHERE word IN (SELECT DISTINCT word FROM qt)),
           tf AS (SELECT doc_id, word, CAST(count(*) AS DOUBLE) AS tf
                  FROM matched GROUP BY 1, 2),
           df AS (SELECT word, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
                  FROM matched GROUP BY 1),
           sc AS (SELECT qt.query_id, tf.doc_id,
                    round(sum(ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5))
                      * tf * 2.2
                      / (tf + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / avgdl))), 6) AS bm25
                  FROM tf JOIN df USING (word) JOIN dl ON tf.doc_id = dl.doc_id
                  JOIN qt ON qt.word = tf.word
                  CROSS JOIN stats
                  GROUP BY 1, 2)
         SELECT query_id, doc_id, bm25, rank FROM (
           SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, bm25,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY bm25 DESC, doc_id) AS BIGINT) AS rank
           FROM sc)
         WHERE rank <= 10""",
    // retrieval decontamination: survivors = docs outside every query's
    // top-20 neighborhood (same sc CTE as text_bm25_multi)
    "decontaminate_bm25" ->
      """WITH q AS (SELECT * FROM (VALUES
             (0, ['spark', 'join']),
             (1, ['window', 'stream']),
             (2, ['hash', 'scan', 'merge'])) AS t(query_id, terms)),
           qt AS (SELECT DISTINCT query_id, unnest(terms) AS word FROM q),
           dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
                  FROM documents),
           stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                            avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
           matched AS (SELECT doc_id, word FROM
                         (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                          FROM documents)
                       WHERE word IN (SELECT DISTINCT word FROM qt)),
           tf AS (SELECT doc_id, word, CAST(count(*) AS DOUBLE) AS tf
                  FROM matched GROUP BY 1, 2),
           df AS (SELECT word, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
                  FROM matched GROUP BY 1),
           sc AS (SELECT qt.query_id, tf.doc_id,
                    round(sum(ln(1.0 + (CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5))
                      * tf * 2.2
                      / (tf + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / avgdl))), 6) AS bm25
                  FROM tf JOIN df USING (word) JOIN dl ON tf.doc_id = dl.doc_id
                  JOIN qt ON qt.word = tf.word
                  CROSS JOIN stats
                  GROUP BY 1, 2)
         SELECT doc_id FROM documents
         WHERE doc_id NOT IN (
           SELECT doc_id FROM (
             SELECT doc_id, row_number() OVER (PARTITION BY query_id
               ORDER BY bm25 DESC, doc_id) AS rank
             FROM sc)
           WHERE rank <= 20)""",
    "text_tfidf" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
           df AS (SELECT word, CAST(count(*) AS BIGINT) AS df
                  FROM (SELECT DISTINCT doc_id, word FROM tok) GROUP BY 1),
           n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
         SELECT doc_id,
           round(avg(ln((CAST(n_docs AS DOUBLE) + 1.0) / (CAST(df AS DOUBLE) + 1.0))), 6)
             AS mean_idf,
           round(max(ln((CAST(n_docs AS DOUBLE) + 1.0) / (CAST(df AS DOUBLE) + 1.0))), 6)
             AS max_idf
         FROM tok JOIN df USING (word) CROSS JOIN n
         GROUP BY doc_id""",
    "text_unigram_nll" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
           c AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY 1),
           n AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c)
         SELECT doc_id,
           round(avg(-ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE))), 6) AS mean_nll,
           round(max(-ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE))), 6) AS max_nll
         FROM tok JOIN c USING (word) CROSS JOIN n
         GROUP BY doc_id""",
    "text_ppl_buckets" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
           c AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY 1),
           n AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c),
           s AS (SELECT doc_id,
                   round(avg(-ln(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE))), 6) AS mean_nll
                 FROM tok JOIN c USING (word) CROSS JOIN n
                 GROUP BY doc_id),
           q AS (SELECT quantile_cont(mean_nll, 1.0/3) AS c1,
                        quantile_cont(mean_nll, 2.0/3) AS c2 FROM s)
         SELECT doc_id, mean_nll,
           CASE WHEN mean_nll <= c1 THEN 'head'
                WHEN mean_nll <= c2 THEN 'middle'
                ELSE 'tail' END AS ppl_bucket
         FROM s CROSS JOIN q""",
    // string-gram replay of the Stupid Backoff chain: DuckDB log(x) is
    // log10, matching Spark's log10; α = 0.4, α² = 0.16 spelled as
    // literals the same way the engine folds them
    "text_backoff_lm" ->
      """WITH lm AS (SELECT string_split(text, ' ') AS toks FROM documents
                     WHERE source <> 'src0'),
           lm3 AS (SELECT array_to_string(toks[i : i + 2], ' ') AS g,
                     CAST(count(*) AS BIGINT) AS c3
                   FROM (SELECT toks, unnest(range(1, len(toks) - 1)) AS i
                         FROM lm WHERE len(toks) >= 3) GROUP BY 1),
           lm2 AS (SELECT array_to_string(toks[i : i + 1], ' ') AS g,
                     CAST(count(*) AS BIGINT) AS c2
                   FROM (SELECT toks, unnest(range(1, len(toks))) AS i
                         FROM lm WHERE len(toks) >= 2) GROUP BY 1),
           lm1 AS (SELECT w AS g, CAST(count(*) AS BIGINT) AS c1
                   FROM (SELECT unnest(toks) AS w FROM lm) GROUP BY 1),
           nt AS (SELECT CAST(sum(len(toks)) AS BIGINT) AS n_lm FROM lm),
           pos AS (SELECT doc_id,
                     toks[i] AS w1, toks[i + 1] AS w2, toks[i + 2] AS w3
                   FROM (SELECT doc_id, string_split(text, ' ') AS toks,
                           unnest(range(1, len(string_split(text, ' ')) - 1)) AS i
                         FROM documents WHERE len(string_split(text, ' ')) >= 3)),
           sc AS (SELECT doc_id,
                    CASE
                      WHEN t3.c3 IS NOT NULL
                        THEN CAST(t3.c3 AS DOUBLE) / CAST(p2.c2 AS DOUBLE)
                      WHEN b2.c2 IS NOT NULL
                        THEN 0.4 * CAST(b2.c2 AS DOUBLE) / CAST(p1.c1 AS DOUBLE)
                      WHEN u1.c1 IS NOT NULL
                        THEN 0.16 * CAST(u1.c1 AS DOUBLE) / CAST(nt.n_lm AS DOUBLE)
                    END AS s
                  FROM pos
                  LEFT JOIN lm3 t3 ON t3.g = w1 || ' ' || w2 || ' ' || w3
                  LEFT JOIN lm2 p2 ON p2.g = w1 || ' ' || w2
                  LEFT JOIN lm2 b2 ON b2.g = w2 || ' ' || w3
                  LEFT JOIN lm1 p1 ON p1.g = w2
                  LEFT JOIN lm1 u1 ON u1.g = w3
                  CROSS JOIN nt)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_positions,
                CAST(sum(CASE WHEN s IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
                round(avg(log(s)), 6) AS mean_log10
         FROM sc GROUP BY 1""",
    // the DSIR score CTE replayed, cross-joined with the threshold list,
    // rolled up per threshold — same arithmetic, same 6dp rounding
    "quality_sweep" ->
      """WITH tok AS (SELECT doc_id, source = 'src0' AS tgt,
                        unnest(string_split(text, ' ')) AS word FROM documents),
           c AS (SELECT word, CAST(count(*) AS BIGINT) AS c_s,
                   CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS c_t
                 FROM tok GROUP BY 1),
           t AS (SELECT CAST(sum(c_s) AS BIGINT) AS n_s, CAST(sum(c_t) AS BIGINT) AS n_t,
                   CAST(count(*) AS BIGINT) AS v FROM c),
           sc AS (SELECT doc_id,
               round(avg(ln(CAST(c_t + 1 AS DOUBLE) / CAST(n_t + v AS DOUBLE))
                       - ln(CAST(c_s + 1 AS DOUBLE) / CAST(n_s + v AS DOUBLE))), 6) AS s,
               CAST(count(*) AS BIGINT) AS n_tokens
             FROM tok JOIN c USING (word) CROSS JOIN t GROUP BY doc_id),
           th AS (SELECT unnest([-0.2, -0.1, -0.05, 0.0, 0.05, 0.1, 0.2]) AS threshold),
           tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(n_tokens) AS BIGINT) AS total_w FROM sc)
         SELECT th.threshold,
                CAST(sum(CASE WHEN sc.s >= th.threshold THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_keep,
                round(sum(CASE WHEN sc.s >= th.threshold THEN 1 ELSE 0 END)::DOUBLE
                      / tot.n_docs, 6) AS keep_rate,
                CAST(sum(CASE WHEN sc.s >= th.threshold THEN sc.n_tokens ELSE 0 END)
                  AS BIGINT) AS tokens_keep,
                round(sum(CASE WHEN sc.s >= th.threshold THEN sc.n_tokens ELSE 0 END)::DOUBLE
                      / tot.total_w, 6) AS token_keep_rate
         FROM sc CROSS JOIN th CROSS JOIN tot
         GROUP BY th.threshold, tot.n_docs, tot.total_w""",
    "text_dsir" ->
      """WITH tok AS (SELECT doc_id, source = 'src0' AS tgt,
                        unnest(string_split(text, ' ')) AS word FROM documents),
           c AS (SELECT word, CAST(count(*) AS BIGINT) AS c_s,
                   CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS c_t
                 FROM tok GROUP BY 1),
           t AS (SELECT CAST(sum(c_s) AS BIGINT) AS n_s, CAST(sum(c_t) AS BIGINT) AS n_t,
                   CAST(count(*) AS BIGINT) AS v FROM c)
         SELECT doc_id,
           round(avg(ln(CAST(c_t + 1 AS DOUBLE) / CAST(n_t + v AS DOUBLE))
                   - ln(CAST(c_s + 1 AS DOUBLE) / CAST(n_s + v AS DOUBLE))), 6) AS mean_logratio,
           CAST(count(*) AS BIGINT) AS n_tokens
         FROM tok JOIN c USING (word) CROSS JOIN t
         GROUP BY doc_id""",
    "sample_importance" ->
      """WITH tok AS (SELECT doc_id, source = 'src0' AS tgt,
                        unnest(string_split(text, ' ')) AS word FROM documents),
           c AS (SELECT word, CAST(count(*) AS BIGINT) AS c_s,
                   CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS c_t
                 FROM tok GROUP BY 1),
           t AS (SELECT CAST(sum(c_s) AS BIGINT) AS n_s, CAST(sum(c_t) AS BIGINT) AS n_t,
                   CAST(count(*) AS BIGINT) AS v FROM c),
           s AS (SELECT doc_id,
                   round(avg(ln(CAST(c_t + 1 AS DOUBLE) / CAST(n_t + v AS DOUBLE))
                           - ln(CAST(c_s + 1 AS DOUBLE) / CAST(n_s + v AS DOUBLE))), 6)
                     AS mean_logratio,
                   CAST(count(*) AS BIGINT) AS n_tokens
                 FROM tok JOIN c USING (word) CROSS JOIN t
                 GROUP BY doc_id)
         SELECT * FROM s ORDER BY mean_logratio DESC, doc_id LIMIT 100""",
    "word_count" ->
      """SELECT word, count(*) AS cnt FROM (
           SELECT unnest(string_split(text, ' ')) AS word FROM documents) GROUP BY 1""",
    "pipeline_hash_split" ->
      """SELECT doc_id,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 32, 1) IN ('c','d') THEN 'val'
                WHEN substr(md5(CAST(doc_id AS VARCHAR)), 32, 1) IN ('e','f') THEN 'test'
                ELSE 'train' END AS split
         FROM documents""",
    "vocab_top100" ->
      """WITH c AS (SELECT word, count(*) AS cnt FROM (
             SELECT unnest(string_split(text, ' ')) AS word FROM documents) GROUP BY 1),
           t AS (SELECT word, cnt FROM c ORDER BY cnt DESC, word LIMIT 100)
         SELECT word, cnt,
                CAST(row_number() OVER (ORDER BY cnt DESC, word) AS BIGINT) AS rank
         FROM t""",
    "pii_redact" ->
      """WITH w AS (SELECT doc_id,
             text || ' contact user' || doc_id || '@example.com or 555-' ||
               lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
           FROM documents)
         SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
           len(regexp_extract_all(
             regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '[0-9]{3}-[0-9]{4}')) AS n_phones,
           regexp_replace(
             regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS text_redacted
         FROM w""",
    "embedding_quantize" ->
      """SELECT vec_id,
           CASE WHEN amax > 0 THEN 127.0 / amax ELSE 1.0 END AS scale,
           CAST(list_sum(list_transform(de,
             x -> abs(round(x * CASE WHEN amax > 0 THEN 127.0 / amax ELSE 1.0 END)))) AS BIGINT) AS q_l1
         FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS de,
                 coalesce(list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))), 0.0) AS amax
               FROM embeddings)""",
    "corpus_stats" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                round(quantile_cont(n_tokens, 0.5), 6) AS p50_tokens,
                round(quantile_cont(n_tokens, 0.9), 6) AS p90_tokens,
                round(quantile_cont(n_tokens, 0.99), 6) AS p99_tokens
         FROM (SELECT len(string_split(text, ' ')) AS n_tokens FROM documents)""",
    "pipeline_filter_dedup" ->
      """WITH k AS (SELECT md5(text) AS fp, min(doc_id) AS keep_id FROM documents GROUP BY 1),
           d AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
                 FROM documents)
         SELECT doc_id, n_tokens FROM d JOIN k ON d.doc_id = k.keep_id
         WHERE n_tokens BETWEEN 5 AND 10000""",
    "decontaminate" ->
      """WITH s AS (SELECT doc_id,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 32, 1) IN ('c','d') THEN 'val'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 32, 1) IN ('e','f') THEN 'test'
                  ELSE 'train' END AS split,
             string_split(text, ' ') AS w
           FROM documents),
           i AS (SELECT doc_id, split, w,
                   unnest(generate_series(1, greatest(len(w) - 4, 1))) AS i FROM s),
           g AS (SELECT DISTINCT doc_id, split,
                   array_to_string(w[i : least(i + 4, len(w))], ' ') AS gram FROM i),
           t AS (SELECT DISTINCT gram FROM g WHERE split = 'test')
         SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_hits
         FROM g JOIN t USING (gram) WHERE g.split = 'train' GROUP BY 1""",
    // the transposed view: per TEST doc, distinct train docs sharing a
    // gram + total gram-occurrence hits (engine counts by xxhash64;
    // string grouping here pins hash-distinct ≡ string-distinct)
    "contamination_report" ->
      """WITH s AS (SELECT doc_id,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 32, 1) IN ('c','d') THEN 'val'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 32, 1) IN ('e','f') THEN 'test'
                  ELSE 'train' END AS split,
             string_split(text, ' ') AS w
           FROM documents),
           i AS (SELECT doc_id, split, w,
                   unnest(generate_series(1, greatest(len(w) - 4, 1))) AS i FROM s),
           g AS (SELECT DISTINCT doc_id, split,
                   array_to_string(w[i : least(i + 4, len(w))], ' ') AS gram FROM i),
           t AS (SELECT doc_id AS test_id, gram FROM g WHERE split = 'test'),
           tr AS (SELECT doc_id AS train_id, gram FROM g WHERE split = 'train')
         SELECT t.test_id AS doc_id,
           CAST(count(DISTINCT tr.train_id) AS BIGINT) AS n_train_docs,
           CAST(count(*) AS BIGINT) AS n_gram_hits
         FROM t JOIN tr USING (gram) GROUP BY 1""",
    // same SQL as decontaminate: the bloom variant is semantically
    // identical (exact verify join removes the filter's false positives)
    "decontaminate_bloom" ->
      """WITH s AS (SELECT doc_id,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 32, 1) IN ('c','d') THEN 'val'
                  WHEN substr(md5(CAST(doc_id AS VARCHAR)), 32, 1) IN ('e','f') THEN 'test'
                  ELSE 'train' END AS split,
             string_split(text, ' ') AS w
           FROM documents),
           i AS (SELECT doc_id, split, w,
                   unnest(generate_series(1, greatest(len(w) - 4, 1))) AS i FROM s),
           g AS (SELECT DISTINCT doc_id, split,
                   array_to_string(w[i : least(i + 4, len(w))], ' ') AS gram FROM i),
           t AS (SELECT DISTINCT gram FROM g WHERE split = 'test')
         SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_hits
         FROM g JOIN t USING (gram) WHERE g.split = 'train' GROUP BY 1""",
    "text_heavy_hitters" ->
      """WITH s AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           i AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
                 FROM s WHERE len(w) >= 3),
           g AS (SELECT doc_id, array_to_string(w[i : i + 2], ' ') AS gram FROM i)
         SELECT gram, CAST(count(*) AS BIGINT) AS cnt,
                CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         FROM g GROUP BY 1 ORDER BY cnt DESC, gram LIMIT 50""",
    "text_novelty" ->
      """WITH s AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           g AS (SELECT DISTINCT doc_id,
                   unnest(CASE WHEN len(w) >= 3
                     THEN [array_to_string(w[i : i + 2], ' ') for i in range(1, len(w) - 1)]
                     ELSE [array_to_string(w, ' ')] END) AS gram
                 FROM s),
           df AS (SELECT gram, count(*) AS df FROM g GROUP BY 1)
         SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
                CAST(sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
                round(sum(CASE WHEN df.df = 1 THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
                  AS novel_frac
         FROM g JOIN df USING (gram) GROUP BY 1""",
    "text_badwords" ->
      """WITH t AS (SELECT doc_id,
             len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                 tok -> list_contains(['slow', 'window'], tok))) AS nf
           FROM documents)
         SELECT doc_id, CAST(nf AS BIGINT) AS n_flagged,
                CAST(CASE WHEN nf = 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
         FROM t""",
    // each signal's CTE is copied from its own proven oracle
    // (text_quality / text_gopher_filter / text_lang_id /
    // text_char_entropy / text_badwords) and joined back per doc
    "text_attributes" ->
      s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
           base AS (SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               CAST(length(text) AS BIGINT) AS n_chars,
               round((CAST(length(text) AS DOUBLE) - (CAST(len(toks) AS DOUBLE) - 1.0))
                 / CAST(len(toks) AS DOUBLE), 6) AS mean_word_len,
               round(len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','on')))
                 / CAST(len(toks) AS DOUBLE), 6) AS stopword_ratio,
               CAST(len(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                 tok -> list_contains(['slow', 'window'], tok))) AS BIGINT) AS n_badwords
             FROM t),
           gs AS (SELECT doc_id,
                   CAST(len(toks) AS BIGINT) AS n_tokens,
                   (CAST(length(text) AS DOUBLE) - (CAST(len(toks) AS DOUBLE) - 1.0))
                     / CAST(len(toks) AS DOUBLE) AS mean_len,
                   CAST(list_max(list_transform(list_distinct(toks),
                     u -> len(list_filter(toks, x -> x = u)))) AS DOUBLE)
                     / CAST(len(toks) AS DOUBLE) AS top_uni,
                   CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE)
                     / CAST(len(toks) AS DOUBLE) AS dup_frac,
                   len(list_filter(toks,
                     x -> x IN ('the','a','of','and','to','in','is','on'))) AS n_stop
                 FROM t),
           gopher AS (SELECT doc_id,
               CAST(n_tokens >= 30 AND n_tokens <= 90
                    AND mean_len >= 3.0 AND mean_len <= 4.6
                    AND top_uni <= 0.12 AND dup_frac <= 0.5
                    AND n_stop >= 2 AS BIGINT) AS gopher_keep
             FROM gs),
           lang AS (SELECT doc_id, CASE
               WHEN c_en = g AND c_en > 0 THEN 'en'
               WHEN c_de = g AND c_de > 0 THEN 'de'
               WHEN c_es = g AND c_es > 0 THEN 'es'
               WHEN c_fr = g AND c_fr > 0 THEN 'fr'
               ELSE 'und' END AS pred_lang
             FROM (
               SELECT doc_id,
                 len(list_filter(toks, x -> x IN ('the','a','of','and','to'))) AS c_en,
                 len(list_filter(toks, x -> x IN ('der','die','das','und','nicht'))) AS c_de,
                 len(list_filter(toks, x -> x IN ('el','la','de','y','que'))) AS c_es,
                 len(list_filter(toks, x -> x IN ('le','la','et','les','des'))) AS c_fr,
                 greatest(
                   len(list_filter(toks, x -> x IN ('the','a','of','and','to'))),
                   len(list_filter(toks, x -> x IN ('der','die','das','und','nicht'))),
                   len(list_filter(toks, x -> x IN ('el','la','de','y','que'))),
                   len(list_filter(toks, x -> x IN ('le','la','et','les','des')))) AS g
               FROM t)),
           wmod AS (SELECT ${TextAnalysis.langModels()
        .map { case (l, wts, _) => s"[${wts.mkString(", ")}] AS w_$l" }.mkString(", ")}),
           lgm AS (SELECT doc_id,
             ${TextAnalysis.langModels().map { case (l, _, _) =>
          s"CAST(list_sum(list_transform(toks, t -> w_$l[(('0x' || substr(md5(t), 1, 4))::INT % 64) + 1])) AS BIGINT) AS l_$l"
        }.mkString(",\n             ")}
           FROM t, wmod),
           langm AS (SELECT doc_id, CASE
               WHEN l_en = mx AND l_en > 0 THEN 'en'
               WHEN l_de = mx AND l_de > 0 THEN 'de'
               WHEN l_es = mx AND l_es > 0 THEN 'es'
               WHEN l_fr = mx AND l_fr > 0 THEN 'fr'
               ELSE 'und' END AS pred_lang_model
             FROM (SELECT *, greatest(l_en, l_de, l_es, l_fr) AS mx FROM lgm)),
           ci AS (SELECT doc_id, text, unnest(generate_series(1, length(text))) AS i FROM t),
           cc AS (SELECT doc_id, substr(text, i, 1) AS ch FROM ci),
           cf AS (SELECT doc_id, ch, CAST(count(*) AS DOUBLE) AS n FROM cc GROUP BY 1, 2),
           ct AS (SELECT doc_id, sum(n) AS tt FROM cf GROUP BY 1),
           ent AS (SELECT cf.doc_id,
                     round(list_sum(list(-(n / tt) * log2(n / tt) ORDER BY ch)), 6) + 0.0
                       AS entropy
                   FROM cf JOIN ct USING (doc_id) GROUP BY cf.doc_id, tt)
         SELECT base.doc_id, base.n_tokens, base.n_chars, base.mean_word_len,
                base.stopword_ratio, ent.entropy, lang.pred_lang,
                langm.pred_lang_model, gopher.gopher_keep, base.n_badwords
         FROM base JOIN gopher USING (doc_id) JOIN lang USING (doc_id)
              JOIN langm USING (doc_id) JOIN ent USING (doc_id)""",
    // fold order pinned on both sides: ORDER BY ch under DuckDB's binary
    // collation == ascending code point == the native TreeMap iteration
    "text_char_entropy" ->
      """WITH i AS (SELECT doc_id, text, unnest(generate_series(1, length(text))) AS i
                    FROM documents),
           c AS (SELECT doc_id, substr(text, i, 1) AS ch FROM i),
           f AS (SELECT doc_id, ch, CAST(count(*) AS DOUBLE) AS n FROM c GROUP BY 1, 2),
           tot AS (SELECT doc_id, sum(n) AS t FROM f GROUP BY 1)
         SELECT f.doc_id, CAST(t AS BIGINT) AS n_chars,
                round(list_sum(list(-(n / t) * log2(n / t) ORDER BY ch)), 6) + 0.0 AS entropy
         FROM f JOIN tot USING (doc_id) GROUP BY f.doc_id, t""",
    "sample_bernoulli" ->
      """SELECT doc_id, source, lang FROM documents
         WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INTEGER / 65536.0 < 0.25""",
    "sample_stratified" ->
      """SELECT doc_id, source, lang FROM documents
         WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INTEGER / 65536.0 <
           CASE WHEN source = 'src1' THEN 0.5 WHEN source = 'src0' THEN 0.75 ELSE 0.125 END""",
    "pack_sequences" ->
      """WITH d AS (SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             doc_id % 8 AS bucket
           FROM documents),
           c AS (SELECT doc_id, bucket, n_tokens,
             coalesce(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
           FROM d)
         SELECT doc_id, bucket, CAST(floor(cum_before / 512.0) AS BIGINT) AS seq_id,
                CAST(cum_before % 512 AS BIGINT) AS tok_offset
         FROM c""",
    // packing-efficiency report over the same layout: n_seqs = ceil
    // division, fill = one IEEE division of exact BIGINTs, split = the
    // in-sequence offset + length overruns the budget
    "pack_report" ->
      """WITH d AS (SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             doc_id % 8 AS bucket
           FROM documents),
           c AS (SELECT doc_id, bucket, n_tokens,
             coalesce(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
           FROM d)
         SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                CAST((sum(n_tokens) + 511) // 512 AS BIGINT) AS n_seqs,
                CAST(sum(n_tokens) AS DOUBLE) /
                  CAST(((sum(n_tokens) + 511) // 512) * 512 AS DOUBLE) AS fill_frac,
                CAST(sum(CASE WHEN (cum_before % 512) + n_tokens > 512
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs
         FROM c GROUP BY 1""",
    // curriculum order: naive global window — rank by (stage, h, doc_id);
    // the engine's two-phase bucketed rank must agree exactly
    "pipeline_curriculum" ->
      """WITH s AS (SELECT doc_id,
             CASE WHEN n_chars < 225 THEN 0 WHEN n_chars < 390 THEN 1
                  ELSE 2 END AS stage,
             md5(CAST(doc_id AS VARCHAR)) AS h
           FROM documents)
         SELECT doc_id, CAST(stage AS BIGINT) AS stage,
           CAST(row_number() OVER (ORDER BY stage, h, doc_id) - 1 AS BIGINT) AS pos,
           CAST((row_number() OVER (ORDER BY stage, h, doc_id) - 1) // 100 AS BIGINT) AS shard
         FROM s""",
    // the composed prep DAG: one WITH cascade replaying every stage of
    // pipeline_full_prep in order — C4 (lined fixture) → URL gate →
    // Gopher(10..60 tokens, mean len 7.5..9.2, top-uni ≤ .15, dup ≤ .3,
    // ≥1 stopword) → keep-first line dedup → exact dedup → split +
    // 3-gram decontamination → pack(budget 128, 8 buckets)
    "pipeline_full_prep" ->
      s"""WITH $LinedCte,
           l AS (SELECT doc_id,
                   unnest(range(0, len(string_split(text, chr(10))))) AS pos,
                   unnest(string_split(text, chr(10))) AS line
                 FROM lined),
           fl AS (SELECT doc_id, pos, line,
                    (len(string_split(line, ' ')) >= 3
                     AND regexp_matches(line, '[.!?"]$$')
                     AND NOT contains(lower(line), 'slow')) AS kl
                  FROM l),
           agg AS (SELECT doc_id, count(*) AS n_lines,
                     sum(CASE WHEN kl THEN 1 ELSE 0 END) AS n_kept
                   FROM fl GROUP BY 1),
           c4txt AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
                     FROM fl WHERE kl GROUP BY 1),
           afterc4 AS (SELECT a.doc_id, t.text
                       FROM agg a JOIN lined d USING (doc_id)
                            JOIN c4txt t USING (doc_id)
                       WHERE a.n_kept >= 3 AND NOT contains(lower(d.text), '{')
                         AND NOT contains(lower(d.text), 'lorem ipsum')),
           u AS (SELECT d.doc_id,
                   lower('https://www.' || d.source || '.example' ||
                     CAST(d.doc_id % 3 AS VARCHAR) || '.com/' || d.lang ||
                     '/page' || CAST(d.doc_id AS VARCHAR) ||
                     CASE WHEN d.doc_id % 7 = 0 THEN '/casino-bonus' ELSE '' END ||
                     CASE WHEN d.doc_id % 5 = 0 THEN '?utm_source=feed' ELSE '' END)
                     AS url
                 FROM documents d),
           afterurl AS (SELECT doc_id FROM (
                 SELECT doc_id, url,
                   regexp_extract(regexp_replace(regexp_extract(url,
                     '^(?:[a-z][a-z0-9+.-]*://)?(?:[^/@?#]*@)?(?:www\\.)?([^/:?#]+)', 1),
                     '\\.+$$', ''),
                     '([^.]+\\.[^.]+)$$', 1) AS domain
                 FROM u)
               WHERE NOT (domain = 'example0.com' OR contains(url, 'casino')
                          OR contains(url, 'tracker'))),
           g AS (SELECT doc_id, text, string_split(text, ' ') AS toks
                 FROM afterc4 JOIN afterurl USING (doc_id)),
           gs AS (SELECT doc_id, text,
                    CAST(len(toks) AS BIGINT) AS n_tokens,
                    (CAST(length(text) AS DOUBLE) - (CAST(len(toks) AS DOUBLE) - 1.0))
                      / CAST(len(toks) AS DOUBLE) AS mean_len,
                    CAST(list_max(list_transform(list_distinct(toks),
                      u -> len(list_filter(toks, x -> x = u)))) AS DOUBLE)
                      / CAST(len(toks) AS DOUBLE) AS top_uni,
                    CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE)
                      / CAST(len(toks) AS DOUBLE) AS dup_frac,
                    len(list_filter(toks,
                      x -> x IN ('the','a','of','and','to','in','is','on'))) AS n_stop
                  FROM g),
           gated AS (SELECT doc_id, text FROM gs
                     WHERE n_tokens BETWEEN 10 AND 60
                       AND mean_len >= 6.5 AND mean_len <= 8.2
                       AND top_uni <= 0.15 AND dup_frac <= 0.3 AND n_stop >= 1),
           l2 AS (SELECT doc_id,
                    unnest(range(0, len(string_split(text, chr(10))))) AS pos,
                    unnest(string_split(text, chr(10))) AS line
                  FROM gated),
           f2 AS (SELECT line, min(doc_id * 4294967296 + pos) AS first_okey
                  FROM l2 GROUP BY 1),
           ld AS (SELECT doc_id,
                    string_agg(line, chr(10) ORDER BY pos) AS text
                  FROM l2 JOIN f2 USING (line)
                  WHERE doc_id * 4294967296 + pos = first_okey
                  GROUP BY 1),
           exact AS (SELECT doc_id, text FROM ld
                     WHERE doc_id IN (SELECT min(doc_id) FROM ld GROUP BY md5(text))),
           sp AS (SELECT doc_id, text,
                    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 32, 1) IN ('c','d') THEN 'val'
                         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 32, 1) IN ('e','f') THEN 'test'
                         ELSE 'train' END AS split,
                    string_split(text, ' ') AS w
                  FROM exact),
           gi AS (SELECT doc_id, split, w,
                    unnest(generate_series(1, greatest(len(w) - 2, 1))) AS i FROM sp),
           gg AS (SELECT DISTINCT doc_id, split,
                    array_to_string(w[i : least(i + 2, len(w))], ' ') AS gram FROM gi),
           tg AS (SELECT DISTINCT gram FROM gg WHERE split = 'test'),
           contaminated AS (SELECT DISTINCT gg.doc_id
                            FROM gg JOIN tg USING (gram) WHERE gg.split = 'train'),
           train AS (SELECT doc_id, text FROM sp
                     WHERE split = 'train'
                       AND doc_id NOT IN (SELECT doc_id FROM contaminated)),
           pk AS (SELECT doc_id,
                    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                    doc_id % 8 AS bucket
                  FROM train),
           pc AS (SELECT doc_id, bucket, n_tokens,
                    coalesce(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
                  FROM pk)
         SELECT doc_id, bucket, CAST(floor(cum_before / 128.0) AS BIGINT) AS seq_id,
                CAST(cum_before % 128 AS BIGINT) AS tok_offset
         FROM pc""",
    // the same cascade with the near-dup component tier spliced between
    // exact dedup and decontamination: planted perturbed re-crawls
    // (+200000 re-key, one appended token) enter, the quadratic 3-gram
    // Jaccard pairs + recursive transitive closure collapse them back
    // onto their originals (keeper = min component id), and everything
    // downstream consumes the survivors
    "pipeline_full_prep_nd" ->
      s"""WITH RECURSIVE $LinedCte,
           l AS (SELECT doc_id,
                   unnest(range(0, len(string_split(text, chr(10))))) AS pos,
                   unnest(string_split(text, chr(10))) AS line
                 FROM lined),
           fl AS (SELECT doc_id, pos, line,
                    (len(string_split(line, ' ')) >= 3
                     AND regexp_matches(line, '[.!?"]$$')
                     AND NOT contains(lower(line), 'slow')) AS kl
                  FROM l),
           agg AS (SELECT doc_id, count(*) AS n_lines,
                     sum(CASE WHEN kl THEN 1 ELSE 0 END) AS n_kept
                   FROM fl GROUP BY 1),
           c4txt AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
                     FROM fl WHERE kl GROUP BY 1),
           afterc4 AS (SELECT a.doc_id, t.text
                       FROM agg a JOIN lined d USING (doc_id)
                            JOIN c4txt t USING (doc_id)
                       WHERE a.n_kept >= 3 AND NOT contains(lower(d.text), '{')
                         AND NOT contains(lower(d.text), 'lorem ipsum')),
           u AS (SELECT d.doc_id,
                   lower('https://www.' || d.source || '.example' ||
                     CAST(d.doc_id % 3 AS VARCHAR) || '.com/' || d.lang ||
                     '/page' || CAST(d.doc_id AS VARCHAR) ||
                     CASE WHEN d.doc_id % 7 = 0 THEN '/casino-bonus' ELSE '' END ||
                     CASE WHEN d.doc_id % 5 = 0 THEN '?utm_source=feed' ELSE '' END)
                     AS url
                 FROM documents d),
           afterurl AS (SELECT doc_id FROM (
                 SELECT doc_id, url,
                   regexp_extract(regexp_replace(regexp_extract(url,
                     '^(?:[a-z][a-z0-9+.-]*://)?(?:[^/@?#]*@)?(?:www\\.)?([^/:?#]+)', 1),
                     '\\.+$$', ''),
                     '([^.]+\\.[^.]+)$$', 1) AS domain
                 FROM u)
               WHERE NOT (domain = 'example0.com' OR contains(url, 'casino')
                          OR contains(url, 'tracker'))),
           g AS (SELECT doc_id, text, string_split(text, ' ') AS toks
                 FROM afterc4 JOIN afterurl USING (doc_id)),
           gs AS (SELECT doc_id, text,
                    CAST(len(toks) AS BIGINT) AS n_tokens,
                    (CAST(length(text) AS DOUBLE) - (CAST(len(toks) AS DOUBLE) - 1.0))
                      / CAST(len(toks) AS DOUBLE) AS mean_len,
                    CAST(list_max(list_transform(list_distinct(toks),
                      u -> len(list_filter(toks, x -> x = u)))) AS DOUBLE)
                      / CAST(len(toks) AS DOUBLE) AS top_uni,
                    CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE)
                      / CAST(len(toks) AS DOUBLE) AS dup_frac,
                    len(list_filter(toks,
                      x -> x IN ('the','a','of','and','to','in','is','on'))) AS n_stop
                  FROM g),
           gated AS (SELECT doc_id, text FROM gs
                     WHERE n_tokens BETWEEN 10 AND 60
                       AND mean_len >= 6.5 AND mean_len <= 8.2
                       AND top_uni <= 0.15 AND dup_frac <= 0.3 AND n_stop >= 1),
           l2 AS (SELECT doc_id,
                    unnest(range(0, len(string_split(text, chr(10))))) AS pos,
                    unnest(string_split(text, chr(10))) AS line
                  FROM gated),
           f2 AS (SELECT line, min(doc_id * 4294967296 + pos) AS first_okey
                  FROM l2 GROUP BY 1),
           ld AS (SELECT doc_id,
                    string_agg(line, chr(10) ORDER BY pos) AS text
                  FROM l2 JOIN f2 USING (line)
                  WHERE doc_id * 4294967296 + pos = first_okey
                  GROUP BY 1),
           exact AS (SELECT doc_id, text FROM ld
                     WHERE doc_id IN (SELECT min(doc_id) FROM ld GROUP BY md5(text))),
           cp AS (SELECT doc_id + 200000 AS doc_id,
                         text || ' zz' || CAST(doc_id AS VARCHAR) AS text
                  FROM exact WHERE doc_id % 10 = 0),
           ndin AS (SELECT doc_id, text FROM exact
                    UNION ALL SELECT doc_id, text FROM cp),
           nt AS (SELECT doc_id, string_split(text, ' ') AS toks FROM ndin),
           nsh AS (SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
                     THEN [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]
                     ELSE [array_to_string(toks, ' ')] END) AS s FROM nt),
           ne AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
                  FROM nsh a JOIN nsh b ON a.doc_id < b.doc_id
                  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                        / len(list_distinct(a.s || b.s)) >= 0.5),
           nsym AS (SELECT id_a AS src, id_b AS dst FROM ne
                    UNION ALL SELECT id_b, id_a FROM ne),
           nwalk(id, comp) AS (
             SELECT DISTINCT src, src FROM nsym
             UNION
             SELECT nsym.dst, nwalk.comp FROM nwalk JOIN nsym ON nwalk.id = nsym.src),
           nm AS (SELECT id, min(comp) AS comp FROM nwalk GROUP BY id),
           nd AS (SELECT n.doc_id, n.text FROM ndin n
                  LEFT JOIN nm ON n.doc_id = nm.id
                  WHERE n.doc_id = coalesce(nm.comp, n.doc_id)),
           sp AS (SELECT doc_id, text,
                    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 32, 1) IN ('c','d') THEN 'val'
                         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 32, 1) IN ('e','f') THEN 'test'
                         ELSE 'train' END AS split,
                    string_split(text, ' ') AS w
                  FROM nd),
           gi AS (SELECT doc_id, split, w,
                    unnest(generate_series(1, greatest(len(w) - 2, 1))) AS i FROM sp),
           gg AS (SELECT DISTINCT doc_id, split,
                    array_to_string(w[i : least(i + 2, len(w))], ' ') AS gram FROM gi),
           tg AS (SELECT DISTINCT gram FROM gg WHERE split = 'test'),
           contaminated AS (SELECT DISTINCT gg.doc_id
                            FROM gg JOIN tg USING (gram) WHERE gg.split = 'train'),
           train AS (SELECT doc_id, text FROM sp
                     WHERE split = 'train'
                       AND doc_id NOT IN (SELECT doc_id FROM contaminated)),
           pk AS (SELECT doc_id,
                    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                    doc_id % 8 AS bucket
                  FROM train),
           pc AS (SELECT doc_id, bucket, n_tokens,
                    coalesce(sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
                  FROM pk)
         SELECT doc_id, bucket, CAST(floor(cum_before / 128.0) AS BIGINT) AS seq_id,
                CAST(cum_before % 128 AS BIGINT) AS tok_offset
         FROM pc""",
    "cap_per_source" ->
      """SELECT doc_id, source, rk FROM (
           SELECT doc_id, source,
             CAST(row_number() OVER (PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk
           FROM documents)
         WHERE rk <= 10""",
    // "take until full": a doc is kept iff the token mass before it (in
    // md5 order within its source) is under budget — one straggler doc may
    // overshoot, matching the Spark side's rule exactly
    "sample_token_budget" ->
      """WITH t AS (SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS h,
                      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
                    FROM documents),
           c AS (SELECT doc_id, source, n_tokens,
                   coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
                 FROM t)
         SELECT doc_id, source, n_tokens FROM c WHERE cum_before < 800""",
    // stride = 32 − 8 = 24; chunk i covers tokens [i·24+1, i·24+32]
    // (1-based inclusive slices; DuckDB clamps at the array end like
    // Spark's slice)
    "chunk_documents" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
           c AS (SELECT doc_id, toks,
                   greatest(1, CAST(ceil((len(toks) - 8) / 24.0) AS BIGINT)) AS n_chunks
                 FROM t),
           u AS (SELECT doc_id, toks, unnest(range(0, n_chunks)) AS chunk_id FROM c)
         SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
                CAST(chunk_id * 24 AS BIGINT) AS tok_start,
                CAST(len(toks[chunk_id * 24 + 1 : chunk_id * 24 + 32]) AS BIGINT)
                  AS n_chunk_tokens,
                array_to_string(toks[chunk_id * 24 + 1 : chunk_id * 24 + 32], ' ')
                  AS chunk_text
         FROM u""",
    "mixture_weights" ->
      """WITH a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
           FROM documents GROUP BY 1)
         SELECT source, n_docs, total_tokens,
           round(CAST(total_tokens AS DOUBLE) / CAST(sum(total_tokens) OVER () AS DOUBLE), 6) AS token_share,
           round((1.0 / CAST(count(*) OVER () AS DOUBLE)) /
             (CAST(total_tokens AS DOUBLE) / CAST(sum(total_tokens) OVER () AS DOUBLE)), 6) AS weight
         FROM a""",
    // same planted page wrapper, same strip chain (block elements →
    // tags → entities with &amp; last → whitespace collapse); DuckDB
    // regexp_replace carries the 'g' flag to match Spark's replace-all
    "html_extract" ->
      """WITH h AS (SELECT doc_id,
             '<html><head><style>p{color:red}</style><script>var x=1;</script></head><body class="c'
             || CAST(doc_id % 5 AS VARCHAR) || '"><h1>T&amp;C ' || CAST(doc_id AS VARCHAR)
             || '</h1><p>A &quot;quoted&quot; &#39;intro&#39; &amp;&nbsp;more</p><p>' || text
             || '</p></body></html>' AS text FROM documents),
           x AS (SELECT doc_id,
                   trim(regexp_replace(
                     replace(replace(replace(replace(replace(replace(
                       regexp_replace(
                         regexp_replace(
                           regexp_replace(text,
                             '(?s)<script(\s[^>]*)?>.*?</script\s*>', ' ', 'g'),
                           '(?s)<style(\s[^>]*)?>.*?</style\s*>', ' ', 'g'),
                         '<[^>]*>', ' ', 'g'),
                       '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                       '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
                     '[ \t\r\n]+', ' ', 'g')) AS text_plain
                 FROM h)
         SELECT doc_id, text_plain,
                CAST(length(text_plain) AS BIGINT) AS n_chars_plain FROM x""",
    // α-power normalizer folded over the source-SORTED list on both
    // sides: double addition is order-sensitive in the last ulp, so the
    // summation order itself is part of the contract
    "mixture_temperature" ->
      """WITH a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
           FROM documents GROUP BY 1),
           b AS (SELECT source, n_docs, total_tokens,
                   CAST(total_tokens AS DOUBLE) /
                     CAST(sum(total_tokens) OVER () AS DOUBLE) AS share
                 FROM a),
           c AS (SELECT source, n_docs, total_tokens, share,
                   pow(share, 0.5) AS pa FROM b),
           d AS (SELECT list_sum(list(pa ORDER BY source)) AS denom FROM c)
         SELECT source, n_docs, total_tokens,
                round(share, 6) AS token_share,
                round(pa / denom, 6) AS weight
         FROM c, d""",
    // the mixture CTE extended with the budget arithmetic; round() is
    // half-away-from-zero in both engines
    "epoch_plan" ->
      """WITH a AS (SELECT source,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
           FROM documents GROUP BY 1),
           b AS (SELECT source, total_tokens,
                   CAST(total_tokens AS DOUBLE) /
                     CAST(sum(total_tokens) OVER () AS DOUBLE) AS share
                 FROM a),
           c AS (SELECT source, total_tokens, pow(share, 0.5) AS pa FROM b),
           d AS (SELECT list_sum(list(pa ORDER BY source)) AS denom FROM c),
           e AS (SELECT source, total_tokens, round(pa / denom, 6) AS weight FROM c, d),
           f AS (SELECT source, total_tokens, weight,
                   CAST(round(weight * 1000000) AS BIGINT) AS target_tokens FROM e)
         SELECT source, total_tokens, weight, target_tokens,
                round(CAST(target_tokens AS DOUBLE) /
                      CAST(total_tokens AS DOUBLE), 6) AS epochs
         FROM f""",
    // epoch_plan's weight arithmetic replayed to per-source budgets, then
    // sample_token_budget's naive cumsum with the budget joined per source
    "mixture_materialize" ->
      """WITH a AS (SELECT source,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
           FROM documents GROUP BY 1),
           b AS (SELECT source, total_tokens,
                   CAST(total_tokens AS DOUBLE) /
                     CAST(sum(total_tokens) OVER () AS DOUBLE) AS share
                 FROM a),
           c AS (SELECT source, total_tokens, pow(share, 0.5) AS pa FROM b),
           d AS (SELECT list_sum(list(pa ORDER BY source)) AS denom FROM c),
           e AS (SELECT source, round(pa / denom, 6) AS weight FROM c, d),
           f AS (SELECT source, CAST(round(weight * 24000) AS BIGINT) AS budget FROM e),
           t AS (SELECT doc_id, source, md5(CAST(doc_id AS VARCHAR)) AS h,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
                 FROM documents),
           cum AS (SELECT doc_id, source, n_tokens,
                     coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
                   FROM t)
         SELECT cum.doc_id, cum.source, cum.n_tokens
         FROM cum JOIN f USING (source) WHERE cum_before < budget""",
    // the masked-run islands rebuilt relationally: lag() marks span
    // starts, a running sum numbers spans, string_agg assembles input
    // (unmasked tokens + one sentinel per span) and target (sentinel +
    // span tokens, closed by the final sentinel — T5 convention)
    "span_corrupt" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
           p AS (SELECT doc_id, unnest(range(0, len(w))) AS pos, unnest(w) AS tok FROM t),
           m AS (SELECT doc_id, pos, tok,
                   (('0x' || substr(md5(doc_id::VARCHAR || ':' || pos::VARCHAR), 1, 4))::INT
                      % 100 < 15) AS mk
                 FROM p),
           s AS (SELECT *, CASE WHEN mk AND NOT coalesce(
                     lag(mk) OVER (PARTITION BY doc_id ORDER BY pos), FALSE)
                   THEN 1 ELSE 0 END AS st FROM m),
           sp AS (SELECT *, sum(st) OVER (PARTITION BY doc_id ORDER BY pos) - 1 AS span_id
                  FROM s),
           inp AS (SELECT doc_id, string_agg(
                     CASE WHEN NOT mk THEN tok
                          WHEN st = 1 THEN '<extra_id_' || span_id || '>' END,
                     ' ' ORDER BY pos) AS input_text
                   FROM sp GROUP BY 1),
           tb AS (SELECT doc_id,
                    string_agg(CASE WHEN st = 1
                        THEN '<extra_id_' || span_id || '> ' || tok
                        ELSE tok END, ' ' ORDER BY pos) AS tgt_body,
                    CAST(count(*) AS BIGINT) AS n_masked,
                    CAST(max(span_id) + 1 AS BIGINT) AS n_spans
                  FROM sp WHERE mk GROUP BY 1)
         SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_tokens,
                coalesce(tb.n_masked, 0) AS n_masked,
                coalesce(tb.n_spans, 0) AS n_spans,
                inp.input_text,
                CASE WHEN tb.tgt_body IS NULL THEN '<extra_id_0>'
                     ELSE tb.tgt_body || ' <extra_id_' || tb.n_spans || '>' END AS target_text
         FROM t JOIN inp USING (doc_id) LEFT JOIN tb USING (doc_id)""",
    "corpus_report" ->
      """SELECT coalesce(source, 'ALL') AS source, coalesce(lang, 'ALL') AS lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
         FROM documents GROUP BY ROLLUP(source, lang)""",
    "asof_attribution" ->
      s"""WITH f AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
             FROM events WHERE event_type = 'purchase'),
           d AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, max(event_id) AS click_id
             FROM events WHERE event_type = 'click' GROUP BY 1, 2)
         SELECT f.event_id, f.user_id, strftime(f.ts, '$FmtTsSql') AS ts,
                d.click_id, strftime(d.ts, '$FmtTsSql') AS click_ts
         FROM f ASOF JOIN d ON f.user_id = d.user_id AND f.ts >= d.ts""",
    // small-domain move: the planted distinct sets (31/7/9) are constant
    // at every SF and sit deep in the sketches' exact regime, so the
    // exact aggregates ARE the sketch outputs (see the query comment)
    "corpus_stats_approx" ->
      """WITH pl AS (SELECT doc_id % 31 AS pid,
                            's' || CAST(doc_id % 7 AS VARCHAR) AS src,
                            5 + doc_id % 9 AS ntok,
                            'w' || CAST(doc_id % 9 AS VARCHAR) AS wrd
                     FROM documents)
         SELECT CAST(count(DISTINCT pid) AS BIGINT) AS n_docs_approx,
                CAST(count(DISTINCT src) AS BIGINT) AS n_sources_approx,
                CAST(quantile_disc(ntok, 0.5) AS BIGINT) AS p50_tokens_approx,
                CAST(quantile_disc(ntok, 0.99) AS BIGINT) AS p99_tokens_approx,
                CAST(count(DISTINCT wrd) AS BIGINT) AS n_distinct_words_approx
         FROM pl""",
    // r18: the last three rows-only queries gained full hash oracles —
    // n_oracle_sql now equals n_outputs.
    //
    // dedup_minhash_raw: the full LSH pipeline replayed in SQL — gram
    // xxhash64, 16 XOR-mix signature minima, band keys (Spark's
    // multi-arg xxhash64 fold over the int band + the slice's string
    // cast), the ≤64/chain skew-guard semantics, exact-Jaccard verify.
    // A plain quadratic-Jaccard restatement measured one banding-missed
    // true pair at sf0.001 and sf0.1 (honest 0.8-operating-point recall),
    // so the oracle replays the banding itself; candidate generation,
    // the guard, and verification are now all independently measured.
    // See OracleXxh.dedupMinhashRawSql.
    "dedup_minhash_raw" -> OracleXxh.dedupMinhashRawSql(),
    // sim_topk_ivf: the k-means coarse quantizer replayed in SQL — the
    // training sample is the whole corpus at every checked SF (≤ 4096
    // embeddings), so only its xxhash64(vec_id) ORDER needs restating
    // (OracleXxh's HUGEINT xxhash64), init = first 16 in that order, 3
    // Lloyd iterations in DOUBLE with the engine's per-iteration FLOAT
    // rounding, then the sim_topk_ivf_medoid probe shape over the trained
    // centroids. See OracleXxh.simTopkIvfSql.
    "sim_topk_ivf" -> OracleXxh.simTopkIvfSql(),
    // text_winnow_fp: the full XXH64 byte ladder over each 4-token gram,
    // the winnow-of-4 window minimum (value sequence is tie-rule-
    // independent; first-seen distinct order restated with window mins +
    // first-emission index), and Spark's array-fold hash for fp_xxh. See
    // OracleXxh.textWinnowFpSql.
    "text_winnow_fp" -> OracleXxh.textWinnowFpSql()
  )
}
