package graft

import graft.functions.Funcs
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit tests for the column-level building blocks (SURVEY §2.8, §2.1). */
class FuncsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("deflateRatio: degenerate ≪ prose-like ≪ random-ish; doubling lowers the ratio; empty is 0") {
    import graft.functions.Native
    val rnd = new scala.util.Random(7)
    val prose = Seq.fill(120)("w" + rnd.nextInt(400)).mkString(" ") // ~600 chars, varied
    val hexish = (0 until 40).map(i =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"x$i".getBytes).map("%02x".format(_)).mkString).mkString // 1280 random hex chars
    val rows = Seq(
      (1L, "ab" * 500),       // degenerate repetition
      (2L, prose),
      (3L, hexish),
      (4L, prose + " " + prose), // long-range duplication
      (5L, "")
    ).toDF("doc_id", "text")
    val r = rows.select($"doc_id", Native.deflateRatio($"text").as("r"))
      .as[(Long, Double)].collect().toMap
    assert(r(1L) < 0.1, s"degenerate ratio ${r(1L)}")
    assert(r(3L) > 0.3, s"random-ish ratio ${r(3L)}")
    assert(r(1L) < r(2L) && r(2L) < r(3L), s"ordering: $r")
    // the whole point vs char-level stats: a doubled text compresses
    // BETTER than the original (the window sees the first copy)
    assert(r(4L) < r(2L), s"doubling did not lower the ratio: $r")
    assert(r(5L) == 0.0)
  }

  test("deflateLen: the COMMITTED fixture constants hold (the text_compress_ratio oracle's numbers)") {
    import graft.functions.Native
    // the exact level-6/nowrap deflate byte counts of the four committed
    // plant classes, as pinned in the DuckDB oracle — if the JVM's zlib
    // build ever changes its output, THIS fails before the oracle does
    val want = Seq(8L, 17L, 51L, 163L)
    val got = SparkEntry.CompressPlantClasses.zipWithIndex.map { case (s, i) =>
      Seq(Tuple1(s)).toDF("t").select(Native.deflateLen($"t"))
        .as[Long].head()
    }
    assert(got == want, s"deflate constants drifted: got $got, committed $want")
    // and the lengths are consistent with the ratio expression's numerator
    SparkEntry.CompressPlantClasses.zip(want).foreach { case (s, len) =>
      val ratio = Seq(Tuple1(s)).toDF("t")
        .select(Native.deflateRatio($"t")).as[Double].head()
      assert(math.abs(ratio - len.toDouble / s.length) < 1e-12)
    }
    assert(Seq(Tuple1("")).toDF("t").select(Native.deflateLen($"t")).as[Long].head() == 0L)
  }

  test("eventTimeChain parses the reference extractor's format matrix (OrderTimestampStreamApp.java:139-206)") {
    val fallback = java.sql.Timestamp.valueOf("2000-01-01 00:00:00")
    val rows = Seq(
      ("2025-09-28 12:34:56", "iso"),
      ("2025-09-28", "date"),
      ("1759017600000", "epoch"),
      ("garbage", "fallback"),
      (null.asInstanceOf[String], "null")
    ).toDF("raw", "kind")
    val got = rows
      .select($"kind", Funcs.eventTimeChain($"raw", lit(fallback)).as("ts"))
      .collect().map(r => r.getString(0) -> r.getTimestamp(1).toString).toMap
    assert(got("iso") == "2025-09-28 12:34:56.0")
    assert(got("date") == "2025-09-28 00:00:00.0")          // start of day UTC
    assert(got("epoch") == "2025-09-28 00:00:00.0")          // 1759017600000 ms
    assert(got("fallback") == "2000-01-01 00:00:00.0")
    assert(got("null") == "2000-01-01 00:00:00.0")
  }

  test("jsonKeyOrUnknown falls back to UNKNOWN on malformed JSON (StreamsOrderCount.java:103-105)") {
    val rows = Seq("""{"order_id": "42"}""", "not json", null).toDF("v")
    val got = rows.select(Funcs.jsonKeyOrUnknown($"v", "$.order_id")).as[String].collect()
    assert(got.toSeq == Seq("42", "UNKNOWN", "UNKNOWN"))
  }

  test("cosineD: identical vectors → 1.0, orthogonal → 0.0") {
    val rows = Seq(
      (Array(1.0f, 0.0f, 2.0f), Array(1.0f, 0.0f, 2.0f)),
      (Array(1.0f, 0.0f, 0.0f), Array(0.0f, 1.0f, 0.0f))
    ).toDF("a", "b")
    val got = rows.select(Funcs.cosineD($"a", $"b")).as[Double].collect()
    assert(math.abs(got(0) - 1.0) < 1e-12)
    assert(math.abs(got(1)) < 1e-12)
  }

  test("wordShingles handles docs shorter than n") {
    val rows = Seq("one two", "a b c d").toDF("text")
    val got = rows.select(Funcs.wordShingles(Funcs.tokens($"text"), 3).as("sh"))
      .as[Seq[String]].collect()
    assert(got(0) == Seq("one two"))
    assert(got(1) == Seq("a b c", "b c d"))
  }

  test("minhash signatures are deterministic and equal-doc ⇒ equal-signature") {
    val rows = Seq("spark streams data", "spark streams data", "totally different words here").toDF("text")
    val sigs = rows.select(
      Funcs.minhashesFromHashes(
        Funcs.shingleHashes(array_distinct(Funcs.wordShingles(Funcs.tokens($"text"), 2))), 8).as("sig"))
      .as[Seq[Long]].collect()
    assert(sigs(0) == sigs(1))
    assert(sigs(0) != sigs(2))
  }

  test("simhash64: near-identical docs have small hamming distance, disjoint docs large") {
    val rows = Seq(
      ("w1 w2 w3 w4 w5 w6 w7 w8 w9 w10", "w1 w2 w3 w4 w5 w6 w7 w8 w9 w11"),
      ("w1 w2 w3 w4 w5 w6 w7 w8 w9 w10", "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10")
    ).toDF("a", "b")
    val d = rows.select(
      Funcs.hamming64(Funcs.simhash64(Funcs.tokens($"a")), Funcs.simhash64(Funcs.tokens($"b"))))
      .as[Long].collect()
    assert(d(0) < d(1), s"near=${d(0)} far=${d(1)}")
  }

  test("fingerprint is md5 hex of the text") {
    val got = Seq("abc").toDF("text").select(Funcs.fingerprint($"text")).as[String].head()
    assert(got == "900150983cd24fb0d6963f7d28e17f72")
  }

  test("winnow: native one-pass deque ≡ declarative HoF form, incl. short docs") {
    val docs = Seq(
      (1 to 50).map(i => s"tok${i % 13}").mkString(" "), // repeats → duplicate minima
      "a b c",                                            // fewer grams than the window
      "one")                                              // single token
      .toDF("text")
    val hashes = Funcs.shingleHashes(Funcs.wordShingles(Funcs.tokens($"text"), 2))
    val both = docs.select(
      graft.functions.Native.winnow(hashes, 4).as("native"),
      Funcs.winnowFingerprint(hashes, 4).as("decl"))
    assert(both.filter($"native" =!= $"decl").isEmpty)
    // guarantee: at least one fingerprint per w consecutive grams
    val n = both.select(org.apache.spark.sql.functions.size($"native")).as[Int].collect()
    assert(n.forall(_ >= 1))
  }

  test("fused shingleHashes ≡ declarative wordShingles∘xxhash64, ordered and distinct-sorted") {
    val docs = Seq(
      (1 to 40).map(i => s"tok${i % 7}").mkString(" "), // heavy duplicate shingles
      "a b c d e",
      "one two", // fewer tokens than n → whole-doc shingle
      "solo")
      .toDF("text")
    val toks = Funcs.tokens($"text")
    val both = docs.select(
      graft.functions.Native.shingleHashes(toks, 3, sortedDistinct = false).as("n_ord"),
      Funcs.shingleHashes(Funcs.wordShingles(toks, 3)).as("d_ord"),
      graft.functions.Native.shingleHashes(toks, 3, sortedDistinct = true).as("n_set"),
      array_sort(Funcs.shingleHashes(array_distinct(Funcs.wordShingles(toks, 3)))).as("d_set"))
    assert(both.filter($"n_ord" =!= $"d_ord" || $"n_set" =!= $"d_set").isEmpty)
  }

  test("fused minhashFromTokens ≡ MinHashSignature over declarative distinct shingles") {
    val docs = Seq(
      (1 to 40).map(i => s"tok${i % 7}").mkString(" "),
      "spark streams data engine",
      "xs") // shorter than the shingle length
      .toDF("text")
    val toks = Funcs.tokens($"text")
    val both = docs.select(
      graft.functions.Native.minhashFromTokens(toks, 3, 16).as("fused"),
      graft.functions.Native.minhashSig(
        array_distinct(Funcs.wordShingles(toks, 3)), 16).as("staged"))
    assert(both.filter($"fused" =!= $"staged").isEmpty)
  }

  test("maxFreq: native one-pass count ≡ declarative distinct×filter form; empty array → 0") {
    val docs = Seq(
      (1 to 50).map(i => s"tok${i % 13}").mkString(" "), // skewed multiplicities
      "a a a b",
      "solo")
      .toDF("text")
    val hashes = Funcs.shingleHashes(Funcs.wordShingles(Funcs.tokens($"text"), 1))
    val both = docs.select(
      graft.functions.Native.maxFreq(hashes).as("native"),
      array_max(transform(array_distinct(hashes),
        h => size(filter(hashes, x => x === h)))).cast("long").as("decl"))
    assert(both.filter($"native" =!= $"decl").isEmpty)
    val empty = Seq(Seq.empty[Long]).toDF("hs")
      .select(graft.functions.Native.maxFreq($"hs")).as[Long].head()
    assert(empty == 0L)
  }

  test("srpKeys: width/count honored, deterministic, angle-invariant under scaling, complement under negation") {
    val rnd = new scala.util.Random(7)
    val vecs = (1L to 20L).map(i => (i, Array.fill(32)(rnd.nextGaussian().toFloat)))
    val df = vecs.toDF("vec_id", "embedding")
    def keys = df.select($"vec_id",
      graft.functions.Native.srpKeys($"embedding", 8, 16).as("keys"))
    val rows = keys.as[(Long, Seq[Long])].collect()
    assert(rows.forall(_._2.length == 8))
    assert(rows.forall(_._2.forall(k => k >= 0L && k < (1L << 16))))
    // deterministic: recomputation is bit-identical (pure function of the vector)
    assert(keys.except(keys).isEmpty)
    // positive scaling never changes a key: the hyperplane test is on the angle
    val scaled = df.select($"vec_id",
      graft.functions.Native.srpKeys(
        transform($"embedding", x => (x * lit(3.5f)).cast("float")), 8, 16).as("keys"))
    assert(keys.except(scaled).isEmpty)
    // negation flips every sign bit (no zero dot products in a gaussian fixture)
    val negated = df.select($"vec_id",
      graft.functions.Native.srpKeys(
        transform($"embedding", x => (-x).cast("float")), 8, 16).as("nkeys"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(rows.forall { case (id, ks) =>
      negated(id).zip(ks).forall { case (nk, k) => nk == (k ^ 0xFFFFL) } })
  }

  test("GraftExtensions: a builder-owned session resolves graft functions in plain SQL") {
    import org.apache.spark.sql.SparkSession
    val orig = TestSpark.spark // force-init the shared session first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // fresh session (shared SparkContext) built THROUGH the extension —
      // no Native.register call anywhere on this path
      val s2 = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      assert(s2 ne orig)
      val d = s2.sql(
        """SELECT graft_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
          |                 array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d""".stripMargin)
        .head().getDouble(0)
      assert(d == 11.0)
      assert(s2.sql("SELECT graft_simhash(array('a','b')) AS s").head().getLong(0) != 0L)
    } finally {
      SparkSession.setDefaultSession(orig)
      SparkSession.setActiveSession(orig)
    }
  }

  test("Native.register is once per session: a second call replaces no graft_* builder") {
    val reg = spark.sessionState.functionRegistry
    val ids = reg.listFunction().filter(_.funcName.startsWith("graft_"))
    assert(ids.exists(_.funcName == "graft_dot"))
    def held = ids.map(id => id -> (reg.lookupFunctionBuilder(id).get, reg.lookupFunction(id).get))
      .toMap
    val before = held
    graft.functions.Native.register(spark)
    val after = held
    for (id <- ids) {
      assert(after(id)._1 eq before(id)._1, s"${id.funcName}: builder replaced")
      assert(after(id)._2 eq before(id)._2, s"${id.funcName}: registration replaced")
    }
  }

  test("winnow fingerprints overlap on shared substrings, not on disjoint docs") {
    val shared = (1 to 20).map(i => s"s$i").mkString(" ")
    val a = s"intro words here $shared trailing alpha"
    val b = s"different opening $shared other ending beta"
    val c = (1 to 30).map(i => s"z$i").mkString(" ")
    val fps = Seq(a, b, c).toDF("text")
      .select(graft.functions.Native.winnow(
        Funcs.shingleHashes(Funcs.wordShingles(Funcs.tokens($"text"), 4)), 4).as("fp"))
      .as[Seq[Long]].collect().map(_.toSet)
    // 20 shared consecutive tokens ≥ w+k−1=7 ⇒ guaranteed common fingerprint
    assert((fps(0) & fps(1)).nonEmpty)
    assert((fps(0) & fps(2)).isEmpty)
  }

  test("native expressions: codegen'd path ≡ interpreted path (NativeUnary/BinaryCodegen)") {
    // The reference-call doGenCode keeps the child subtree inside
    // whole-stage codegen; this pin proves the two execution paths agree
    // bit-for-bit on every native expression over real corpus text —
    // the equivalence contract the codegen swap (round 8) rests on.
    import graft.functions.Native
    val docs = Tables.documents(spark, TestSpark.Sf0001).limit(64)
    def battery(): Array[org.apache.spark.sql.Row] = {
      val toks = split(lower(col("text")), " ")
      val sortedSh = Native.shingleHashes(toks, 3, sortedDistinct = true)
      val bitmap = unhex(substring(repeat(md5(col("text").cast("binary")), 5), 1, 144))
      docs.select(
        col("doc_id"),
        Native.shingleHashes(toks, 3, sortedDistinct = false).as("sh"),
        sortedSh.as("shd"),
        Native.minhashFromTokens(toks, 3, 16).as("mh"),
        Native.minhashSig(sortedSh.cast("array<string>")).as("ms"),
        Native.simhash(toks).as("s64"),
        Native.simhashWide(toks, 2).as("sw"),
        Native.maxFreq(Native.shingleHashes(toks, 2, sortedDistinct = false)).as("mf"),
        Native.winnow(Native.shingleHashes(toks, 3, sortedDistinct = false), 4).as("wn"),
        Native.winnowPos(Native.shingleHashes(toks, 3, sortedDistinct = false), 4).as("wp"),
        Native.sortedIntersectCount(sortedSh, sortedSh).as("ic"),
        Native.charEntropy(col("text")).as("ce"),
        Native.deflateRatio(col("text")).as("dr"),
        Native.srpKeys(transform(sequence(lit(0), lit(7)),
          i => (xxhash64(col("doc_id"), i) % 100).cast("float")), 2, 16).as("srp"),
        Native.dhash(bitmap, 9, 8).as("dh"),
        Native.bankLogits(toks, Seq((Seq.tabulate(64)(i => (i * 37L) % 101L - 50L), 7L),
          (Seq.tabulate(64)(i => (i * 11L) % 53L - 26L), -3L))).as("bk"),
        hex(Native.pngDecodeGray8(
          Native.pngEncodeGray8(bitmap, lit(9), filterMode = -1, stored = false))).as("png"))
        .orderBy("doc_id").collect()
    }
    val codegen = battery()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interpreted = battery()
      assert(codegen.length == 64 && codegen.sameElements(interpreted))
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("winnowPositions: winnow values ≡ first-seen-distinct of hashes[pos] (selection audit)") {
    import graft.functions.Native
    val docs = Tables.documents(spark, TestSpark.Sf0001).limit(64)
    val toks = split(lower(col("text")), " ")
    val hashes = Native.shingleHashes(toks, 3, sortedDistinct = false)
    val rows = docs.select(
      Native.winnow(hashes, 4).as("wv"),
      Native.winnowPos(hashes, 4).as("wp"),
      hashes.as("h")).collect()
    assert(rows.length == 64)
    rows.foreach { r =>
      val wv = r.getSeq[Long](0)
      val wp = r.getSeq[Int](1)
      val h = r.getSeq[Long](2)
      // positions are strictly increasing k-gram indices in range
      assert(wp == wp.sorted && wp.distinct == wp && wp.forall(p => p >= 0 && p < h.length))
      // mapping selected positions to their hashes and deduping first-seen
      // reproduces the value-form winnow exactly
      assert(wv == wp.map(h(_)).distinct, s"wv=$wv wp=$wp")
    }
  }

  test("bankLogits rejects a zero-dimension bank at construction, not per row") {
    // an empty weight vector would make every row throw ArithmeticException
    // (mod by the bank dimension) at eval time; the require fails fast at
    // ANALYSIS (call_function resolves the expression lazily, so force it)
    val err = intercept[Throwable] {
      Seq(Tuple1(Array("a"))).toDF("toks")
        .select(graft.functions.Native.bankLogits($"toks", Seq((Seq.empty[Long], 0L))))
        .collect()
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ chain(t.getCause)
    assert(chain(err).exists(_.contains("dimension")), chain(err).mkString(" | "))
  }
}
