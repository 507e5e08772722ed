package graft

import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis
import graft.operators.Multimodal

class TextMultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("gopherRules: per-rule metrics and verdicts on crafted documents") {
    val good = (1 to 6).map(_ => "the quick brown fox and that hound " +
      "have gone to the den of winter with haste").mkString(" ") // 66 words
    val docs = Seq(
      (1L, good),                                  // passes every rule
      (2L, "the of and that"),                     // too few words
      (3L, "- one\n- two\n- three\nplain"),        // 3/4 bullet lines
      (4L, "so it goes...\nand onward...\nfine"),  // 2/3 ellipsis lines
      (5L, "### " + good),                         // symbol-heavy start
      (6L, "12 34 56 78 90 11 22 33 44 55")        // no alphabetic words
    ).toDF("doc_id", "text")
    val out = graft.operators.TextStats
      .gopherRules(docs, "doc_id", "text", minWords = 5)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Boolean]("pass"))
    assert(!out(2L).getAs[Boolean]("pass") && out(2L).getAs[Int]("n_words") == 4)
    // doc 3: bullet_frac 3/4 passes the <=0.9 bullet rule itself, but
    // mean word length (19/7 < 3), alpha fraction (4/7 < 0.8) and the
    // stopword rule all fail
    assert(out(3L).getAs[Double]("bullet_frac") == 0.75)
    assert(!out(3L).getAs[Boolean]("pass"))
    assert(out(4L).getAs[Double]("ellipsis_frac") == 0.6667)
    assert(!out(4L).getAs[Boolean]("pass"))
    assert(out(5L).getAs[Double]("symbol_ratio") > 0.0)
    assert(out(6L).getAs[Double]("alpha_frac") == 0.0)
    assert(!out(6L).getAs[Boolean]("pass"))
    // stop-hit rule: doc 1 contains >= 2 of the required list
    assert(out(1L).getAs[Int]("stop_hits") >= 2)
  }

  test("gopherRules: empty text yields NULL ratios, definite fail") {
    val out = graft.operators.TextStats
      .gopherRules(Seq((1L, "")).toDF("doc_id", "text"), "doc_id", "text")
      .collect().head
    assert(out.getAs[Int]("n_words") == 0)
    assert(out.isNullAt(out.fieldIndex("mean_wlen")))
    assert(out.isNullAt(out.fieldIndex("alpha_frac")))
    // three-valued logic: 0 >= minWords is FALSE, and FALSE AND NULL
    // short-circuits to FALSE — the doc is definitively rejected even
    // though its ratio metrics are NULL (same on any SQL engine)
    assert(!out.getAs[Boolean]("pass"))
  }

  test("charEntropy: degenerate 0, uniform ln(k), natural text mid-band") {
    val docs = Seq(
      (1L, "aaaaaaaa"),          // one symbol → entropy 0
      (2L, "abcd"),              // 4 uniform symbols → ln 4
      (3L, "the quick brown fox" * 3)
    ).toDF("doc_id", "text")
    val out = graft.operators.TextStats.charEntropy(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((8L, 1L, 0.0)))
    assert(out(2L)._3 == math.rint(math.log(4.0) * 1e4) / 1e4)
    // natural text: strictly between the degenerate extremes
    assert(out(3L)._3 > 1.0 && out(3L)._3 < math.log(out(3L)._2.toDouble) + 0.01)
    // partitioning independence (decimal-exact sums)
    val rep = graft.operators.TextStats
      .charEntropy(docs.repartition(7), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(rep == out.map { case (k, v) => k -> v._3 })
    // empty and NULL text: NO row (Spark's sequence(1,0) descends —
    // unguarded it would fabricate two ''-char rows the oracle lacks)
    val edge = graft.operators.TextStats.charEntropy(
      Seq((7L, ""), (8L, null: String)).toDF("doc_id", "text"),
      "doc_id", "text").collect()
    assert(edge.isEmpty)
  }

  test("charEntropy: non-ASCII and supplementary code points count as chars") {
    // the native kernel's map path (code points >= 128) and surrogate
    // pairs: "char" = one Unicode code point, like substring(text,i,1)
    val docs = Seq(
      (1L, "αβ中中"),      // counts α=1, β=1, 中=2
      (2L, "😀😀a") // 😀😀a: 3 code points, 2 distinct
    ).toDF("doc_id", "text")
    val out = graft.operators.TextStats.charEntropy(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // s = 2·round(ln 2, 6) = 1.386294; entropy = round(ln4 - s/4, 4)
    assert(out(1L)._1 == 4L && out(1L)._2 == 3L)
    assert(out(1L)._3 == math.rint(
      (math.log(4.0) - 2 * 0.693147 / 4.0) * 1e4) / 1e4)
    assert(out(2L) == ((3L, 2L,
      math.rint((math.log(3.0) - 2 * 0.693147 / 3.0) * 1e4) / 1e4)))
  }

  test("language ID picks the language with most stopword hits") {
    val docs = Seq(
      (1L, "the cat and the dog sat on the mat"),
      (2L, "el perro y la casa de los vecinos en un lugar"),
      (3L, "xylophone zebra quartz")
    ).toDF("doc_id", "text")
    val t = docs.select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
    val hits = t.select(col("doc_id") +: TextAnalysis.Stopwords.map {
      case (l, _) => TextAnalysis.stopwordHits("toks", l).as(s"hits_$l") }: _*)
    val preds = hits.select(col("doc_id"), TextAnalysis.predLang.as("p"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(preds(1L) == "en" && preds(2L) == "es" && preds(3L) == "und")
  }

  test("subword count: letter runs, digit runs, punctuation marks") {
    val n = Seq("Ab, c3 d-4").toDF("t")
      .select(TextAnalysis.subwordCount(col("t"))).head().getInt(0)
    assert(n == 7) // ab , c 3 d - 4
  }

  test("fingerprint is stable and shifts partially on a 1-word edit") {
    def fp(s: String): String =
      Seq(s).toDF("text")
        .select(TextAnalysis.tokens(col("text")).as("toks"))
        .select(TextAnalysis.fingerprint("toks")).head().getString(0)
    val a = "one two three four five six seven eight nine ten"
    assert(fp(a) == fp(a))
    val b = a.replace("seven", "eleven")
    assert(fp(a) != fp(b))
    assert(fp(a).length == 128) // 4 x md5 hex
  }

  test("maskPii scrubs emails and long digit runs, counts each class") {
    import graft.functions.TextAnalysis
    val df = Seq("write bob.smith+x@corp.example.com or call 5551234567 ext 12")
      .toDF("text")
    val (emails, nums) = TextAnalysis.piiCounts(col("text"))
    val r = df.select(TextAnalysis.maskPii(col("text")).as("m"),
      emails.as("e"), nums.as("n")).head()
    assert(r.getString(0) == "write <EMAIL> or call <NUM> ext 12")
    assert(r.getInt(1) == 1 && r.getInt(2) == 1)
  }

  test("multimodal: payload is a real P6 container; decode round-trips the text") {
    val media = Multimodal.attachBinary(
      Seq((5L, "hello world!")).toDF("doc_id", "text"), "doc_id", "text")
    // len 12 → h=4, w=3; container = "P6\n3 4\n255\n" + tripled bytes
    val feats = Multimodal.byteFeatures(media).head()
    assert(feats.getInt(2) == 11 + 3 * 12)              // byte_len
    assert(feats.getString(3) == "50360A3320340A32")    // "P6\n3 4\n2" hex
    assert(feats.getInt(4) == 3 && feats.getInt(5) == 4) // real dims
    // the load-bearing identity: decode ∘ encode == the text bytes
    // (BT.601 integer luma is exact on gray pixels)
    val rt = media.select(graft.plans.GraftFunctions.grayDecode(spark,
      col("payload")).as("g")).head().getAs[Array[Byte]](0)
    assert(new String(rt, "UTF-8") == "hello world!")
  }

  test("multimodal: non-ASCII text shapes the container from BYTES, not chars") {
    // "héllo wörld" = 11 characters but 13 UTF-8 bytes (é, ö are
    // 2 bytes each): 13 is odd and not divisible by 3 → h=1, w=13.
    // A char-count shaping would have picked len=11 → h=1, w=11 and
    // disagreed with the container header (r12 advice, the bug this
    // spec pins closed).
    val txt = "héllo wörld"
    assert(txt.length == 11 && txt.getBytes("UTF-8").length == 13)
    val media = Multimodal.attachBinary(
      Seq((7L, txt)).toDF("doc_id", "text"), "doc_id", "text")
    val r = media.select(col("width"), col("height"), col("payload")).head()
    assert(r.getInt(0) == 13 && r.getInt(1) == 1)
    // metadata == the PARSED header's dims, and decode round-trips
    val img = graft.plans.ImageCodec.decode(r.getAs[Array[Byte]](2)).get
    assert(img.width == 13 && img.height == 1)
    assert(new String(img.pixels, "UTF-8") == txt)
    // decodeFeatures (header-parse path) agrees with the metadata
    val f = Multimodal.decodeFeatures(media).head()
    // header "P6\n13 1\n255\n" is 12 bytes; raster = 3 * 13 gray triples
    assert(f.width == 13 && f.height == 1 && f.byte_len == 12 + 3 * 13)
  }

  test("ImageCodec: BMP encode round-trips bytes through decode at every row padding") {
    import graft.plans.ImageCodec
    // lengths covering h ∈ {4,3,2,1} and every w%4 row-padding shape
    for (len <- Seq(1, 2, 3, 5, 6, 8, 9, 12, 60, 61, 62, 63)) {
      val gray = Array.tabulate(len)(i => ((i * 37 + 11) % 256).toByte)
      val bmp = ImageCodec.encodeBmpGray(gray)
      assert(bmp(0) == 'B' && bmp(1) == 'M')
      val img = ImageCodec.decode(bmp).get
      assert(img.pixels.toSeq == gray.toSeq, s"len=$len round-trip")
      assert(img.width * img.height == len, s"len=$len dims")
    }
    // empty input: header-only w=0 container, rejected by design
    assert(ImageCodec.decode(ImageCodec.encodeBmpGray(Array.empty)).isEmpty)
  }

  test("ImageCodec fuzz: encode∘decode exact and decode total on 500 seeded buffers") {
    import graft.plans.ImageCodec
    val rnd = new scala.util.Random(0xC0DEC13L)
    (1 to 500).foreach { i =>
      val len = rnd.nextInt(301)
      val gray = new Array[Byte](len); rnd.nextBytes(gray)
      // both encoders round-trip EXACTLY through their own decoder
      val ppm = ImageCodec.decode(ImageCodec.encodePpmGray(gray))
      assert(ppm.exists(_.pixels.toSeq == gray.toSeq), s"ppm len=$len i=$i")
      if (len > 0) {
        val bmp = ImageCodec.decode(ImageCodec.encodeBmpGray(gray))
        assert(bmp.exists(_.pixels.toSeq == gray.toSeq), s"bmp len=$len i=$i")
      }
      // decode is TOTAL on arbitrary bytes: reject-don't-throw (the
      // stand-in branch depends on it) — including bytes that START
      // like a container
      val junk = new Array[Byte](len); rnd.nextBytes(junk)
      ImageCodec.decode(junk)
      if (len >= 2) {
        junk(0) = 'P'; junk(1) = '6'; ImageCodec.decode(junk)
        junk(0) = 'B'; junk(1) = 'M'; ImageCodec.decode(junk)
      }
    }
  }

  test("ZOrder.interleave16 is injective over 16-bit pairs (seeded sample)") {
    val rnd = new scala.util.Random(0x20D13L)
    val pairs = Seq.fill(4000)((rnd.nextInt(65536), rnd.nextInt(65536)))
      .distinct
    val df = pairs.toDF("x", "y")
      .select(graft.functions.ZOrder.interleave16(col("x"), col("y"))
        .as("z"))
    assert(df.distinct().count() == pairs.size.toLong,
      "Morton codes collided — bit spreading broken")
  }

  test("multimodal: mixed-format table decodes through BOTH container parsers") {
    val docs = Seq((2L, "hello world!"), (3L, "héllo wörld"))
      .toDF("doc_id", "text")
    val media = Multimodal.attachBinary(docs, "doc_id", "text",
      format = "mixed")
    val fmts = media.select("id", "format").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fmts == Map(2L -> "image/ppm", 3L -> "image/bmp"))
    // both containers round-trip to the original text bytes
    val rt = media.select(col("id"),
        graft.plans.GraftFunctions.grayDecode(spark, col("payload")).as("g"))
      .collect()
      .map(r => r.getLong(0) -> new String(r.getAs[Array[Byte]](1), "UTF-8"))
      .toMap
    assert(rt == Map(2L -> "hello world!", 3L -> "héllo wörld"))
    // decodeFeatures' dims come from each container's PARSED header
    // (metadata poisoned, the mm_decode_bmp gate's discipline)
    val f = Multimodal.decodeFeatures(media
        .withColumn("width", lit(-1)).withColumn("height", lit(-1)))
      .collect().map(x => x.id -> ((x.width, x.height, x.byte_len))).toMap
    assert(f(2L) == ((3, 4, 11 + 36)))  // P6: 12 bytes → 3×4
    // BMP: 13 bytes → 13×1; rows pad to ((13*3+3)/4)*4 = 40; 54 + 40
    assert(f(3L) == ((13, 1, 54 + 40)))
  }

  test("ImageCodec: PPM grammar (comments, P5), BMP layouts, rejects") {
    import graft.plans.ImageCodec
    // P6 with comments and multi-whitespace — the published grammar
    val p6 = ("P6 # comment to eol\n # another\n 2\t1\n255\n"
      .getBytes("US-ASCII") ++ Array[Byte](10, 20, 30, 40, 50, 60))
    val g6 = ImageCodec.decode(p6).get
    assert(g6.width == 2 && g6.height == 1)
    // luma ⌊(299r+587g+114b+500)/1000⌋: (299*10+587*20+114*30+500)/1000=18
    assert(g6.pixels.toSeq == Seq[Byte](
      ((299 * 10 + 587 * 20 + 114 * 30 + 500) / 1000).toByte,
      ((299 * 40 + 587 * 50 + 114 * 60 + 500) / 1000).toByte))
    // P5 gray passes bytes through
    val p5 = "P5\n3 1\n255\n".getBytes("US-ASCII") ++ Array[Byte](7, 8, 9)
    assert(ImageCodec.decode(p5).get.pixels.toSeq == Seq[Byte](7, 8, 9))
    // BMP 24-bit, 2×2, bottom-up, rows padded to 4 bytes (2*3 → 8):
    // stored rows: [bottom: px(0,1) BGR…] then [top] — decoder flips
    def bmp(h: Int): Array[Byte] = {
      val header = new Array[Byte](54)
      header(0) = 'B'; header(1) = 'M'
      header(10) = 54 // data offset
      header(14) = 40 // DIB size
      header(18) = 2  // width
      val hh = if (h < 0) Array[Byte](-2, -1, -1, -1) else Array[Byte](2, 0, 0, 0)
      System.arraycopy(hh, 0, header, 22, 4)
      header(26) = 1  // planes
      header(28) = 24 // bits
      // gray pixels so luma is identity: rowA = [1, 2], rowB = [3, 4]
      def row(a: Byte, b: Byte) =
        Array[Byte](a, a, a, b, b, b, 0, 0) // BGR,BGR + 2 pad bytes
      header ++ (if (h < 0) row(1, 2) ++ row(3, 4) // top-down: A first
        else row(3, 4) ++ row(1, 2))               // bottom-up: B first
    }
    assert(ImageCodec.decode(bmp(2)).get.pixels.toSeq ==
      Seq[Byte](1, 2, 3, 4), "bottom-up BMP rows not flipped")
    assert(ImageCodec.decode(bmp(-2)).get.pixels.toSeq ==
      Seq[Byte](1, 2, 3, 4), "top-down BMP misread")
    // rejects: wrong magic, 16-bit maxval, truncated raster, 8-bit BMP
    assert(ImageCodec.decode("JFIF0000".getBytes).isEmpty)
    assert(ImageCodec.decode(
      ("P6\n1 1\n65535\n".getBytes("US-ASCII") ++
        Array[Byte](1, 2, 3, 4, 5, 6)))
      .isEmpty, "2-byte-sample PPM must be rejected")
    assert(ImageCodec.decode(
      "P6\n4 4\n255\n12".getBytes("US-ASCII")).isEmpty, "truncated raster")
    val bad = bmp(2); bad(28) = 8
    assert(ImageCodec.decode(bad).isEmpty, "paletted BMP must be rejected")
    // undecodable payloads pass through decodeGrayOrSelf unchanged
    val raw = Array[Byte](9, 9, 9)
    assert(ImageCodec.decodeGrayOrSelf(raw) eq raw)
  }

  test("decodeFeatures: real dims + quadrant means for PPM/BMP, stub fold otherwise") {
    import Multimodal.MediaRow
    // 2×2 gray image with quadrant values 0, 100, 200, 40
    val ppm = graft.plans.ImageCodec.encodePpmGray(
      Array[Byte](0, 100, 200.toByte, 40))
    // encodePpmGray picks h=4,w=1 for len 4 — build a true 2×2 by hand
    val p6 = "P6\n2 2\n255\n".getBytes("US-ASCII") ++
      Array[Byte](0, 0, 0, 100, 100, 100, 200.toByte, 200.toByte,
        200.toByte, 40, 40, 40)
    val rows = Seq(
      MediaRow(1L, "image", p6, 0, 0, "image/ppm"),
      MediaRow(2L, "blob", Array[Byte](1, 2, 3, 4), 9, 9, "fake/raw"))
    val out = rows.map(Multimodal.decodeOne).map(f => f.id -> f).toMap
    // real branch: header dims win over the metadata columns
    assert(out(1L).width == 2 && out(1L).height == 2)
    assert(out(1L).embedding.toSeq == Seq(0f, 100 / 255.0f, 200 / 255.0f,
      40 / 255.0f))
    // stub branch: metadata passes through, byte-fold embedding
    assert(out(2L).width == 9 && out(2L).height == 9)
    assert(out(2L).embedding.toSeq ==
      Seq(1 / 255.0f, 2 / 255.0f, 3 / 255.0f, 4 / 255.0f))
    assert(ppm.length == 11 + 12) // and the encoder emits 1×4 as doc'd
  }

  test("repetitionSignals: hand-computed fractions, runs, 1-token edge") {
    import graft.operators.TextStats
    val docs = Seq(
      // tokens [a,a,a,b,a,b]: 6 tokens, 2 distinct → dup 0.6667;
      // bigrams [aa,aa,ab,ba,ab] → top 2 of 5 → 0.4; longest run 3
      (1L, "a a a b a b"),
      (2L, "unique words only here"), // no repeats: dup 0, top frac 1/3
      (3L, "solo")                    // 1 token: no bigrams, NULL frac
    ).toDF("doc_id", "text")
    val out = TextStats.repetitionSignals(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getDouble(2), r.getLong(3), r.getLong(4),
          Option(r.get(5)).map(_.asInstanceOf[Double]), r.getLong(6)))).toMap
    assert(out(1L) == ((6, 0.6667, 2L, 5L, Some(0.4), 3L)))
    assert(out(2L) == ((4, 0.0, 1L, 3L, Some(0.3333), 1L)))
    assert(out(3L) == ((1, 0.0, 0L, 0L, None, 1L)))
  }

  test("phash60/dhash60: hand-computed hashes, empty payload → 0") {
    // 60 bytes 0..59: cell j = byte j, global mean 29.5 → bits 30..59
    val inc60 = Array.tabulate[Byte](60)(_.toByte)
    // 61 bytes strictly increasing: every dHash gradient bit fires
    val inc61 = Array.tabulate[Byte](61)(_.toByte)
    val df = Seq((1L, inc60), (2L, inc61), (3L, Array.empty[Byte]))
      .toDF("id", "payload")
    val out = Multimodal.phashFeatures(df).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L)._1 == (1L << 60) - (1L << 30))
    assert(out(2L)._2 == (1L << 60) - 1)
    assert(out(3L) == ((0L, 0L)))
    // constant buffer: every cell mean == global mean → all aHash bits
    // set (>= threshold), no dHash bit set (no strict increase)
    val const = Seq((9L, Array.fill[Byte](120)(7))).toDF("id", "payload")
    val c = Multimodal.phashFeatures(const).head()
    assert(c.getLong(1) == (1L << 60) - 1 && c.getLong(2) == 0L)
  }

  test("phashPairs: exact dups collapse to one rep; intra pairs hamming 0") {
    // payload A duplicated 3×, near-A (one byte nudged), and far B
    val a = "the quick brown fox jumps over the lazy dog again and again"
    // uppercase one word: its cells' byte means drop by 32 — flips a
    // few aHash bits (hamming 8) but stays within banding reach
    val nearA = a.replace("and again", "AND AGAIN")
    val b = "z" * 60
    val media = Multimodal.attachBinary(
      Seq((1L, a), (2L, a), (3L, a), (4L, nearA), (5L, b))
        .toDF("doc_id", "text"), "doc_id", "text")
    // rep-collapse bound: 3 distinct payloads → 3 banding reps
    val sigs = media.select(col("id"), md5(col("payload")).as("gid"),
      graft.plans.GraftFunctions.phash60(spark, col("payload")).as("simhash"))
    val st = graft.operators.Dedup.bandedSketchStages(sigs, maxHamming = 12)
    assert(st.reps.count() == 3)
    val pairs = Multimodal.phashPairs(media, maxHamming = 12).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    // the 3 exact copies yield C(3,2)=3 intra pairs at hamming 0
    assert(pairs((1L, 2L)) == 0 && pairs((1L, 3L)) == 0 &&
      pairs((2L, 3L)) == 0)
    // near-A pairs with EVERY member of the A group at exactly the
    // feature-level aHash hamming distance
    val f = Multimodal.phashFeatures(media).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expH = java.lang.Long.bitCount(f(1L) ^ f(4L))
    assert(expH > 0 && expH <= 12, s"fixture drifted: hamming $expH")
    assert(pairs.get((1L, 4L)).contains(expH) &&
      pairs.get((2L, 4L)).contains(expH) &&
      pairs.get((3L, 4L)).contains(expH))
    // far B pairs with nothing
    assert(!pairs.keySet.exists(k => k._1 == 5L || k._2 == 5L))

    // clusters == CC over the expanded pair graph, gid-level rounds:
    // {1,2,3,4} collapse to cluster 1; 5 is unpaired so absent
    val cl = Multimodal.phashClusters(media, maxHamming = 12).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cl == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    val viaPairs = graft.operators.Dedup.duplicateClusters(
      Multimodal.phashPairs(media, maxHamming = 12), "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cl == viaPairs, "gid-level CC diverged from expanded-pair CC")
  }

  test("frameNearDupPairs: cross-doc frame matches only, exact-dup frames at 0") {
    // docs 1 and 2 share an identical first 256-byte frame; doc 2's
    // second frame differs; doc 3 is unrelated
    val shared = "x" * 200 + "the quick brown fox jumps over dogs " +
      "and hounds in the winter den with haste" // > 256 bytes total
    val media = Multimodal.attachBinary(Seq(
      (1L, shared),
      (2L, shared + " completely different tail content here at the end"),
      (3L, "z" * 300)
    ).toDF("doc_id", "text"), "doc_id", "text")
    val out = Multimodal.frameNearDupPairs(media, frameBytes = 256,
        maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getInt(3), r.getInt(4)))
    // the shared frame 0 pairs across docs 1 and 2 at hamming 0
    assert(out.exists(p => p == ((1L, 0, 2L, 0, 0))),
      s"shared frame not found in ${out.toSeq}")
    // no same-doc pairs ever
    assert(out.forall(p => p._1 != p._3))
    // doc 3's constant-byte frames never pair with text frames
    assert(!out.exists(p => p._1 == 3L || p._3 == 3L))
  }

  test("multimodal: batched decode stub produces deterministic features") {
    val media = Multimodal.attachBinary(
      Seq((1L, "abcd"), (2L, "abcd"), (3L, "zzzz")).toDF("doc_id", "text"),
      "doc_id", "text")
    val out = Multimodal.decodeFeatures(media).collect()
      .map(f => f.id -> f.embedding.toSeq).toMap
    assert(out(1L) == out(2L))       // same bytes → same features
    assert(out(1L) != out(3L))
    assert(out(1L).length == 4)
  }

  test("duplicateNgramFraction: shared 5-grams count, short docs drop") {
    val df = Seq(
      (1L, "a b c d e f"),        // 5-grams: "a b c d e", "b c d e f"
      (2L, "a b c d e zz"),       // shares "a b c d e" with doc 1
      (3L, "p q r s t"),          // unique single 5-gram
      (4L, "x y z")               // < 5 tokens: absent from output
    ).toDF("doc_id", "text")
    val out = graft.operators.TextStats
      .duplicateNgramFraction(df, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out(1L) == ((2L, 0.5)))
    assert(out(2L) == ((2L, 0.5)))
    assert(out(3L) == ((1L, 0.0)))
    assert(!out.contains(4L))
  }

  test("duplicateNgramFraction: a repeated doc_id raises; unique ids keep their values") {
    val unique = Seq((1L, "a b c d e f"), (2L, "a b c d e zz"), (3L, "p q r s t"))
    def run(rows: Seq[(Long, String)]) = graft.operators.TextStats
      .duplicateNgramFraction(rows.toDF("doc_id", "text"), "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(run(unique) == Map(1L -> ((2L, 0.5)), 2L -> ((2L, 0.5)), 3L -> ((1L, 0.0))))
    // doc 3 again, same text and other text: without the guard its
    // unique 5-gram would read as duplicated (dup_frac 1.0)
    Seq("p q r s t", "u v w x y z").foreach { again =>
      val ex = intercept[Exception](run(unique :+ ((3L, again))))
      assert(ex.getMessage.contains("duplicateNgramFraction: a doc_id repeats"),
        ex.getMessage)
    }
    // a repeated id whose other row is shorter than n yields no gram: no
    // gram is counted twice, so it passes
    assert(run(unique :+ ((3L, "x y"))) == run(unique))
  }

  test("duplicateNgramFraction: within-doc repeats are not contamination") {
    // doc repeats its own 5-gram twice but shares nothing cross-doc
    val df = Seq((1L, "a b c d e a b c d e"), (2L, "k l m n o"))
      .toDF("doc_id", "text")
    val out = graft.operators.TextStats
      .duplicateNgramFraction(df, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out(1L) == 0.0)
    assert(out(2L) == 0.0)
  }

  // 64-char constant frames give exact, hand-computable energies:
  // ' ' = 2048, 'a' = 6208, 'x' = 7680, 'z' = 7808
  private def fr(c: Char) = c.toString * 64

  test("audioFp kernel: peaks, landmark encoding, distinctness") {
    import spark.implicits._
    def fps(s: String): Seq[Long] = Seq(s).toDF("t")
      .select(graft.plans.GraftFunctions.audioFp(spark,
        encode(col("t"), "UTF-8"), 64, 3, 8, 1024).as("f"))
      .collect().head.getSeq[Long](0)
    // frames [' ','z','a','x',' ']: peaks at 1 (7808) and 3 (7680),
    // dt 2 -> fp = (7*16 + 7)*9 + 2 = 1073
    assert(fps(fr(' ') + fr('z') + fr('a') + fr('x') + fr(' ')) == Seq(1073L))
    // repeating the motif yields the SAME landmark (distinct set) plus
    // the cross-motif ones; 1073 appears exactly once
    val rep = fps((fr(' ') + fr('z') + fr('a') + fr('x')) * 2 + fr(' '))
    assert(rep.count(_ == 1073L) == 1 && rep.size > 1)
    // plateaus are not strict maxima; < 3 frames -> empty
    assert(fps(fr('z') * 5).isEmpty && fps(fr('z')).isEmpty)
    // partial tail frame is dropped: appending 63 'z's changes nothing
    val base = fr(' ') + fr('z') + fr('a') + fr('x') + fr(' ')
    assert(fps(base + "z" * 63) == fps(base))
  }

  test("audioMatches: shared-landmark top-k, df-cap drops stop-landmarks") {
    import spark.implicits._
    val motifA = fr(' ') + fr('z') + fr('a') + fr('x') + fr(' ')  // fp 1073
    // 'm' (109*64 = 6976 -> q6) gives a different landmark: (6,7,2)
    val motifC = fr(' ') + fr('m') + fr('a') + fr('x') + fr(' ')
    val docs = Seq(
      (1L, motifA),            // query: matches 10 and 11, not 12
      (10L, motifA + motifA),  // corpus: shares fp 1073
      (11L, motifA),           // corpus: shares fp 1073
      (12L, motifC)            // corpus: different landmark
    ).toDF("doc_id", "text")
    val media = graft.operators.Multimodal.attachBinary(docs, "doc_id", "text")
    val out = graft.operators.Multimodal.audioMatches(
        media.where(col("id") < 10), media.where(col("id") >= 10),
        k = 3, maxDf = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // ties on n_shared=1 -> deterministic id order
    assert(out == Set((1L, 10L, 1), (1L, 11L, 2)))
    // a df-cap of 2 kills the shared landmark (it appears in 3 tracks)
    val capped = graft.operators.Multimodal.audioMatches(
      media.where(col("id") < 10), media.where(col("id") >= 10),
      k = 3, maxDf = 2)
    assert(capped.count() == 0)
  }

  test("sceneCuts: identical frames never cut; a mass shift does; short media skip") {
    val steady = "a" * 512                             // 2 identical frames
    val change = ("a" * 256) + ("a" * 128 + "z" * 128) // frame 1 re-shapes
    val docs = Seq((1L, steady), (2L, change), (3L, "a" * 100))
      .toDF("doc_id", "text")
    val media = Multimodal.attachBinary(docs, "doc_id", "text")
    val out = Multimodal.sceneCuts(media, frameBytes = 256, minHamming = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq
    // id 1: equal hashes → hamming 0 < 1; id 3: single frame → no pair
    assert(out.map(_._1).toSet == Set(2L))
    assert(out.length == 1 && out.head._2 == 1)
    // all-'a' frame hashes all-ones (every cell == its own mean); the
    // half-z frame zeroes the cells below its mean — a wide hamming gap
    assert(out.head._3 >= 25)
    // threshold is honored verbatim
    assert(Multimodal.sceneCuts(media, frameBytes = 256,
      minHamming = out.head._3 + 1).count() == 0)
  }

  test("readability: vowel-run syllables, punct-run sentences, Flesch") {
    val docs = Seq(
      (1L, "hello world. this is a test!"), // 6 words, 2 sents, 7 syll
      (2L, "wait... what"),                 // ellipsis = ONE sentence run
      (3L, "pfft"),                         // vowel-less token → min 1 syll
      (4L, "")                              // empty → dropped
    ).toDF("doc_id", "text")
    val out = graft.operators.TextStats.readability(docs, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))).toMap
    assert(!out.contains(4L))
    assert(out(1L)._1 == 6L && out(1L)._2 == 2L && out(1L)._3 == 7L)
    // 206.835 − 1.015·(6/2) − 84.6·(7/6)
    assert(out(1L)._4 == BigDecimal(206.835 - 1.015 * 3.0 - 84.6 * (7.0 / 6))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(out(2L)._2 == 1L && out(2L)._3 == 2L)
    assert(out(3L) == ((1L, 1L, 1L,
      BigDecimal(206.835 - 1.015 - 84.6)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)))
  }
}
