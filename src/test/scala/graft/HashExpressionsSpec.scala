package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.{HashOps, VectorFunctions}
import graft.functions.TextFunctions
import org.apache.spark.unsafe.types.UTF8String

/** Property tests for the native expressions against independent
  * reference implementations, on generated inputs including the edge
  * cases the real corpus never exercises (empty strings, single chars,
  * irregular whitespace, non-ASCII code points). */
class HashExpressionsSpec extends SparkSpec {
  import spark.implicits._

  private val P = 2147483647L

  private def refPolyHash(s: String, mult: Long, init: Long): Long = {
    var h = init
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h = (h * mult + cp) % P
      i += Character.charCount(cp)
    }
    h
  }

  private def refTokens(s: String): Seq[String] =
    s.split(" ", -1).toSeq.filter(_.nonEmpty)

  private def refShingles(s: String, n: Int): Seq[Long] = {
    val toks = refTokens(s)
    toks.sliding(n).filter(_.length == n)
      .map(g => refPolyHash(g.mkString(" "), 31L, 0L))
      .toSeq.distinct
  }

  private val textGen: Gen[String] = {
    val word = Gen.choose(1, 6).flatMap(n =>
      Gen.listOfN(n, Gen.frequency(
        8 -> Gen.alphaLowerChar,
        1 -> Gen.oneOf('é', 'ß', '中', '9'))).map(_.mkString))
    Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, word))
      .map(_.mkString(" "))
      .flatMap(s => Gen.oneOf(s, s" $s", s"$s ", s.replace(" ", "  ")))
  }

  private def samples(from: Long, until: Long): Seq[String] =
    (from until until).map(seed =>
      textGen.pureApply(Gen.Parameters.default, Seed(seed))) ++
      Seq("", " ", "a", "a b", "a  b ", "中 文 字 符", "x" * 500)

  test("HashOps.polyHash matches the reference fold on arbitrary strings") {
    samples(0, 300).foreach { s =>
      assert(HashOps.polyHash(UTF8String.fromString(s), 31L, 0L) ==
        refPolyHash(s, 31L, 0L), s"polyHash(${s.take(30)})")
      assert(HashOps.polyHash(UTF8String.fromString(s), 37L, 7L) ==
        refPolyHash(s, 37L, 7L))
    }
  }

  test("HashOps.polyHashLong is bit-identical to polyHash of the decimal string") {
    val edge = Seq(0L, 1L, 9L, 10L, 99L, 100L, -1L, -10L, 12345678901234L,
      Long.MaxValue, Long.MinValue, Long.MinValue + 1)
    val gen = (0 until 300).map(i => HashOps.mix32(i.toLong * 2654435761L) *
      (if (i % 3 == 0) -1 else 1))
    (edge ++ gen).foreach { v =>
      val s = UTF8String.fromString(v.toString)
      assert(HashOps.polyHashLong(v, 31L, 0L) == HashOps.polyHash(s, 31L, 0L),
        s"polyHashLong($v) mult=31")
      assert(HashOps.polyHashLong(v, 37L, 7L) == HashOps.polyHash(s, 37L, 7L),
        s"polyHashLong($v) mult=37")
    }
  }

  test("HashOps.shingleHashes matches tokenize+slide+hash+distinct on arbitrary strings") {
    samples(300, 600).foreach { s =>
      val got = HashOps.shingleHashes(UTF8String.fromString(s), 3, 31L, 0L)
        .toLongArray().toSeq
      assert(got == refShingles(s, 3), s"shingleHashes(${s.take(30)})")
    }
  }

  test("native expressions equal HOF column algebra on irregular-whitespace rows") {
    val df = samples(600, 700).toDF("text")
    val bad = df.select(
        TextFunctions.polyHash(col("text")).as("nh"),
        HofFormulations.polyHashHof(col("text")).as("hh"),
        TextFunctions.shingleCodes(col("text"), 3).as("nc"),
        HofFormulations.shingleCodesHof(col("text"), 3).as("hc"))
      .filter(col("nh") =!= col("hh") || col("nc") =!= col("hc"))
      .count()
    assert(bad == 0)
  }

  test("minHashSig and simHash31 match per-element reference math") {
    samples(700, 800).foreach { s =>
      val codes = refShingles(s, 3)
      val arr = org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(codes.toArray)
      val sig = HashOps.minHashSig(arr, 16).toLongArray()
      (0 until 16).foreach { i =>
        val expect =
          if (codes.isEmpty) Long.MaxValue
          else codes.map(x => (x * (2 * i + 1) + 104729L * i + 12345L) % P).min
        assert(sig(i) == expect)
      }
      val sh = HashOps.simHash31(arr)
      (0 until 31).foreach { b =>
        val votes = codes.map(x => ((x >> b) & 1L) * 2 - 1).sum
        assert(((sh >> b) & 1L) == (if (votes > 0) 1L else 0L))
      }
    }
  }

  test("dot_product: SQL surface, zero-vector sign semantics") {
    Graft.registerFunctions(spark)
    val r = spark.sql(
      """SELECT dot_product(array(1.0F, 2.0F), array(3.0F, 4.0F)) AS d,
        |       dot_product(array(0.0F, 0.0F), array(3.0F, 4.0F)) AS z""".stripMargin).head()
    assert(r.getDouble(0) == 11.0)
    assert(r.getDouble(1) == 0.0) // well-defined (cosine would be NaN)
  }

  test("TokenStats equals the five HOF statistics on irregular input") {
    // the fused expression replaced five interpreted lambdas + a
    // per-token rlike in the hot corpus scans; this pins them equal on
    // generated strings with empty tokens, non-ASCII, repeated words
    val stopEn = graft.operators.TextAnalysis.stop("en")
    val df = samples(800, 900).toDF("text")
    val t = TextFunctions.tokens(col("text"))
    val ts = TextFunctions.tokenStatsArr(col("text"), stopEn)
    val bad = df.select(
        ts.as("ts"),
        size(t).cast("long").as("h1"),
        aggregate(t, lit(0L), (a, x) => a + length(x)).as("h2"),
        size(array_distinct(t)).cast("long").as("h3"),
        size(filter(t, x => x.isin(stopEn.map(w => w: Any): _*))).cast("long").as("h4"),
        size(filter(t, x => x.rlike("^[a-z]+$"))).cast("long").as("h5"))
      .filter(element_at(col("ts"), 1) =!= col("h1") ||
        element_at(col("ts"), 2) =!= col("h2") ||
        element_at(col("ts"), 3) =!= col("h3") ||
        element_at(col("ts"), 4) =!= col("h4") ||
        element_at(col("ts"), 5) =!= col("h5"))
      .count()
    assert(bad == 0)
  }

  test("CharBigrams equals the transform/element_at HOF form on arbitrary strings") {
    // element-identical on every input including surrogate pairs and
    // irregular whitespace — the native path replaced the HOF chain in
    // the char-LM hot scan, so divergence anywhere is a correctness bug
    val df = (samples(400, 600) ++ Seq("😀x😀", "a😀b", "ab", "a", ""))
      .toDF("text")
    val hof = expr("""CASE WHEN size(cs) >= 2
        THEN transform(sequence(1, size(cs) - 1),
          i -> concat(element_at(cs, i), element_at(cs, i + 1)))
        ELSE array() END""")
    val diverged = df
      .withColumn("cs", TextFunctions.chars(col("text")))
      .withColumn("hof", hof)
      .withColumn("nat", TextFunctions.charBigrams(col("text")))
      .filter(not(col("hof") <=> col("nat")))
      .count()
    assert(diverged == 0)
  }

  test("WordGramBuckets equals the md5-conv chain over tokens ++ bigrams") {
    // the fused DSIR feature→bucket feed replaced the composed
    // explode/md5/conv chain in the weights/model hot scans —
    // divergence anywhere would silently shift every importance weight
    val df = (samples(700, 900) ++ Seq("a b c", "a", "", "  ", "a  b"))
      .toDF("text")
    val toks = TextFunctions.tokens(col("text"))
    val feats = concat(toks, TextFunctions.shingles(toks, 2))
    def composed(buckets: Int) = transform(feats,
      f => conv(substring(md5(f), 1, 4), 16, 10).cast("long") % buckets)
    val diverged = df
      .withColumn("h256", composed(256))
      .withColumn("n256", TextFunctions.wordGramBuckets(col("text"), 256))
      .withColumn("h101", composed(101))
      .withColumn("n101", TextFunctions.wordGramBuckets(col("text"), 101))
      .filter(not(col("h256") <=> col("n256")) ||
        not(col("h101") <=> col("n101")))
      .count()
    assert(diverged == 0)
  }

  test("RepetitionCounts equals the exploded gram group-count chain") {
    // the fused per-doc pass replaced the corpus-gram explode in
    // text_repetition — a count divergence would silently flip the
    // Gopher keep/drop verdicts
    def refCounts(s: String): Seq[Long] = {
      val toks = refTokens(s)
      def counts(n: Int) = toks.sliding(n).filter(_.length == n)
        .map(_.mkString(" ")).toSeq.groupBy(identity).values.map(_.size)
      val c2 = if (toks.length >= 2) counts(2) else Nil
      val c3 = if (toks.length >= 3) counts(3) else Nil
      Seq(if (c2.isEmpty) 0L else c2.max.toLong,
        math.max(toks.length - 1, 0).toLong,
        c3.filter(_ > 1).map(_.toLong).sum,
        math.max(toks.length - 2, 0).toLong)
    }
    val docs = samples(700, 900) ++ Seq(
      "", " ", "a", "a b", "a b a b a b", "x x x", "a  b   a  b")
    val diverged = docs.toDF("text")
      .withColumn("native", TextFunctions.repetitionCounts(col("text")))
      .collect()
      .count { r =>
        val native = r.getSeq[Long](1)
        native != refCounts(r.getString(0))
      }
    assert(diverged == 0)
  }

  test("CharEntropyStats equals the exploded sorted-fold chain bit-for-bit") {
    // the fused pass replaced the per-character explode in
    // text_char_entropy; the Σ cnt·ln(cnt) DOUBLE must match the
    // array_sort + aggregate-HOF fold exactly (same order, same
    // Math.log terms) or the 6-decimal rounding can flip
    val df = (samples(500, 700) ++ Seq("", "a", "aa", "ab", "ßß中中中 x"))
      .toDF("text").withColumn("doc_id", monotonically_increasing_id())
    val composed = df
      .select(col("doc_id"), explode(TextFunctions.chars(col("text"))).as("c"))
      .groupBy(col("doc_id"), col("c")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n"), count(lit(1)).as("d"),
        array_sort(collect_list(struct(col("c"), col("cnt")))).as("cs"))
      .select(col("doc_id"), col("n"), col("d"),
        aggregate(col("cs"), lit(0.0), (acc, e) =>
          acc + e.getField("cnt").cast("double") *
            log(e.getField("cnt").cast("double"))).as("s"))
    val fused = df
      .select(col("doc_id"),
        TextFunctions.charEntropyStats(col("text")).as("es"))
      .where(col("es.n") > 0)
      .select(col("doc_id"), col("es.n").as("n"),
        col("es.n_distinct").as("d"), col("es.sum_cnt_ln_cnt").as("s"))
    assert(composed.exceptAll(fused).isEmpty && fused.exceptAll(composed).isEmpty)
  }

  test("TokenProfileHits equals per-profile isin filters on irregular input") {
    val profiles = Seq(Seq("the", "a", "of"), Seq("der", "und"), Seq("中"))
    val df = samples(900, 1000).toDF("text")
    val t = TextFunctions.tokens(col("text"))
    val h = TextFunctions.tokenProfileHits(col("text"), profiles)
    val bad = df.select(h.as("h") +:
        profiles.zipWithIndex.map { case (p, i) =>
          size(filter(t, x => x.isin(p.map(w => w: Any): _*)))
            .cast("long").as(s"f$i")
        }: _*)
      .filter(profiles.indices
        .map(i => element_at(col("h"), i + 1) =!= col(s"f$i"))
        .reduce(_ || _))
      .count()
    assert(bad == 0)
  }

  test("NgramProfileHits counts trigram hits per profile") {
    val hits = graft.functions.NgramProfileHits(
      org.apache.spark.sql.graft.ColumnBridge.expression(col("text")),
      3, Seq(Seq("abc", "bcd"), Seq("xyz")))
    val got = Seq("abcd", "xyzabc", "ab", "").toDF("text")
      .select(org.apache.spark.sql.graft.ColumnBridge.column(hits).as("h"))
      .collect().map(_.getSeq[Long](0).toSeq)
    assert(got(0) == Seq(2L, 0L)) // abc + bcd
    assert(got(1) == Seq(1L, 1L)) // abc (at pos 4) + xyz
    assert(got(2) == Seq(0L, 0L)) // too short
    assert(got(3) == Seq(0L, 0L)) // empty
  }

  test("zorder2 matches a bit-by-bit Morton reference and is SQL-callable") {
    def ref(a: Long, b: Long): Long = {
      var z = 0L
      (0 until 32).foreach { i =>
        z |= ((a >> i) & 1L) << (2 * i)
        z |= ((b >> i) & 1L) << (2 * i + 1)
      }
      z
    }
    val edge = Seq(0L, 1L, 2L, 3L, 63L, 64L, 1023L, 1024L, 65535L, 65536L,
      (1L << 31) - 1, (1L << 32) - 1, (1L << 32) + 7 /* mod-2^32 wrap */)
    val rnd = new scala.util.Random(42)
    val pairs = (for (a <- edge; b <- edge) yield (a, b)) ++
      Seq.fill(200)((rnd.nextLong().abs, rnd.nextLong().abs))
    pairs.foreach { case (a, b) =>
      assert(HashOps.zorder2(a, b) == ref(a & 0xFFFFFFFFL, b & 0xFFFFFFFFL),
        s"zorder2($a, $b)")
    }
    // monotone locality on one dimension at fixed other
    assert(HashOps.zorder2(5, 9) < HashOps.zorder2(6, 9))
    // SQL surface (codegen path) agrees with the direct call
    VectorFunctions.register(spark)
    val rows = Seq((3L, 5L), (1023L, 0L)).toDF("a", "b")
      .selectExpr("zorder2(a, b) AS z").collect().map(_.getLong(0))
    assert(rows.toSeq == Seq(HashOps.zorder2(3, 5), HashOps.zorder2(1023, 0)))
  }

  test("zorderN: k=2 equals zorder2; k=3 equals the magic-mask dilation rounds") {
    // the generic bit loop must be value-identical to the per-k
    // shift-mask sequences — the 3-D oracle replays THOSE in SQL, so a
    // divergence here is a silent oracle desync
    def spread3(x0: Long): Long = {
      var x = x0 & 0x1FFFFFL
      x = (x | (x << 32)) & 0x1F00000000FFFFL
      x = (x | (x << 16)) & 0x1F0000FF0000FFL
      x = (x | (x << 8)) & 0x100F00F00F00F00FL
      x = (x | (x << 4)) & 0x10C30C30C30C30C3L
      x = (x | (x << 2)) & 0x1249249249249249L
      x
    }
    val rnd = new scala.util.Random(7)
    (1 to 2000).foreach { _ =>
      val a = rnd.nextLong() & 0x7FFFFFFFL // 31-bit (the k=2 lane width)
      val b = rnd.nextLong() & 0x7FFFFFFFL
      assert(HashOps.zorderN(Array(a, b)) == HashOps.zorder2(a, b),
        s"k=2 pack diverged from zorder2 at ($a, $b)")
      val (x, y, z) = (a & 0x1FFFFFL, b & 0x1FFFFFL, rnd.nextLong() & 0x1FFFFFL)
      assert(HashOps.zorderN(Array(x, y, z)) ==
        (spread3(x) | (spread3(y) << 1) | (spread3(z) << 2)),
        s"k=3 pack diverged from the magic rounds at ($x, $y, $z)")
    }
    // SQL surface
    VectorFunctions.register(spark)
    val got = Seq((5L, 3L, 1L)).toDF("a", "b", "c")
      .selectExpr("zorder_n(array(a, b, c)) AS z").head().getLong(0)
    assert(got == HashOps.zorderN(Array(5L, 3L, 1L)))
    // a NULL dimension must fail LOUDLY: ArrayData reads a null slot
    // as 0, which would silently assign the row coordinate 0 (wrong
    // tile, oracle divergence on any data with nulls)
    val e = intercept[Exception] {
      Seq((5L, 3L)).toDF("a", "b")
        .selectExpr("zorder_n(array(a, CAST(NULL AS BIGINT), b))").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("NULL dimension value")), e)
  }

  test("hilbertN is a bijection with unit-step adjacency in 2-D and 3-D") {
    // THE Hilbert property, exhaustively: consecutive indices move by
    // exactly one step in exactly one dimension — so ANY contiguous
    // key range maps to a connected compact region (what file-range
    // cuts of a clustered layout actually read)
    for ((k, b) <- Seq((2, 5), (3, 3))) {
      val n = 1L << b
      val total = math.pow(n.toDouble, k.toDouble).toLong
      val byIndex = new Array[Array[Long]](total.toInt)
      def walk(prefix: List[Long]): Unit =
        if (prefix.length == k) {
          val coords = prefix.reverse.toArray
          val d = HashOps.hilbertN(coords, b)
          assert(d >= 0 && d < total, s"k=$k index $d out of range")
          assert(byIndex(d.toInt) == null, s"k=$k index $d hit twice")
          byIndex(d.toInt) = coords
        } else (0L until n).foreach(v => walk(v :: prefix))
      walk(Nil)
      (0 until total.toInt - 1).foreach { d =>
        val steps = byIndex(d).zip(byIndex(d + 1))
          .map { case (p, q) => math.abs(p - q) }.sum
        assert(steps == 1L,
          s"k=$k: indices $d -> ${d + 1} jump ${byIndex(d).toSeq} -> ${byIndex(d + 1).toSeq}")
      }
    }
    // SQL surface (default b=10)
    VectorFunctions.register(spark)
    val got = Seq((3L, 5L, 7L)).toDF("a", "b", "c")
      .selectExpr("hilbert_n(array(a, b, c), 4) AS h").head().getLong(0)
    assert(got == HashOps.hilbertN(Array(3L, 5L, 7L), 4))
    // k·b beyond a positive long must die loudly, not truncate MSB
    // planes into a non-injective key
    val e = intercept[Exception] {
      Seq((1L, 2L, 3L, 4L)).toDF("a", "b", "c", "d")
        .selectExpr("hilbert_n(array(a, b, c, d), 16)").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("exceeds a positive long")), e)
  }

  test("the 3-D hilbert oracle's simultaneous-step formulation equals hilbertN on the full grid") {
    // the DuckDB oracle unrolls Skilling's walk one CTE per
    // (bit-plane, dimension) with SIMULTANEOUS column updates (each
    // CTE reads the previous CTE's values) and replaces the transpose
    // with a 3-way Morton interleave — this reference IS that
    // formulation, checked against HashOps.hilbertN over every cell
    // of the oracle's 128^3 grid, so the oracle algebra cannot
    // silently drift from the native expression
    val b = 7
    val m = 1L << (b - 1)
    def sqlForm(pa: Long, pb: Long, pc: Long): Long = {
      var (x0, x1, x2) = (pa, pb, pc)
      var q = m
      while (q > 1) {
        val p = q - 1
        x0 = if ((x0 & q) != 0) x0 ^ p else x0 // i=0: else-branch t is 0
        val t1 = if ((x1 & q) != 0) 0L else (x0 ^ x1) & p
        val (n0a, n1) = if ((x1 & q) != 0) (x0 ^ p, x1) else (x0 ^ t1, x1 ^ t1)
        x0 = n0a; x1 = n1
        val t2 = if ((x2 & q) != 0) 0L else (x0 ^ x2) & p
        val (n0b, n2) = if ((x2 & q) != 0) (x0 ^ p, x2) else (x0 ^ t2, x2 ^ t2)
        x0 = n0b; x2 = n2
        q >>= 1
      }
      val g1 = x1 ^ x0
      val g2 = x2 ^ (x1 ^ x0) // simultaneous: reads the pre-gray x1
      x1 = g1; x2 = g2
      var t = 0L
      q = m
      while (q > 1) { if ((x2 & q) != 0) t ^= q - 1; q >>= 1 }
      x0 ^= t; x1 ^= t; x2 ^= t
      def spread3(v0: Long): Long = {
        var v = v0 & 0x1FFFFFL
        v = (v | (v << 32)) & 0x1F00000000FFFFL
        v = (v | (v << 16)) & 0x1F0000FF0000FFL
        v = (v | (v << 8)) & 0x100F00F00F00F00FL
        v = (v | (v << 4)) & 0x10C30C30C30C30C3L
        v = (v | (v << 2)) & 0x1249249249249249L
        v
      }
      (spread3(x0) << 2) | (spread3(x1) << 1) | spread3(x2)
    }
    for (pa <- 0L until 128L; pb <- 0L until 128L; pc <- 0L until 128L) {
      val want = HashOps.hilbertN(Array(pa, pb, pc), b)
      val got = sqlForm(pa, pb, pc)
      assert(got == want, s"oracle form diverged at ($pa,$pb,$pc): $got != $want")
    }
  }

  test("BloomMightContain equals the column-algebra probe cascade, codegen and interpreted") {
    import graft.operators.Sketches
    // a bitset with a deterministic scatter of set bits
    val words = Array.tabulate(1024)(i => (i * 0x9E3779B97F4A7C15L) | (1L << (i % 32)))
      .map(_ & 0xFFFFFFFFL) // 32-bit words, as the builder packs them
    val bits = 32768L
    val keys = (0L until 2000L).toDF("key")
    val fused = org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.BloomMightContain(
        org.apache.spark.sql.graft.ColumnBridge.expression(col("key").cast("string")),
        words.toSeq, 4, bits))
    // reference: the original conjunction of per-probe element_at tests
    val probes = (0 until 4).map { i =>
      expr(s"shiftright(element_at(bloom_bits, CAST((h1 + ${i}L * h2) % $bits div 32 AS INT) + 1), " +
        s"CAST((h1 + ${i}L * h2) % $bits % 32 AS INT)) & 1 = 1")
    }.reduce(_ && _)
    val ref = keys
      .withColumn("h1", Sketches.hash32(col("key")))
      .withColumn("h2", Sketches.hash37(col("key")))
      .withColumn("bloom_bits", typedlit(words.toSeq))
      .select(col("key"), probes.as("hit"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    def run(): Map[Long, Boolean] = keys.select(col("key"), fused.as("hit"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(run() == ref)
    // interpreted path must agree bit-for-bit with codegen
    val prev = spark.conf.get("spark.sql.codegen.wholeStage")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try assert(run() == ref)
    finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
    // sanity: the scatter admits some keys and rejects others
    assert(ref.values.exists(identity) && ref.values.exists(!_))
  }

  test("AcAutomaton counts every occurrence, nested and overlapping included") {
    import graft.functions.AcAutomaton
    def naive(s: String, terms: Seq[String]): Long =
      terms.map(t => (0 to s.length - t.length).count(i => s.startsWith(t, i)).toLong)
        .sum
    val terms = graft.operators.TextAnalysis.Blocklist
    val ac = new AcAutomaton(terms)
    // the nested-term fixture: "slow" inside "scan slow", chained into
    // "slow query" — three matches share characters
    val s = "a scan slow query b"
    assert(naive(s, terms) == 3L)
    assert(ac.count(UTF8String.fromString(s)) == 3L)
    // property: equals the all-positions reference on random word salads
    val word = Gen.oneOf("scan", "slow", "query", "drop", "table", "hash",
      "join", "x", "slo", "lowq")
    val salad = Gen.chooseNum(0, 30).flatMap(n => Gen.listOfN(n, word))
      .map(_.mkString(" "))
    val texts = Gen.listOfN(300, salad)
      .apply(Gen.Parameters.default, Seed(42L)).get
    texts.foreach { t =>
      assert(ac.count(UTF8String.fromString(t)) == naive(t, terms), s"on '$t'")
    }
  }

  test("BlocklistHits equals the driver automaton on real data, codegen and interpreted") {
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    val ac = new graft.functions.AcAutomaton(graft.operators.TextAnalysis.Blocklist)
    val ref = docs.collect()
      .map(r => r.getLong(0) -> ac.count(UTF8String.fromString(r.getString(1))))
      .toMap
    def run(): Map[Long, Long] =
      graft.operators.TextAnalysis.blocklistHits(spark, sf0001)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run() == ref)
    val prev = spark.conf.get("spark.sql.codegen.wholeStage")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try assert(run() == ref)
    finally spark.conf.set("spark.sql.codegen.wholeStage", prev)
    // the fixture list actually fires on the corpus
    assert(ref.values.exists(_ > 0L))
  }

  test("blocklist scrub replaces longest-first and matches a literal-chain reference") {
    import graft.operators.TextAnalysis
    // longest-first order: "scan slow query" loses "slow query" as one
    // unit, leaving "scan " — the nested "slow"/"scan slow" never fire
    val chain = TextAnalysis.BlocklistScrubOrder
    def ref(s: String): String =
      chain.foldLeft(s)((acc, t) => acc.replace(t, ""))
    assert(ref("a scan slow query b") == "a scan  b")
    val got = TextAnalysis.blocklistScrub(spark, sf0001)
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getString(3))).toMap
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    docs.foreach { case (id, t) =>
      val exp = ref(t)
      assert(got(id) == (exp.length.toLong, exp), s"doc $id")
    }
    // the corpus actually shrinks somewhere
    assert(docs.exists { case (id, t) => got(id)._1 < t.length })
  }

  test("zorder tiles bound both dimensions' bounding boxes") {
    val tiles = graft.operators.Layout.zorderTiles(spark, sf0001).collect()
    assert(tiles.nonEmpty)
    tiles.foreach { r =>
      assert(r.getAs[Long]("bbox_cells") <= graft.operators.Layout.TileKeys,
        s"a z-range must cover one 64x64 tile, got $r")
    }
  }
}
