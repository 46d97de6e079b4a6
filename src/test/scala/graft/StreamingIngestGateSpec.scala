package graft

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.streaming.StreamingIngestGate

/** The streaming ingest gate must agree with the batch persisted-index
  * drill exactly: the same arriving documents, split across
  * micro-batches, produce the same per-document verdicts — because the
  * gate is stateless and each arrival is judged only against the
  * static corpus index, HOW the batch is chopped cannot change any
  * verdict. The gate additionally promises one verdict row per
  * arriving doc_id: docs with no shingleable content surface as
  * explicit no_content=true keeps instead of vanishing from the sink.
  * (The drill split is passed explicitly here — production gates use
  * the default full-corpus index.) */
class StreamingIngestGateSpec extends SparkSpec {

  /** Drill verdicts extended with the gate's no_content=false column
    * and its admit column (= keep for judged rows). */
  private def drillExpected: Set[Seq[String]] =
    Dedup.incrementalDedupPersisted(spark, sf0001)
      .collect().map(_.toSeq.map(String.valueOf))
      .map(s => s :+ "false" :+ s(3)).toSet

  test("micro-batched verdicts equal the batch drill, regardless of chopping") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val judged = drillExpected
    assert(judged.nonEmpty)

    val arrivals = Tables.documents(spark, sf0001)
      .filter(pmod(col("doc_id"), lit(Dedup.IncrementalBatchMod)) === 0)
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // every arrival the drill could not judge (unshingleable) must
    // surface as an explicit no-content keep
    val judgedIds = judged.map(_.head)
    // unjudgeable arrivals: dup-verdict keep=true but NEVER admitted
    val expected = judged ++ arrivals.map(_._1.toString).filterNot(judgedIds)
      .map(id => Seq(id, "0", "null", "true", "true", "false"))

    val input = MemoryStream[(Long, String)]
    val got = mutable.Buffer[Row]()
    val q = StreamingIngestGate.start(spark, sf0001,
      input.toDF().toDF("doc_id", "text"),
      corpusFilter = Dedup.drillCorpusFilter) { (verdict, _) =>
      got.synchronized { got ++= verdict.collect() }
    }
    try {
      // three uneven micro-batches — chopping must be invisible
      val chunks = Seq(
        arrivals.take(7),
        arrivals.slice(7, 40),
        arrivals.drop(40))
      chunks.filter(_.nonEmpty).foreach { c =>
        input.addData(c.toIndexedSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()

    val gotSet = got.map(_.toSeq.map(String.valueOf)).toSet
    assert(gotSet == expected,
      s"streaming gate diverged: got ${gotSet.size} rows, expected ${expected.size}")
    assert(gotSet.size == arrivals.length,
      "gate must emit exactly one verdict per arriving doc")
  }

  test("winnow gate: micro-batched verdicts equal the winnow batch drill, regardless of chopping") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val judged = Dedup.incrementalWinnowDedupPersisted(spark, sf0001)
      .collect().map(_.toSeq.map(String.valueOf))
      .map(s => s :+ "false" :+ s(3)).toSet
    assert(judged.nonEmpty)

    val arrivals = Tables.documents(spark, sf0001)
      .filter(pmod(col("doc_id"), lit(Dedup.IncrementalBatchMod)) === 0)
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val judgedIds = judged.map(_.head)
    val expected = judged ++ arrivals.map(_._1.toString).filterNot(judgedIds)
      .map(id => Seq(id, "0", "null", "true", "true", "false"))

    val input = MemoryStream[(Long, String)]
    val got = mutable.Buffer[Row]()
    val q = StreamingIngestGate.startWinnow(spark, sf0001,
      input.toDF().toDF("doc_id", "text"),
      corpusFilter = Dedup.drillCorpusFilter) { (verdict, _) =>
      got.synchronized { got ++= verdict.collect() }
    }
    try {
      val chunks = Seq(
        arrivals.take(11),
        arrivals.slice(11, 30),
        arrivals.drop(30))
      chunks.filter(_.nonEmpty).foreach { c =>
        input.addData(c.toIndexedSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()

    val gotSet = got.map(_.toSeq.map(String.valueOf)).toSet
    assert(gotSet == expected,
      s"winnow gate diverged: got ${gotSet.size} rows, expected ${expected.size}")
    assert(gotSet.size == arrivals.length,
      "gate must emit exactly one verdict per arriving doc")
  }

  test("winnow gate judges arrivals of any doc_id against the full-corpus index") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    def novel(seed: Char): String =
      (1 to 40).map(i => s"zw$seed$i").mkString(" ")
    // a verbatim copy of the longest corpus document, under an id no
    // drill split would pick
    val copied = Tables.documents(spark, sf0001)
      .orderBy(length(col("text")).desc, col("doc_id")).select("text").head().getString(0)
    val arrivals = Seq((1000001L, novel('a')), (1000002L, novel('b')),
      (1000003L, novel('c')), (1000004L, novel('d')), (1000005L, copied))

    val input = MemoryStream[(Long, String)]
    val got = mutable.Buffer[Row]()
    val q = StreamingIngestGate.startWinnow(spark, sf0001,
      input.toDF().toDF("doc_id", "text")) { (verdict, _) =>
      got.synchronized { got ++= verdict.collect() }
    }
    try {
      input.addData(arrivals: _*)
      q.processAllAvailable()
    } finally q.stop()

    // (n_dups, keep, no_content, admit) per arrival
    val byId = got.map(r => r.getLong(0) ->
      ((r.getLong(1), r.getBoolean(3), r.getBoolean(4), r.getBoolean(5)))).toMap
    assert(byId.keySet == arrivals.map(_._1).toSet, s"one verdict per arrival: $byId")
    (1000001L to 1000004L).foreach { id =>
      assert(byId(id) == ((0L, true, false, true)), s"novel doc $id not admitted: $byId")
    }
    val (nDups, keep, noContent, admit) = byId(1000005L)
    assert(nDups >= 1L && !keep && !noContent && !admit,
      s"corpus copy not flagged: $byId")
  }

  test("admitting gate: a duplicate of a just-kept doc is flagged across batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // novel texts (absent from the corpus index) long enough to shingle
    def novel(seed: Char): String =
      (1 to 40).map(i => s"zq$seed$i").mkString(" ")
    val d1 = (1000001L, novel('a'))
    val d2 = (1000002L, novel('b'))
    val dupOfD1 = (1000003L, novel('a'))
    val fresh = (1000004L, novel('c'))

    val input = MemoryStream[(Long, String)]
    val got = mutable.Buffer[Row]()
    val q = graft.streaming.StreamingIngestGate.startAdmitting(spark, sf0001,
      input.toDF().toDF("doc_id", "text"), tag = "admitspec") { (verdict, _) =>
      got.synchronized { got ++= verdict.collect() }
    }
    try {
      input.addData(d1, d2)
      q.processAllAvailable()
      input.addData(dupOfD1, fresh)
      q.processAllAvailable()
    } finally q.stop()

    val byId = got.map(r => r.getLong(0) ->
      ((r.getLong(1), r.getBoolean(3)))).toMap
    // judged rows: the admission decision equals the dup verdict
    assert(got.forall(r => r.getBoolean(5) == (r.getBoolean(3) && !r.getBoolean(4))),
      "admit must be keep && !no_content")
    // batch 1: both novel vs the standing corpus → kept and ADMITTED
    assert(byId(1000001L)._2 && byId(1000002L)._2,
      s"novel batch-1 docs not kept: $byId")
    // batch 2: the duplicate of an admitted doc is flagged — the
    // stateless gate could not see it (its text exists nowhere in the
    // generation the corpus index was built from)
    assert(!byId(1000003L)._2 && byId(1000003L)._1 >= 1L,
      s"cross-batch duplicate not flagged by the admitting gate: $byId")
    assert(byId(1000004L)._2, s"fresh batch-2 doc wrongly dropped: $byId")
  }

  test("full ingest (extract → quality → dedup) equals the batch drill; no_content is total") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val arrivals = Tables.documents(spark, sf0001)
      .filter(pmod(col("doc_id"), lit(Dedup.IncrementalBatchMod)) === 0)
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // one crafted page whose extraction leaves nothing shingleable —
    // the corpus never exercises the no_content reason
    val emptyPageId = 999999L
    val all = arrivals :+ (emptyPageId -> "x")

    val expected = graft.operators.Pipeline.ingestVerdictFor(spark,
      all.toSeq.toDF("doc_id", "text"),
      Dedup.ensureBandIndex(spark, sf0001,
        corpusFilter = Dedup.drillCorpusFilter)._1,
      Dedup.ensureBandIndex(spark, sf0001,
        corpusFilter = Dedup.drillCorpusFilter)._2)
      .collect().map(_.toSeq.map(String.valueOf)).toSet
    assert(expected.nonEmpty)
    assert(expected.exists(_(1) == "no_content"),
      "crafted page must surface as no_content")
    assert(expected.map(_(1)).intersect(Set("quality", "keep")).size == 2,
      "fixture must exercise quality and keep reasons")

    val input = MemoryStream[(Long, String)]
    val got = mutable.Buffer[Row]()
    val q = graft.streaming.StreamingIngestGate.startFullIngest(spark, sf0001,
      input.toDF().toDF("doc_id", "text"),
      corpusFilter = Dedup.drillCorpusFilter) { (verdict, _) =>
      got.synchronized { got ++= verdict.collect() }
    }
    try {
      Seq(all.take(11), all.drop(11)).filter(_.nonEmpty).foreach { c =>
        input.addData(c.toIndexedSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()

    val gotSet = got.map(_.toSeq.map(String.valueOf)).toSet
    assert(gotSet == expected,
      s"full ingest diverged: got ${gotSet.size}, expected ${expected.size}")
    assert(gotSet.size == all.length,
      "gate must emit exactly one verdict per arriving page")
  }

  test("rollable full ingest: one reason-tagged verdict per page across a G -> G+1 cutover") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.GenerationRef
    import graft.operators.Rollover

    // a novel page that PASSES the Gopher quality gate: 40 distinct
    // alphabetic 5-char words + two stopwords (n_words >= 30, mean
    // token length ~4.9, diversity ~0.98, alpha 1.0, stop_hits 2);
    // single plain block, so extraction returns it byte-identically
    // and pages differing in `seed` share zero shingles
    def page(seed: Char): String = {
      val words = (0 until 40).map(i =>
        s"t${seed}x" + ('a' + i % 26).toChar + ('a' + i / 26).toChar)
      (words.take(5) ++ Seq("the", "and") ++ words.drop(5)).mkString(" ")
    }
    val p1 = (4000001L, page('a')) // admitted into G
    val p2 = (4000002L, page('b')) // admitted into G
    val p3 = (4000003L, page('c')) // post-snapshot admission into G
    val p4 = (4000004L, (1 to 40).map(i => s"$i${i}7").mkString(" ")) // quality reject
    val p5 = (4000005L, "x") // extraction leaves nothing -> no_content
    val p6 = (4000006L, page('f')) // promotion batch, admits into G+1
    val p7 = (4000007L, page('a')) // dup of the pre-snapshot admission p1
    val p8 = (4000008L, page('c')) // dup of the caught-up admission p3
    val p9 = (4000009L, page('i')) // fresh post-drop page

    val g0 = ("fullg0", lit(true))
    val (b0, s0) = Dedup.ensureBandIndex(spark, sf0001, g0._1, g0._2)
    val gen = new GenerationRef(g0._1, g0._2)
    val got = mutable.Buffer[Row]()
    val input = MemoryStream[(Long, String)]
    val q = StreamingIngestGate.startFullIngestRollable(spark, sf0001,
      input.toDF().toDF("doc_id", "text"), gen) { (verdict, _) =>
      got.synchronized { got ++= verdict.collect() }
    }
    try {
      // batch 1: two novel quality-passing pages admit into G
      input.addData(p1, p2); q.processAllAvailable()
      // cutover: G+1 builds from corpus ∪ G's admission log; batch 2
      // lands AFTER the snapshot — p3 admits into G, p4 rejects on
      // quality, p5 surfaces as no_content (neither is ever admitted)
      Rollover.cutover(spark, sf0001, "fullg1", docGen = Some(gen),
        afterSnapshot = () => {
          input.addData(p3, p4, p5); q.processAllAvailable()
        })
      assert(gen.get()._1 == "fullg0", "swap must wait for a batch boundary")
      // batch 3 promotes: catch-up folds p3 into G+1, gate flips
      input.addData(p6); q.processAllAvailable()
      assert(gen.get()._1 == "fullg1", "promotion did not land")
      Rollover.dropGeneration(spark, sf0001, "fullg0")
      assert(!spark.catalog.tableExists(b0) && !spark.catalog.tableExists(s0))
      // batch 4 probes G+1 ALONE: dups of both the pre-snapshot and
      // the caught-up admission must flag; fresh content keeps
      input.addData(p7, p8, p9); q.processAllAvailable()
    } finally q.stop()

    // totality: every arriving page exactly one reason-tagged verdict
    val ids = got.map(_.getLong(0))
    assert(ids.size == 9 && ids.distinct.size == 9,
      s"expected 9 unique verdicts across the cutover, got $ids")
    val reason = got.map(r => r.getLong(0) -> r.getString(1)).toMap
    val keep = got.map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(got.forall(r => r.getBoolean(4) == (r.getString(1) == "keep")),
      "keep must equal reason == keep")
    Seq(p1, p2, p3, p6, p9).foreach { case (id, _) =>
      assert(reason(id) == "keep" && keep(id), s"page $id should keep: $reason")
    }
    assert(reason(p4._1) == "quality", s"numeric page must reject on quality: $reason")
    assert(reason(p5._1) == "no_content", s"empty page must be no_content: $reason")
    assert(reason(p7._1) == "duplicate",
      s"dup of a pre-snapshot admission not flagged by G+1: $reason")
    assert(reason(p8._1) == "duplicate",
      s"dup of a post-snapshot (caught-up) admission not flagged by G+1: $reason")
  }

  test("model-gated rollable: batch-twin parity per batch, admission, and a model swap at cutover") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.GenerationRef
    import graft.operators.{Curation, Pipeline, Rollover, TextAnalysis}

    val cf = Dedup.drillCorpusFilter
    val (b0, s0) = Dedup.ensureBandIndex(spark, sf0001, "mgg0", cf)
    val lm0 = TextAnalysis.ensureCharLmModel(spark, sf0001, "mgg0", cf)
    val (w0, st0) = Curation.ensureClassifierModel(spark, sf0001, "mgg0", cf)
    val d0 = Curation.ensureDsirModel(spark, sf0001, "mgg0", cf)
    val c0 = Pipeline.ensureGateCuts(spark, sf0001, "mgg0", cf)
    def twin(batch: Seq[(Long, String)],
        t: (String, String, String, String, String, String, String)) =
      Pipeline.modelGateVerdictOn(spark, batch.toDF("doc_id", "text"),
          t._1, t._2, t._3, t._4, t._5, t._6, t._7)
        .collect().map(_.toSeq.map(String.valueOf)).toSet
    val g0Tables = (lm0, w0, st0, d0, c0, b0, s0)

    val arrivals = Tables.documents(spark, sf0001)
      .filter(pmod(col("doc_id"), lit(Dedup.IncrementalBatchMod)) === 0)
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val textOf = arrivals.toMap
    val (chop1, chop2) = arrivals.splitAt(60)

    val gen = new GenerationRef("mgg0", cf)
    val got = mutable.Buffer[Row]()
    val input = MemoryStream[(Long, String)]
    val q = StreamingIngestGate.startModelGatedRollable(spark, sf0001,
      input.toDF().toDF("doc_id", "text"), gen) { (verdict, _) =>
      got.synchronized { got ++= verdict.collect() }
    }
    try {
      // batch parity WITH admission in play: the expected verdicts for
      // each chop are the batch twin's, computed against the index AS
      // IT STANDS when that chop arrives (the previous chop's keeps
      // are already folded in — the twin reads the same live tables)
      val exp1 = twin(chop1.toSeq, g0Tables)
      input.addData(chop1.toIndexedSeq: _*); q.processAllAvailable()
      val got1 = got.synchronized(got.map(_.toSeq.map(String.valueOf)).toSet)
      assert(got1 == exp1, "chop 1 diverged from its batch twin")
      val exp2 = twin(chop2.toSeq, g0Tables)
      input.addData(chop2.toIndexedSeq: _*); q.processAllAvailable()
      val got2 = got.synchronized(got.map(_.toSeq.map(String.valueOf)).toSet) -- got1
      assert(got2 == exp2, "chop 2 diverged from its post-admission batch twin")

      // the gate must actually have admitted something for the swap
      // phase to mean anything
      val keptIds = got.synchronized(
        got.filter(_.getBoolean(7)).map(_.getLong(0)).toSet)
      assert(keptIds.nonEmpty, "drill needs at least one admitted doc")

      // cutover: G+1 retrains ALL model tables from corpus ∪ admitted
      Rollover.cutover(spark, sf0001, "mgg1", docGen = Some(gen))
      assert(gen.get()._1 == "mgg0", "swap must wait for a batch boundary")
      val promo = (7000001L, textOf(keptIds.head)) // dup of an admission
      // the promotion batch still carries verdicts — compute its twin
      // against the G+1 tables the flipped gate will use
      val g1Tables = (
        TextAnalysis.ensureCharLmModel(spark, sf0001, "mgg1", cf),
        Curation.ensureClassifierModel(spark, sf0001, "mgg1", cf)._1,
        Curation.ensureClassifierModel(spark, sf0001, "mgg1", cf)._2,
        Curation.ensureDsirModel(spark, sf0001, "mgg1", cf),
        Pipeline.ensureGateCuts(spark, sf0001, "mgg1", cf),
        Dedup.ensureBandIndex(spark, sf0001, "mgg1", cf)._1,
        Dedup.ensureBandIndex(spark, sf0001, "mgg1", cf)._2)
      // the retrain was real: G+1's LM differs from G's (the admitted
      // docs' bigrams reached the model)
      assert(tableFileFingerprint(g1Tables._1) != tableFileFingerprint(lm0),
        "cutover did not retrain the LM on corpus ∪ admitted")
      val expPromo = twin(Seq(promo), g1Tables)
      input.addData(promo); q.processAllAvailable()
      assert(gen.get()._1 == "mgg1", "promotion did not land")
      val gotPromo = got.synchronized(got.map(_.toSeq.map(String.valueOf)).toSet) --
        got1 -- exp2
      assert(gotPromo == expPromo,
        "promotion batch diverged from its G+1 batch twin")
      assert(gotPromo.exists(r => r.head == "7000001" && r(1) == "duplicate"),
        s"dup of an admitted doc must flag under G+1: $gotPromo")

      // G drops; a novel reshuffle of an admitted doc's tokens (same
      // unigram bag — model scores near the original's; new shingles)
      // is judged by G+1 ALONE, and must equal its batch twin
      Rollover.dropGeneration(spark, sf0001, "mgg0", cf)
      assert(!spark.catalog.tableExists(b0) && !spark.catalog.tableExists(lm0))
      val novel = (7000002L, textOf(keptIds.head).split(" ").reverse.mkString(" "))
      val expNovel = twin(Seq(novel), g1Tables)
      input.addData(novel); q.processAllAvailable()
      val gotNovel = got.synchronized(got.map(_.toSeq.map(String.valueOf)).toSet) --
        got1 -- exp2 -- expPromo
      assert(gotNovel == expNovel, "post-drop verdict diverged from the G+1 twin")
    } finally q.stop()

    // totality across the whole drill: one verdict per arriving id
    val ids = got.map(_.getLong(0))
    assert(ids.size == arrivals.length + 2 && ids.distinct.size == ids.size,
      s"expected ${arrivals.length + 2} unique verdicts, got ${ids.size}")
    Rollover.dropGeneration(spark, sf0001, "mgg1", cf)
  }

  test("crawl pipeline (extract → gate) matches the drill for extractable docs") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // extraction returns the doc byte-identically for any doc long
    // enough to pass the length gate, so the crawl verdicts must equal
    // the batch drill restricted to extractable docs; every other
    // arrival (no content survived the boilerplate gate, or nothing
    // shingleable) surfaces as an explicit no_content=true keep — no
    // page vanishes from the sink
    val extractable = Tables.documents(spark, sf0001)
      .filter(length(trim(col("text"))) >= graft.operators.Html.MinBlockChars)
      .select(col("doc_id")).as[Long].collect().toSet
    val judged = drillExpected.filter(r => extractable(r.head.toLong))
    assert(judged.nonEmpty)

    val arrivals = Tables.documents(spark, sf0001)
      .filter(pmod(col("doc_id"), lit(Dedup.IncrementalBatchMod)) === 0)
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val judgedIds = judged.map(_.head)
    val expected = judged ++ arrivals.map(_._1.toString).filterNot(judgedIds)
      .map(id => Seq(id, "0", "null", "true", "true", "false"))

    val input = MemoryStream[(Long, String)]
    val got = mutable.Buffer[Row]()
    val q = StreamingIngestGate.startCrawl(spark, sf0001,
      input.toDF().toDF("doc_id", "text"),
      corpusFilter = Dedup.drillCorpusFilter) { (verdict, _) =>
      got.synchronized { got ++= verdict.collect() }
    }
    try {
      Seq(arrivals.take(20), arrivals.drop(20)).filter(_.nonEmpty).foreach { c =>
        input.addData(c.toIndexedSeq: _*)
        q.processAllAvailable()
      }
    } finally q.stop()

    val gotSet = got.map(_.toSeq.map(String.valueOf)).toSet
    assert(gotSet == expected,
      s"crawl pipeline diverged: got ${gotSet.size} rows, expected ${expected.size}")
    assert(gotSet.size == arrivals.length,
      "crawl gate must emit exactly one verdict per arriving page")
  }

  test("KL monitor: per-batch rows equal the direct computation; an OOV batch reads 1000 milli") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.{Curation, Retrieval}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val onMix = Tables.documents(spark, sf0001)
      .filter(pmod(col("doc_id"), lit(Curation.IngestKlBatchMod)) === 0)
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(onMix.nonEmpty)
    // a feed gone wrong: every token out of vocabulary
    val oov = Seq((900001L, "zqx9 zqx9 wvu7 wvu7 wvu7"), (900002L, "zqx9 pnm3"))

    val input = MemoryStream[(Long, String)]
    val got = mutable.Map[Long, Array[Row]]()
    val q = StreamingIngestGate.startKlMonitor(spark, sf0001,
      input.toDF().toDF("doc_id", "text")) { (row, id) =>
      got.synchronized { got(id) = row.collect(); () }
    }
    try {
      input.addData(onMix.toIndexedSeq: _*); q.processAllAvailable()
      input.addData(oov: _*); q.processAllAvailable()
    } finally q.stop()

    assert(got.size == 2 && got.values.forall(_.length == 1),
      "one verdict row per micro-batch")
    // batch-twin parity: each batch's row equals the direct call on the
    // same chunk against the same persisted-index totals
    val (tfsT, _) = Retrieval.ensureTextIndex(spark, sf0001)
    val totals = Curation.corpusTokenTotals(spark, tfsT)
    def direct(chunk: Seq[(Long, String)]) =
      Curation.ingestKlOn(chunk.toDF("doc_id", "text"), totals)
        .collect().map(_.toSeq.map(String.valueOf)).toSeq
    assert(got(0L).map(_.toSeq.map(String.valueOf)).toSeq == direct(onMix.toSeq))
    assert(got(1L).map(_.toSeq.map(String.valueOf)).toSeq == direct(oov))

    // the on-mix batch is drawn from the corpus: fully in-vocab, KL small
    val mixRow = got(0L).head
    assert(mixRow.getAs[Long]("oov_tokens") == 0L)
    assert(mixRow.getAs[Double]("kl_nats") >= 0.0)
    // the OOV batch cannot be judged in-vocab: full OOV mass, KL 0
    val oovRow = got(1L).head
    assert(oovRow.getAs[Long]("oov_milli") == 1000L)
    assert(oovRow.getAs[Double]("kl_nats") == 0.0)
    assert(oovRow.getAs[Long]("n_tokens") == 7L)
  }
}
