package graft.streaming

import graft.TestSpark
import graft.streaming.DocStreams.QuotaDecision
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[DocStreams.curatedQuota]] certification — the COMPOSED streaming
  * curation prefix (quality filter → content dedup → per-source token
  * quota) is row-parity with the batch rule on the same feed, at two
  * micro-batch sizes. The individual stages are each certified
  * elsewhere; this spec exists because composition is where state and
  * ordering bugs hide (the r12 two-lateral splice lesson): two stateful
  * operators chain in one query here, and the dedup survivor feeds the
  * quota's running total.
  */
case class CqDoc(doc_id: Long, text: String, ts: java.sql.Timestamp,
                 source: String, seq: Long)

class CuratedQuotaSpec extends AnyFunSuite {
  import CuratedQuotaSpec.Doc

  private val spark = TestSpark.spark
  import spark.implicits._

  private val Budget = 260L

  private def ts(i: Long) = new java.sql.Timestamp(1700000000000L + i * 1000)

  /** Planted feed: per source, fluent keepers of varied length (the
    * quota boundary fires mid-stream), quality rejects (short, null
    * text, no-stopword gibberish), and content DUPLICATES. Duplicate
    * pairs are ADJACENT in seq within their source, so whichever copy
    * survives a same-batch dedup occupies the same per-source position
    * with the same token count — the (n_tokens, kept, cum) sequence is
    * invariant to the survivor choice, and the multi-chunk run (dup
    * copies in later chunks, state already seeded) pins exact doc_ids.
    */
  private val feed: Seq[Doc] = {
    val rnd = new scala.util.Random(19)
    // vocabulary wide enough that even the longest sentences keep
    // type-token ratio above the quality floor (a 14-word vocab made
    // every 45+-token doc a low_diversity reject, and a whole source
    // could then fit under the budget — quota drop branch never fired)
    val words = Seq("the", "a", "of", "in", "is", "it", "for", "and",
      "to", "data", "table", "query", "scan", "merge", "row", "batch",
      "join", "order", "value", "stream", "spark", "window", "filter",
      "group", "sort", "hash", "key", "column", "vector", "line",
      "part", "small", "big", "fast", "slow", "customer", "agg",
      "shard", "token", "corpus")
    def sentence(seed: Int, n: Int): String = {
      val r = new scala.util.Random(seed)
      (0 until n).map(_ => words(r.nextInt(words.size))).mkString(" ")
    }
    val docs = scala.collection.mutable.ListBuffer.empty[Doc]
    var seq = 0L
    var id = 1000L
    for (s <- 0 until 2; i <- 0 until 14) {
      val src = s"src$s"
      def add(text: String): Unit = {
        docs += Doc(id, text, ts(seq), src, seq); id += 1; seq += 1
      }
      val text = sentence(s * 100 + i, 22 + rnd.nextInt(40))
      add(text)
      if (i % 4 == 1) add(text) // adjacent duplicate: dedup must drop one
      if (i % 5 == 2) add("too short") // quality reject: length
      if (i % 7 == 3) add(null) // quality reject: null text
    }
    docs.toSeq
  }

  /** The batch twin: quality rules → keep-first (min seq) per
    * fingerprint → greedy per-source prefix over seq.
    */
  private def batchRule(docs: Seq[Doc]): Seq[(String, Long, Long, Boolean, Long)] = {
    val df = docs.toDF()
    val kept = df
      .withColumn("__w", split(col("text"), " "))
      .filter(graft.ops.Curation
        .rejectReasonFromWords(col("text"), col("__w")).isNull)
      .withColumn("fp", graft.ops.TextStats.fingerprint(col("text")))
    val firstSeq = kept.groupBy("fp").agg(min("seq").as("seq"))
    val survivors = kept.join(firstSeq, Seq("fp", "seq"))
      .select("source", "doc_id", "text", "seq")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .sortBy(_._4)
    survivors.groupBy(_._1).toSeq.flatMap { case (src, g) =>
      var cum = 0L
      g.sortBy(_._4).map { case (_, id0, text, _) =>
        val n = text.split(" ", -1).length.toLong
        cum += n
        (src, id0, n, cum <= Budget, cum)
      }
    }
  }

  private def run(chunks: Seq[Seq[Doc]], name: String): Seq[QuotaDecision] = {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Doc]
    val ckpt = java.nio.file.Files
      .createTempDirectory(s"ckpt_$name").toString
    val q = DocStreams.curatedQuota(mem.toDF(), Budget)
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      chunks.foreach { c => mem.addData(c: _*); q.processAllAvailable() }
      spark.table(name).as[QuotaDecision].collect().toSeq
    } finally q.stop()
  }

  test("composed stream matches the batch rule exactly when duplicates " +
    "arrive in later batches (state-seeded dedup is deterministic)") {
    // chunks of ~6 with a FORCED boundary inside every adjacent-dup
    // pair: the first copy seeds the dedup state before the second
    // arrives, so the survivor is deterministically the min-seq copy
    // and exact doc_id parity holds (a pair inside one batch would
    // leave the survivor to shuffle order — the one-giant-batch test
    // below covers that contract instead)
    val chunks: Seq[Seq[Doc]] = {
      val out = scala.collection.mutable.ListBuffer(
        scala.collection.mutable.ListBuffer.empty[Doc])
      feed.foreach { d =>
        if (out.last.nonEmpty && d.text != null &&
            out.last.last.text == d.text)
          out += scala.collection.mutable.ListBuffer(d)
        else {
          if (out.last.size >= 6)
            out += scala.collection.mutable.ListBuffer.empty[Doc]
          out.last += d
        }
      }
      out.map(_.toSeq).toSeq
    }
    val want = batchRule(feed)
      .map(d => (d._1, d._2, d._3, d._4, d._5)).toSet
    val got = run(chunks, "cq_chunks5")
      .map(d => (d.source, d.doc_id, d.n_tokens, d.kept, d.cum_tokens))
      .toSet
    assert(got == want)
    // fixture-exercise: both quota branches fire per source, rejects and
    // dups actually reduced the feed
    val bySrc = got.groupBy(_._1)
    bySrc.foreach { case (src, g) =>
      assert(g.exists(_._4) && g.exists(!_._4), s"$src quota one-sided")
    }
    assert(got.size < feed.size, "nothing was filtered or deduped")
  }

  test("both state stores survive a stop/restart cycle through the " +
    "checkpoint: dedup fingerprints and quota totals continue") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_cq_ckpt").toString
    val results = java.util.Collections.synchronizedList(
      new java.util.ArrayList[QuotaDecision]())
    val mem = MemoryStream[Doc]
    def start() = DocStreams.curatedQuota(mem.toDF(), Budget)
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[QuotaDecision],
                       _: Long) => b.collect().foreach(results.add) }
      .start()
    // split mid-feed: duplicate pairs straddle the restart (the second
    // copy must hit RESTORED dedup state) and every source's quota
    // total must continue from the RESTORED long, not from zero
    val (a, b) = feed.splitAt(feed.size / 2)
    val q1 = start()
    try { mem.addData(a: _*); q1.processAllAvailable() } finally q1.stop()
    val q2 = start()
    try { mem.addData(b: _*); q2.processAllAvailable() } finally q2.stop()
    def seqsOf(rows: Seq[(String, Long, Boolean, Long)])
    : Map[String, Seq[(Long, Boolean, Long)]] =
      rows.groupBy(_._1).map { case (s, g) =>
        s -> g.sortBy(_._4).map(r => (r._2, r._3, r._4))
      }
    val want = seqsOf(batchRule(feed).map(d => (d._1, d._3, d._4, d._5)))
    val got = seqsOf(results.toArray(Array.empty[QuotaDecision]).toSeq
      .map(d => (d.source, d.n_tokens, d.kept, d.cum_tokens)))
    assert(got == want,
      "restart lost dedup fingerprints or quota totals")
  }

  test("streaming language gate: a wrong-language doc never reaches the " +
    "dedup state or the quota total") {
    implicit val sqlCtx = spark.sqlContext
    val en = "the cat sat on the mat and it was happy with the sun " +
      "in a warm place for hours today"
    val de = "der hund ist nicht in dem haus und die katze ist auf " +
      "dem dach weil der vogel nicht mit der maus in dem garten spielt"
    val mixFeed = Seq(
      Doc(1L, en, ts(0), "src0", 0L),
      Doc(2L, de, ts(1), "src0", 1L), // wrong_language under Some(en)
      Doc(3L, en + " extra", ts(2), "src0", 2L))
    val mem = MemoryStream[Doc]
    val q = DocStreams.curatedQuota(mem.toDF(), budget = 1000L,
        allowedLangs = Some(Seq("en")))
      .writeStream.format("memory").queryName("cq_langgate")
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("ckpt_cq_lang").toString)
      .outputMode("append").start()
    try {
      mem.addData(mixFeed: _*); q.processAllAvailable()
      val got = spark.table("cq_langgate").as[QuotaDecision].collect()
        .sortBy(_.doc_id).toSeq
      assert(got.map(_.doc_id) == Seq(1L, 3L),
        s"gate leaked or over-dropped: $got")
      // the German doc's tokens must not have entered the running total
      val enTokens = en.split(" ").length.toLong
      assert(got.head.cum_tokens == enTokens)
    } finally q.stop()
  }

  test("streaming decontamination gate: a verbatim benchmark span drops " +
    "the doc, clean and sub-window docs pass, stateless across batches") {
    implicit val sqlCtx = spark.sqlContext
    val benchSpan = "alpha beta gamma delta epsilon zeta eta theta"
    val bench = Seq(
      (100L, s"benchmark item one $benchSpan and its answer"),
      (101L, "benchmark item two entirely distinct content here today")
    ).toDF("doc_id", "text")
    val mem = MemoryStream[Doc]
    val q = DocStreams.decontaminatedStream(mem.toDF(), bench)
      .writeStream.format("memory").queryName("cq_decontam")
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("ckpt_cq_dec").toString)
      .outputMode("append").start()
    try {
      mem.addData(
        Doc(1L, s"a crawl page quoting $benchSpan in the middle of prose",
          ts(0), "src1", 0L),
        Doc(2L, "a clean page with none of the protected material at all",
          ts(1), "src1", 1L))
      q.processAllAvailable()
      mem.addData(
        Doc(3L, "short doc", ts(2), "src1", 2L), // sub-window: no fps
        Doc(4L, null.asInstanceOf[String], ts(3), "src1", 3L))
      q.processAllAvailable()
      val got = spark.table("cq_decontam")
        .select("doc_id", "hit_fps")
        .as[(Long, Long)].collect().sortBy(_._1).toSeq
      assert(got == Seq((2L, 0L), (3L, 0L), (4L, 0L)),
        s"gate mis-routed: $got")
    } finally q.stop()
  }

  test("span_hit_count equals the array_intersect spelling it replaced") {
    import graft.ops.TextDedup
    val rnd = new scala.util.Random(0x5e)
    val vocab = Seq("a", "bb", "c", "", "é", "中", "data", "span")
    val texts = (0 until 120).map { i =>
      if (i % 29 == 0) null
      else (0 until rnd.nextInt(16)).map(_ => vocab(rnd.nextInt(vocab.size)))
        .mkString(" ")
    }
    val bench = texts.filter(_ != null).take(10).toDF("text")
    val n = 3
    val fps = bench
      .select(split(coalesce(col("text"), lit("")), " ").as("__w"))
      .select(explode(TextDedup.shinglesFromWords(col("__w"), n)).as("s"))
      .select(md5(col("s")).as("fp")).distinct()
      .collect().map(_.getString(0)).toSeq
    val df = texts.toDF("text")
      .withColumn("__w", split(coalesce(col("text"), lit("")), " "))
    val benchArr = bench
      .select(split(coalesce(col("text"), lit("")), " ").as("__w"))
      .select(explode(TextDedup.shinglesFromWords(col("__w"), n)).as("s"))
      .select(md5(col("s")).as("fp")).distinct()
      .agg(collect_set(col("fp")).as("__bench"))
    val old = df.crossJoin(broadcast(benchArr))
      .select(size(array_intersect(array_distinct(
        transform(TextDedup.shinglesFromWords(col("__w"), n), s => md5(s))),
        col("__bench"))).cast("long"))
      .collect().map(_.getLong(0)).toSeq
    val neu = df.select(graft.functions.SpanHitCountFunctions
        .spanHitCount(col("__w"), n, fps))
      .collect().map(_.getLong(0)).toSeq
    assert(neu == old)
    assert(neu.exists(_ > 0) && neu.exists(_ == 0), "fixture-exercise")
  }

  test("one giant batch: per-source decision sequences are invariant to " +
    "which adjacent duplicate copy survives") {
    def seqs(rows: Seq[(String, Long, Boolean, Long)])
    : Map[String, Seq[(Long, Boolean, Long)]] =
      rows.groupBy(_._1).map { case (s, g) =>
        s -> g.sortBy(_._4).map(r => (r._2, r._3, r._4))
      }
    val want = seqs(batchRule(feed).map(d => (d._1, d._3, d._4, d._5)))
    val got = seqs(run(Seq(feed), "cq_one_batch")
      .map(d => (d.source, d.n_tokens, d.kept, d.cum_tokens)))
    assert(got == want)
  }
}

object CuratedQuotaSpec {
  type Doc = CqDoc
  val Doc = CqDoc
}
