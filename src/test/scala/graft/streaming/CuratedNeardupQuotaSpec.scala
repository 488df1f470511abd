package graft.streaming

import graft.TestSpark
import graft.streaming.DocStreams.QuotaDecision
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[TwsGates.curatedNeardupQuotaTws]] certification — the FULL streaming
  * curation prefix (quality → exact dedup → near-dup LSH gate → token
  * quota; three stateful operators in one query) is row-parity with the
  * sequential batch rule. The near-dup stage is seq-deterministic even
  * within a batch (the claim fold sorts), so unlike the exact-dedup
  * stage it adds no new nondeterminism; the chunked run pins exact
  * doc_ids with duplicate pairs straddling batches, the giant-batch run
  * pins the survivor-invariant per-source token sequences.
  */
object CuratedNeardupQuotaSpec {
  case class Doc(doc_id: Long, text: String, ts: java.sql.Timestamp,
                 source: String, seq: Long)
}

class CuratedNeardupQuotaSpec extends AnyFunSuite {
  import CuratedNeardupQuotaSpec.Doc

  private val spark = TestSpark.spark
  import spark.implicits._

  private val Budget = 260L
  private val CheckKey =
    "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"

  private def ts(i: Long) = new java.sql.Timestamp(1700000000000L + i * 1000)

  /** CuratedQuotaSpec's planted feed, extended with NEAR-duplicates: a
    * one-word mutation of the preceding keeper — different fingerprint
    * (the exact stage passes it) but mostly-shared shingles (the LSH
    * stage must drop it). Dup and near-dup copies are ADJACENT to their
    * original so the giant-batch survivor choice cannot reorder claims.
    */
  private val feed: Seq[Doc] = {
    val rnd = new scala.util.Random(19)
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
    var id = 2000L
    for (s <- 0 until 2; i <- 0 until 14) {
      val src = s"src$s"
      def add(text: String): Unit = {
        docs += Doc(id, text, ts(seq), src, seq); id += 1; seq += 1
      }
      val text = sentence(s * 100 + i, 22 + rnd.nextInt(40))
      add(text)
      if (i % 4 == 1) add(text) // exact duplicate
      if (i % 6 == 4)           // near duplicate: one word mutated
        add(text.split(" ").updated(5, "mutantword").mkString(" "))
      if (i % 5 == 2) add("too short")
      if (i % 7 == 3) add(null)
    }
    docs.toSeq
  }

  /** The batch twin: quality rules → keep-first (min seq) per
    * fingerprint → sequential-greedy band claims → greedy per-source
    * prefix over seq.
    */
  private def batchRule(docs: Seq[Doc])
  : Seq[(String, Long, Long, Boolean, Long)] = {
    val df = docs.toDF()
    val kept = df
      .withColumn("__w", split(col("text"), " "))
      .filter(graft.ops.Curation
        .rejectReasonFromWords(col("text"), col("__w")).isNull)
      .withColumn("fp", graft.ops.TextStats.fingerprint(col("text")))
    val firstSeq = kept.groupBy("fp").agg(min("seq").as("seq"))
    val exactSurvivors = kept.join(firstSeq, Seq("fp", "seq"))
      .select("source", "doc_id", "text", "seq")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .sortBy(_._4)
    // near-dup stage: the same sequential-greedy rule the standalone
    // gate pins, over band keys of the exact-stage survivors
    val asNd = exactSurvivors.map { case (_, id0, text, seq0) =>
      NeardupStreamSpec.Doc(id0, text, seq0, ts(seq0)) }.toSeq
    val ndKept = NeardupStreamSpec
      .replay(asNd, NeardupStreamSpec.bandKeys(spark, asNd))
      .collect { case (id0, (true, _, _)) => id0 }.toSet
    val survivors = exactSurvivors.filter(d => ndKept.contains(d._2))
    survivors.groupBy(_._1).toSeq.flatMap { case (src, g) =>
      var cum = 0L
      g.sortBy(_._4).map { case (_, id0, text, _) =>
        val n = text.split(" ", -1).length.toLong
        cum += n
        (src, id0, n, cum <= Budget, cum)
      }
    }
  }

  private def withCheckOff[T](body: => T): T = {
    val prev = spark.conf.getOption(CheckKey)
    spark.conf.set(CheckKey, "false")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(CheckKey, v)
      case None => spark.conf.unset(CheckKey)
    }
  }

  private def run(chunks: Seq[Seq[Doc]], name: String): Seq[QuotaDecision] =
    withCheckOff {
      implicit val sqlCtx = spark.sqlContext
      val mem = MemoryStream[Doc]
      val ckpt = java.nio.file.Files
        .createTempDirectory(s"ckpt_$name").toString
      val q = TwsGates.curatedNeardupQuotaTws(mem.toDF(), Budget)
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try {
        chunks.foreach { c => mem.addData(c: _*); q.processAllAvailable() }
        spark.table(name).as[QuotaDecision].collect().toSeq
      } finally q.stop()
    }

  test("full prefix matches the batch rule exactly when duplicate pairs " +
    "straddle batches") {
    // force a boundary inside every adjacent exact-dup pair (near-dup
    // claims are seq-deterministic and need no such care)
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
    val want = batchRule(feed).toSet
    val got = run(chunks, "cnq_chunks")
      .map(d => (d.source, d.doc_id, d.n_tokens, d.kept, d.cum_tokens))
      .toSet
    assert(got == want)
    // fixture-exercise: every stage reduced the feed, both quota
    // branches fire per source, and at least one NEAR-dup (mutated, not
    // byte-identical) was dropped by the LSH stage specifically
    val bySrc = got.groupBy(_._1)
    bySrc.foreach { case (src, g) =>
      assert(g.exists(_._4) && g.exists(!_._4), s"$src quota one-sided")
    }
    val mutatedIds = feed.filter(d =>
      d.text != null && d.text.contains("mutantword")).map(_.doc_id).toSet
    assert(mutatedIds.nonEmpty)
    val decidedIds = got.map(_._2)
    assert(mutatedIds.forall(id => !decidedIds.contains(id)),
      "a planted near-dup survived to the quota stage")
  }

  test("JVM fingerprint equals the Column fingerprint") {
    val texts = feed.map(_.text).filter(_ != null) ++
      Seq("a  b\t c\n\nd", "MiXeD CaSe  WS", "é Д 中文  x")
    val col = texts.toDF("text")
      .select(graft.ops.TextStats.fingerprint(org.apache.spark.sql
        .functions.col("text")).as("fp"))
      .collect().map(_.getString(0)).toSeq
    val jvm = texts.map(graft.ops.TextStats.fingerprintJvm)
    assert(jvm == col)
  }

  test("transformWithState engine matches the batch rule across batch " +
    "shapes") {
    val want = batchRule(feed).toSet
    def keyed(rows: Seq[QuotaDecision]) =
      rows.map(d => (d.source, d.doc_id, d.n_tokens, d.kept, d.cum_tokens))
        .toSet
    assert(keyed(run(Seq(feed), "cnq_tws_giant")) == want)
    val chunked = keyed(run(feed.grouped(6).toSeq, "cnq_tws_chunks"))
    assert(chunked == want)
    // the planted near-dups were dropped by the LSH stage at this batch
    // shape too
    val mutatedIds = feed.filter(d =>
      d.text != null && d.text.contains("mutantword")).map(_.doc_id).toSet
    assert(mutatedIds.nonEmpty &&
      mutatedIds.forall(id => !chunked.exists(_._2 == id)))
  }

  test("tws composed prefix restores all three state stores across a " +
    "stop/restart cycle") {
    // first run takes half the feed, stops; second run (same checkpoint)
    // takes the rest. Matching the batch rule afterwards requires the
    // RESTORED exact-dedup fingerprints, band claims (and their timers),
    // and per-source quota totals to all carry across the restart.
    withCheckOff {
      implicit val sqlCtx = spark.sqlContext
      val ckpt = java.nio.file.Files
        .createTempDirectory("ckpt_cnq_tws_restart").toString
      val results = java.util.Collections.synchronizedList(
        new java.util.ArrayList[QuotaDecision]())
      val mem = MemoryStream[Doc]
      def drain(chunk: Seq[Doc]): Unit = {
        mem.addData(chunk: _*)
        val q = TwsGates.curatedNeardupQuotaTws(mem.toDF(), Budget)
          .writeStream.outputMode("append")
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .foreachBatch {
            (b: org.apache.spark.sql.Dataset[QuotaDecision], _: Long) =>
              b.collect().foreach(results.add)
          }.start()
        assert(q.awaitTermination(120000), "drain did not stop")
      }
      val (h1, h2) = feed.splitAt(feed.size / 2)
      drain(h1); drain(h2)
      val got = results.toArray(Array.empty[QuotaDecision])
        .map(d => (d.source, d.doc_id, d.n_tokens, d.kept, d.cum_tokens))
        .toSet
      assert(got == batchRule(feed).toSet,
        "restored state diverged from the batch rule")
    }
  }

  test("giant batch: per-source token sequences are survivor-invariant") {
    def seqsOf(rows: Seq[(String, Long, Boolean, Long)])
    : Map[String, Seq[(Long, Boolean, Long)]] =
      rows.groupBy(_._1).map { case (s, g) =>
        s -> g.sortBy(_._4).map(r => (r._2, r._3, r._4))
      }
    val want = seqsOf(batchRule(feed).map(d => (d._1, d._3, d._4, d._5)))
    val got = seqsOf(run(Seq(feed), "cnq_giant")
      .map(d => (d.source, d.n_tokens, d.kept, d.cum_tokens)))
    assert(got == want)
  }
}
