package graft.streaming

import graft.TestSpark
import graft.ops.TextDedup
import graft.streaming.TwsGates.NeardupDecision
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[TwsGates.neardupStreamTws]] certification:
  *
  *  1. the JVM fold the stream runs, and the batch
  *     [[TextDedup.minhashSignatures]] built on it, are bit-identical to
  *     the Column-expression reference [[TextDedup.rowMinhashCols]] (same
  *     salted-md5 lanes);
  *  2. stream decisions match a sequential-greedy replay of the band-claim
  *     rule over the SAME band keys, at one-batch, many-batch, and
  *     scrambled-within-batch feeds (seq order is the determinism
  *     contract, batch boundaries must not matter);
  *  3. the fixture genuinely exercises the NEAR side: a mutated copy
  *     (not byte-identical, so the exact-fingerprint gate would pass it)
  *     is dropped, and unique docs survive.
  */
object NeardupStreamSpec {
  case class Doc(doc_id: Long, text: String, seq: Long,
                 ts: java.sql.Timestamp)

  val t0: java.sql.Timestamp =
    java.sql.Timestamp.valueOf("2026-01-01 00:00:00")

  val template: String = ("the quick brown fox jumps over the lazy dog " +
    "while the distributed query engine shuffles partitions across " +
    "executors and spills sorted runs to local disk under pressure").trim

  val feed: Seq[Doc] = Seq(
    Doc(1L, template, 0L, t0),                                   // keeper
    Doc(2L, template, 1L, t0),                                   // exact dup of 1
    Doc(3L, template.replace("lazy dog", "sleepy dog"), 2L, t0), // near dup of 1
    Doc(4L, "completely unrelated content about columnar storage " +
      "formats and vectorized readers for analytical workloads at scale " +
      "with dictionary encoding and run length compression", 3L, t0),
    Doc(5L, template.replace("local disk", "remote store"), 4L, t0), // near dup
    Doc(6L, "tiny doc", 5L, t0),                                 // too short: kept
    Doc(7L, "another fully distinct document describing watermark " +
      "semantics for stateful streaming operators and the eviction of " +
      "expired keys from the state store between micro batches", 6L, t0)
  )

  /** Sequential-greedy replay: in seq order, a doc keeps iff every one of
    * its buckets is unclaimed; it claims every still-unclaimed bucket
    * either way.
    */
  def replay(docs: Seq[Doc], bands: Map[Long, Seq[String]])
  : Map[Long, (Boolean, Int, Int)] = {
    val claimed = scala.collection.mutable.HashSet.empty[String]
    docs.sortBy(_.seq).map { d =>
      bands.get(d.doc_id) match {
        case None => d.doc_id -> ((true, 0, 0))
        case Some(bs) =>
          val c = bs.count(b => claimed.add(b))
          d.doc_id -> ((c == bs.size, bs.size, c))
      }
    }.toMap
  }

  /** Band keys per doc, computed in BATCH from the same row-local
    * signature the stream uses.
    */
  def bandKeys(spark: org.apache.spark.sql.SparkSession, docs: Seq[Doc])
  : Map[Long, Seq[String]] = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val k = graft.ops.TextDedup.NumHashes
    val df = docs.toDF()
      .withColumn("__w", split(coalesce(col("text"), lit("")), " "))
      .withColumn("__sh", graft.ops.TextDedup.shinglesFromWords(col("__w"), 3))
      .select((col("doc_id") +: size(col("__sh")).as("__nsh")
        +: graft.ops.TextDedup.rowMinhashCols(col("__sh"), k)): _*)
    df.filter(col("__nsh") > 0).collect().map { r =>
      val keys = (0 until k by graft.ops.TextDedup.BandSize).map { s =>
        ((s / graft.ops.TextDedup.BandSize) +:
          (s until s + graft.ops.TextDedup.BandSize).map(i => r.getLong(2 + i)))
          .mkString("|")
      }
      r.getLong(0) -> keys
    }.toMap
  }
}

class NeardupStreamSpec extends AnyFunSuite {
  import NeardupStreamSpec.{Doc, feed, replay, t0}

  private val spark = TestSpark.spark
  import spark.implicits._

  private def bandKeys(docs: Seq[Doc]): Map[Long, Seq[String]] =
    NeardupStreamSpec.bandKeys(spark, docs)

  private def run(chunks: Seq[Seq[Doc]], name: String)
  : Map[Long, (Boolean, Int, Int)] = {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Doc]
    val q = TwsGates.neardupStreamTws(mem.toDF())
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      chunks.foreach { c => mem.addData(c: _*); q.processAllAvailable() }
      spark.table(name).as[NeardupDecision].collect()
        .map(d => d.doc_id -> ((d.kept, d.n_bands, d.claimed_bands))).toMap
    } finally q.stop()
  }

  /** The Column-expression signature of every document with at least
    * three words, keyed by `doc_id` — the independent reference.
    */
  private def columnSignatures(docs: org.apache.spark.sql.DataFrame)
  : Map[Long, Seq[Long]] =
    signatureMap(docs
      .withColumn("__w", split(coalesce(col("text"), lit("")), " "))
      .withColumn("__sh", TextDedup.shinglesFromWords(col("__w"), 3))
      .select((col("doc_id") +: TextDedup.rowMinhashCols(col("__sh"))): _*)
      .filter(col("mh0").isNotNull))

  private def signatureMap(sigs: org.apache.spark.sql.DataFrame)
  : Map[Long, Seq[Long]] =
    sigs.collect().map(r => r.getLong(0) ->
      (1 to TextDedup.NumHashes).map(r.getLong).toSeq).toMap

  test("batch and JVM MinHash signatures equal the Column reference") {
    val docs = feed.toDF()
    val ref = columnSignatures(docs)
    assert(ref.keySet == feed.map(_.doc_id).toSet - 6L)
    assert(signatureMap(
      TextDedup.minhashSignatures(docs, "doc_id", "text")) == ref)
    // the fold the stream runs per document
    val jvm = feed.flatMap(d => Option(TextDedup.minhashSignatureJvm(d.text))
      .map(d.doc_id -> _.toSeq)).toMap
    assert(jvm == ref)
    // too-short docs: no batch row, null JVM signature
    assert(TextDedup.minhashSignatureJvm("tiny doc") == null)
  }

  test("stream decisions match the sequential-greedy replay (one batch)") {
    val want = replay(feed, bandKeys(feed))
    val got = run(Seq(feed), "neardup_one")
    assert(got == want)
    // fixture-exercise: the exact dup AND both near dups are dropped,
    // keepers and the too-short doc survive
    assert(!got(2L)._1 && !got(3L)._1 && !got(5L)._1, got.toString)
    assert(got(1L)._1 && got(4L)._1 && got(7L)._1, got.toString)
    assert(got(6L) == ((true, 0, 0)), got.toString)
    // the near dups are NOT byte-identical to anything (the exact gate
    // would keep them) but still share at least one claimed bucket
    assert(feed.count(d => d.text == feed(2).text) == 1)
    assert(got(3L)._3 < got(3L)._2)
  }

  test("batch-boundary and within-batch shuffle invariance") {
    val want = replay(feed, bandKeys(feed))
    assert(run(feed.grouped(2).toSeq, "neardup_chunks2") == want)
    val rnd = new scala.util.Random(7)
    val scrambled = feed.grouped(4).map(c => rnd.shuffle(c)).toSeq
    assert(run(scrambled, "neardup_scrambled") == want)
  }

  test("the band-claim store survives a stop/restart cycle") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_neardup_ckpt").toString
    val results = java.util.Collections.synchronizedList(
      new java.util.ArrayList[NeardupDecision]())
    val mem = MemoryStream[Doc]
    def start() = TwsGates.neardupStreamTws(mem.toDF())
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[NeardupDecision], _: Long) =>
          b.collect().foreach(results.add)
      }.start()

    val (before, after) = feed.splitAt(4)
    val q1 = start()
    try { mem.addData(before: _*); q1.processAllAvailable() }
    finally q1.stop()
    // docs 5 (near-dup of pre-restart doc 1) and 6/7 arrive AFTER the
    // restart: doc 5 can only be dropped if doc 1's claims rehydrated
    val q2 = start()
    try { mem.addData(after: _*); q2.processAllAvailable() }
    finally q2.stop()

    val got = results.toArray(Array.empty[NeardupDecision])
      .map(d => d.doc_id -> ((d.kept, d.n_bands, d.claimed_bands))).toMap
    assert(got == replay(feed, bandKeys(feed)),
      s"decisions diverge after restart: $got")
    assert(!got(5L)._1, "pre-restart claims were lost")
  }

  test("band-claim state falls once event time passes the eviction horizon") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Doc]
    val q = TwsGates.neardupStreamTws(mem.toDF())
      .writeStream.format("memory").queryName("neardup_evict")
      .outputMode("append").start()
    def stateRows(): Long = {
      val ops = q.lastProgress.stateOperators
      assert(ops.length == 1, "one stateful operator: the band-claim store")
      ops.head.numRowsTotal
    }
    try {
      mem.addData(feed: _*); q.processAllAvailable()
      val primed = stateRows()
      assert(primed > 0)
      // the feed's claims are due at t0 + horizon; one later document moves
      // the watermark (its ts − horizon) past them, and the no-data batch
      // that follows fires their eviction timers
      val horizon = TwsGates.horizonMillis("2 hours")
      val late = new java.sql.Timestamp(t0.getTime + 2 * horizon + 60000L)
      mem.addData(Doc(8L, "a late document on checkpoint compaction and " +
        "snapshot uploads that arrives well after the eviction horizon", 7L,
        late))
      q.processAllAvailable()
      val after = stateRows()
      assert(after < primed,
        s"state did not fall past the horizon: $primed -> $after rows")
    } finally q.stop()
  }

  test("signatures equal the Column reference on adversarial texts") {
    // seeded adversarial corpus: unicode (supplementary-plane characters,
    // combining marks, lone and stacked), empty words from
    // doubled/leading/trailing spaces, sub-shingle-length and null texts —
    // the places split/md5/lane parity could silently diverge
    val rnd = new scala.util.Random(0x13)
    val alpha = Vector("a", "bb", "é", "дом", "😀", "𝒜x", "", "z9",
      "\uD840\uDC00", "e\u0301", "\u0301", "a\u0308\u0323", "👩\u200D💻")
    val texts: Seq[String] = (0 until 200).map { i =>
      if (i % 37 == 0) null
      else {
        val n = rnd.nextInt(12)
        val body = (0 until n).map(_ => alpha(rnd.nextInt(alpha.size)))
          .mkString(" ")
        (if (i % 11 == 0) " " + body else body) +
          (if (rnd.nextBoolean()) " " else "")
      }
    }
    val df = texts.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val ref = columnSignatures(df)
    assert(signatureMap(TextDedup.minhashSignatures(df, "doc_id", "text")) == ref)
    texts.zipWithIndex.foreach { case (t, i) =>
      val jvm = Option(TextDedup.minhashSignatureJvm(t)).map(_.toSeq)
      assert(jvm == ref.get(i.toLong),
        s"doc $i (${Option(t).map(_.take(40))}): jvm=$jvm ref=${ref.get(i.toLong)}")
    }
    // the generator must exercise both branches
    assert(ref.nonEmpty && ref.size < texts.size)
  }

  test("horizonMillis parses every watermark delay Spark accepts") {
    // simple, compound, and week units — Spark's IntervalUtils grammar
    assert(TwsGates.horizonMillis("2 hours") == 7200000L)
    assert(TwsGates.horizonMillis("90 seconds") == 90000L)
    assert(TwsGates.horizonMillis("1 hour 30 minutes") == 5400000L)
    assert(TwsGates.horizonMillis("1 week") == 7L * 86400000L)
    assert(TwsGates.horizonMillis("2 days 3 hours 15 minutes") ==
      2L * 86400000L + 3L * 3600000L + 15L * 60000L)
    // calendar months have no fixed width — rejected, not mis-sized
    intercept[IllegalArgumentException] {
      TwsGates.horizonMillis("1 month")
    }
  }

  test("a signature length that is not a band multiple is rejected") {
    val df = Seq((1L, "a b c d e f", 0L, t0)).toDF("doc_id", "text", "seq", "ts")
    intercept[IllegalArgumentException] {
      TwsGates.neardupStreamTws(df, k = TextDedup.NumHashes + 1)
    }
  }

  test("real-corpus parity: sf0.001 documents vs the sequential replay") {
    val corpus = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").collect()
      .sortBy(_.getLong(0)).zipWithIndex
      .map { case (r, i) => Doc(r.getLong(0), r.getString(1), i.toLong, t0) }
      .toSeq
    val want = replay(corpus, bandKeys(corpus))
    val got = run(corpus.grouped(150).toSeq, "neardup_corpus")
    assert(got == want)
    // the corpus must exercise the gate (it plants duplicates)
    val dropped = got.count(!_._2._1)
    assert(dropped > 0 && dropped < corpus.size,
      s"fixture-exercise: dropped=$dropped of ${corpus.size}")
  }
}
