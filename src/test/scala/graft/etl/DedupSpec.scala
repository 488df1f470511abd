package graft.etl

import graft.TestSpark
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Keep-first dedup semantics (reference `etl/orders_etl.py:77-79`:
  * `drop_duplicates(keep="first")`). The reference ships no tests for this
  * operator — these are new.
  */
class DedupSpec extends AnyFunSuite {

  private val spark = TestSpark.spark
  import spark.implicits._

  /** An orders CSV with one line per (row, key, customer_id): key `k` is
    * order_source_id 5000 + k with product_id 100 + k % 3.
    */
  private def ordersCsv(lines: Seq[(Int, Int, Int)]): String = {
    val header = ",order_source_id,order_created_datetime,customer_id," +
      "status,sum,quantity,name,surname,patronymic,product_id"
    (header +: lines.map { case (row, k, customer) =>
      s"$row,${5000 + k},2021-03-01 10:00:00,$customer,paid,10.5,1," +
        s"Ivan,Petrov,Ivanovich,${100 + k % 3}"
    }).mkString("", "\n", "\n")
  }

  test("keepFirst keeps the row ranked first by the order column") {
    val df = Seq(
      (1L, "a", 10L, "first"),
      (1L, "a", 20L, "second"),
      (1L, "b", 5L, "only"),
      (2L, "a", 7L, "dup-late"),
      (2L, "a", 3L, "dup-early")
    ).toDF("k1", "k2", "seq", "tag")

    val out = Dedup.keepFirst(df, Seq("k1", "k2"), Seq(col("seq")))
      .select("k1", "k2", "tag").as[(Long, String, String)]
      .collect().toSet
    assert(out == Set((1L, "a", "first"), (1L, "b", "only"), (2L, "a", "dup-early")))
  }

  test("keepFirstFileOrder keeps the first occurrence in input order") {
    // single partition → monotonically_increasing_id encodes input order
    val df = Seq(
      (529629L, 1L, "keep"), (529629L, 1L, "drop"), (529629L, 2L, "keep2")
    ).toDF("order_source_id", "product_id", "tag").coalesce(1)

    val out = Dedup.keepFirstFileOrder(df, Seq("order_source_id", "product_id"))
      .select("tag").as[String].collect().toSet
    assert(out == Set("keep", "keep2"))
  }

  test("keepFirstFileOrder is deterministic over multi-file input (path order)") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft-dedup")
    // later-named file is LARGER — Spark packs partitions by size, which
    // would win under bare monotonically_increasing_id ordering
    Files.writeString(dir.resolve("part-a.csv"), "k,tag\n1,first\n")
    Files.writeString(dir.resolve("part-b.csv"),
      "k,tag\n" + (1 to 50).map(i => s"1,late$i").mkString("\n") + "\n")
    val df = spark.read.option("header", "true").csv(dir.toString)
    val out = Dedup.keepFirstFileOrder(df, Seq("k"))
      .select("tag").as[String].collect().toSeq
    assert(out == Seq("first"))   // from the lexicographically-first file
  }

  test("keepFirstFileOrder keeps file order when one file is read as many splits") {
    import java.nio.file.Files
    // rows 2j and 2j+1 share key j, so many pairs straddle a split
    // boundary; a second pass repeats every key far from its first row
    val n = 40
    val keys = (0 until n).map(_ / 2) ++ (0 until n).map(_ / 2)
    val dir = Files.createTempDirectory("graft-dedup-splits")
    val path = dir.resolve("orders.csv")
    Files.writeString(path, ordersCsv(keys.zipWithIndex.map {
      case (k, row) => (row, k, row) }))
    val (splits, kept) = graft.ops.CatalogStats.withConf(spark,
        "spark.sql.files.maxPartitionBytes" -> "300") {
      val df = Readers.ordersCsv(spark, path.toString)
      (df.rdd.getNumPartitions,
        Dedup.keepFirstFileOrder(df, Seq("order_source_id", "product_id"))
          .select("order_source_id", "customer_id").as[(String, String)]
          .collect().toMap)
    }
    assert(splits >= 4)
    val firstRow = keys.zipWithIndex.groupBy(_._1).map { case (k, rs) =>
      (5000 + k).toString -> rs.map(_._2).min.toString
    }
    assert(kept == firstRow)
  }

  test("keepFirstFileOrder keeps (path, line) order over several files of several splits") {
    import java.nio.file.Files
    // three files, each later-named one larger; every key recurs within a
    // file (adjacent rows, so pairs straddle split boundaries) and in the
    // other files, so the first row must win across files AND splits
    val dir = Files.createTempDirectory("graft-dedup-files")
    val rows = Seq("orders-a.csv" -> 12, "orders-b.csv" -> 30,
        "orders-c.csv" -> 60).zipWithIndex.flatMap { case ((name, n), f) =>
      val keys = (0 until n).map(i => (i / 2 + 3 * f) % 10)
      Files.writeString(dir.resolve(name), ordersCsv(keys.zipWithIndex.map {
        case (k, row) => (row, k, 1000 * f + row) }))
      keys.zipWithIndex.map { case (k, row) => (k, (f, row)) }
    }
    val (splits, kept) = graft.ops.CatalogStats.withConf(spark,
        "spark.sql.files.maxPartitionBytes" -> "300") {
      val df = Readers.ordersCsv(spark, dir.toString)
      (df.rdd.getNumPartitions,
        Dedup.keepFirstFileOrder(df, Seq("order_source_id", "product_id"))
          .select("order_source_id", "customer_id").as[(String, String)]
          .collect().toMap)
    }
    assert(splits >= 9)
    val firstRow = rows.groupBy(_._1).map { case (k, rs) =>
      val (f, row) = rs.map(_._2).min
      (5000 + k).toString -> (1000 * f + row).toString
    }
    assert(kept.size == 10 && kept == firstRow)
  }

  test("dedup row count never exceeds input and never loses keys") {
    val df = Seq.tabulate(100)(i => (i % 7L, i % 3L, i.toLong))
      .toDF("a", "b", "seq")
    val out = Dedup.keepFirst(df, Seq("a", "b"), Seq(col("seq")))
    assert(out.count() == 21)
    assert(out.select("a", "b").distinct().count() ==
      df.select("a", "b").distinct().count())
  }
}
