package graft.plans

import graft.TestSpark
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** [[DistributeGlobalRank]] certification: naive global-rank SQL is
  * rewritten to the distributed Ranking form with identical results
  * (including null, NaN, descending, and string-keyed orders), while
  * every guarded shape — top-k rank filters, bounded inputs, tie-aware
  * rank functions — keeps its original (better or required) plan.
  */
class DistributeGlobalRankSpec extends AnyFunSuite {

  private val spark = TestSpark.spark
  import spark.implicits._

  /** Deliberately messy: ~10% nulls, a NaN, heavy ties, negative values.
    * Written to parquet and read back: a LocalRelation knows its own
    * maxRows, so the (optimizer-time) rule would correctly refuse it as
    * bounded — a file scan is the honest "unbounded input" fixture.
    */
  private lazy val messy: DataFrame = {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 400).map { i =>
      val v: java.lang.Double =
        if (i == 13) Double.NaN
        else if (rnd.nextDouble() < 0.1) null
        else if (rnd.nextDouble() < 0.3) (rnd.nextInt(3) * 10).toDouble - 10
        else rnd.nextDouble() * 100 - 50
      val s = rnd.alphanumeric.take(rnd.nextInt(6)).mkString
      (i.toLong, v, s)
    }
    val path = graft.SparkSessions.scratchDir() + "/dgr_messy"
    rows.toDF("id", "v", "s").write.mode("overwrite").parquet(path)
    val df = spark.read.parquet(path)
    df.createOrReplaceTempView("messy")
    df
  }

  private def withRule[T](enabled: Boolean)(f: => T): T = {
    val key = DistributeGlobalRank.ConfKey
    val old = spark.conf.getOption(key)
    spark.conf.set(key, enabled.toString)
    try f
    finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** An unpartitioned Window COMPUTING A RANK — the shape the rule
    * removes. Ranking's internal offsets prefix-sum is also an
    * unpartitioned window, but over sum and a bounded input, so the
    * rank-function restriction keeps the check honest on both sides.
    */
  private def hasSingleTaskRankWindow(df: DataFrame): Boolean =
    PlanLint.initialPlan(df).exists {
      case w: org.apache.spark.sql.execution.window.WindowExec =>
        w.partitionSpec.isEmpty && w.windowExpression.exists(_.exists {
          case _: org.apache.spark.sql.catalyst.expressions.RowNumber => true
          case _: org.apache.spark.sql.catalyst.expressions.NTile => true
          case _ => false
        })
      case _ => false
    }

  test("naive global row_number rewrites: same answer, no single-task window") {
    messy
    for (order <- Seq(
        "v, id", "v DESC, id", "v ASC NULLS LAST, id",
        "s, id", "s DESC, id")) {
      val sql = s"SELECT id, row_number() OVER (ORDER BY $order) AS rn FROM messy"
      val auto = withRule(true) {
        val df = spark.sql(sql)
        assert(!hasSingleTaskRankWindow(df),
          s"rule did not fire for ORDER BY $order:\n${df.queryExecution.executedPlan}")
        df.as[(Long, Int)].collect().toMap
      }
      val naive = withRule(false) {
        val df = spark.sql(sql)
        assert(hasSingleTaskRankWindow(df), "conf off must restore the naive plan")
        df.as[(Long, Int)].collect().toMap
      }
      assert(auto == naive, s"rank diverged for ORDER BY $order")
    }
  }

  test("naive global ntile rewrites with identical buckets") {
    messy
    val sql = "SELECT id, ntile(7) OVER (ORDER BY v, id) AS q FROM messy"
    val auto = withRule(true) {
      val df = spark.sql(sql)
      assert(!hasSingleTaskRankWindow(df))
      df.as[(Long, Int)].collect().toMap
    }
    val naive = withRule(false)(spark.sql(sql).as[(Long, Int)].collect().toMap)
    assert(auto == naive)
  }

  test("a rank consumed by a filter keeps Spark's top-k plan") {
    // over a file scan, Filter(rn <= k) + global row_number is the
    // WindowGroupLimit idiom — the guard must leave it to Spark
    spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .createOrReplaceTempView("dgr_orders")
    val sql = """SELECT o_orderkey, rn FROM (
                |  SELECT o_orderkey, row_number()
                |    OVER (ORDER BY o_totalprice, o_orderkey) AS rn
                |  FROM dgr_orders) WHERE rn <= 5""".stripMargin
    val plan = PlanLint.initialPlan(withRule(true)(spark.sql(sql))).toString
    // Spark rewrites global-rank ≤ k into a TakeOrdered heap under the
    // window (LimitPushDownThroughWindow); partitioned variants get
    // WindowGroupLimit — either way the heap idiom must survive
    assert(plan.contains("TakeOrderedAndProject") ||
      plan.contains("WindowGroupLimit"),
      s"rewrite stole the top-k heap:\n$plan")
    assert(!plan.contains("__graft"), s"guarded window was rewritten:\n$plan")
    // same guard on a local relation, where Spark picks an even better
    // top-k shape (TakeOrdered + re-rank): still no rewrite markers
    messy
    val localPlan = PlanLint.initialPlan(withRule(true)(spark.sql(
      """SELECT id, rn FROM (
        |  SELECT id, row_number() OVER (ORDER BY v, id) AS rn
        |  FROM messy) WHERE rn <= 5""".stripMargin))).toString
    assert(!localPlan.contains("__graft"),
      s"guarded window was rewritten:\n$localPlan")
  }

  test("bounded inputs stay untouched") {
    messy
    // LIMIT bounds maxRows — a bounded single-task sort beats the pipeline
    val bounded = withRule(true)(spark.sql(
      "SELECT id, row_number() OVER (ORDER BY v, id) AS rn FROM " +
        "(SELECT * FROM messy LIMIT 50)"))
    assert(hasSingleTaskRankWindow(bounded))
  }

  test("dense_rank ranks the distinct-key frame and joins back exactly") {
    messy
    // ORDER BY v alone: ~30% tie mass, so dense ranks compress hard and
    // null/NaN peers must land on one dense index each
    val sql = """SELECT id,
                |  dense_rank() OVER (ORDER BY v DESC) AS dr,
                |  rank() OVER (ORDER BY v DESC) AS r
                |FROM messy""".stripMargin
    val auto = withRule(true) {
      val df = spark.sql(sql)
      assert(PlanLint.initialPlan(df).toString.contains("__graft"),
        s"dense_rank did not rewrite:\n${PlanLint.initialPlan(df)}")
      df.as[(Long, Int, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    }
    val naive = withRule(false)(spark.sql(sql).as[(Long, Int, Int)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap)
    assert(auto == naive)
  }

  test("the tie-aware trio (rank, percent_rank, cume_dist) rewrites with exact peers") {
    messy
    // ORDER BY v alone: the ~30% tie mass makes real peer groups, so
    // first-peer (rank), (rank-1)/(n-1) (percent_rank) and last-peer/n
    // (cume_dist) all differ from the row_number path
    val sql = """SELECT id,
                |  rank() OVER (ORDER BY v) AS r,
                |  percent_rank() OVER (ORDER BY v) AS pr,
                |  cume_dist() OVER (ORDER BY v) AS cd
                |FROM messy""".stripMargin
    val auto = withRule(true) {
      val df = spark.sql(sql)
      assert(PlanLint.initialPlan(df).toString.contains("__graft"),
        s"tie trio did not rewrite:\n${PlanLint.initialPlan(df)}")
      df.as[(Long, Int, Double, Double)].collect().toMap2
    }
    val naive = withRule(false)(
      spark.sql(sql).as[(Long, Int, Double, Double)].collect().toMap2)
    assert(auto == naive)
  }

  test("a multi-rank window derives every function from ONE distributed rank pass") {
    messy
    val sql = """SELECT id,
                |  row_number() OVER (ORDER BY v, id) AS rn,
                |  ntile(3) OVER (ORDER BY v, id) AS q3,
                |  ntile(11) OVER (ORDER BY v, id) AS q11
                |FROM messy""".stripMargin
    val auto = withRule(true) {
      val df = spark.sql(sql)
      assert(!hasSingleTaskRankWindow(df))
      df.as[(Long, Int, Int, Int)].collect().toMap2
    }
    val naive = withRule(false)(
      spark.sql(sql).as[(Long, Int, Int, Int)].collect().toMap2)
    assert(auto == naive)
    // a FRACTIONAL running sum poisons the whole node: re-associating
    // double addition would drift ULPs vs the naive sequential fold, so
    // sum(v: double) refuses and takes the co-resident row_number with it
    val mixed = withRule(true)(spark.sql(
      """SELECT id, row_number() OVER (ORDER BY v, id) AS rn,
        |  sum(v) OVER (ORDER BY v, id) AS cum FROM messy""".stripMargin))
    val mixedPlan = PlanLint.initialPlan(mixed).toString
    assert(!mixedPlan.contains("__graft"),
      s"fractional-sum window was rewritten:\n$mixedPlan")
  }

  test("running aggregates over the default RANGE frame rewrite tie-exactly") {
    messy
    // ORDER BY v alone: heavy ties, nulls-first, one NaN — every peer
    // group must share ONE value computed over the whole group, with
    // negative summands, a nullable count target, and min over the
    // null-leading key itself
    val sql = """SELECT id,
                |  sum(CAST(id % 7 - 3 AS BIGINT)) OVER (ORDER BY v) AS cs,
                |  count(*) OVER (ORDER BY v) AS cn,
                |  count(v) OVER (ORDER BY v) AS cv,
                |  avg(CAST(id % 5 AS BIGINT)) OVER (ORDER BY v) AS ca,
                |  min(v) OVER (ORDER BY v) AS cm,
                |  max(s) OVER (ORDER BY v) AS cx
                |FROM messy""".stripMargin
    def run(on: Boolean) = withRule(on) {
      val df = spark.sql(sql)
      if (on) assert(PlanLint.initialPlan(df).toString.contains("__graft"),
        s"running aggregates did not rewrite:\n${PlanLint.initialPlan(df)}")
      df.collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    }
    assert(run(on = true) == run(on = false))
  }

  test("explicit ROWS running aggregates rewrite over a unique total order") {
    messy
    val frame = "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    val sql = s"""SELECT id,
                 |  sum(CAST(id % 7 - 3 AS BIGINT))
                 |    OVER (ORDER BY v, id $frame) AS cs,
                 |  min(v) OVER (ORDER BY v, id $frame) AS cm,
                 |  count(v) OVER (ORDER BY v, id $frame) AS cv
                 |FROM messy""".stripMargin
    def run(on: Boolean) = withRule(on) {
      val df = spark.sql(sql)
      if (on) assert(PlanLint.initialPlan(df).toString.contains("__graft"),
        s"ROWS running aggregates did not rewrite:\n${PlanLint.initialPlan(df)}")
      df.collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    }
    assert(run(on = true) == run(on = false))
  }

  test("lag/lead/first_value rewrite over a unique total order") {
    messy
    // null VALUES land in the lag stream: the hit marker must keep a
    // legitimately-null lagged value distinct from the missing-row
    // default (-999 here, only on the first 3 rows of the total order)
    val sql = """SELECT id,
                |  lag(v) OVER (ORDER BY v, id) AS l1,
                |  lag(v, 3, CAST(-999 AS DOUBLE)) OVER (ORDER BY v, id) AS l3,
                |  lead(s, 2) OVER (ORDER BY v, id) AS d2,
                |  first_value(v) OVER (ORDER BY v, id) AS fv
                |FROM messy""".stripMargin
    def run(on: Boolean) = withRule(on) {
      val df = spark.sql(sql)
      if (on) assert(PlanLint.initialPlan(df).toString.contains("__graft"),
        s"offset functions did not rewrite:\n${PlanLint.initialPlan(df)}")
      df.collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    }
    assert(run(on = true) == run(on = false))
  }

  test("IGNORE NULLS and last_value keep the whole node naive") {
    messy
    for (fn <- Seq("lag(v) IGNORE NULLS", "last_value(v)",
        "nth_value(v, 2)")) {
      val plan = PlanLint.initialPlan(withRule(true)(spark.sql(
        s"""SELECT id, row_number() OVER (ORDER BY v, id) AS rn,
           |  $fn OVER (ORDER BY v, id) AS x FROM messy""".stripMargin)))
      assert(!plan.toString.contains("__graft"),
        s"$fn window was rewritten:\n$plan")
    }
  }

  test("a window mixing ranks and running aggregates stays mutually consistent") {
    messy
    // rank functions and the RANGE sum coexist in one Window node; the
    // rewrite must keep every output consistent with every other
    val sql = """SELECT id,
                |  row_number() OVER (ORDER BY v, id) AS rn,
                |  dense_rank() OVER (ORDER BY v, id) AS dr,
                |  sum(CAST(id % 7 - 3 AS BIGINT)) OVER (ORDER BY v, id) AS cs
                |FROM messy""".stripMargin
    def run(on: Boolean) = withRule(on) {
      val df = spark.sql(sql)
      if (on) assert(!hasSingleTaskRankWindow(df))
      df.collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    }
    assert(run(on = true) == run(on = false))
  }

  private implicit class Map2[A, B, C, D](rows: Array[(A, B, C, D)]) {
    def toMap2: Map[A, (B, C, D)] =
      rows.map(r => r._1 -> ((r._2, r._3, r._4))).toMap
  }

  test("whole-partition aggregates (OVER ()) rewrite to a broadcast global aggregate") {
    messy
    // the percent-of-total idiom: no ORDER BY at all, plus an explicit
    // unbounded-to-unbounded frame WITH an order — both are
    // whole-partition and must match naive bit-for-bit (integral sums)
    val sql = """SELECT id,
                |  sum(CAST(id % 7 - 3 AS BIGINT)) OVER () AS ts,
                |  count(v) OVER () AS tc,
                |  min(v) OVER () AS tm,
                |  avg(CAST(id % 5 AS BIGINT)) OVER () AS ta,
                |  max(v) OVER (ORDER BY v, id ROWS BETWEEN UNBOUNDED
                |    PRECEDING AND UNBOUNDED FOLLOWING) AS tx
                |FROM messy""".stripMargin
    def run(on: Boolean) = withRule(on) {
      val df = spark.sql(sql)
      if (on) assert(PlanLint.initialPlan(df).toString.contains("__graft"),
        s"whole-partition aggregates did not rewrite:\n${PlanLint.initialPlan(df)}")
      // max(v) is NaN (NaN sorts greatest) and Scala's == says
      // NaN != NaN — compare through a sentinel
      df.collect().map(r => r.getLong(0) -> r.toSeq.drop(1).map {
        case d: java.lang.Double if d.isNaN => "NaN"
        case x => x
      }).toMap
    }
    assert(run(on = true) == run(on = false))
    // a fractional whole-partition sum still refuses (stored bits)
    val frac = PlanLint.initialPlan(withRule(true)(spark.sql(
      "SELECT id, sum(v) OVER () AS s FROM messy")))
    assert(!frac.toString.contains("__graft"),
      s"fractional whole-partition sum was rewritten:\n$frac")
  }

  test("every family in ONE window node stays mutually consistent") {
    messy
    // rank arithmetic + tie trio + dense + RANGE agg + ROWS agg + lag +
    // first_value, all over the same ORDER BY — the rewrite must keep
    // the whole tuple identical to the naive plan's (order unique, so
    // even the tie-order-sensitive outputs are deterministic)
    val frame = "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    val sql = s"""SELECT id,
                 |  row_number() OVER (ORDER BY v, id) AS rn,
                 |  rank() OVER (ORDER BY v, id) AS r,
                 |  dense_rank() OVER (ORDER BY v, id) AS dr,
                 |  ntile(5) OVER (ORDER BY v, id) AS q,
                 |  cume_dist() OVER (ORDER BY v, id) AS cd,
                 |  sum(CAST(id % 7 - 3 AS BIGINT)) OVER (ORDER BY v, id) AS cs,
                 |  min(v) OVER (ORDER BY v, id $frame) AS cm,
                 |  lag(s, 2) OVER (ORDER BY v, id) AS l2,
                 |  first_value(v) OVER (ORDER BY v, id) AS fv
                 |FROM messy""".stripMargin
    def run(on: Boolean) = withRule(on) {
      val df = spark.sql(sql)
      if (on) {
        assert(!hasSingleTaskRankWindow(df))
        assert(PlanLint.initialPlan(df).toString.contains("__graft"))
      }
      df.collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    }
    assert(run(on = true) == run(on = false))
  }

  test("the rewritten subtree composes: aggregate on top of an auto-distributed rank") {
    messy
    val sql = """SELECT CAST(count(*) AS BIGINT) AS n, max(rn) AS mx FROM (
                |  SELECT row_number() OVER (ORDER BY v DESC, id DESC) AS rn
                |  FROM messy)""".stripMargin
    val auto = withRule(true)(spark.sql(sql).as[(Long, Int)].collect().head)
    assert(auto === ((400L, 400)))
  }

  // ---------------- partitioned leg (stats-gated) ----------------

  /** A stats-bearing catalog table with a PROVEN low-NDV integral key
    * (3 values over 300 rows), a unique-within-key order column, and
    * ~15% nulls in the summed value — the fixture for every
    * partitioned-leg path (sum-null, count-0, avg-null included).
    */
  private lazy val partTable: String = {
    val rnd = new scala.util.Random(11)
    val rows = (0 until 300).map { i =>
      val v: java.lang.Long =
        if (rnd.nextDouble() < 0.15) null else rnd.nextInt(100).toLong
      (i % 3, i.toLong, v)
    }
    val path = graft.SparkSessions.scratchDir() + "/dgr_part"
    rows.toDF("k", "ord", "v").write.mode("overwrite").parquet(path)
    val name = "graft_dgr_part_fixture"
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"CREATE TABLE $name USING parquet LOCATION '$path'")
    spark.sql(s"ANALYZE TABLE $name COMPUTE STATISTICS FOR COLUMNS k, ord")
    name
  }

  private val partSql =
    """SELECT k, ord,
      |  row_number() OVER (PARTITION BY k ORDER BY ord) AS rn,
      |  sum(v) OVER (PARTITION BY k ORDER BY ord
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |  count(v) OVER (PARTITION BY k ORDER BY ord
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cnt_v,
      |  count(*) OVER (PARTITION BY k ORDER BY ord
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cnt,
      |  avg(v) OVER (PARTITION BY k ORDER BY ord
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS av
      |FROM TBL""".stripMargin

  /** A WindowExec partitioned by a USER key — the skew-bound shape the
    * leg removes. Ranking's internal per-range window (partitioned by
    * `__graft_pid`, ~n/P rows per partition by construction) is the
    * replacement, not the problem, so `__graft`-keyed windows pass.
    */
  private def hasPartitionedWindow(df: DataFrame): Boolean =
    PlanLint.initialPlan(df).exists {
      case w: org.apache.spark.sql.execution.window.WindowExec =>
        w.partitionSpec.nonEmpty &&
          !w.partitionSpec.forall(_.references.forall(
            _.name.startsWith("__graft")))
      case _ => false
    }

  private def collectPart(df: DataFrame) =
    df.orderBy("k", "ord")
      .as[(Int, Long, Int, Option[Long], Long, Long, Option[Double])]
      .collect().toSeq

  /** The test session runs 4 shuffle partitions, where NDV=3 is NOT
    * provably skewed (2·3 > 4 — and the gate correctly refused there
    * before this scope existed); the gate's intended regime needs the
    * key far below the partition count.
    */
  private def withParts[T](n: Int)(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try f finally spark.conf.set(key, old)
  }

  /** The toy fixtures run ~100 rows per key — far below the production
    * rows-per-key cost floor (which exists precisely so shapes THIS
    * small keep their naive plan). Tests exercising the rewrite itself
    * scope the floor down; the floor's own refusal test runs defaults.
    */
  private def withFloor[T](n: Long)(f: => T): T =
    graft.ops.CatalogStats.withConf(spark,
      DistributeGlobalRank.PartitionedMinRowsKey -> n.toString)(f)

  test("partitioned windows rewrite when catalog stats prove low key NDV") {
    val sql = partSql.replace("TBL", partTable)
    withParts(32) { withFloor(1) {
    graft.ops.CatalogStats.withCbo(spark) {
      val naive = withRule(false)(collectPart(spark.sql(sql)))
      withRule(true) {
        val df = spark.sql(sql)
        assert(df.queryExecution.optimizedPlan.toString.contains("__graft"),
          "stats-proven low-NDV partitioned window was not rewritten")
        assert(!hasPartitionedWindow(df),
          "rewritten plan still contains a partitioned WindowExec")
        assert(collectPart(df) == naive)
      }
    }
    } }
  }

  test("stale stats clamp the in-key split — balance degrades, ranks never") {
    // append rows whose order values lie OUTSIDE the analyzed min/max
    // (and a new key value), without re-analyzing: the rewrite still
    // fires on the stale stats, the out-of-bounds fractions clamp into
    // [0, 1), and the results must still equal the naive plan exactly
    val name = partTable
    val path = graft.SparkSessions.scratchDir() + "/dgr_part"
    val extra = (0 until 60).map(i => (i % 4, 100000L + i, // ord ≫ max(299)
      java.lang.Long.valueOf(i.toLong)))
    extra.toDF("k", "ord", "v").write.mode("append").parquet(path)
    try {
      spark.catalog.refreshTable(name)
      val sql = partSql.replace("TBL", name)
      withParts(32) { withFloor(1) {
        graft.ops.CatalogStats.withCbo(spark) {
          val naive = withRule(false)(collectPart(spark.sql(sql)))
          withRule(true) {
            val df = spark.sql(sql)
            assert(df.queryExecution.optimizedPlan.toString
              .contains("__graft"), "stale stats stopped the rewrite")
            assert(collectPart(df) == naive,
              "stale-bounds clamp changed a rank or sum")
          }
        }
      } }
    } finally {
      // restore the fixture for any later test: rewrite the original rows
      val rnd = new scala.util.Random(11)
      val rows = (0 until 300).map { i =>
        val v: java.lang.Long =
          if (rnd.nextDouble() < 0.15) null else rnd.nextInt(100).toLong
        (i % 3, i.toLong, v)
      }
      rows.toDF("k", "ord", "v").write.mode("overwrite").parquet(path)
      spark.catalog.refreshTable(name)
    }
  }

  test("default RANGE frames rewrite per distinct order value — " +
    "tie-exact where a ROWS rewrite would be engine latitude") {
    // planted TIES: several rows share (k, ord), including an all-null
    // group — peers must SHARE the cumulative value exactly
    val rows = Seq(
      (0, 10L, Some(1L)), (0, 10L, Some(2L)), (0, 10L, None), // tied peers
      (0, 20L, None), (0, 20L, None),                          // all-null grp
      (0, 30L, Some(5L)),
      (1, 10L, None), (1, 10L, None),   // key whose FIRST group is all-null
      (1, 20L, Some(7L)), (1, 20L, Some(7L)),
      (2, 10L, Some(4L))
    ).map { case (k, o, v) =>
      (k, o, v.map(java.lang.Long.valueOf).orNull) }
    val path = graft.SparkSessions.scratchDir() + "/dgr_range"
    rows.toDF("k", "ord", "v").write.mode("overwrite").parquet(path)
    val name = "graft_dgr_range_fixture"
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"CREATE TABLE $name USING parquet LOCATION '$path'")
    spark.sql(s"ANALYZE TABLE $name COMPUTE STATISTICS FOR COLUMNS k, ord")
    val sql =
      s"""SELECT k, ord,
         |  sum(v) OVER (PARTITION BY k ORDER BY ord) AS cum,
         |  count(v) OVER (PARTITION BY k ORDER BY ord) AS cnt_v,
         |  count(*) OVER (PARTITION BY k ORDER BY ord) AS cnt,
         |  avg(v) OVER (PARTITION BY k ORDER BY ord) AS av
         |FROM $name""".stripMargin
    def collectR(df: DataFrame) = df.orderBy("k", "ord", "cum")
      .as[(Int, Long, Option[Long], Long, Long, Option[Double])]
      .collect().toSeq
    withParts(32) { withFloor(1) {
      graft.ops.CatalogStats.withCbo(spark) {
        val naive = withRule(false)(collectR(spark.sql(sql)))
        withRule(true) {
          val df = spark.sql(sql)
          assert(df.queryExecution.optimizedPlan.toString.contains("__graft"),
            "RANGE-frame partitioned window was not rewritten")
          assert(!hasPartitionedWindow(df))
          assert(collectR(df) == naive)
          // DESC order also rewrites (fraction flips with the direction)
          val desc = sql.replace("ORDER BY ord", "ORDER BY ord DESC")
          val dfd = spark.sql(desc)
          assert(dfd.queryExecution.optimizedPlan.toString
            .contains("__graft"), "DESC RANGE frame was not rewritten")
          assert(collectR(dfd) ==
            withRule(false)(collectR(spark.sql(desc))))
        }
      }
    } }
  }

  test("composite partition keys: NDV product gates, packed proxy splits, " +
    "null key slots group like SQL") {
    // two keys (k1 NDV 2 incl null, k2 NDV 3 incl null): product 6,
    // 2·6 ≤ 32 — provable; null keys form their own SQL partitions and
    // must rank within them. k2 nulls are the packing's hardest case:
    // with a span-wide multiplier and null = −1, (k1=s, k2=max) TIED
    // with (k1=s+1, k2=null) and the order fraction inverted them —
    // the span+1/own-null-slot packing this fixture now exercises
    val rows = (0 until 240).map { i =>
      val k1: java.lang.Integer = if (i % 7 == 0) null else i % 2
      val k2: java.lang.Integer = if (i % 13 == 0) null else i % 3
      val v: java.lang.Long =
        if (i % 5 == 0) null else java.lang.Long.valueOf((i % 97).toLong)
      (k1, k2, i.toLong, v)
    }
    val path = graft.SparkSessions.scratchDir() + "/dgr_multi"
    rows.toDF("k1", "k2", "ord", "v").write.mode("overwrite").parquet(path)
    val name = "graft_dgr_multi_fixture"
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"CREATE TABLE $name USING parquet LOCATION '$path'")
    spark.sql(
      s"ANALYZE TABLE $name COMPUTE STATISTICS FOR COLUMNS k1, k2, ord")
    val rowsSql =
      s"""SELECT k1, k2, ord,
         |  row_number() OVER (PARTITION BY k1, k2 ORDER BY ord) AS rn,
         |  sum(v) OVER (PARTITION BY k1, k2 ORDER BY ord
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |FROM $name""".stripMargin
    val rangeSql =
      s"""SELECT k1, k2, ord,
         |  sum(v) OVER (PARTITION BY k1, k2 ORDER BY ord) AS cum
         |FROM $name""".stripMargin
    withParts(32) { withFloor(1) {
      graft.ops.CatalogStats.withCbo(spark) {
        def rowsOf(q: String) = spark.sql(q)
          .orderBy("k1", "k2", "ord").collect().map(_.toString).toSeq
        val naiveRows = withRule(false)(rowsOf(rowsSql))
        val naiveRange = withRule(false)(rowsOf(rangeSql))
        withRule(true) {
          val dfR = spark.sql(rowsSql)
          assert(dfR.queryExecution.optimizedPlan.toString
            .contains("__graft"), "composite ROWS window was not rewritten")
          assert(!hasPartitionedWindow(dfR))
          assert(rowsOf(rowsSql) == naiveRows)
          assert(spark.sql(rangeSql).queryExecution.optimizedPlan.toString
            .contains("__graft"), "composite RANGE window was not rewritten")
          assert(rowsOf(rangeSql) == naiveRange)
        }
      }
    } }
  }

  test("STRING partition keys rewrite through the dense key index: " +
    "rank + RANGE sums match naive, null keys included") {
    // `PARTITION BY source` over a low-NDV string — the most common
    // real crawl shape, which the packing cannot serve (no gap-≥-1
    // argument for strings): the rewrite builds a dense key index from
    // the distinct tuples (distributed rank, broadcast join-back) and
    // range-splits on idx + order fraction
    val rows = (0 until 260).map { i =>
      val k: String = if (i % 11 == 0) null
        else Seq("crawl", "books", "code")(i % 3)
      val v: java.lang.Long =
        if (i % 5 == 0) null else java.lang.Long.valueOf((i % 89).toLong)
      (k, i.toLong, v)
    }
    val path = graft.SparkSessions.scratchDir() + "/dgr_strkey"
    rows.toDF("k", "ord", "v").write.mode("overwrite").parquet(path)
    val name = "graft_dgr_strkey_fixture"
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"CREATE TABLE $name USING parquet LOCATION '$path'")
    spark.sql(s"ANALYZE TABLE $name COMPUTE STATISTICS FOR COLUMNS k, ord")
    val rowsSql =
      s"""SELECT k, ord,
         |  row_number() OVER (PARTITION BY k ORDER BY ord) AS rn,
         |  sum(v) OVER (PARTITION BY k ORDER BY ord
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |FROM $name""".stripMargin
    val rangeSql =
      s"""SELECT k, ord, sum(v) OVER (PARTITION BY k ORDER BY ord) AS cum
         |FROM $name""".stripMargin
    withParts(32) { withFloor(1) {
      graft.ops.CatalogStats.withCbo(spark) {
        def rowsOf(q: String) = spark.sql(q)
          .orderBy("k", "ord").collect().map(_.toString).toSeq
        val naiveRows = withRule(false)(rowsOf(rowsSql))
        val naiveRange = withRule(false)(rowsOf(rangeSql))
        withRule(true) {
          val dfR = spark.sql(rowsSql)
          assert(dfR.queryExecution.optimizedPlan.toString
            .contains("__graft_auto_kidx"),
            "string-keyed ROWS window was not index-rewritten")
          // stats-furnished split points: the dense-index path must not
          // pay a percentile pass for its range assignment (r13 trim)
          assert(!dfR.queryExecution.optimizedPlan.toString
            .contains("percentile_approx"),
            "index rewrite fell back to the percentile range sketch")
          assert(!hasPartitionedWindow(dfR))
          assert(rowsOf(rowsSql) == naiveRows)
          assert(spark.sql(rangeSql).queryExecution.optimizedPlan.toString
            .contains("__graft_auto_kidx"),
            "string-keyed RANGE window was not index-rewritten")
          assert(rowsOf(rangeSql) == naiveRange)
          // partition EXPRESSIONS still refuse (the index leg needs
          // plain attributes to copy and join back null-safely)
          val exprSql =
            s"""SELECT k, row_number() OVER (
               |  PARTITION BY k, ord % 2 ORDER BY ord) AS rn
               |FROM $name""".stripMargin
          assert(!spark.sql(exprSql).queryExecution.optimizedPlan.toString
            .contains("__graft"), "rewrote a non-attribute partition key")
        }
      }
    } }
  }

  test("MIXED string + integral partition keys route through the dense " +
    "key index: rank matches naive") {
    // `PARTITION BY source, shard` — one string key forces the index
    // leg for the whole tuple (no packing argument for strings), and
    // the integral co-key rides along as part of the distinct tuple
    val rows = (0 until 260).map { i =>
      val k: String = if (i % 13 == 0) null
        else Seq("crawl", "books", "code")(i % 3)
      (k, (i % 2).toLong, i.toLong, (i % 89).toLong)
    }
    val path = graft.SparkSessions.scratchDir() + "/dgr_strkey_mixed"
    rows.toDF("k", "par", "ord", "v").write.mode("overwrite").parquet(path)
    val name = "graft_dgr_strkey_mixed_fixture"
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"CREATE TABLE $name USING parquet LOCATION '$path'")
    spark.sql(
      s"ANALYZE TABLE $name COMPUTE STATISTICS FOR COLUMNS k, par, ord")
    val q =
      s"""SELECT k, par, ord,
         |  row_number() OVER (PARTITION BY k, par ORDER BY ord) AS rn
         |FROM $name""".stripMargin
    withParts(32) { withFloor(1) {
      graft.ops.CatalogStats.withCbo(spark) {
        def rowsOf() = spark.sql(q)
          .orderBy("k", "par", "ord").collect().map(_.toString).toSeq
        val naive = withRule(false)(rowsOf())
        withRule(true) {
          val df = spark.sql(q)
          assert(df.queryExecution.optimizedPlan.toString
            .contains("__graft_auto_kidx"),
            "mixed string+integral key was not index-rewritten")
          assert(!hasPartitionedWindow(df))
          assert(rowsOf() == naive)
        }
      }
    } }
  }

  test("high-magnitude integral keys with a proven small span pack " +
    "exactly: rank matches naive past 2^53") {
    // snowflake-ID shape: |value| ≈ 2^62 with span ≤ 100 passes the
    // span gate — the slot must subtract min in LONG space before
    // casting, or adjacent distinct keys collapse onto one double and
    // the order fraction inverts them across a range split (the r12
    // ADVICE finding; this fixture corrupts ranks under cast-first)
    val base = 1L << 62
    val rows = for (k <- 0 until 8; o <- 0 until 40)
      yield (base + k.toLong, (k * 40 + o).toLong, (o % 7).toLong)
    val path = graft.SparkSessions.scratchDir() + "/dgr_himag"
    rows.toDF("k", "ord", "v").write.mode("overwrite").parquet(path)
    val name = "graft_dgr_himag_fixture"
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"CREATE TABLE $name USING parquet LOCATION '$path'")
    spark.sql(s"ANALYZE TABLE $name COMPUTE STATISTICS FOR COLUMNS k, ord")
    val q =
      s"""SELECT k, ord,
         |  row_number() OVER (PARTITION BY k ORDER BY ord) AS rn,
         |  sum(v) OVER (PARTITION BY k ORDER BY ord
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |FROM $name""".stripMargin
    withParts(32) { withFloor(1) {
      graft.ops.CatalogStats.withCbo(spark) {
        def rowsOf() = spark.sql(q)
          .orderBy("k", "ord").collect().map(_.toString).toSeq
        val naive = withRule(false)(rowsOf())
        withRule(true) {
          val df = spark.sql(q)
          assert(df.queryExecution.optimizedPlan.toString
            .contains("__graft"),
            "high-magnitude small-span key refused (span gate should " +
              "check span, not magnitude)")
          // span 8 vs ndv 8 is dense → the packed path must ride the
          // stats-furnished split points, not the percentile sketch
          assert(!df.queryExecution.optimizedPlan.toString
            .contains("percentile_approx"),
            "dense packed rewrite fell back to the percentile sketch")
          assert(!hasPartitionedWindow(df))
          assert(rowsOf() == naive)
        }
      }
    } }
  }

  test("composite keys refuse when the packed span product leaves exact " +
    "double territory") {
    // k1's span alone (2^53+1) leaves exact-double territory, and the
    // two keys' span product does too: packing could round two adjacent
    // blocks together and invert the order — refuse in BOTH shapes
    val rows = Seq(
      (0L, 0L, 1L, 1L), ((1L << 53), (1L << 40), 2L, 2L),
      (0L, (1L << 40), 3L, 3L), ((1L << 53), 0L, 4L, 4L))
    val path = graft.SparkSessions.scratchDir() + "/dgr_widespan"
    rows.toDF("k1", "k2", "ord", "v").write.mode("overwrite").parquet(path)
    val name = "graft_dgr_widespan_fixture"
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"CREATE TABLE $name USING parquet LOCATION '$path'")
    spark.sql(
      s"ANALYZE TABLE $name COMPUTE STATISTICS FOR COLUMNS k1, k2, ord")
    // floor scoped to 1: the SPAN gate must be what refuses here, not
    // the cost floor (4 rows would trip the floor first)
    withParts(32) { withFloor(1) {
      graft.ops.CatalogStats.withCbo(spark) {
        withRule(true) {
          val q =
            s"""SELECT k1, row_number()
               |OVER (PARTITION BY k1, k2 ORDER BY ord) AS rn
               |FROM $name""".stripMargin
          assert(!spark.sql(q).queryExecution.optimizedPlan.toString
            .contains("__graft"), "rewrote a wide-span composite key")
          // the same hazard exists for a SINGLE wide-span key: past 2^52
          // the key's double cast can collapse adjacent distinct values
          // and the in-key fraction would invert the order — refuse too
          val q1 =
            s"""SELECT k1, row_number()
               |OVER (PARTITION BY k1 ORDER BY ord) AS rn
               |FROM $name""".stripMargin
          assert(!spark.sql(q1).queryExecution.optimizedPlan.toString
            .contains("__graft"), "rewrote a single wide-span key")
        }
      }
    } }
  }

  test("the NDV gate itself: 2·NDV must clear the partition count") {
    val sql = partSql.replace("TBL", partTable)
    // at 4 partitions, NDV=3 is not provably skew-bound → naive kept
    // (floor scoped to 1 so the NDV gate is the one refusing)
    withParts(4) { withFloor(1) {
      graft.ops.CatalogStats.withCbo(spark) {
        withRule(true) {
          assert(!spark.sql(sql).queryExecution.optimizedPlan.toString
            .contains("__graft"), "rewrote when 2*NDV > partitions")
        }
      }
    } }
  }

  test("the cost floor: a proven cap over trivially small per-key sorts " +
    "keeps the naive plan") {
    val sql = partSql.replace("TBL", partTable)
    withParts(32) {
      graft.ops.CatalogStats.withCbo(spark) {
        withRule(true) {
          // production default (millions of rows per key): 100 rows/key
          // is far below — naive kept even though the cap is proven
          assert(!spark.sql(sql).queryExecution.optimizedPlan.toString
            .contains("__graft"),
            "rewrote a toy-scale window under the default cost floor")
          // the gate arithmetic is rowCount ≥ floor · Πndv: 300 rows,
          // NDV 3 → fires at exactly 100 rows/key, refuses at 101
          withFloor(100) {
            assert(spark.sql(sql).queryExecution.optimizedPlan.toString
              .contains("__graft"), "floor=rows/key should rewrite")
          }
          withFloor(101) {
            assert(!spark.sql(sql).queryExecution.optimizedPlan.toString
              .contains("__graft"), "floor just above rows/key should refuse")
          }
        }
      }
    }
  }

  test("partitioned leg refuses without stats, without CBO, on high-NDV " +
    "keys, and on mixed-grain nodes") {
    val catalogSql = partSql.replace("TBL", partTable)
    // CBO off → size-only stats → naive kept even on the analyzed table
    withRule(true) {
      assert(!spark.sql(catalogSql).queryExecution.optimizedPlan.toString
        .contains("__graft"), "rewrote without cost-based stats")
    }
    graft.ops.CatalogStats.withCbo(spark) {
      withRule(true) { withFloor(1) {
        // path-based read: no column stats at all
        spark.read.parquet(graft.SparkSessions.scratchDir() + "/dgr_part")
          .createOrReplaceTempView("dgr_part_raw")
        assert(!spark.sql(partSql.replace("TBL", "dgr_part_raw"))
          .queryExecution.optimizedPlan.toString.contains("__graft"),
          "rewrote a stats-less path read")
        // high-NDV key (ord: 300 distinct ≫ partitions/2): proven NOT skewed
        val highNdv =
          s"""SELECT ord, row_number() OVER (PARTITION BY ord ORDER BY k)
             |AS rn FROM $partTable""".stripMargin
        assert(!spark.sql(highNdv).queryExecution.optimizedPlan.toString
          .contains("__graft"), "rewrote a high-NDV partition key")
        // a node MIXING row-level and RANGE grains stays naive (two
        // pipelines + two join-backs would beat no plan)
        val mixed =
          s"""SELECT k, row_number() OVER (PARTITION BY k ORDER BY ord)
             |AS rn, sum(v) OVER (PARTITION BY k ORDER BY ord) AS cum
             |FROM $partTable""".stripMargin
        assert(!spark.sql(mixed).queryExecution.optimizedPlan.toString
          .contains("__graft"), "rewrote a mixed-grain window node")
      } }
    }
  }
}
