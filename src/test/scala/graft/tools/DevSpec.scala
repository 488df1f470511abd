package graft.tools

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** [[Dev]] subcommands on the shared test session: the plan census of a
  * key of known shape in its initial (`survey`) and AQE final (`plan`)
  * plans, `lint` and `explain` over the same keys, and argument
  * validation that fails before any query is built.
  */
class DevSpec extends AnyFunSuite {

  private val spark = TestSpark.spark
  private val sfDir = "/root/testdata/sf0.001"
  private val keys = Dev.keys("join_left,scan_projected")

  test("survey and plan census join_left's broadcast join in the initial " +
    "and the AQE final plan") {
    val initial = Dev.survey(spark, sfDir, keys)
    assert(initial.keySet == keys.toSet)
    // orders LEFT JOIN customer (broadcast) ORDER BY o_orderkey (range
    // shuffle)
    val c = initial("join_left")
    assert(c.scans == Map("orders" -> 1, "customer" -> 1))
    assert((c.shuffles, c.broadcasts, c.reused, c.rddScans) == (1, 1, 0, 0))
    assert(c.joins == Map("BroadcastHashJoin" -> 1))
    assert((c.generates, c.windows, c.sortAggs, c.dupCount) == (0, 0, 0, 0))
    // the final plan wraps each exchange in a query stage; the census
    // reaches through them to the same operators
    val f = Dev.plan(spark, sfDir, keys)("join_left")
    assert(f.copy(dupSize = 0, dupCount = 0, dupHead = "") ==
      c.copy(dupSize = 0, dupCount = 0, dupHead = ""))
  }

  test("lint reports per flagged key; explain writes one file per key") {
    val flagged = Dev.lint(spark, sfDir, keys)
    assert(flagged.keySet.subsetOf(keys.toSet))
    assert(!flagged.values.flatten.exists(_.rule == "probe-error"), flagged)
    val out = java.nio.file.Files.createTempDirectory("graft_dev_explain")
    val files = Dev.explain(spark, sfDir, out, "before", keys)
    assert(files.map(_.getFileName.toString) ==
      Seq("join_left_before.txt", "scan_projected_before.txt"))
    files.foreach { f =>
      assert(new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
        .contains("== Physical Plan =="), f)
    }
  }

  test("an unknown key fails by name before any query is built") {
    for (args <- Seq(Seq("survey", "join_left,join_lefty"),
                     Seq("plan", "join_lefty"), Seq("one", "join_lefty"))) {
      val e = intercept[IllegalArgumentException](Dev.parse(args))
      assert(e.getMessage.contains("join_lefty"), args)
    }
  }

  test("an unknown or incomplete subcommand fails by name") {
    val e = intercept[IllegalArgumentException](Dev.parse(Seq("surveys")))
    assert(e.getMessage.contains("surveys"))
    intercept[IllegalArgumentException](Dev.parse(Seq.empty))
    val missing = intercept[IllegalArgumentException](Dev.parse(Seq("plan")))
    assert(missing.getMessage.contains("<keys>"))
  }
}
