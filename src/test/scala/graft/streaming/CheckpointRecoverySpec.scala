package graft.streaming

import graft.TestSpark
import graft.streaming.TwsStatefulOps.{UserEvent, UserProfile}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** The durability half of the streaming story: keyed state must survive a
  * query RESTART through the checkpoint — a deployment upgrades, crashes,
  * and rebalances, and "exactly once" is only true if the state store
  * rehydrates. MemoryStream + a real on-disk checkpointLocation + a
  * foreachBatch collector (sink-agnostic, so the restart semantics under
  * test are the ENGINE's, not a sink's).
  */
class CheckpointRecoverySpec extends AnyFunSuite {

  private val spark = TestSpark.spark
  import spark.implicits._

  test("transformWithState state survives a stop/restart cycle") {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_ckpt_recovery").toString
    val results =
      java.util.Collections.synchronizedList(
        new java.util.ArrayList[UserProfile]())
    val mem = MemoryStream[UserEvent]

    def start() = TwsStatefulOps.userProfilesTws(mem.toDS())
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[UserProfile],
                       _: Long) =>
        batch.collect().foreach(results.add)
      }
      .start()

    val q1 = start()
    try {
      mem.addData(
        UserEvent(1L, "click", 1.0, 100L),
        UserEvent(1L, "purchase", 5.0, 200L),
        UserEvent(2L, "view", 2.0, 150L))
      q1.processAllAvailable()
    } finally q1.stop()

    // restart from the same checkpoint: the state store must rehydrate
    // user 1's (2 events, 1 purchase, 6.0) before folding the new batch
    val q2 = start()
    try {
      mem.addData(UserEvent(1L, "purchase", 4.0, 400L))
      q2.processAllAvailable()
      val u1 = results.toArray(Array.empty[UserProfile])
        .filter(_.user_id == 1L).maxBy(_.n_events)
      assert(u1 == UserProfile(1L, 3L, 2L, 10.0, 400L),
        s"state did not survive the restart: $u1")
      // user 2 untouched after restart: no spurious re-emission
      val u2 = results.toArray(Array.empty[UserProfile])
        .filter(_.user_id == 2L).maxBy(_.n_events)
      assert(u2 == UserProfile(2L, 1L, 0L, 2.0, 150L))
    } finally q2.stop()
  }
}
