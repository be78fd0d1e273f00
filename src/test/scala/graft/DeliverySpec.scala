package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.delivery.{Delivery, FileLedger, InMemoryLedger}
import graft.model.GroupId
import graft.testkit.TempDirs.withTempDir

/** Delivery contracts (SURVEY.md §2a #11-#14): at-least-once replays after
  * failure, at-most-once drops after a commit-first crash, committable
  * hands control to the user. Uses MemoryStream + AvailableNow triggers
  * against real checkpoints. */
class DeliverySpec extends SparkSpec {
  import spark.implicits._

  test("at-least-once: a batch that fails is replayed on restart") {
    withTempDir("graft-ckpt") { dir =>
      val seen = new ConcurrentLinkedQueue[Long]()
      val input = MemoryStream[Int](1, spark, None)
      input.addData(1, 2, 3)

      @volatile var failOnce = true
      def run(): Unit = {
        val q = Delivery.atLeastOnce(input.toDF(), "g1", dir) { (batch, batchId) =>
          val n = batch.count()
          if (failOnce) { failOnce = false; sys.error("boom") }
          seen.add(n)
        }
        try q.awaitTermination() catch { case _: Exception => () }
      }
      run() // fails mid-batch, commit never written
      run() // replays the same offsets
      assert(seen.size() == 1, "batch must be processed exactly once after replay")
      assert(seen.peek() == 3, "replayed batch must contain the original rows")
    }
  }

  test("at-most-once: after a commit-first crash the batch is NOT redelivered") {
    withTempDir("graft-ckpt") { dir =>
      val seen = new ConcurrentLinkedQueue[Long]()
      val input = MemoryStream[Int](2, spark, None)
      input.addData(1, 2, 3)

      @volatile var failOnce = true
      def run(): Unit = {
        val q = Delivery.atMostOnce(input.toDF(), "g2", dir) { (batch, _) =>
          val n = batch.count()
          if (failOnce) { failOnce = false; sys.error("boom") }
          seen.add(n)
        }
        try q.awaitTermination() catch { case _: Exception => () }
      }
      run() // ledger marked, then crash
      run() // replayed batch is dropped by the ledger
      assert(seen.isEmpty, "at-most-once must not redeliver a marked batch")
    }
  }

  test("at-most-once with FileLedger: commit-first survives a process restart") {
    withTempDir("graft-ledger") { root =>
      val (dir, ledgerRoot) = (s"$root/ckpt", s"$root/ledger")
      val seen = new ConcurrentLinkedQueue[Long]()
      val input = MemoryStream[Int](4, spark, None)
      input.addData(1, 2, 3)

      @volatile var failOnce = true
      def run(): Unit = {
        // a FRESH FileLedger instance per run simulates a new JVM: the only
        // shared state is the marker files on disk
        val q = Delivery.atMostOnce(input.toDF(), "g4", dir, FileLedger(ledgerRoot)) { (batch, _) =>
          val n = batch.count()
          if (failOnce) { failOnce = false; sys.error("boom") }
          seen.add(n)
        }
        try q.awaitTermination() catch { case _: Exception => () }
      }
      run() // marker file created, then crash mid-batch
      run() // restart with a fresh ledger object over the same directory
      assert(seen.isEmpty, "durable ledger must drop the marked batch across restarts")
      assert(FileLedger(ledgerRoot).isMarked("g4", 0L), "marker must persist on disk")
    }
  }

  test("FileLedger markIfNew is first-wins and isMarked reflects disk state") {
    withTempDir("graft-ledger2") { root =>
      val a = FileLedger(root)
      assert(!a.isMarked("g", 7L))
      assert(a.markIfNew("g", 7L), "first mark must win")
      assert(!a.markIfNew("g", 7L), "second mark must lose")
      assert(FileLedger(root).isMarked("g", 7L), "a fresh instance must see the mark")
      assert(!FileLedger(root).markIfNew("g", 7L), "a fresh instance must not re-mark")
    }
  }

  test("committable: records count as committed only when the user commits") {
    withTempDir("graft-ckpt") { dir =>
      val input = MemoryStream[Int](3, spark, None)
      input.addData(7, 8)
      var committed = false
      val q = Delivery.committable(input.toDF(), "g3", dir) { (batch, batchId, commit) =>
        assert(!InMemoryLedger.isMarked("g3", batchId))
        batch.count()
        commit()
        committed = InMemoryLedger.isMarked("g3", batchId)
      }
      q.awaitTermination()
      assert(committed, "commit thunk must mark the ledger")
    }
  }

  test("groupId validation rejects reserved characters (reference parity)") {
    GroupId.validate("analytics-group-1")
    for (bad <- Seq("a/b", "a b", "a,b", "a*b", "a|b", "")) {
      intercept[IllegalArgumentException](GroupId.validate(bad))
    }
  }
}
