package graft

import org.apache.spark.sql.functions.{rand, udf}
import graft.sinks.{SnapshotConcurrentWriteException, SnapshotMerge}

/** Pins for the optimistic-rebase combinator
  * ([[graft.sinks.SnapshotMerge.retrying]] and its frame-less
  * [[graft.sinks.SnapshotMerge.retryLoop]]): the attempt bound and the
  * once-only pin of the incoming frame. The racing-writer specs
  * (SnapshotLockSpec, MorUpdateSpec, …) cover the success paths.
  */
class RetrySpec extends SparkFunSuite {
  import spark.implicits._

  private def fenced(n: Int) = new SnapshotConcurrentWriteException(s"fenced $n")

  test("maxAttempts = 0 is refused before any attempt") {
    var calls = 0
    intercept[IllegalArgumentException] {
      SnapshotMerge.retryLoop(maxAttempts = 0) { calls += 1 }
    }
    intercept[IllegalArgumentException] {
      SnapshotMerge.retrying(Seq(1L).toDF("id"), maxAttempts = 0)(_ => calls += 1)
    }
    assert(calls == 0)
  }

  test("a write fenced on every attempt runs maxAttempts times and rethrows the last conflict") {
    var calls = 0
    val e = intercept[SnapshotConcurrentWriteException] {
      SnapshotMerge.retrying(Seq(1L).toDF("id"), maxAttempts = 3) { _ =>
        calls += 1
        throw fenced(calls)
      }
    }
    assert(calls == 3)
    assert(e.getMessage == "fenced 3")
    // any other failure is not a conflict: no retry
    calls = 0
    intercept[IllegalStateException] {
      SnapshotMerge.retryLoop(maxAttempts = 3) {
        calls += 1
        throw new IllegalStateException("not a fence")
      }
    }
    assert(calls == 1)
  }

  test("a non-deterministic incoming hands the same rows to every attempt") {
    // rand() is seeded once per plan; the UDF draws afresh on every
    // execution, so an unpinned frame differs between actions
    val draw = udf(() => java.util.concurrent.ThreadLocalRandom.current().nextLong())
      .asNondeterministic()
    val incoming = spark.range(0, 20).toDF("id")
      .withColumn("r", rand()).withColumn("d", draw())
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(rows(incoming) != rows(incoming), "control: the frame must re-draw per action")
    val seen = scala.collection.mutable.ArrayBuffer.empty[Seq[(Long, Double, Long)]]
    val (n, conflicts) = SnapshotMerge.retrying(incoming, maxAttempts = 3) { inc =>
      seen += rows(inc)
      if (seen.size < 3) throw fenced(seen.size)
      seen.size
    }
    assert(n == 3 && conflicts == 2)
    assert(seen.distinct.size == 1, "every attempt must see the one pinned draw")
  }
}
