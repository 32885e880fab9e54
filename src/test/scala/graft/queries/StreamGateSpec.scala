package graft.queries

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.SparkSpec

/** The streamed gates' replay harness (`gate` / `files` / `drain`),
  * end to end on real gates at sf0.001: each gate runs twice and both
  * runs must collect the same rows from a fresh checkpoint at the
  * gate's `run/ckpt` — the second run is a full replay from a wiped
  * run dir, not a no-op resume of the first run's checkpoint — and
  * the session's shuffle partitions must be the same after every gate
  * as before it. The picks cover the harness's shapes: a store-seeded
  * file stream (t5), tail-staged two-source input (t3 outer), two
  * drains on one checkpoint (t27), a gate at session parallelism (t14)
  * and the ledger kept under the run dir (t26). */
class StreamGateSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"
  private val shufflePartitions = "spark.sql.shuffle.partitions"

  // gate -> (key, fingerprinted input file), as the gate resolves them
  private val gates = Seq(
    "t5_stream_cdc" -> ("stream-cdc/v1", "orders.parquet"),
    "t3_stream_join_outer" -> ("stream-join-outer/v2", "events.parquet"),
    "t27_stream_tail" -> ("stream-tail/v1", "orders.parquet"),
    "t14_stream_psi" -> ("stream-psi/v1", "events.parquet"),
    "t26_stream_ledger" -> ("stream-ledger/v1", "documents.parquet"))

  for ((name, (key, file)) <- gates)
    test(s"$name replays in full on a second run and leaves the session conf as it was") {
      val s = spark
      val run = StreamQueries.Gate.at(s, dir, key, file).run
      val before = s.conf.get(shufflePartitions)
      // a checkpoint's metadata holds the query id it was created with:
      // a new id means a fresh checkpoint, the same id a resumed one
      def replay() = {
        val rows = StreamQueries.all(name)(s, dir).collect().toSeq
        assert(s.conf.get(shufflePartitions) == before)
        (rows, Files.readString(Paths.get(s"$run/ckpt/metadata")))
      }
      val (first, firstCkpt) = replay()
      assert(first.nonEmpty)
      val (second, secondCkpt) = replay()
      assert(second == first)
      assert(secondCkpt != firstCkpt, "the second run resumed the first run's checkpoint")
    }

  test("drain rethrows the query's failure and still restores the session conf") {
    val s = spark
    import s.implicits._
    val g = StreamQueries.gate(s, dir, "stream-gate-spec/fail", "orders.parquet")
    val input = Seq(1L, 2L, 3L).toDF("id")
    input.write.mode("overwrite").parquet(g.stage)
    val before = s.conf.get(shufflePartitions)
    val boom: (DataFrame, Long) => Unit =
      (_, _) => throw new IllegalStateException("foreachBatch failed")
    val e = intercept[StreamingQueryException] {
      StreamQueries.drain(s, g, Some(3)) {
        StreamQueries.files(s, input.schema, g.stage).writeStream.foreachBatch(boom)
      }
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("foreachBatch failed"))))
    assert(s.conf.get(shufflePartitions) == before)
  }
}
