package graft.streaming

import graft.{SparkEntry, SparkSpec, Tables}
import graft.queries.StorageQueries

/** End-to-end proof of the two-tier dedup contract documented on
  * [[EventStreams.dedupStream]]: the stream tier's state is bounded by
  * the watermark, so a duplicate arriving beyond the horizon passes
  * through (the residue must be REAL — a run where the stream caught
  * everything would make `s_two_tier_dedup`'s oracle row vacuous), and
  * the batch tier's exact keep-first reduces the composition back to
  * the corpus. */
class TwoTierDedupSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("stream tier leaks beyond-horizon duplicates; batch tier composes " +
    "to the exact answer") {
    val events = Tables.load(spark, dir, "events")
      .select("event_id", "user_id", "event_type")
    val nEvents = events.count()

    // stream tier alone: the 200 staged re-arrivals carry event times 1h
    // past the corpus max, and their keys' state was evicted when the
    // watermark advanced — they MUST leak through
    val streamTier = StorageQueries.twoTierStreamTier(spark, dir)
    val residue = streamTier.count() - nEvents
    assert(residue > 0,
      s"stream tier caught everything (residue=$residue) — two-tier " +
        "composition is vacuous")

    // composed (stream + batch keep-first) == the corpus, exactly
    val composed = SparkEntry.queries("s_two_tier_dedup")(spark, dir)
    assert(composed.count() == nEvents)
    assert(composed.except(events).count() == 0 &&
      events.except(composed).count() == 0)
  }
}
