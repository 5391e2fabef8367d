package graft

import org.scalatest.funsuite.AnyFunSuite

/** graft.Bench's SPARK_GRAFT_ONLY filter never reads as an empty
  * successful run: an unknown name fails and an untimed one is reported. */
class BenchSpec extends AnyFunSuite {

  private val known = SparkEntry.queries.keySet

  /** `body`'s result and what it wrote to System.err. */
  private def stderrOf[T](body: => T): (T, String) = {
    val buf = new java.io.ByteArrayOutputStream
    val old = System.err
    System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
    try (body, buf.toString("UTF-8"))
    finally System.setErr(old)
  }

  test("SPARK_GRAFT_ONLY: an unknown name fails naming it; an untimed one is reported") {
    val e = intercept[IllegalArgumentException](
      Bench.selectQueries(known, Some(Set("q_cc", "q_no_such_query"))))
    assert(e.getMessage.contains("q_no_such_query") && !e.getMessage.contains("q_cc"))

    val (picked, err) = stderrOf(
      Bench.selectQueries(known, Some(Set("q_cc", "q_csm_maintained", "q_stream_maintained"))))
    assert(picked == Seq("q_cc"))
    assert(err.linesIterator.toSeq == Seq(
      "[bench] q_csm_maintained is oracle-gated (graft.Verify) and not timed",
      "[bench] q_stream_maintained is oracle-gated (graft.Verify) and not timed"))

    // unset: every timed query, quietly; set but empty: none
    val (all, quiet) = stderrOf(Bench.selectQueries(known, None))
    assert(all == known.toSeq.sorted.filterNot(Set("q_dedup_jaccard", "q_embed_sim_pairs",
      "q_csm_maintained", "q_stream_maintained")) && quiet.isEmpty)
    assert(Bench.selectQueries(known, Some(Set.empty)).isEmpty)
  }
}
