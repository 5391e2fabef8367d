package graft

/** The driver contract's flagship entry: a non-empty (url, pr) ranking of
  * the synthesized pages, one row per url, whose ranks are a probability
  * distribution. */
class SparkEntrySpec extends SparkSpec {

  test("SparkEntry.entry: non-empty, one row per url, pr sums to 1") {
    val rows = SparkEntry.entry(spark).collect()
    assert(rows.nonEmpty)
    val urls = rows.map(_.getAs[String]("url"))
    assert(urls.distinct.length == urls.length, "url must be unique")
    val mass = rows.map(_.getAs[Double]("pr")).sum
    assert(math.abs(mass - 1.0) < 1e-6, s"Σ pr = $mass")
  }
}
