package graft

/** The smoke contract of the library entry point: `SparkEntry.entry` has rows. */
class SparkEntrySpec extends SparkSpec {
  test("SparkEntry.entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
