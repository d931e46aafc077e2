package graft

/** Every declared operator runs and produces a sane result shape. */
class OperatorSmokeSpec extends SparkSpec {
  private val mayBeEmpty = Set(
    "anti_join",        // every sf0.001 customer has orders
    "behavior_anomaly", // no >3-sigma burst days at sf0.001 (they
                        // exist from sf0.01 up; Round8eSpec drives the
                        // verdict on a synthetic burst instead)
    "mm_frame_dedup")   // no full-chunk duplicate frames below sf0.1
                        // now that the checksum covers the whole chunk
                        // (the r7 16-char-prefix fingerprint manufactured
                        // collisions here); MultimodalSpec drives
                        // frameDedupOf with synthetic repeated chunks

  SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
    test(s"$name runs and returns rows") {
      val df = run(name)
      val n = df.count()
      assert(df.columns.nonEmpty)
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned no rows")
    }
  }

  test("every oracle name matches a query name") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
