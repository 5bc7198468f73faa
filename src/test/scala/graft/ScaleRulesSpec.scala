package graft

/** Specs for `ScaleRules`: floors, bytes/target scaling, wide-build
  * hysteresis and saturation at the declared maxima. */
class ScaleRulesSpec extends SparkSpec {

  test("ScaleRules: floors, bytes/target scaling, and wide-build hysteresis") {
    val li = s"$sf01/lineitem.parquet"
    val bytes = ScaleRules.sourceBytes(spark, li)
    assert(bytes > 0)
    // bytesScaledCount: floor wins on small sources, ceil(bytes/target) past
    // it (target chosen so the round-15 MaxScaledCount clamp stays clear —
    // saturation itself is pinned in the next test)
    assert(ScaleRules.bytesScaledCount(spark, li, Long.MaxValue, 8) === 8)
    assert(ScaleRules.bytesScaledCount(spark, li, 16L, 8) ===
      math.ceil(bytes.toDouble / 16).toInt)
    // hysteresis: below the gate the SESSION width comes back untouched
    // (oracle-SF plans stay byte-identical)...
    val conf = spark.sessionState.conf.numShufflePartitions
    assert(ScaleRules.wideBuildWidth(spark, li) === conf,
      "sf0.01 lineitem is far below spill onset — must return session width")
    // ...and past the gate the width is bytes/perTask, engaged only at
    // >= WideBuildHysteresis x session width
    val perTask = bytes / (ScaleRules.WideBuildHysteresis * conf + 1)
    val wide = ScaleRules.wideBuildWidth(spark, li, perTask)
    assert(wide === (bytes / perTask).toInt && wide > ScaleRules.WideBuildHysteresis * conf,
      s"past onset the width must be bytes/perTask, got $wide")
  }

  test("ScaleRules: bytesScaledCount and wideBuildWidth saturate at their declared maxima") {
    val li = s"$sf01/lineitem.parquet"
    val bytes = ScaleRules.sourceBytes(spark, li)
    assert(bytes > ScaleRules.MaxScaledCount,
      "fixture assumption: sf0.01 lineitem must exceed MaxScaledCount bytes")
    // a 1-byte target demands `bytes` outputs — the clamp must win
    assert(ScaleRules.bytesScaledCount(spark, li, 1L, 8) === ScaleRules.MaxScaledCount)
    // the floor still wins below it (unchanged Round14 contract)
    assert(ScaleRules.bytesScaledCount(spark, li, Long.MaxValue, 8) === 8)
    // a 1-byte per-task budget demands `bytes` tasks — the clamp must win
    // (bytes >> hysteresis * session width, so the wide branch is taken)
    val conf = spark.sessionState.conf.numShufflePartitions
    assert(bytes > ScaleRules.MaxWideWidth.toLong &&
      ScaleRules.MaxWideWidth > ScaleRules.WideBuildHysteresis * conf)
    assert(ScaleRules.wideBuildWidth(spark, li, 1L) === ScaleRules.MaxWideWidth)
    // below spill onset the session width still comes back untouched
    assert(ScaleRules.wideBuildWidth(spark, li) === conf)
  }
}
