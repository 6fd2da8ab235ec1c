package graft

import graft.operators.Materialize

/** Pinned job counts of the benchmarked keys, as PlanDigests pins
  * operators: the Spark jobs started while building each key's
  * DataFrame and while its noop sink runs (the benchmark's sink), on the
  * suite session at sf0.001, with the key's tables already read once.
  * Job STARTS are counted, not ends, so a job that outlives its query
  * still counts. A change that adds or removes a job re-pins its row
  * here and says why in CHANGES.md. */
class JobCountSpec extends SparkSpec {

  // key -> (build jobs, sink jobs). `@reliable` runs the key with
  // durable checkpoints (spark.graft.reliableCheckpoints).
  // q16/q29/q33 were (0, 4) and q90 (0, 6) before SmallSortRule sorted
  // their small ordered results in place (no range sample or map job).
  private val pinned: Map[String, (Int, Int)] = Map(
    "q01_scan_count" -> (0, 2),
    "q06_join_broadcast" -> (0, 4),
    "q16_rollup" -> (0, 2),
    "q29_tumbling_window" -> (0, 2),
    "q33_text_stats" -> (0, 2),
    "q90_asof_native" -> (0, 4),
    "q67_dedup_clusters" -> (11, 3),
    "q119_pagerank" -> (5, 14),
    "q119_pagerank@reliable" -> (5, 14))

  private val Reliable = "@reliable"

  private def counts(op: String): (Int, Int) = {
    val reliable = op.endsWith(Reliable)
    if (reliable) {
      spark.sparkContext.setCheckpointDir(tempDir("graft-jobs-ckpt").toString)
      spark.conf.set(Materialize.ReliableKey, "true")
    }
    try {
      val q = SparkEntry.queries(op.stripSuffix(Reliable))
      var df: org.apache.spark.sql.DataFrame = null
      val build = JobLog.descriptionsDuring(spark) { df = q(spark, sf) }
      val sink = JobLog.descriptionsDuring(spark) {
        df.write.mode("overwrite").format("noop").save()
      }
      (build.size, sink.size)
    } finally if (reliable) {
      spark.conf.unset(Materialize.ReliableKey)
      spark.sparkContext.setCheckpointDir(null)
    }
  }

  test("build and sink job counts of the benchmarked keys are " +
      "repeatable and pinned") {
    val ops = pinned.keys.toSeq.sorted
    ops.foreach(counts) // first read of each key's tables
    val first = ops.map(k => k -> counts(k)).toMap
    val second = ops.map(k => k -> counts(k)).toMap
    assert(first == second, s"job counts differ between two runs:\n" +
      s"  first  $first\n  second $second")
    val drift = ops.filter(k => first(k) != pinned(k)).map { k =>
      val (b, s) = first(k)
      s"""    "$k" -> ($b, $s), // was ${pinned(k)}"""
    }
    assert(drift.isEmpty, "job-count drift — if intentional, paste the " +
      "rows below into JobCountSpec AND note the change in CHANGES.md:\n" +
      drift.mkString("\n"))
  }
}
