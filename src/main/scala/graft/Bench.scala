package graft


/** Driver-contract benchmark: times every SparkEntry query at the SF dir
  * in SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * An untimed warm-up pass runs first so the timings measure steady-state
  * engine throughput (whole-stage-codegen compilation, JIT, and file
  * listing otherwise land entirely on whichever query happens to run
  * first — observed as ~12 s of noise on the first key).
  *
  * Each query then runs `reps` timed repetitions and reports the MEDIAN,
  * damping scheduler/GC noise (round-2's driver tail showed phantom 6x
  * regressions on single-shot timings that a clean rerun couldn't
  * reproduce).
  *
  * A query that throws is recorded under "errors" — NOT under "queries"
  * — because a time-to-exception reads as a (fast) success and masked a
  * real crash in round 3. A clean run has no "errors" key.
  *
  * Execution is a noop-sink WRITE, not count(): count() lets Catalyst
  * column-prune the final projection, so a map-only scoring query
  * (q41's regex ratios, q42's tokenizers, q71/q76's vector math) was
  * timed as little more than its scan — the measured work silently
  * excluded exactly the expressions those queries exist to run. The
  * noop sink consumes every output column (full projection, final
  * sort included) with zero driver materialization and no I/O cost,
  * so timings are the real per-query work. Methodology delta vs the
  * count()-based rounds 1-8 is measured and recorded in
  * IMPLEMENTATION.md's bench-protocol note.
  */
object Bench {
  private def exec(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // default to the machine's core count: an unset SPARK_GRAFT_CPUS
    // silently benching local[4] produced a phantom 40% "regression"
    // against driver numbers recorded at 32 (round-9 protocol notes)
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val spark = GraftSession.builder(s"local[$cpus]", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // dev loop: SPARK_GRAFT_ONLY=q37_ngram_jaccard,q45_curation times a
    // subset; the driver never sets it, so contract runs cover everything
    val names = sys.env.get("SPARK_GRAFT_ONLY") match {
      case Some(list) => list.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      case None => SparkEntry.queries.keys.toSeq.sorted
    }

    // warm-up pass (timed as one block, reported separately): compiles
    // codegen for every plan shape and warms the JIT + parquet footer
    // caches. warmup_sec lets a cold-start baseline be compared
    // like-with-like (cold total ~= warmup_sec, warm total = value).
    val w0 = System.nanoTime()
    names.foreach { n =>
      try exec(SparkEntry.queries(n)(spark, sfDir))
      catch { case _: Throwable => () }
    }
    val warmupSec = (System.nanoTime() - w0) / 1e9

    val timings = Seq.newBuilder[(String, Double)]
    val errors = Seq.newBuilder[(String, String)]
    names.foreach { name =>
      val secs = (1 to reps).flatMap { _ =>
        val t0 = System.nanoTime()
        try {
          exec(SparkEntry.queries(name)(spark, sfDir))
          Some((System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          errors += name -> s"${e.getClass.getName}: ${e.getMessage}"
          None
        }
      }
      if (secs.size == reps) timings += name -> secs.sorted.apply(reps / 2)
      // untimed inter-query hygiene: eager local-checkpoint blocks from
      // abandoned reps (q103/q104/CC rounds) only free after a JVM GC
      // lets ContextCleaner reap their weak refs — without this nudge
      // they accumulate across the 120-query run and inflate the LATER
      // queries' timings ~2-3x (measured: q26 0.46s clean vs 2.56s at
      // position ~30 of a full run). Between queries, not reps, so
      // steady-state per-query cost still includes its own garbage.
      System.gc()
    }

    def esc(s: String): String = s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    }
    val results = timings.result()
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val errs = errors.result().distinct
    val errJson = if (errs.isEmpty) ""
      else errs.map { case (k, v) => "\"" + k + "\":\"" + esc(v) + "\"" }
        .mkString(""","errors":{""", ",", "}")
    // Automated host-drift triage (VERDICT r11 task 6): three rounds
    // in a row a human had to divide a uniform host-drift median out
    // of the round-over-round per-query ratios by hand. Emit the
    // split here instead: median per-query ratio vs the previous
    // recorded run (bench_prev.json — refreshed from target/
    // bench.json each round, which holds the driver's own full
    // record) = the host-drift factor; outliers = keys whose ratio
    // exceeds median x 1.4, the only ones worth reading as possible
    // plan regressions (the signal/noise rule IMPLEMENTATION.md's
    // bench-protocol note prescribes). Absent file or no shared keys
    // -> fields simply omitted; triage is best-effort, never a crash.
    val driftJson = (try {
      val prevPath = sys.env.getOrElse("SPARK_GRAFT_PREV_BENCH",
        "bench_prev.json")
      val prevTxt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(prevPath)), "UTF-8")
      // scan ONLY the "queries" object: a raw copy of a bench line
      // also carries an "outliers" object whose values are RATIOS —
      // a flat whole-file scan would swallow those as seconds and
      // corrupt the triage for exactly the keys being watched
      val qStart = prevTxt.indexOf("\"queries\"")
      val body = if (qStart < 0) "" else {
        val open = prevTxt.indexOf('{', qStart)
        val close = prevTxt.indexOf('}', open)
        if (open < 0 || close < 0) "" else prevTxt.substring(open, close)
      }
      val prev = """"(q\d+[a-z0-9_]*)"\s*:\s*([0-9.eE+-]+)""".r
        .findAllMatchIn(body)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
      val ratios = results.collect {
        case (k, v) if prev.get(k).exists(_ > 0) => k -> (v / prev(k))
      }
      if (ratios.isEmpty) None else {
        val sortedR = ratios.map(_._2).sorted
        val median = sortedR(sortedR.size / 2)
        // Locale.ROOT: the f-interpolator uses the JVM default locale,
        // and a comma-decimal locale (de_DE, fr_FR, ...) would render
        // 1.0342 as "1,0342" — malformed JSON in the one contract line
        // the driver and refresh_bench_prev.py both parse
        def num(v: Double, digits: Int): String =
          String.format(java.util.Locale.ROOT, s"%.${digits}f",
            Double.box(v))
        val outliers = ratios
          .filter { case (_, r) => r > median * 1.4 }
          .sortBy(-_._2)
          .map { case (k, r) => "\"" + k + "\":" + num(r, 3) }
          .mkString("{", ",", "}")
        Some(s""","median_ratio":${num(median, 4)},"ratio_base":${ratios.size},"outliers":$outliers""")
      }
    } catch { case _: Throwable => None }).getOrElse("")
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,"warmup_sec":$warmupSec,"queries":$qs$errJson$driftJson,"sf":"$sfDir"}"""
    println(json)
    // the driver records only a truncated tail of stdout — persist the
    // full line so later rounds can diff per-query times without rerunning
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("target/bench.json"), json + "\n")
    catch { case _: Throwable => () }
    // FULL-suite runs ALSO append to an append-only history (the r12
    // process failure, closed at the source: a later SPARK_GRAFT_ONLY
    // smoke run overwrites target/bench.json, and the r11 driver
    // record was lost that way before anyone copied it — blinding
    // r12's drift triage for 83 of 152 keys. Subset runs never append,
    // so the newest history line is always the latest full record;
    // scripts/refresh_bench_prev.py can fall back to it)
    if (sys.env.get("SPARK_GRAFT_ONLY").isEmpty)
      try java.nio.file.Files.write(
        java.nio.file.Paths.get("target/bench_history.jsonl"),
        (json + "\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      catch { case _: Throwable => () }
    if (errs.nonEmpty)
      System.err.println(s"[bench] ${errs.size} queries FAILED: " +
        errs.map(_._1).mkString(", "))
    spark.stop()
  }
}
