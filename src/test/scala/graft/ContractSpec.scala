package graft

/** Driver-contract invariants: every query runs non-empty on the smoke
  * SF, every oracle key has a query, and the flagship entry returns rows.
  */
class ContractSpec extends SparkSpec {

  test("entry (flagship) returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a matching queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("no oracle SQL formats fractional seconds (the q136 hazard class)") {
    // strftime('%f') / '%n' semantics have CHANGED across DuckDB
    // versions — q136 failed an unknown driver engine in round 9 on
    // exactly this, and r11 purged the last carriers (q63/q90/q31:
    // epoch-micros BIGINT instead). This tripwire keeps the class out:
    // sub-second timestamps must leave as epoch_us/unix_micros, never
    // as a presentation string. Second-grain patterns ('%H:%M:%S') are
    // version-stable and stay allowed.
    val bad = SparkEntry.oracleSql.collect {
      case (k, sql) if sql.contains("%f") || sql.contains("%n")
        || sql.contains("%g") => k
    }
    assert(bad.isEmpty,
      s"fractional-seconds formatting in hashed oracle SQL: ${bad.toList}")
  }

  test("engine ln()/log() reaches a hashed oracle only through the " +
      "audited carrier set (each with a pinned drift discipline)") {
    // The other engine-version-sensitive construct this repo has met
    // (VERDICT r11 task 7, the %f-tripwire's sibling): libm log
    // implementations differ by ulps ACROSS ENGINES AND VERSIONS, so a
    // raw ln() on the hashed surface is a latent q136-class driver
    // miss. Every current carrier is audited: the ln either leaves
    // through round(·, <= 4) (ulp drift invisible — q95/q97/q126/
    // q127/q128/q96), is an identical double-literal IEEE expression
    // tree folded through exact DECIMAL on both engines (q61/q118/
    // q122/q123/q131 tf-idf/BM25 family), or only ORDERS a ranking
    // whose emitted copy is rounded (q121's sample key). A NEW oracle
    // reaching for ln()/log() fails here until its discipline is
    // stated and the key added — prefer shipping the curve as data
    // (q123's log2 discount table) over computing logs in-engine.
    // ln/log family + exp/pow: libm-approximated (allowed to differ by
    // ulps per implementation), unlike sqrt, which IEEE 754 requires
    // to be CORRECTLY rounded — identical on every conforming engine —
    // and therefore needs no audit (q25/q57/q76/... use it freely).
    val audited = Set(
      "q25_math_cond", // power(): emitted through round(·, 4)
      "q61_tfidf", "q95_token_entropy", "q96_psi_drift", "q97_bigram_lm",
      "q118_bm25_rank", "q121_weighted_sample", "q122_rrf_fusion",
      "q123_ndcg", "q126_perplexity_buckets", "q127_dsir_weights",
      "q128_pmi_collocations", "q131_sparse_cosine")
    val carriers = SparkEntry.oracleSql.collect {
      case (k, sql) if "\\b(ln|log|log2|log10|exp|pow|power)\\s*\\(".r
        .findFirstIn(sql).isDefined => k
    }.toSet
    assert(carriers == audited,
      s"unaudited ln()/log()/exp()/pow() carriers: " +
        s"${(carriers -- audited).toList.sorted}" +
        s"; stale audit entries: ${(audited -- carriers).toList.sorted}")
  }

  test("every query returns rows on sf0.001") {
    val empty = SparkEntry.queries.keys.filter(rows(_) == 0)
    assert(empty.isEmpty, s"empty results: ${empty.toList.sorted}")
  }

  /** Shared totality harness: write `transform`ed twins of the ten
    * tables to a temp dir, execute EVERY query entry against them, and
    * require clean (possibly empty) results. Wrong-but-defined output
    * is out of scope (the oracle's job on the clean domain); THROWING
    * is the bug these sweeps exist to catch. */
  /** Waits until no Spark job is running, so a job a query left behind
    * neither reads the sweep's tables after they are deleted nor
    * overlaps the next key; names the key that left one on stderr. */
  private def awaitNoActiveJob(key: String): Unit = {
    val tracker = spark.sparkContext.statusTracker
    if (tracker.getActiveJobIds.nonEmpty) {
      System.err.println(s"[ContractSpec] $key left job(s) " +
        tracker.getActiveJobIds.mkString(",") + " running after its query")
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (tracker.getActiveJobIds.nonEmpty && System.nanoTime() < deadline)
        Thread.sleep(20)
    }
  }

  private def totalitySweep(label: String)(
      transform: org.apache.spark.sql.DataFrame
        => org.apache.spark.sql.DataFrame): Unit = {
    val dir = tempDir(s"graft-$label").toFile
    Tables.names.foreach { t =>
      transform(spark.read.parquet(s"$sf/$t.parquet"))
        .write.mode("overwrite")
        .parquet(s"${dir.getAbsolutePath}/$t.parquet")
    }
    val failures = SparkEntry.queries.toList.sortBy(_._1)
      .flatMap { case (k, q) =>
        // collect(), NOT count(): count() column-prunes the final
        // projection, so a per-row expression that throws on the
        // degraded domain (an ANSI 0 div 0, a cast, a parse) would
        // never execute and the sweep would vacuously pass — exactly
        // the blind spot that hid q60's empty-input divide-by-zero
        try { q(spark, dir.getAbsolutePath).collect(); None }
        catch { case e: Exception =>
          Some(s"$k: ${e.getClass.getSimpleName} " +
            String.valueOf(e.getMessage).linesIterator.take(1).mkString)
        }
        finally awaitNoActiveJob(s"$label/$k")
      }
    assert(failures.isEmpty,
      s"${failures.size} queries throw on $label tables:\n" +
        failures.mkString("\n"))
  }

  test("every query tolerates EMPTY input tables (no runtime throw)") {
    // the 100 TB reality a library must survive: a shard, partition or
    // freshly-created corpus with ZERO rows. Every operator must plan
    // and execute on schema-complete empty tables — no .head on an
    // empty agg, no broadcast of a required first row, no ANSI throw
    // from a domain that vanished.
    totalitySweep("empty")(_.limit(0))
  }

  test("every query tolerates NULL-injected inputs (no runtime throw)") {
    // the fixtures carry no NULLs, so the suite's null-domain pins
    // (filters, asc_nulls_last, coalesce) are exercised only at the
    // plan level. Null 1-in-20 of every column deterministically and
    // require every operator to still execute: ANSI null arithmetic,
    // null keys in joins/groups, null text through the tokenizers.
    import org.apache.spark.sql.functions.{col, lit, pmod, when, xxhash64}
    totalitySweep("nulls") { df =>
      val pk = df.columns.head
      df.select(df.columns.zipWithIndex.map { case (c, i) =>
        when(pmod(xxhash64(col(pk).cast("string"), lit(i)), lit(20))
          === 0, lit(null)).otherwise(col(c)).as(c)
      }.toSeq: _*)
    }
  }

  test("every ORACLED query is deterministic across shuffle " +
      "partitionings (multiset-identical results)") {
    // the distributed-correctness claim behind the DuckDB hash-match:
    // the result must not depend on how the data was partitioned —
    // no order-dependent float accumulation, no partitioning-sensitive
    // tie-breaks, no first()-of-arbitrary-row. Run every oracled query
    // under two different shuffle widths and require multiset-equal
    // rows (the driver compare's own canonicalization: sort all rows).
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    def canon(k: String): Seq[String] =
      SparkEntry.queries(k)(spark, sf).collect()
        .map(_.toSeq.map(String.valueOf).mkString("\u0001")).sorted.toSeq
    try {
      val keys = SparkEntry.oracleSql.keys.toList.sorted
      spark.conf.set(key, "3")
      val narrow = keys.map(k => k -> canon(k)).toMap
      spark.conf.set(key, "13")
      val diverged = keys.filter(k => canon(k) != narrow(k))
      assert(diverged.isEmpty,
        s"partitioning-dependent results: $diverged")
    } finally spark.conf.set(key, prev)
  }

  test("oracled query outputs are scalar-typed (driver-sortable)") {
    // The driver's pandas-based oracle compare lexsorts every output
    // column; array/map/binary/struct cells are unhashable there and
    // crash the compare (the r4 q71 failure class). Nested types must
    // be flattened (array_join / explode-to-long / field projection)
    // before the final projection — checked recursively so a struct
    // wrapping an array cannot slip through either.
    import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType,
      MapType, StructType}
    def nonScalar(dt: DataType): Boolean = dt match {
      case _: ArrayType | _: MapType | _: StructType | BinaryType => true
      case _ => false
    }
    val offenders = SparkEntry.oracleSql.keys.toList.sorted.flatMap { k =>
      val bad = SparkEntry.queries(k)(spark, sf).schema.fields
        .collect { case f if nonScalar(f.dataType) => f.name }
      if (bad.isEmpty) None else Some(s"$k(${bad.mkString(",")})")
    }
    assert(offenders.isEmpty,
      s"non-scalar columns in oracled outputs: $offenders")
  }
}
