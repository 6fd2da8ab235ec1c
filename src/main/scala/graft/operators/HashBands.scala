package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._

/** Banded Hamming-neighbor candidate generation over 64-bit
  * perceptual/content hashes — the LSH plan shape every near-dup
  * family shares (text simhash q36/q68, image dHash q148, audio
  * fingerprint q151): split the hash into 4 disjoint 16-bit bands; any
  * pair within Hamming distance 3 agrees EXACTLY on at least one band
  * (pigeonhole), so grouping by (band, value) and pairing in-group has
  * recall 1 at <= 3 without the all-pairs scan.
  *
  * 100 TB discipline (r15, closing the r14 verdict's one finding):
  * real corpora are NOT uniform over content-hash values — every
  * flat/solid-color image dHashes to exactly 0, silence fingerprints
  * to 0, black/intro frames repeat across thousands of clips — so one
  * hot (band, value) bucket of k members would generate k² candidate
  * pairs, the quadratic blowup banding exists to avoid. Buckets past
  * `cap` members are dropped whole via CappedIdList (O(1) reducer
  * memory however hot the bucket; ids arrive sorted, so a < b is free
  * in pair generation) — the jaccardPairsOf stop-shingle discipline
  * applied to hash bands. Recall semantics: a pair is reported iff
  * SOME shared band's bucket is under the cap. Over-cap buckets are
  * degenerate-content classes — flat images, silence — whose members
  * are better handled by exact dedup (q32 owns byte-identical
  * content); a 17+-member Hamming-3 ball of genuinely DISTINCT
  * content is measure-zero under any 64-bit content hash. The cap is
  * mirrored literally in the q148/q151 DuckDB oracles (the q37
  * precedent), and the planted flat-image / silent-track clusters in
  * the fixtures exercise it at every SF.
  */
object HashBands {

  /** Stop-bucket frequency cap shared by the image/audio band plans
    * AND their DuckDB oracles — change both together. Fixture buckets
    * max out at 2–3 members (near-dup groups); the planted degenerate
    * clusters (20 flat images / 20 silent tracks) exceed it at every
    * SF, so the cap is exercised, not just present. */
  val BandBucketCap = 16

  /** (a_id, b_id, hamming) with hamming <= maxHamming, via capped
    * 4x16-band buckets. `hashes` must be one row per unique id with a
    * 64-bit long hash column. */
  def cappedBandPairs(hashes: DataFrame, idCol: String, hashCol: String,
      cap: Int = BandBucketCap, maxHamming: Int = 3): DataFrame = {
    val cappedIds = udaf(new graft.functions.CappedIdList(cap),
      Encoders.scalaLong)
    // the hash table feeds THREE consumers (band grouping + both
    // Hamming-verify join sides) with no shared exchange between them
    // — without a lineage barrier each consumer re-runs the upstream
    // scan->decode->hash pass, tripling the corpus read at 100 TB.
    // Materialize.truncate pins the 16-byte/row (id, hash) state once
    // (the docsetsOf/q124 discipline; local checkpoint on the bench,
    // durable checkpoint under spark.graft.reliableCheckpoints)
    val mat = graft.operators.Materialize.truncate(
      hashes.select(col(idCol).as("id"), col(hashCol).as("h")))
    val grouped = mat
      .select(col("id"), col("h"),
        explode(expr("array(0, 1, 2, 3)")).as("bk"))
      // (h >> s) & 65535 is fill-independent (s <= 48), so arithmetic
      // vs logical shift can't drift the engines on negative hashes
      .withColumn("bv",
        expr("shiftright(h, bk * 16)").bitwiseAND(lit(65535L)))
      .groupBy("bk", "bv")
      .agg(cappedIds(col("id")).as("ids"))
      .filter(col("ids").isNotNull && size(col("ids")) > 1)
    // explosion guard (the jaccardPairsOf rationale): AQE rightly
    // coalesces the small grouped output, but pair_combos multiplies
    // rows — a user-numbered hash repartition is exempt from AQE
    // coalescing and restores full parallelism for the O(cap²)
    // expansion, moving only the grouped id lists, not the pair stream
    val pairs = grouped
      .repartition(
        hashes.sparkSession.sessionState.conf.numShufflePartitions,
        col("bk"), col("bv"))
      .select(explode(expr("pair_combos(ids)")).as("p"))
      .select(col("p.a_id"), col("p.b_id"))
      .distinct()
    // hashes re-join AFTER the pair dedup: the distinct shuffles
    // 16-byte id pairs, and the verify joins are plain hash equi-joins
    // on the id against the MATERIALIZED table (never BNLJ — PlanSpec
    // pins the shape)
    val ha = mat.select(col("id").as("a_id"), col("h").as("ha"))
    val hb = mat.select(col("id").as("b_id"), col("h").as("hb"))
    pairs.join(ha, "a_id").join(hb, "b_id")
      .withColumn("hamming", expr("bit_count(ha ^ hb)").cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("a_id", "b_id", "hamming")
  }
}
