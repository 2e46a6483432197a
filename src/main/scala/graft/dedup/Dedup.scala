package graft.dedup

import graft.text.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact,
  * n-gram-Jaccard, MinHash+LSH, and SimHash near-duplicate detection.
  *
  * Scale design (the 100 TB story):
  *   - Exact dedup is a hash-groupBy — one shuffle on the fingerprint.
  *   - Pairwise Jaccard NEVER cross-joins documents: it inverted-index
  *     joins on shingles, so cost is Σ(docs-per-shingle²) not n². Hot
  *     (stop) shingles are dropped by a document-frequency cap, which
  *     bounds the worst key and removes join skew.
  *   - MinHash signatures compute all k mins in ONE aggregation over the
  *     exploded shingles (k agg expressions, map-side partial min), then
  *     LSH banding turns near-dup detection into an equi-join on band
  *     hashes — the only all-pairs work left is within tiny buckets.
  *   - SimHash is one aggregation (64 bit-sums) + a 4-block banding join
  *     (pigeonhole: hamming ≤ 3 ⇒ at least one of 4 blocks identical,
  *     so the banding join is EXACT for distance ≤ 3, not approximate).
  *
  * All hashing is md5-based and engine-portable (hex strings / 32-bit
  * hex→int), so results are reproducible across engines byte-for-byte.
  *
  * Caching: the pairwise operators persist their shingle/signature
  * intermediates (they feed multiple join legs) through
  * [[graft.core.CacheScope.disk]]. Run them inside
  * [[graft.core.CacheScope.withScope]] and the caches are released on
  * scope exit (the zero-residue form for long-lived sessions —
  * `graft.Verify` wraps each query this way); outside a scope the
  * caller owns the lifecycle (`spark.catalog.clearCache()` between
  * batches).
  */
object Dedup {

  // ---------------------------------------------------------------- //
  // Exact dedup                                                      //
  // ---------------------------------------------------------------- //

  /** Keep one row per distinct normalized-text fingerprint — the one
    * with the lowest `orderCol` (deterministic, unlike dropDuplicates;
    * `orderCol` must be unique per row). Planned as partial+final
    * `min_by` hash aggregation: the map side reduces duplicate groups
    * before the shuffle on the 128-bit fingerprint and no
    * per-partition sort runs.
    */
  def exactDedupAgg(
      df: DataFrame, textCol: String, orderCol: String): DataFrame = {
    val fp = TextAnalysis.fingerprint(col(textCol))
    val all = struct(df.columns.toIndexedSeq.map(col): _*)
    df.groupBy(fp.as("__fp"))
      .agg(min_by(all, col(orderCol)).as("__row"))
      .select(df.columns.toIndexedSeq.map(c => col(s"__row.$c")): _*)
  }

  /** [[exactDedupAgg]] as a SEMI-JOIN: survivor ids (min id per
    * fingerprint) are computed over a NARROW (id, fingerprint)
    * projection, then the full rows are kept by a semi-join on id.
    * The wide text column never rides through the dedup shuffle —
    * only 16-byte fingerprints and ids do. At corpus scale that is
    * the difference between shuffling the dataset and shuffling its
    * keys; locally the survivor set broadcasts and the corpus never
    * moves at all. Result-identical to [[exactDedupAgg]]
    * (spec-checked).
    */
  def exactDedupSemi(
      df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // survivor ids scale with the corpus — no broadcast hint; AQE
    // picks broadcast when the set is genuinely small
    val keepIds = df
      .select(col(idCol), TextAnalysis.fingerprint(col(textCol)).as("__fp"))
      .groupBy("__fp").agg(min(col(idCol)).as(idCol))
      .select(idCol)
    df.join(keepIds, Seq(idCol), "left_semi")
  }

  /** Incremental-ingest dedup: rows of `batch` whose normalized-text
    * fingerprint does not already exist in `corpus`, with exact dedup
    * applied within the batch itself (keep lowest `orderCol`). The
    * daily-append shape: the corpus side reduces to DISTINCT
    * fingerprints before the anti-join, so the join carries one row
    * per existing document fingerprint, not the documents.
    */
  def dedupAgainst(
      corpus: DataFrame, batch: DataFrame,
      textCol: String, orderCol: String): DataFrame = {
    val seen = corpus
      .select(TextAnalysis.fingerprint(col(textCol)).as("__fp"))
      .distinct()
    exactDedupAgg(batch, textCol, orderCol)
      .withColumn("__fp", TextAnalysis.fingerprint(col(textCol)))
      .join(seen, Seq("__fp"), "left_anti")
      .drop("__fp")
  }

  /** Build the reusable fingerprint Bloom filter for
    * [[dedupAgainstBloom]]: one distributed pass over `corpus` (one
    * partial filter per partition, OR-merged — the only driver-side
    * bytes are the final filter itself), sized for `expectedItems`
    * at false-positive rate `fpp`. Build once, reuse for every
    * subsequent batch — the same build/lifecycle split as the IVF
    * index ([[graft.similarity.Similarity.ivfBuildIndex]]). A filter
    * for 10⁹ fingerprints at 1 % fpp is ~1.2 GB; at 3 % ~0.9 GB —
    * size `fpp` against executor/broadcast budgets, the exact check
    * absorbs any rate.
    */
  def buildFingerprintBloom(
      corpus: DataFrame, textCol: String,
      expectedItems: Long, fpp: Double = 0.01): Array[Byte] = {
    val bits = graft.expressions.BloomOps.bitsFor(expectedItems, fpp)
    val agg = graft.expressions.BloomBuild.bloomAgg(
      graft.expressions.BloomOps.hashesFor(bits, expectedItems), bits)
    corpus
      .select(TextAnalysis.fingerprint(col(textCol)).as("__fp"))
      .agg(agg(col("__fp")).as("__bloom"))
      .head.getAs[Array[Byte]]("__bloom")
  }

  /** [[buildFingerprintBloom]] for histories past the single-array
    * capacity (~1.8e9 items at 1 % fpp — the JVM byte-array ceiling):
    * the fingerprint space splits into the fewest md5-routed shards
    * whose bitmaps each fit `maxShardBytes`, and ONE distributed pass
    * builds all of them (fingerprints grouped by `graft_bloom_shard`,
    * one filter aggregate per group — k narrow rows to the driver).
    * Same total bits, same bits-per-item, hence the same fpp as the
    * unsharded filter; a history small enough for one shard yields
    * exactly [[buildFingerprintBloom]]'s bytes in `shards(0)`.
    */
  def buildShardedFingerprintBloom(
      corpus: DataFrame, textCol: String,
      expectedItems: Long, fpp: Double = 0.01,
      maxShardBytes: Int = graft.expressions.BloomOps.MaxShardBytes)
    : Array[Array[Byte]] = {
    import graft.expressions.{BloomBuild, BloomOps}
    val (k, hashes, bitsPerShard) =
      BloomOps.shardedSizing(expectedItems, fpp, maxShardBytes)
    val agg = BloomBuild.bloomAgg(hashes, bitsPerShard)
    val built = corpus
      .select(TextAnalysis.fingerprint(col(textCol)).as("__fp"))
      .where(col("__fp").isNotNull)
      .groupBy(call_function("graft_bloom_shard", col("__fp"), lit(k))
        .as("__shard"))
      .agg(agg(col("__fp")).as("__bloom"))
      .collect()
      .map(r => r.getInt(0) -> r.getAs[Array[Byte]](1)).toMap
    val shards = BloomOps.emptyShards(k, hashes, bitsPerShard)
    built.foreach { case (i, f) => BloomOps.merge(shards(i), f) }
    shards
  }

  /** [[dedupAgainst]] with a Bloom prefilter — result-identical (the
    * filter has NO false negatives by construction, spec-checked), but
    * the history is only ever SCANNED, never SHUFFLED:
    *
    *   - [[dedupAgainst]]'s anti-join reduces the corpus to DISTINCT
    *     fingerprints — a full shuffle of the history's fingerprint
    *     set on EVERY batch. At a 100 TB history that exchange is the
    *     whole job.
    *   - Here each batch row probes the filter (a codegen'd
    *     expression over broadcast-by-literal bytes — no join at
    *     all): "definitely new" rows — the bulk of a typical
    *     incremental batch — are done right there. Only the Bloom
    *     POSITIVES (true dups + fpp-rate false alarms) proceed to the
    *     exact check, and that check semi-joins the HISTORY side down
    *     to the positives' fingerprints first, so the history leg is
    *     scan → join with no upstream exchange (AQE broadcasts the
    *     positive set when it is small — no hint; it is
    *     data-dependent). The anti-join that follows touches only
    *     positives × matching-history rows.
    *
    * Null-fingerprint batch rows never probe the filter and always
    * survive, matching the anti-join's null-key semantics exactly.
    */
  def dedupAgainstBloom(
      corpus: DataFrame, batch: DataFrame,
      textCol: String, orderCol: String,
      bloom: Array[Byte]): DataFrame = {
    // within-batch dedup feeds the negative leg, the positive leg and
    // the verify join — persist via the cache-scope contract
    val b = graft.core.CacheScope.disk(
      exactDedupAgg(batch, textCol, orderCol)
        .withColumn("__fp", TextAnalysis.fingerprint(col(textCol))))
    val might = coalesce(
      call_function("graft_bloom_contains", lit(bloom), col("__fp")),
      lit(false))
    val negatives = b.where(!might)
    val positives = b.where(might)
    // prune the history to fingerprints some positive actually probes
    // — the history side never shuffles (plan spec); positives'
    // fingerprint set is data-dependent, so no broadcast hint
    val posFps = positives.select("__fp")
    val seenHit = corpus
      .select(TextAnalysis.fingerprint(col(textCol)).as("__fp"))
      .join(posFps, Seq("__fp"), "left_semi")
    negatives.unionByName(
        positives.join(seenHit, Seq("__fp"), "left_anti"))
      .drop("__fp")
  }

  /** [[dedupAgainstBloom]] against a SHARDED filter
    * ([[buildShardedFingerprintBloom]]): identical semantics, but the
    * probe first routes each fingerprint to its shard (the same md5
    * half the builder routed by) and then runs the standard
    * single-filter probe against that shard's bytes
    * ([[graft.expressions.BloomOps.containsSharded]]). The shard
    * array rides a Spark BROADCAST, never a plan literal: sharding
    * exists precisely for filters past the ~2 GiB single-array
    * ceiling, where a literal would serialize the whole multi-GiB
    * array into every plan and task closure — the broadcast ships
    * once per executor and the probe carries only the handle. The
    * probe is a closure UDF (a registry-built expression cannot
    * capture a broadcast handle); the per-row md5 inside the probe
    * dominates the UDF boxing cost. Null-fingerprint rows never
    * probe and always survive, matching anti-join null semantics.
    * A 1-shard array probes exactly like the unsharded form.
    */
  def dedupAgainstBloom(
      corpus: DataFrame, batch: DataFrame,
      textCol: String, orderCol: String,
      shards: org.apache.spark.broadcast.Broadcast[Array[Array[Byte]]])
    : DataFrame = {
    val b = graft.core.CacheScope.disk(
      exactDedupAgg(batch, textCol, orderCol)
        .withColumn("__fp", TextAnalysis.fingerprint(col(textCol))))
    val probe = udf((key: String) =>
      key != null && graft.expressions.BloomOps.containsSharded(
        shards.value,
        org.apache.spark.unsafe.types.UTF8String.fromString(key)))
    val might = probe(col("__fp"))
    val negatives = b.where(!might)
    val positives = b.where(might)
    val posFps = positives.select("__fp")
    val seenHit = corpus
      .select(TextAnalysis.fingerprint(col(textCol)).as("__fp"))
      .join(posFps, Seq("__fp"), "left_semi")
    negatives.unionByName(
        positives.join(seenHit, Seq("__fp"), "left_anti"))
      .drop("__fp")
  }

  /** Sharded [[dedupAgainstBloom]] from raw shard bytes: broadcasts
    * them and delegates — one-shot convenience. Batch loops should
    * broadcast ONCE (`sc.broadcast(shards)`) and reuse the handle
    * across batches, re-broadcasting only after the filter mutates
    * (as [[graft.streaming.EventStreams.incrementalDedupSink]] does).
    */
  def dedupAgainstBloom(
      corpus: DataFrame, batch: DataFrame,
      textCol: String, orderCol: String,
      shards: Array[Array[Byte]]): DataFrame =
    dedupAgainstBloom(corpus, batch, textCol, orderCol,
      corpus.sparkSession.sparkContext.broadcast(shards))

  /** [[dedupAgainstBloom]] building a fresh filter from the corpus —
    * for one-shot use; batch loops should build once and reuse.
    */
  def dedupAgainstBloom(
      corpus: DataFrame, batch: DataFrame,
      textCol: String, orderCol: String,
      expectedItems: Long, fpp: Double): DataFrame =
    dedupAgainstBloom(corpus, batch, textCol, orderCol,
      buildFingerprintBloom(corpus, textCol, expectedItems, fpp))

  /** Duplicate accounting over the normalized fingerprint with pandas
    * `duplicated(keep=False)` semantics (all members of a dup group
    * count — SURVEY.md §2.4 A8).
    */
  def exactDupStats(df: DataFrame, textCol: String): DataFrame =
    df.groupBy(TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .agg(count(lit(1)).as("__n"))
      .agg(
        coalesce(sum(when(col("__n") > 1, col("__n"))), lit(0L))
          .as("duplicate_rows"),
        count(lit(1)).as("distinct_texts"),
        coalesce(sum(col("__n")), lit(0L)).as("total_rows"))

  // ---------------------------------------------------------------- //
  // n-gram Jaccard (exact near-dup)                                  //
  // ---------------------------------------------------------------- //

  /** Exact Jaccard verification of candidate pairs over the FULL
    * shingle table: the shingle table is first semi-joined down to
    * candidate documents and collapsed to per-document shingle-set
    * arrays; each pair's common-shingle count (array_intersect under
    * two id-keyed joins) is then ratioed against the (full, unpruned)
    * per-document shingle counts. Shared by [[ngramJaccardPairs]]
    * (DF-capped candidates) and [[minhashLshPairs]] (LSH-banded
    * candidates): the candidate generator is the recall lever, the
    * verification — and therefore every emitted `jaccard` value — is
    * exact either way. Emits (id_a, id_b, common, jaccard) for pairs
    * ≥ threshold.
    */
  /** Jaccard = |A∩B| / |A∪B| — the symmetric near-dup measure. */
  private val jaccardScore: (Column, Column, Column) => Column =
    (common, na, nb) =>
      common.cast("double") / (na + nb - common).cast("double")

  /** Containment = |A∩B| / min(|A|, |B|) — the ASYMMETRIC measure: a
    * short document embedded verbatim in a long one scores ~1 here
    * while its Jaccard (diluted by the long side's union) can be
    * arbitrarily low.
    */
  private val containmentScore: (Column, Column, Column) => Column =
    (common, na, nb) =>
      common.cast("double") / least(na, nb).cast("double")

  private def exactJaccardVerify(
      shAll: DataFrame, cands: DataFrame,
      idCol: String, threshold: Double): DataFrame =
    exactScoreVerify(shAll, cands, idCol, threshold,
      "jaccard", jaccardScore)

  private def exactScoreVerify(
      shAll: DataFrame, cands: DataFrame,
      idCol: String, threshold: Double,
      scoreName: String,
      score: (Column, Column, Column) => Column): DataFrame = {
    // no broadcast HINT on candIds: the candidate set is data-dependent
    // and unbounded — AQE broadcasts it when it is actually small
    val candIds = cands.select(col("id_a").as(idCol))
      .union(cands.select(col("id_b").as(idCol))).distinct()
    // Each candidate document's DISTINCT shingle set collapses to ONE
    // array row; each pair's common count is then
    // size(array_intersect) under two id-keyed joins of the candidate
    // pairs, and the per-document set SIZES double as the score
    // denominators (for a candidate document, size(collect_set) over
    // the pruned rows equals the per-document distinct-shingle count
    // however the caller derived it — so no separate sizes aggregate
    // or join). The former shape — shingle-equality self-join of the
    // candidate occurrence rows + per-pair groupBy + two joins of a
    // separately-aggregated sizes frame — shuffled every candidate
    // shingle occurrence TWICE (both join legs) and fanned out
    // Σ(per-shingle df²) join rows before re-aggregating them; this
    // one shuffles each occurrence once (into its document's set) and
    // the intersection runs as one codegen'd expression per pair
    // (r18 chain probe + family A/B: q366 17.6 → 9.7 s, q303 1.26×,
    // q284 1.27× min-of-5). Per-group state is bounded by a
    // document's distinct-shingle count — the per-document bound the
    // pair store's shingle shards and the chunking ops already carry;
    // the sets are candidate-documents-only, never corpus-wide.
    // Persisted: BOTH pair-side joins below read the sets frame —
    // unpersisted, the semi-join + set aggregate would execute once
    // per leg.
    val sets = shAll.join(candIds, Seq(idCol), "left_semi")
      .groupBy(idCol)
      .agg(collect_set(col("shingle")).as("__ss"))
      .transform(graft.core.CacheScope.disk)
    cands.select("id_a", "id_b")
      .join(sets.select(col(idCol).as("id_a"), col("__ss").as("__sa")),
        Seq("id_a"))
      .join(sets.select(col(idCol).as("id_b"), col("__ss").as("__sb")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("__sa"), col("__sb"))).cast("long")
          .as("common"),
        size(col("__sa")).cast("long").as("__na"),
        size(col("__sb")).cast("long").as("__nb"))
      // the self-join form emitted only pairs sharing ≥ 1 shingle;
      // keep that contract independent of the threshold
      .where(col("common") > 0)
      .withColumn(scoreName, score(col("common"), col("__na"), col("__nb")))
      .where(col(scoreName) >= threshold)
      .select("id_a", "id_b", "common", scoreName)
  }

  /** Exact pairwise Jaccard over word n-shingles via inverted-index
    * self-join. Emits (id_a, id_b, common, jaccard) for pairs with
    * jaccard ≥ threshold, id_a < id_b.
    *
    * @param maxShingleDf drop shingles appearing in more documents than
    *   this (stop-shingles) from CANDIDATE GENERATION only: they
    *   contribute little discriminating mass but dominate the
    *   inverted-index join's Σ(df²) cost — the hot keys ARE the join
    *   skew at corpus scale. Candidates (pairs sharing ≥1 low-DF
    *   shingle) are then verified with exact Jaccard over the full
    *   shingle sets, so every emitted value is identical to the
    *   uncapped result; a qualifying pair is missed only if ALL its
    *   shared shingles are hot — at any useful threshold that means
    *   two documents built almost entirely of stop-shingles, which
    *   exact dedup upstream already collapses (spec-checked capped ==
    *   uncapped at 0.8).
    */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8,
      maxShingleDf: Option[Int] = None): DataFrame =
    ngramPairsByScore(df, idCol, textCol, n, threshold, maxShingleDf,
      "jaccard", jaccardScore,
      // common ≤ __cl + min(hot_a, hot_b) and Jaccard is monotone in
      // common, so this bounds the true Jaccard from above
      (cl, ch, na, nb) =>
        (cl + ch).cast("double") / (na + nb - cl - ch).cast("double"))

  /** Exact pairwise CONTAINMENT over word n-shingles — same inverted
    * index as [[ngramJaccardPairs]], scoring |A∩B| / min(|A|, |B|):
    * the asymmetric near-dup measure from the published shingling
    * literature that catches a short document embedded in a long one
    * (quotes, boilerplate, wrapped re-posts), where the long side's
    * union dilutes Jaccard below any useful threshold. Emits
    * (id_a, id_b, common, containment ≥ threshold), id_a < id_b.
    * `maxShingleDf` is the same result-invariant candidate cap: the
    * upper bound (__cl + min-hot-slack) / min(na, nb) is monotone in
    * the common count, so pruned pairs cannot qualify.
    */
  def ngramContainmentPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8,
      maxShingleDf: Option[Int] = None): DataFrame =
    ngramPairsByScore(df, idCol, textCol, n, threshold, maxShingleDf,
      "containment", containmentScore,
      (cl, ch, na, nb) => (cl + ch).cast("double") /
        least(na, nb).cast("double"))

  private def ngramPairsByScore(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double, maxShingleDf: Option[Int],
      scoreName: String,
      score: (Column, Column, Column) => Column,
      bound: (Column, Column, Column, Column) => Column): DataFrame = {
    maxShingleDf match {
      case Some(cap) =>
        // RAW shingle occurrences (projection + generate, no
        // corpus-wide distinct exchange): every consumer below dedups
        // where it is cheap — `collect_set` partials dedup map-side
        // inside the posting groupBy, per-doc sizes use a
        // count-distinct aggregate (local pre-dedup, one exchange on
        // the id), and the verify-phase distinct runs AFTER the
        // candidate semi-join, candidate-sized. Persisted: feeds all
        // three. At warehouse scale: a shingle table.
        // shingles HASH to 64-bit longs right after the explode:
        // every downstream consumer (df pre-count, posting lists,
        // per-doc sizes, the exact-common verify) needs shingle
        // EQUALITY only, never the text, and the emitted pairs carry
        // ids and counts — so the cache and every exchange shrink
        // from ~n-word strings to 8 bytes per occurrence. A 64-bit
        // collision inflates a pair's common count only when two
        // distinct shingles collide within the SAME document pair
        // (~pairs·2⁻⁶⁴ — negligible at any corpus size that fits an
        // exchange).
        val sh = TextAnalysis.explodeShinglesRaw(df, idCol, textCol, n)
          .select(col(idCol), xxhash64(col("shingle")).as("shingle"))
          .transform(graft.core.CacheScope.disk)
        val sizes = sh.groupBy(idCol)
          .agg(count_distinct(col("shingle")).as("n_shingles"))
        // POSTING-LIST candidate generation with BOUNDED aggregation
        // state: hot stop-shingles (df > cap — they dominate Σ(df²)
        // and ARE the join skew) must drop without ever materializing
        // their posting lists. A plain collect_set + size() filter
        // buffers a df=10⁹ stop-shingle's entire id set in one
        // final-agg task before discarding it (straggler/spill
        // storm); pre-counting df and semi-joining bounds the state
        // but pays a second shuffle of the raw occurrence table. The
        // [[graft.expressions.BoundedDistinctIds]] aggregate gets
        // both: ONE exchange (the group-by the collect always paid)
        // and per-group state ≤ cap+1 ids BY CONSTRUCTION — partials
        // freeze at cap+1 distinct elements, which already proves the
        // group fails the filter, while kept groups carry their exact
        // sorted set. Non-integral id types take the count-then-
        // collect route (df pre-count, filter, semi-join, collect) —
        // same bounded-state guarantee, one extra exchange. Each kept
        // list then expands to its C(df,2) ≤ C(cap,2) pairs with a
        // bounded array expression, so the pair stage cannot skew
        // however hot the corpus's stop-shingles get. Persisted:
        // feeds the pair explode AND the low-DF size aggregate.
        val postings = (df.schema(idCol).dataType match {
          case org.apache.spark.sql.types.LongType =>
            sh.where(col(idCol).isNotNull).groupBy("shingle")
              .agg(graft.expressions.BoundedDistinctIds
                .boundedDistinctIds(cap)(col(idCol)).as("__ids"))
              .where(size(col("__ids")) <= cap)
          case org.apache.spark.sql.types.IntegerType =>
            sh.where(col(idCol).isNotNull).groupBy("shingle")
              .agg(graft.expressions.BoundedDistinctIds
                .boundedDistinctIds(cap)(col(idCol).cast("long"))
                .as("__idsL"))
              .where(size(col("__idsL")) <= cap)
              .select(col("shingle"),
                col("__idsL").cast("array<int>").as("__ids"))
          case _ =>
            val lowDf = sh.groupBy("shingle")
              .agg(count_distinct(col(idCol)).as("__df"))
              .where(col("__df") <= cap)
              .select("shingle")
            sh.join(lowDf, Seq("shingle"), "left_semi")
              .groupBy("shingle")
              .agg(sort_array(collect_set(col(idCol))).as("__ids"))
        }).transform(graft.core.CacheScope.disk)
        // per-doc hot-shingle counts (total − low-DF): the slack term
        // of the Jaccard upper bound below
        val lowSizes = postings
          .select(explode(col("__ids")).as(idCol))
          .groupBy(idCol).agg(count(lit(1)).as("__nl"))
        val szs = sizes.join(lowSizes, Seq(idCol), "left")
          .select(col(idCol), col("n_shingles"),
            (col("n_shingles") - coalesce(col("__nl"), lit(0L)))
              .as("__nh"))
        // all (id_a < id_b) pairs per posting list — sorted lists make
        // the ordering free
        val ids = col("__ids")
        val commonLow = postings
          .select(explode(flatten(transform(ids, (x, i) =>
            transform(slice(ids, i + lit(2), size(ids)),
              y => struct(x.as("id_a"), y.as("id_b")))))).as("__p"))
          .select(col("__p.id_a"), col("__p.id_b"))
          .groupBy("id_a", "id_b").agg(count(lit(1)).as("__cl"))
        // upper-bound prune BEFORE exact verification: a pair's true
        // common count is at most __cl + min(hot_a, hot_b), and Jaccard
        // is monotone in the common count, so
        //   (__cl + min(ha, hb)) / (na + nb − __cl − min(ha, hb))
        // bounds the true Jaccard from above — pairs below threshold
        // here CANNOT qualify and never reach the verify join. The
        // verify cost then scales with near-qualifying pairs (a
        // constant-ish set), not with Σ(df²) of the corpus.
        val chMax = least(col("__nh_a"), col("__nh_b"))
        val cands = commonLow
          .join(szs.select(col(idCol).as("id_a"),
            col("n_shingles").as("__na"), col("__nh").as("__nh_a")),
            Seq("id_a"))
          .join(szs.select(col(idCol).as("id_b"),
            col("n_shingles").as("__nb"), col("__nh").as("__nh_b")),
            Seq("id_b"))
          .where(bound(col("__cl"), chMax, col("__na"), col("__nb"))
            >= threshold)
          .select("id_a", "id_b")
          .transform(graft.core.CacheScope.disk)
        // the verify prunes to candidate documents and dedups inside
        // its per-document set aggregate — no pre-distinct or extra
        // cache of the candidate occurrence rows needed
        exactScoreVerify(sh, cands, idCol, threshold, scoreName, score)
      case None =>
        // the uncapped form joins the full shingle table with itself —
        // per-document distinct is load-bearing corpus-wide here;
        // shingles hash to longs for the same reason as the capped arm
        val sh = TextAnalysis.explodeShingles(df, idCol, textCol, n)
          .select(col(idCol), xxhash64(col("shingle")).as("shingle"))
          .transform(graft.core.CacheScope.disk)
        val sizes = sh.groupBy(idCol)
          .agg(count(lit(1)).as("n_shingles"))
        val a = sh.select(col(idCol).as("id_a"), col("shingle"))
        val b = sh.select(col(idCol).as("id_b"), col("shingle"))
        a.join(b, Seq("shingle"))
          .where(col("id_a") < col("id_b"))
          .groupBy("id_a", "id_b")
          .agg(count(lit(1)).as("common"))
          .join(sizes.select(col(idCol).as("id_a"),
            col("n_shingles").as("na")), Seq("id_a"))
          .join(sizes.select(col(idCol).as("id_b"),
            col("n_shingles").as("nb")), Seq("id_b"))
          .withColumn(scoreName, score(col("common"), col("na"), col("nb")))
          .where(col(scoreName) >= threshold)
          .select("id_a", "id_b", "common", scoreName)
    }
  }

  // ---------------------------------------------------------------- //
  // Benchmark decontamination                                        //
  // ---------------------------------------------------------------- //

  /** Benchmark decontamination: corpus documents sharing at least
    * `minCommon` distinct word n-grams with any benchmark document —
    * the contamination check a training pipeline runs against its
    * eval sets before training. Emits (corpus_id, benchmark_id,
    * common_ngrams).
    *
    * Deliberately NOT routed through near-dup machinery: published
    * decontamination flags SMALL absolute overlaps (a handful of
    * 8-13-grams), far below any Jaccard threshold LSH is tuned for —
    * recall on small overlaps is the point.
    *
    * Asymmetric by construction — and the corpus side never shuffles:
    * the corpus is shingled RAW in place ([[TextAnalysis
    * .explodeShinglesRaw]] — projection + generate only; its
    * per-document `.distinct()` would be a corpus-sized exchange
    * BEFORE the join, exactly the exchange this operator exists to
    * avoid), the benchmark side (eval sets — thousands of documents,
    * small by the operator's contract, hence the explicit broadcast
    * like any dimension table) is deduped per document and broadcast,
    * and the join filters the corpus stream down to
    * benchmark-matching shingle occurrences — a tiny set. Corpus-side
    * duplicate occurrences of a shared shingle are then collapsed by
    * `count_distinct` INSIDE the aggregate, where distinctness costs
    * an exchange of only the post-filter survivors. Per-corpus-
    * document work is linear in its shingles; plan-asserted (spec):
    * no Exchange upstream of the join on the corpus leg.
    *
    * @param maxBenchmarkDf optional benchmark-side document-frequency
    *   cap: shingles present in MORE than this many benchmark
    *   documents are dropped from the check. An n-gram hot in both
    *   corpus and benchmark produces df_corpus × df_benchmark join
    *   rows (the stop-shingle skew [[ngramJaccardPairs]] caps with
    *   maxShingleDf) — at corpus scale a templated phrase shared by
    *   every benchmark doc turns the join into a hot-key stage. The
    *   cap bounds each corpus occurrence's fan-out to `cap` rows and
    *   drops only boilerplate n-grams that identify no specific eval
    *   document (the flagged-overlap semantics published
    *   decontamination wants). None (default) = exact.
    */
  def contaminationCheck(
      corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String,
      n: Int = 8, minCommon: Int = 5,
      maxBenchmarkDf: Option[Int] = None): DataFrame = {
    require(minCommon >= 1, "minCommon must be positive")
    val c = TextAnalysis.explodeShinglesRaw(corpus, idCol, textCol, n)
      .select(col(idCol).as("corpus_id"), col("shingle"))
    val b0 = TextAnalysis.explodeShingles(benchmark, idCol, textCol, n)
      .select(col(idCol).as("benchmark_id"), col("shingle"))
    val b = maxBenchmarkDf match {
      case None => b0
      case Some(cap) =>
        require(cap >= 1, "maxBenchmarkDf must be positive")
        // benchmark is small — a window DF count over its shingles is
        // cheap; rows of hot shingles drop before the broadcast
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("shingle")
        b0.withColumn("__df", count(lit(1)).over(w))
          .where(col("__df") <= cap)
          .drop("__df")
    }
    c.join(broadcast(b), Seq("shingle"))
      .groupBy("corpus_id", "benchmark_id")
      .agg(countDistinct(col("shingle")).as("common_ngrams"))
      .where(col("common_ngrams") >= minCommon)
  }

  /** Exact shared-span detection — the "exact substring dedup" method
    * of published training-data pipelines (flag verbatim copied
    * passages, not near-duplicate whole documents): for each document
    * pair, the length in tokens of the LONGEST run of consecutive
    * shared word k-grams, i.e. the longest common token substring of
    * length ≥ k. Emits (id_a, id_b, max_span_tokens) for pairs whose
    * longest span reaches `minSpanTokens`.
    *
    * Shape: positional k-gram hashes (ONE md5 per (doc, position) —
    * a projection + generate, no shuffle); a document-frequency cap
    * drops boilerplate k-grams BEFORE the pair-generating join (the
    * q23/q64 stop-shingle treatment — a templated phrase in d
    * documents otherwise costs d² join rows); matched positions
    * collapse to maximal runs with the islands trick — consecutive
    * shared k-grams share a diagonal (posA − posB), and within a
    * diagonal the group key posA − row_number is constant per run.
    * Every window is keyed by (pair, diagonal), bounded by the
    * shorter document's length, never corpus-sized.
    */
  def sharedSpans(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, minSpanTokens: Int = 8,
      maxShingleDf: Int = 10): DataFrame = {
    require(k >= 2, "k must be at least 2")
    require(minSpanTokens >= k, "minSpanTokens must be at least k")
    require(maxShingleDf >= 2,
      "maxShingleDf must be at least 2 (df-1 k-grams never pair)")
    val ws = TextAnalysis.words(col(textCol))
    // one md5 per (doc, pos); docs shorter than k yield no k-grams
    val ex = graft.core.CacheScope.disk(df
      .select(col(idCol).as("__id"), ws.as("__ws"))
      .where(size(col("__ws")) >= k)
      .select(col("__id"),
        posexplode(transform(sequence(lit(0), size(col("__ws")) - k),
          i => md5(array_join(slice(col("__ws"), i + lit(1), lit(k)),
            " ")))).as(Seq("__pos", "__h"))))
    // boilerplate cap: document frequency, not occurrence count — a
    // k-gram repeated within one doc is still a span candidate
    val keep = ex.groupBy("__h")
      .agg(count_distinct(col("__id")).as("__df"))
      .where(col("__df") <= maxShingleDf)
      .select("__h")
    val exc = graft.core.CacheScope.disk(
      ex.join(keep, Seq("__h"), "left_semi"))
    val pairs = exc
      .select(col("__h"), col("__id").as("id_a"), col("__pos").as("__pa"))
      .join(exc.select(col("__h"), col("__id").as("id_b"),
        col("__pos").as("__pb")), Seq("__h"))
      .where(col("id_a") < col("id_b"))
    val runW = Window
      .partitionBy(col("id_a"), col("id_b"), col("__diag"))
      .orderBy(col("__pa").asc)
    pairs
      .withColumn("__diag", col("__pa") - col("__pb"))
      .withColumn("__grp", col("__pa") - row_number().over(runW))
      .groupBy("id_a", "id_b", "__diag", "__grp")
      .agg(count(lit(1)).as("__run"))
      .groupBy("id_a", "id_b")
      .agg((max(col("__run")) + lit(k - 1)).as("max_span_tokens"))
      .where(col("max_span_tokens") >= minSpanTokens)
  }

  // ---------------------------------------------------------------- //
  // MinHash + LSH                                                    //
  // ---------------------------------------------------------------- //

  /** Engine-portable MinHash family from ONE md5 per shingle: the
    * digest's two leading 32-bit halves (h1, h2) seed the
    * Carter-Wegman family  h_i = h1 + i·h2.  With h1, h2 < 2^32 and
    * i ≤ 31 every value stays < 2^37 — exact in a 64-bit long and in
    * any engine's BIGINT, no modulo, no per-member rehash. Numeric MIN
    * over h_i is the min-hash permutation. One md5 per (doc, shingle)
    * row instead of `numHashes` md5s — the hashing that dominates
    * MinHash cost at corpus scale drops ~numHashes×.
    */
  private def shingleHashHalves(idCol: String): Seq[Column] = {
    val (h1, h2) = hashHalves(md5(col("shingle")))
    Seq(col(idCol), h1.as("__h1"), h2.as("__h2"))
  }

  /** The family's seed: (h1, h2), the two leading 32-bit halves of a
    * shingle's md5 hex digest. Both signature forms derive their
    * hashes here: [[shingleHashHalves]] for the aggregate and
    * [[rowBandKeys]] per row.
    */
  private def hashHalves(digest: Column): (Column, Column) =
    (conv(substring(digest, 1, 8), 16, 10).cast("long"),
      conv(substring(digest, 9, 8), 16, 10).cast("long"))

  /** Member `i` of the family, h_i = h1 + i·h2 — the one definition the
    * aggregate and the per-row signature share.
    */
  private def familyMember(h1: Column, h2: Column, i: Int): Column = {
    require(i < 32, "h1 + i*h2 stays exact for i < 32")
    h1 + lit(i.toLong) * h2
  }

  /** A row's LSH band keys: one (band, sig) struct per band over its
    * signature columns h0..h(k-1), where band j's key is the md5 of its
    * `rowsPerBand` signature rows joined by "|".
    */
  private def bandKeys(bands: Int, rowsPerBand: Int): Seq[Column] =
    (0 until bands).map { b =>
      val rows = (0 until rowsPerBand)
        .map(r => col(s"h${b * rowsPerBand + r}").cast("string"))
      struct(lit(b).as("band"), md5(concat_ws("|", rows: _*)).as("sig"))
    }

  /** MinHash signature aggregates over (__h1, __h2) rows: one row per
    * document, columns h0..h(k-1). ALL k mins compute in a single
    * aggregation — map-side partial min means the shuffle carries k
    * longs per (doc, partition), not per shingle.
    */
  private def minhashAggs(numHashes: Int): Seq[Column] =
    (0 until numHashes).map(i =>
      min(familyMember(col("__h1"), col("__h2"), i)).as(s"h$i"))

  /** [[buildLshIndex]]'s band keys computed per row, with no
    * aggregation: each row of `sets`, whose `setCol` holds its distinct
    * shingle array ([[graft.text.TextAnalysis.shingleArray]]), becomes
    * one row per band with all of its columns plus (band, sig). The
    * shingles are hashed once, and each signature row h_i is
    * `array_min` over the array. A row with an empty array (text
    * shorter than `n` words, or NULL) has no rows, as in the aggregate
    * form: it explodes a NULL array rather than passing a filter, which
    * the optimizer would push below the shingling and so run it twice.
    */
  private[dedup] def rowBandKeys(
      sets: DataFrame, setCol: String,
      numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val keep = sets.columns.toSeq.map(col)
    // (h1, h2) per shingle in its own projection: the k members below
    // all read it, and CollapseProject does not inline a non-cheap
    // producer read more than once, so each md5 runs once per shingle
    sets
      .select(keep :+ transform(
        transform(col(setCol), s => md5(s)), d => {
          val (h1, h2) = hashHalves(d)
          struct(h1.as("h1"), h2.as("h2"))
        }).as("__hh"): _*)
      .select(keep ++ (0 until numHashes).map(i =>
        array_min(transform(col("__hh"),
          h => familyMember(h("h1"), h("h2"), i))).as(s"h$i")): _*)
      .select(keep :+ explode(when(size(col(setCol)) > 0,
        array(bandKeys(bands, numHashes / bands): _*))).as("__bk"): _*)
      .select(keep ++ Seq(col("__bk.band").as("band"),
        col("__bk.sig").as("sig")): _*)
  }

  def minhashSignatures(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 16): DataFrame = {
    // RAW occurrences: min is duplicate-insensitive, so the per-doc
    // distinct would only add a corpus-sized exchange for nothing
    val sh = TextAnalysis.explodeShinglesRaw(df, idCol, textCol, n)
      .select(shingleHashHalves(idCol): _*)
    val aggs = minhashAggs(numHashes)
    sh.groupBy(idCol).agg(aggs.head, aggs.tail: _*)
  }

  /** Broder's MinHash Jaccard estimator over precomputed signatures:
    * for each (id_a, id_b) pair, the fraction of the k signature
    * components that agree — an unbiased estimate of the true Jaccard
    * with standard error ≈ √(J(1−J)/k). At corpus scale this scores
    * pairs from k longs per document WITHOUT touching shingle sets —
    * the monitoring/histogram path when the exact verify's
    * candidate-shingle join isn't worth its cost ([[minhashLshPairs]]
    * keeps the exact verify where emitted pairs must be exact). Two
    * hash joins on the id; the signature table is the reused
    * [[minhashSignatures]] output (at warehouse scale: a table).
    */
  def minhashJaccardEstimate(
      pairs: DataFrame, signatures: DataFrame, idCol: String,
      numHashes: Int = 16, roundTo: Int = 4): DataFrame = {
    val agree = (0 until numHashes).map(i =>
      when(col(s"__sa.h$i") === col(s"__sb.h$i"), 1).otherwise(0))
      .reduce(_ + _)
    pairs.select("id_a", "id_b")
      .join(signatures.as("__sa"), col("id_a") === col(s"__sa.$idCol"))
      .join(signatures.as("__sb"), col("id_b") === col(s"__sb.$idCol"))
      .select(col("id_a"), col("id_b"),
        round(agree.cast("double") / lit(numHashes.toDouble), roundTo)
          .as("est_jaccard"))
  }

  /** b-bit MinHash Jaccard estimator (Li & König's b-bit minwise
    * hashing) over precomputed [[minhashSignatures]]: keep only the
    * LOWEST b bits of each of the k signature components — the 64-bit
    * registers compress 64/b-fold (b=1: a 16-hash signature fits in
    * TWO BYTES), the storage trade that makes standing sketch tables
    * for billion-document corpora cheap. Truncated registers agree by
    * chance 2^-b of the time, so the collision-corrected estimate is
    * Ĵ = (A − 2^-b) / (1 − 2^-b) (the uniform-register approximation
    * of the exact C₁₂ correction — exact as register distributions
    * flatten, i.e. large shingle domains), clamped at 0 and computed
    * as ONE double division of exact integers
    * (agree·2^b − k) / (k·(2^b − 1)), so the oracle replays it
    * bit-for-bit. Same two id-keyed hash joins as
    * [[minhashJaccardEstimate]]; pair-domain output.
    */
  def bbitMinhashEstimate(
      pairs: DataFrame, signatures: DataFrame, idCol: String,
      numHashes: Int = 16, b: Int = 1, roundTo: Int = 4): DataFrame = {
    require(b >= 1 && b <= 16, "b must be in [1, 16]")
    val mask = lit((1L << b) - 1)
    val agree = (0 until numHashes).map(i =>
      when(col(s"__sa.h$i").bitwiseAND(mask) ===
        col(s"__sb.h$i").bitwiseAND(mask), 1L).otherwise(0L))
      .reduce(_ + _)
    val k = numHashes.toLong
    val pow = 1L << b
    val est = greatest(lit(0.0),
      (agree * pow - k).cast("double") /
        lit((k * (pow - 1)).toDouble))
    pairs.select("id_a", "id_b")
      .join(signatures.as("__sa"), col("id_a") === col(s"__sa.$idCol"))
      .join(signatures.as("__sb"), col("id_b") === col(s"__sb.$idCol"))
      .select(col("id_a"), col("id_b"),
        round(est, roundTo).as(s"est_b$b"))
  }

  /** LSH candidate pairs from banded signatures: band j is the md5 of
    * the concatenated signature rows in that band; documents sharing
    * any band hash become candidates. bands × rowsPerBand must equal
    * numHashes. With r=2, b=8 the s-curve crosses ~0.55 — right for a
    * 0.8 near-dup threshold.
    */
  /** Banded-signature projection: (id, band, sig), `bands` rows per
    * document — the LSH bucket table [[lshCandidates]] self-joins and
    * [[buildLshIndex]] persists for incremental probing.
    */
  def bandedSignatures(
      signatures: DataFrame, idCol: String,
      bands: Int, rowsPerBand: Int): DataFrame = {
    val bandCols = bandKeys(bands, rowsPerBand).zipWithIndex
      .map { case (k, b) => k.as(s"b$b") }
    signatures
      .select(col(idCol) +: bandCols: _*)
      .select(col(idCol), explode(array((0 until bands)
        .map(i => col(s"b$i")): _*)).as("bk"))
      .select(col(idCol), col("bk.band").as("band"), col("bk.sig").as("sig"))
  }

  def lshCandidates(
      signatures: DataFrame, idCol: String,
      bands: Int, rowsPerBand: Int): DataFrame = {
    // Persisted: both legs of the self-join read the banded table; the
    // signature aggregation upstream is the expensive part and must not
    // re-run per leg (differently-projected legs defeat exchange
    // reuse). At warehouse scale this is "write signatures to a table,
    // then join" — persist is the single-job equivalent.
    val banded = bandedSignatures(signatures, idCol, bands, rowsPerBand)
      .transform(graft.core.CacheScope.disk)
    val l = banded.select(col(idCol).as("id_a"), col("band"), col("sig"))
    val r = banded.select(col(idCol).as("id_b"), col("band"), col("sig"))
    l.join(r, Seq("band", "sig"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Full MinHash-LSH near-dup pipeline: signatures → banded candidate
    * pairs → exact-Jaccard verification of ONLY the candidates.
    * Deterministic end-to-end (md5 hash family), so identical across
    * runs and engines.
    */
  def minhashLshPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 16, bands: Int = 8,
      threshold: Double = 0.8): DataFrame =
    lshDetectorFrames(df, idCol, textCol, n, numHashes, bands,
      threshold).verified

  /** The [[minhashLshPairs]] chain with its SHARED intermediates
    * exposed — the composition handle for audit suites that need the
    * signature table and the banded candidates NEXT TO the verified
    * pairs without re-running the shingle scan or the signature
    * aggregation per consumer (capture–recapture, McNemar, Cochran's
    * Q, Fleiss' κ, the b-bit compression estimate all read these
    * same three frames). `signatures` and `candidates` are the
    * byte-identical outputs of [[minhashSignatures]] /
    * [[lshCandidates]] (same md5 family), already persisted via
    * [[graft.core.CacheScope.disk]]; `verified` is exactly the
    * [[minhashLshPairs]] result. One shingle scan, one signature
    * build, one banding pass — no matter how many consumers fan out.
    */
  final case class LshDetectorFrames(
      signatures: DataFrame, candidates: DataFrame,
      verified: DataFrame)

  /** See [[LshDetectorFrames]]. */
  def lshDetectorFrames(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 16, bands: Int = 8,
      threshold: Double = 0.8): LshDetectorFrames = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // RAW shingle occurrences — projection + generate only, NO
    // corpus-wide distinct: min-aggregation is duplicate-insensitive,
    // so signatures over raw occurrence rows are IDENTICAL to
    // signatures over the per-document distinct set, and skipping the
    // distinct removes a corpus-sized exchange from the chain (the
    // shuffle the signature agg does carry is partial-min-combined —
    // numHashes longs per (doc, partition), same as before). The
    // distinct the exact verify DOES need moves below the candidate
    // semi-join, where it touches candidate documents only.
    // Persisted: feeds the signature agg and the verify leg.
    val shRaw = TextAnalysis.explodeShinglesRaw(df, idCol, textCol, n)
      .transform(graft.core.CacheScope.disk)
    val sigAggs = minhashAggs(numHashes)
    val sigs = shRaw.select(shingleHashHalves(idCol): _*)
      .groupBy(idCol).agg(sigAggs.head, sigAggs.tail: _*)
      .transform(graft.core.CacheScope.disk)
    val cands = lshCandidates(sigs, idCol, bands, numHashes / bands)
      .transform(graft.core.CacheScope.disk)
    // the verify leg needs shingle EQUALITY only — hash to longs (the
    // signature leg above keeps raw strings: the md5 signature family
    // is the contract). The verify itself prunes to candidate
    // documents and dedups inside its per-document set aggregate, so
    // verification cost scales with the candidate set — without that
    // semi-join the verify phase would degenerate into the full
    // inverted-index join LSH was meant to avoid.
    val verified = exactJaccardVerify(
        shRaw.select(col(idCol), xxhash64(col("shingle")).as("shingle")),
        cands, idCol, threshold)
      .select("id_a", "id_b", "jaccard")
    LshDetectorFrames(sigs, cands, verified)
  }

  /** The standing near-dup PAIR STORE — the sufficient statistic
    * that makes the detector audits (capture–recapture, McNemar,
    * Cochran's Q, Fleiss' κ, the disagreement queue) a standing
    * monitor instead of a corpus rescan. Three append-only tables:
    *
    *   - `signatures` (id, h0..h{k−1}): 16 longs per document —
    *     banding reads these, never text.
    *   - `shingles` (id, shingle): the per-document DISTINCT
    *     xxhash64'd shingle set — the exact-Jaccard verify's
    *     sufficient statistic, so verification of new candidate
    *     pairs never re-shingles old documents' text. Token-scale
    *     storage, the same trade the BM25 index shards make.
    *   - `pairs` (id_a, id_b, jaccard): the verified pairs.
    *
    * The md5 signature family is deterministic, so signatures and
    * shingles never change once landed; a pair (a, b) is generated
    * exactly once — by the batch that completes it (the one the
    * LATER of a, b arrives in) — so the unioned store after any
    * sequence of [[pairStoreDelta]] appends equals the
    * [[minhashLshPairs]] full rebuild bit-for-bit (spec-pinned at
    * every split point, the append == rebuild discipline the ANN
    * index and the drift count stores already carry).
    */
  final case class PairStore(
      signatures: DataFrame, shingles: DataFrame, pairs: DataFrame)

  /** An empty [[PairStore]] with the right schemas — the prior for
    * the first [[pairStoreDelta]] batch.
    */
  def emptyPairStore(
      spark: org.apache.spark.sql.SparkSession, idCol: String,
      numHashes: Int = 16): PairStore = {
    import org.apache.spark.sql.types._
    val sigSchema = StructType(StructField(idCol, LongType) +:
      (0 until numHashes).map(i => StructField(s"h$i", LongType)))
    val shSchema = StructType(Seq(StructField(idCol, LongType),
      StructField("shingle", LongType)))
    val pairSchema = StructType(Seq(StructField("id_a", LongType),
      StructField("id_b", LongType),
      StructField("jaccard", DoubleType)))
    PairStore(
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        sigSchema),
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        shSchema),
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        pairSchema))
  }

  /** One incremental batch against a standing [[PairStore]]: compute
    * the batch's signature and shingle shards, generate ONLY the
    * candidate pairs that touch the batch (batch bands ⋈ standing ∪
    * batch bands — old×old pairs are already in the store and are
    * never re-generated), exact-verify them against the standing
    * shingle store, and return the DELTA shard (the three frames a
    * maintenance sink lands under `batch_id=<id>`). Merge with
    * [[mergePairStore]] for the updated standing store.
    *
    * Deterministic and replay-idempotent: the same batch over the
    * same prior store lands byte-identical shards (md5/xxhash64
    * families), so a checkpoint replay OVERWRITE rewrites what the
    * crashed attempt wrote. Scale: batch-sized signature/shingle
    * work + one (band, sig)-keyed join of the batch's bands against
    * the standing band projection + candidate-sized verification —
    * per-batch cost never rescans the corpus.
    */
  def pairStoreDelta(
      prior: PairStore, batch: DataFrame, idCol: String,
      textCol: String, n: Int = 3, numHashes: Int = 16,
      bands: Int = 8, threshold: Double = 0.8): PairStore =
    pairStoreDeltaFromShingles(prior,
      TextAnalysis.explodeShinglesRaw(batch, idCol, textCol, n)
        .transform(graft.core.CacheScope.disk),
      idCol, numHashes, bands, threshold)

  /** [[pairStoreDelta]] over PRE-EXPLODED raw shingle occurrences
    * (`(idCol, shingle)` string rows, the [[graft.text.TextAnalysis
    * .explodeShinglesRaw]] shape) instead of a text batch — the
    * composition handle for ingest pipelines that tokenize a corpus
    * ONCE and then split it into batches: the per-batch text scan +
    * shingle explode drops out (shuffle/compute fewer bytes), the
    * emitted shards are byte-identical (filtering occurrence rows by
    * document commutes with the explode). The caller owns the input's
    * persistence (a filter over one cached corpus-wide explode in the
    * registry's audit query).
    */
  def pairStoreDeltaFromShingles(
      prior: PairStore, shRaw: DataFrame, idCol: String,
      numHashes: Int = 16, bands: Int = 8,
      threshold: Double = 0.8): PairStore = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    val sigAggs = minhashAggs(numHashes)
    val batchSigs = shRaw.select(shingleHashHalves(idCol): _*)
      .groupBy(idCol).agg(sigAggs.head, sigAggs.tail: _*)
      .transform(graft.core.CacheScope.disk)
    val batchShingles = shRaw
      .select(col(idCol), xxhash64(col("shingle")).as("shingle"))
      .distinct()
      .transform(graft.core.CacheScope.disk)
    // candidates touching the batch: batch bands join (prior ∪
    // batch) bands; canonicalize (least, greatest) and dedupe so a
    // same-batch pair arriving via both sides lands once
    val allSigs = prior.signatures.unionByName(batchSigs)
    val batchBands = bandedSignatures(batchSigs, idCol, bands,
      rowsPerBand)
    val allBands = bandedSignatures(allSigs, idCol, bands,
      rowsPerBand)
    val cands = batchBands
      .select(col(idCol).as("__new"), col("band"), col("sig"))
      .join(allBands.select(col(idCol).as("__other"), col("band"),
        col("sig")), Seq("band", "sig"))
      .where(col("__new") =!= col("__other"))
      .select(least(col("__new"), col("__other")).as("id_a"),
        greatest(col("__new"), col("__other")).as("id_b"))
      .distinct()
      .transform(graft.core.CacheScope.disk)
    // single consumer (the verify's per-document set aggregate) over
    // a union of already-persisted shards — no cache of its own
    val allShingles = prior.shingles.unionByName(batchShingles)
    val newPairs = exactJaccardVerify(allShingles, cands, idCol,
        threshold)
      .select("id_a", "id_b", "jaccard")
    PairStore(batchSigs, batchShingles, newPairs)
  }

  /** Additive merge of a standing [[PairStore]] with a
    * [[pairStoreDelta]] shard (or of any two disjoint stores).
    */
  def mergePairStore(a: PairStore, b: PairStore): PairStore =
    PairStore(a.signatures.unionByName(b.signatures),
      a.shingles.unionByName(b.shingles),
      a.pairs.unionByName(b.pairs))

  /** Build the standing LSH index for incremental NEAR-dup dedup:
    * the corpus's banded signature table (id, band, sig), computed
    * once and reused by every [[nearDupMatches]] batch — the
    * build/search lifecycle split of the IVF index
    * ([[graft.similarity.Similarity.buildIvfIndex]] /
    * [[graft.similarity.Similarity.ivfTopK]], one pair for every
    * [[graft.similarity.IvfCodec]]) and of [[buildFingerprintBloom]].
    * Persist or write it
    * to a table; an append-only corpus extends it by unioning the new
    * documents' bands (same md5 family — band hashes never change).
    */
  def buildLshIndex(
      corpus: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 16, bands: Int = 8): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    bandedSignatures(
      minhashSignatures(corpus, idCol, textCol, n, numHashes),
      idCol, bands, numHashes / bands)
  }

  /** Incremental NEAR-dup detection — the asymmetric production shape
    * of [[minhashLshPairs]]: instead of re-pairing the whole corpus
    * per ingest, each batch bands ONLY ITSELF and probes the standing
    * [[buildLshIndex]] table; candidates are verified by exact
    * Jaccard against the candidate documents' shingles. Emits
    * verified (batch_id, corpus_id, jaccard ≥ threshold) matches.
    *
    * Scale: one lazy plan with no persists, whose cost follows the
    * batch and its candidates. Each batch row's distinct shingle array
    * is built once and gives its signature and band keys per row
    * ([[rowBandKeys]], the same family and band keys as
    * [[buildLshIndex]]), with no aggregation. The index and the corpus
    * are each scanned once for their columns only: the probe is an
    * equi-join on (band, sig), and the corpus text is semi-joined to
    * the candidate ids BEFORE it is shingled, so only candidate
    * documents are shingled, and each pair is scored by
    * `array_intersect` of two distinct shingle arrays. Reading only the
    * matching index rows would need an index table bucketed by
    * (band, sig). Ids must be unique on each side; band parameters must
    * match the index's.
    */
  def nearDupMatches(
      corpus: DataFrame, index: DataFrame, batch: DataFrame,
      idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 16, bands: Int = 8,
      threshold: Double = 0.8): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    require(threshold > 0 && threshold <= 1, "threshold must be in (0,1]")
    val sets = batch.select(col(idCol).as("batch_id"),
      TextAnalysis.shingleArray(col(textCol), n).as("__sb"))
    // __sb is a function of batch_id, so this is the distinct candidate
    // pair; it carries each batch document's set to the verify
    val cands = rowBandKeys(sets, "__sb", numHashes, bands)
      .join(index.select(col(idCol).as("corpus_id"), col("band"),
        col("sig")), Seq("band", "sig"))
      .select("batch_id", "__sb", "corpus_id").distinct()
    // candidate corpus documents only, each shingled once below the
    // verify join: shingled above it, the threshold filter pushed into
    // the join condition would shingle them again for every pair
    val corpusSets = corpus
      .select(col(idCol).as("corpus_id"), col(textCol).as("__ct"))
      .join(cands.select("corpus_id"), Seq("corpus_id"), "left_semi")
      .select(col("corpus_id"),
        TextAnalysis.shingleArray(col("__ct"), n).as("__sc"))
    cands.join(corpusSets, Seq("corpus_id"))
      .select(col("batch_id"), col("corpus_id"),
        size(array_intersect(col("__sb"), col("__sc"))).cast("long")
          .as("__common"),
        size(col("__sb")).cast("long").as("__nb"),
        size(col("__sc")).cast("long").as("__nc"))
      .withColumn("jaccard",
        jaccardScore(col("__common"), col("__nb"), col("__nc")))
      .where(col("jaccard") >= threshold)
      .select("batch_id", "corpus_id", "jaccard")
  }

  /** Incremental CONTAINMENT detection — the asymmetric ingest guard:
    * a batch document whose shingle set is (nearly) contained in some
    * corpus document is a re-post/quote/boilerplate wrap, and both
    * Jaccard and the MinHash band index miss it when the corpus doc
    * is much longer (the union dilutes Jaccard; banding estimates
    * Jaccard). Containment here is BATCH-side: common / |batch doc's
    * shingles| ≥ threshold. Emits (batch_id, corpus_id, common,
    * containment).
    *
    * Scale shape: the corpus leg is semi-joined down to THE BATCH'S
    * shingle set before anything else — corpus occurrences of
    * shingles the batch doesn't contain never enter any join, so
    * corpus-side work scales with the batch. `maxShingleDf` caps the
    * remaining hot-shingle skew (df measured over that semi-joined
    * corpus leg) the q23 way: candidates from low-DF shingles with an
    * upper-bound prune — common ≤ low-df-common + (batch doc's
    * hot-shingle count), and containment is monotone in common — then
    * exact verification over full shingle sets, so capped ==
    * uncapped (spec-pinned).
    */
  def containmentMatches(
      corpus: DataFrame, batch: DataFrame,
      idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8,
      maxShingleDf: Option[Int] = None): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0,1]")
    // shingles hash to longs at the explode (equality-only consumers;
    // the ngramPairsByScore argument) — the batch semi-join and both
    // cached legs then carry 8-byte keys, not n-word strings
    val shB = TextAnalysis.explodeShinglesRaw(batch, idCol, textCol, n)
      .select(col(idCol).as("batch_id"),
        xxhash64(col("shingle")).as("shingle")).distinct()
      .transform(graft.core.CacheScope.disk)
    val nB = shB.groupBy("batch_id").agg(count(lit(1)).as("__nb"))
    val bShingles = shB.select("shingle").distinct()
    val shC = TextAnalysis.explodeShinglesRaw(corpus, idCol, textCol, n)
      .select(col(idCol).as("corpus_id"),
        xxhash64(col("shingle")).as("shingle"))
      .join(bShingles, Seq("shingle"), "left_semi")
      .distinct()
      .transform(graft.core.CacheScope.disk)
    def emit(common: DataFrame): DataFrame = common
      .join(nB, Seq("batch_id"))
      .withColumn("containment",
        col("common").cast("double") / col("__nb").cast("double"))
      .where(col("containment") >= threshold)
      .select("batch_id", "corpus_id", "common", "containment")
    maxShingleDf match {
      case None =>
        emit(shB.join(shC, Seq("shingle"))
          .groupBy("batch_id", "corpus_id")
          .agg(count(lit(1)).as("common")))
      case Some(cap) =>
        // df of each batch shingle over the (semi-joined) corpus leg;
        // shingles absent from the corpus have no row — df 0, low
        val dfs = shC.groupBy("shingle").agg(count(lit(1)).as("__df"))
          .transform(graft.core.CacheScope.disk)
        val hot = dfs.where(col("__df") > cap).select("shingle")
        val clow = shB.join(hot, Seq("shingle"), "left_anti")
          .join(shC.join(hot, Seq("shingle"), "left_anti"),
            Seq("shingle"))
          .groupBy("batch_id", "corpus_id").agg(count(lit(1)).as("__cl"))
        val hb = shB.join(hot, Seq("shingle"), "left_semi")
          .groupBy("batch_id").agg(count(lit(1)).as("__hb"))
        // upper bound: common ≤ __cl + __hb, containment monotone in
        // common → pairs below threshold here cannot qualify
        val cands = clow
          .join(nB, Seq("batch_id"))
          .join(hb, Seq("batch_id"), "left")
          .where((col("__cl") + coalesce(col("__hb"), lit(0L)))
            .cast("double") / col("__nb").cast("double") >= threshold)
          .select("batch_id", "corpus_id")
          .transform(graft.core.CacheScope.disk)
        val shBc = shB.join(cands.select("batch_id").distinct(),
          Seq("batch_id"), "left_semi")
        val shCc = shC.join(cands.select("corpus_id").distinct(),
          Seq("corpus_id"), "left_semi")
        emit(shBc.join(shCc, Seq("shingle"))
          .groupBy("batch_id", "corpus_id")
          .agg(count(lit(1)).as("common"))
          .join(cands, Seq("batch_id", "corpus_id"), "left_semi"))
    }
  }

  /** [[dedupAgainst]] lifted to CONTAINMENT: batch rows that survive —
    * in-batch exact dedup first (lowest `orderCol` wins), then rows
    * (nearly) contained in some corpus document are dropped. The
    * ingest-time re-post/boilerplate guard.
    */
  def dedupContainedAgainst(
      corpus: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, orderCol: String,
      n: Int = 3, threshold: Double = 0.8,
      maxShingleDf: Option[Int] = None): DataFrame = {
    val b = exactDedupAgg(batch, textCol, orderCol)
      .transform(graft.core.CacheScope.disk)
    val matched = containmentMatches(corpus, b, idCol, textCol, n,
        threshold, maxShingleDf)
      .select(col("batch_id").as(idCol)).distinct()
    b.join(matched, Seq(idCol), "left_anti")
  }

  /** [[dedupAgainst]] lifted to NEAR duplicates: the batch rows that
    * survive — in-batch exact dedup first (lowest `orderCol` wins),
    * then rows with a verified near-dup in the corpus
    * ([[nearDupMatches]] over the standing index) are dropped.
    * In-batch NEAR-dups are intentionally kept (run
    * [[minhashLshPairs]] on the batch to collapse those — the
    * composition q31 uses).
    */
  def dedupNearAgainst(
      corpus: DataFrame, index: DataFrame, batch: DataFrame,
      idCol: String, textCol: String, orderCol: String,
      n: Int = 3, numHashes: Int = 16, bands: Int = 8,
      threshold: Double = 0.8): DataFrame = {
    val b = exactDedupAgg(batch, textCol, orderCol)
      .transform(graft.core.CacheScope.disk)
    val matched = nearDupMatches(corpus, index, b, idCol, textCol,
        n, numHashes, bands, threshold)
      .select(col("batch_id").as(idCol)).distinct()
    b.join(matched, Seq(idCol), "left_anti")
  }

  /** CHUNK-level incremental dedup — [[dedupAgainst]] at sub-document
    * granularity over content-defined chunks
    * ([[graft.text.TextAnalysis.chunkByContent]]): both snapshots are
    * chunked with the same rolling-hash boundaries, and only the new
    * snapshot's chunks whose text does not already exist in the
    * previous snapshot's chunk store survive (plus a within-snapshot
    * collapse: one physical copy per distinct chunk text, first
    * writer by (id, chunk_idx)). Because boundaries are a pure
    * function of LOCAL content, an edited document re-lands ONLY the
    * chunks touching its edit — every untouched chunk hashes
    * identically and dedups away (spec-pinned); a fixed-window
    * chunking would shift every boundary after the edit and re-land
    * the document's whole tail.
    *
    * Scale shape: chunk identity is md5 of the canonical chunk text,
    * the store side reduces to DISTINCT fingerprints before the
    * anti-join (one row per stored chunk, not per occurrence), and
    * the within-snapshot collapse is a groupBy-min — no per-partition
    * sort, no window over a dominant group. For a standing store,
    * persist the fingerprint set (or its sharded Bloom,
    * [[buildShardedFingerprintBloom]]) and feed it as `prev`.
    *
    * Output: the surviving chunk rows
    * (idCol, chunk_idx, n_tokens, chunk_text).
    */
  def dedupChunksAgainst(
      prev: DataFrame, snapshot: DataFrame,
      idCol: String, textCol: String,
      k: Int = 3, targetTokens: Int = 64): DataFrame = {
    val seen = TextAnalysis.chunkByContent(prev, idCol, textCol,
        k, targetTokens)
      .select(md5(col("chunk_text")).as("__fp"))
      .distinct()
    val chunks = TextAnalysis.chunkByContent(snapshot, idCol, textCol,
        k, targetTokens)
      .withColumn("__fp", md5(col("chunk_text")))
    val keep = chunks.groupBy("__fp")
      .agg(min(struct(col(idCol), col("chunk_idx"))).as("__k"))
      .select(col("__fp"), col("__k").getField(idCol).as(idCol),
        col("__k").getField("chunk_idx").as("chunk_idx"))
    chunks.join(keep, Seq("__fp", idCol, "chunk_idx"), "left_semi")
      .join(seen, Seq("__fp"), "left_anti")
      .drop("__fp")
  }

  // ---------------------------------------------------------------- //
  // SimHash                                                          //
  // ---------------------------------------------------------------- //

  /** Bit i (0-based, MSB-first over the md5 hex string) of a token's
    * hash: nibble = hex digit i/4 as an int; bit = (nibble >> (3-i%4))
    * & 1 — pure integer arithmetic on hex digits, portable to any
    * engine with substr + hex→int (no engine-specific hash function).
    */
  def tokenBit(h: Column, i: Int): Column = {
    val nibble = conv(substring(h, i / 4 + 1, 1), 16, 10).cast("int")
    floor(nibble / lit(math.pow(2, 3 - i % 4).toInt)).cast("int") % 2
  }

  /** 64-bit SimHash per document, term-frequency weighted (the classic
    * Charikar construction): bit i of the fingerprint is 1 iff
    * Σ_occurrences (2·bit_i(md5(token)) − 1) > 0 — summing ±1 per token
    * OCCURRENCE is exactly TF weighting. Computed as 64 conditional-sum
    * aggregates in ONE pass over the exploded tokens. Output: (id,
    * simhash_hex: 16 hex chars, sim_hi / sim_lo: the two 32-bit halves
    * as longs for cheap XOR + popcount distance).
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // two 32-bit halves of the token md5, extracted ONCE per token row;
    // each of the 64 bit terms is then a long shift+mask instead of a
    // per-bit substring+conv over the hex string (same bits, ~10×
    // cheaper expression work per row)
    val tokens = df.select(col(idCol),
      explode(TextAnalysis.words(col(textCol))).as("token"))
      .withColumn("__th", md5(col("token")))
      .withColumn("__h1",
        conv(substring(col("__th"), 1, 8), 16, 10).cast("long"))
      .withColumn("__h2",
        conv(substring(col("__th"), 9, 8), 16, 10).cast("long"))
    def bitOf(i: Int): Column =
      if (i < 32) shiftright(col("__h1"), 31 - i).bitwiseAND(lit(1L))
      else shiftright(col("__h2"), 63 - i).bitwiseAND(lit(1L))
    val bitSums = (0 until 64).map { i =>
      sum(bitOf(i) * 2 - 1).as(s"s$i")
    }
    val summed = tokens.groupBy(idCol).agg(bitSums.head, bitSums.tail: _*)
    // assemble hex: nibble j from bits 4j..4j+3
    val hexDigits = (0 until 16).map { j =>
      val v = (0 until 4).map { k =>
        when(col(s"s${j * 4 + k}") > 0, lit(8 >> k)).otherwise(lit(0))
      }.reduce(_ + _)
      substring(lit("0123456789abcdef"), v + 1, lit(1))
    }
    summed.select(col(idCol),
      concat(hexDigits: _*).as("simhash_hex"))
      .withColumn("sim_hi",
        conv(substring(col("simhash_hex"), 1, 8), 16, 10).cast("long"))
      .withColumn("sim_lo",
        conv(substring(col("simhash_hex"), 9, 8), 16, 10).cast("long"))
  }

  /** Hamming distance between two simhashes given as 32-bit halves. */
  def hammingDist(aHi: Column, aLo: Column, bHi: Column, bLo: Column): Column =
    bit_count(aHi.bitwiseXOR(bHi)) + bit_count(aLo.bitwiseXOR(bLo))

  /** SimHash near-duplicate pairs with hamming distance ≤ maxDist.
    * Banding on 4 blocks of 16 bits: any pair within distance 3 shares
    * at least one identical block (pigeonhole), so for maxDist ≤ 3 the
    * candidate join is EXACT — no recall loss — while reducing the
    * pair space from n² to per-block bucket joins.
    */
  def simhashPairs(
      df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3): DataFrame =
    hammingBandedPairs(simhash(df, idCol, textCol), idCol,
      "sim_hi", "sim_lo", maxDist)

  /** Banded Hamming-distance pairs over ANY 64-bit sketch given as two
    * 32-bit halves — the pair machinery behind [[simhashPairs]],
    * factored out so other 64-bit fingerprints (image dHash:
    * [[graft.multimodal.Multimodal.imageDHash]]) share it. Banding on
    * 4 blocks of 16 bits: any pair within distance 3 shares at least
    * one identical block (pigeonhole), so for `maxDist` ≤ 3 the
    * candidate join is EXACT — no recall loss — while reducing the
    * pair space from n² to per-block bucket joins. Null sketches
    * (undecodable payloads) never pair.
    */
  def hammingBandedPairs(
      sketch: DataFrame, idCol: String, hiCol: String, loCol: String,
      maxDist: Int = 3): DataFrame = {
    require(maxDist <= 3, "4-block banding is exact only for maxDist <= 3")
    // Persisted: the sketch computation (a 64-term aggregation for
    // simhash, an image decode for dHash) would otherwise re-run for
    // each self-join leg (see lshCandidates). One row per document.
    val sh = sketch
      .select(col(idCol), col(hiCol).as("__hi"), col(loCol).as("__lo"))
      .where(col("__hi").isNotNull && col("__lo").isNotNull)
      .transform(graft.core.CacheScope.disk)
    val blocks = sh.select(col(idCol), col("__hi"), col("__lo"),
      explode(array(
        struct(lit(0).as("blk"), shiftright(col("__hi"), 16).as("val")),
        struct(lit(1).as("blk"),
          col("__hi").bitwiseAND(lit(0xffffL)).as("val")),
        struct(lit(2).as("blk"), shiftright(col("__lo"), 16).as("val")),
        struct(lit(3).as("blk"),
          col("__lo").bitwiseAND(lit(0xffffL)).as("val")))).as("b"))
      .select(col(idCol), col("__hi"), col("__lo"),
        col("b.blk").as("blk"), col("b.val").as("val"))
    val l = blocks.select(col(idCol).as("id_a"),
      col("__hi").as("a_hi"), col("__lo").as("a_lo"),
      col("blk"), col("val"))
    val r = blocks.select(col(idCol).as("id_b"),
      col("__hi").as("b_hi"), col("__lo").as("b_lo"),
      col("blk"), col("val"))
    l.join(r, Seq("blk", "val"))
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "a_hi", "a_lo", "b_hi", "b_lo").distinct()
      .withColumn("hamming",
        hammingDist(col("a_hi"), col("a_lo"), col("b_hi"), col("b_lo")))
      .where(col("hamming") <= maxDist)
      .select("id_a", "id_b", "hamming")
  }

  /** Asymmetric [[hammingBandedPairs]] — a standing CORPUS sketch
    * index probed by a BATCH sketch (the incremental-ingest shape:
    * the corpus is sketched once, elsewhere; each batch sketches only
    * itself). Emits (corpus_id, batch_id, hamming ≤ maxDist); same
    * 4×16 banding, same exactness bound.
    */
  def hammingBandedMatches(
      corpusSketch: DataFrame, batchSketch: DataFrame, idCol: String,
      hiCol: String, loCol: String, maxDist: Int = 3): DataFrame = {
    require(maxDist <= 3, "4-block banding is exact only for maxDist <= 3")
    def blocks(sketch: DataFrame, as: String) = sketch
      .select(col(idCol).as(as), col(hiCol).as(s"${as}_hi"),
        col(loCol).as(s"${as}_lo"))
      .where(col(s"${as}_hi").isNotNull && col(s"${as}_lo").isNotNull)
      .select(col(as), col(s"${as}_hi"), col(s"${as}_lo"),
        explode(array(
          struct(lit(0).as("blk"),
            shiftright(col(s"${as}_hi"), 16).as("val")),
          struct(lit(1).as("blk"),
            col(s"${as}_hi").bitwiseAND(lit(0xffffL)).as("val")),
          struct(lit(2).as("blk"),
            shiftright(col(s"${as}_lo"), 16).as("val")),
          struct(lit(3).as("blk"),
            col(s"${as}_lo").bitwiseAND(lit(0xffffL)).as("val"))))
          .as("b"))
      .select(col(as), col(s"${as}_hi"), col(s"${as}_lo"),
        col("b.blk").as("blk"), col("b.val").as("val"))
    blocks(corpusSketch, "corpus_id")
      .join(blocks(batchSketch, "batch_id"), Seq("blk", "val"))
      .select("corpus_id", "batch_id",
        "corpus_id_hi", "corpus_id_lo", "batch_id_hi", "batch_id_lo")
      .distinct()
      .withColumn("hamming",
        hammingDist(col("corpus_id_hi"), col("corpus_id_lo"),
          col("batch_id_hi"), col("batch_id_lo")))
      .where(col("hamming") <= maxDist)
      .select("corpus_id", "batch_id", "hamming")
  }

  /** Sub-document duplicate-window signal: chunk each document into
    * non-overlapping `window`-token spans
    * ([[TextAnalysis.chunkByTokens]] with zero overlap), fingerprint
    * each span, and report per document how many of its spans also
    * occur verbatim in ANOTHER document. Whole-document dedup misses
    * boilerplate shared across otherwise-distinct pages (headers,
    * license blocks, templated paragraphs); `dup_chunk_frac` is the
    * standard signal for flagging or stripping it at span granularity.
    * A span repeated only WITHIN its own document does not count —
    * that is [[graft.text.TextAnalysis]]'s repetition signal, not
    * cross-document duplication.
    *
    * Scale: the chunk projection is persisted (two consumers) and
    * carries only (id, 16-byte md5) — the text itself never enters a
    * shuffle. Span-frequency is one aggregation on the fingerprint;
    * the count-back join is fingerprint-keyed. Boilerplate hot keys
    * are bounded: a span shared by d documents costs d join rows
    * (not d²) because spans join against the aggregated per-span
    * count, never against each other.
    */
  def duplicateChunkFraction(
      df: DataFrame, idCol: String, textCol: String,
      window: Int): DataFrame = {
    val chunks = TextAnalysis
      .chunkByTokens(df, idCol, textCol, window, overlap = 0)
      .select(col(idCol), md5(col("chunk_text")).as("__fp"))
      .transform(graft.core.CacheScope.disk)
    val docsPerChunk = chunks.groupBy("__fp")
      .agg(countDistinct(col(idCol)).as("__docs"))
    chunks.join(docsPerChunk, Seq("__fp"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__docs") > 1, 1).otherwise(0)).cast("long")
          .as("n_dup_chunks"))
      .withColumn("dup_chunk_frac",
        round(col("n_dup_chunks").cast("double") / col("n_chunks"), 4))
  }

  /** Near-dup dedup with QUALITY survivorship: LSH-verified pairs →
    * connected components → keep the HIGHEST-`scoreCol` member of
    * each cluster (min id on ties), not the minimum id. The published
    * corpus-dedup practice — among re-posts of an article, keep the
    * cleanest/longest capture, not the one that happened to arrive
    * first. Singletons survive with cluster_size 1. Output: the
    * surviving rows plus their `cluster_size`.
    *
    * Scale shape: the LSH chain and CC are the q24/q31 machinery
    * (banded candidates, checkpointed edges); survivorship is ONE
    * `max_by` aggregation on the component — an argmax over a
    * composite (score, −id) struct, no per-cluster window sort.
    * Integral ids only (the −id tie-break negates).
    */
  def dedupNearKeepBest(
      df: DataFrame, idCol: String, textCol: String, scoreCol: String,
      n: Int = 3, numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.8): DataFrame = {
    val pairs = minhashLshPairs(df, idCol, textCol, n, numHashes,
      bands, threshold)
    val labels = ConnectedComponents
      .components(pairs, "id_a", "id_b")
      .withColumnRenamed("id", idCol)
    val lab = df
      .join(labels, Seq(idCol), "left")
      .withColumn("__comp", coalesce(col("component"), col(idCol)))
    val best = lab.groupBy("__comp")
      .agg(
        max_by(col(idCol),
          struct(col(scoreCol), col(idCol) * lit(-1))).as("__keep"),
        count(lit(1)).as("cluster_size"))
    df.join(
      best.select(col("__keep").as(idCol), col("cluster_size")),
      Seq(idCol))
  }

  /** Cluster-MERGE survivorship: near-dup clusters collapse to ONE
    * consolidated record that keeps the best member's identity AND
    * the union of the cluster's metadata — the entity-consolidation
    * complement of [[dedupNearKeepBest]] (which drops losers wholesale,
    * losing their provenance). The published corpus practice: when
    * re-posts of an article dedup, the surviving record should still
    * say it was seen on every source, and budget math should know the
    * cluster's total token mass.
    *
    * Per cluster: `cluster_id` (the component's min id — CC's label),
    * `kept_id` (argmax `scoreCol`, min id on ties — ONE `max_by`, no
    * per-cluster sort), `n_members`, `best_score`, a sorted-distinct
    * comma-joined union per `setCols` entry (strings sort stably
    * cross-engine; emitted as one string so results hash portably),
    * and a `sum_<col>` total per `sumCols` entry. Singletons appear
    * with n_members 1. The aggregation is cluster-keyed — one
    * exchange over the labeled corpus; set unions are bounded by
    * cluster size × attribute domain.
    */
  def mergeSurvivorship(
      df: DataFrame, idCol: String, textCol: String, scoreCol: String,
      setCols: Seq[String] = Nil, sumCols: Seq[String] = Nil,
      n: Int = 3, numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.8): DataFrame = {
    val pairs = minhashLshPairs(df, idCol, textCol, n, numHashes,
      bands, threshold)
    val labels = ConnectedComponents
      .components(pairs, "id_a", "id_b")
      .withColumnRenamed("id", idCol)
    val lab = df
      .join(labels, Seq(idCol), "left")
      .withColumn("__comp", coalesce(col("component"), col(idCol)))
    val aggs = Seq(
      max_by(col(idCol),
        struct(col(scoreCol), col(idCol) * lit(-1))).as("kept_id"),
      count(lit(1)).as("n_members"),
      max(col(scoreCol)).as("best_score")) ++
      setCols.map(c => array_join(
        sort_array(collect_set(col(c))), ",").as(s"${c}_set")) ++
      sumCols.map(c => sum(col(c)).as(s"sum_$c"))
    lab.groupBy(col("__comp").as("cluster_id"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Cross-source near-duplication matrix: for every DIRECTED pair of
    * corpus sources (a, b), how much of source a is near-duplicated
    * in source b. The standard provenance audit before mixing
    * scraped sources into one training corpus — a high (a, b) cell
    * means source a is largely a re-crawl of b and its mixture weight
    * double-counts b's content; the diagonal measures within-source
    * redundancy.
    *
    * Pairs come from the q24 machinery ([[minhashLshPairs]]: banded
    * MinHash candidates, exact-Jaccard verify of candidates only —
    * never all-pairs). Sources attach to the VERIFIED pair set, which
    * is near-dup-sized, not corpus-sized: the two id→source joins and
    * everything after them scale with the number of duplicate pairs,
    * so the matrix costs one candidate-sized join tree on top of the
    * LSH chain regardless of corpus size. Output, one row per
    * directed (src_a, src_b) with at least one pair:
    * (src_a, src_b, n_pairs, n_dup_docs, n_docs, dup_frac) —
    * `n_pairs` counts unordered near-dup pairs once per direction
    * (so the diagonal's pairs appear once, off-diagonal cells mirror),
    * `n_dup_docs` is the distinct docs of src_a with ≥1 near-dup in
    * src_b, and `dup_frac` = n_dup_docs / |src_a|.
    */
  def crossSourceDupMatrix(
      df: DataFrame, idCol: String, textCol: String, srcCol: String,
      n: Int = 3, numHashes: Int = 16, bands: Int = 4,
      threshold: Double = 0.8): DataFrame = {
    // persist the verified pairs BEFORE symmetrizing: the union embeds
    // this frame twice, and without the persist the whole LSH chain
    // (shingle, signature, band, verify) executes once per leg — the
    // q31 checkpoint-before-symmetrize lesson; the frame is
    // near-dup-sized, the cheapest thing in the chain
    val pairs = minhashLshPairs(df, idCol, textCol, n, numHashes,
        bands, threshold)
      .transform(graft.core.CacheScope.disk)
    val src = df.select(col(idCol), col(srcCol))
    // symmetrize so every (doc of a, dup in b) direction is one edge;
    // a < b on the unordered input keeps the diagonal un-doubled below
    val directed = pairs
      .select(col("id_a").as("__x"), col("id_b").as("__y"))
      .union(pairs.select(col("id_b").as("__x"), col("id_a").as("__y")))
    val edges = directed
      .join(src.select(col(idCol).as("__x"), col(srcCol).as("src_a")),
        Seq("__x"))
      .join(src.select(col(idCol).as("__y"), col(srcCol).as("src_b")),
        Seq("__y"))
      .transform(graft.core.CacheScope.disk)
    val cells = edges.groupBy("src_a", "src_b")
      .agg(
        // a diagonal cell holds both directions of each unordered
        // pair; an off-diagonal cell holds exactly one
        when(col("src_a") === col("src_b"), count(lit(1)) / 2)
          .otherwise(count(lit(1))).cast("long").as("n_pairs"),
        countDistinct(col("__x")).as("n_dup_docs"))
    val totals = df.groupBy(col(srcCol).as("src_a"))
      .agg(count(lit(1)).as("n_docs"))
    cells.join(broadcast(totals), Seq("src_a"))
      .select(col("src_a"), col("src_b"), col("n_pairs"),
        col("n_dup_docs"), col("n_docs"),
        round(col("n_dup_docs").cast("double") / col("n_docs"), 4)
          .as("dup_frac"))
  }

  /** Evidence for verified near-dup pairs — the debuggability leg every
    * dedup decision needs before someone deletes a terabyte: for each
    * `(id_a, id_b)` pair, the `topK` RAREST shared word-`n`-shingles
    * (corpus document frequency ascending — a shared rare shingle is
    * the load-bearing witness; shared stop-phrase shingles explain
    * nothing). "Why did these two match" as a reviewable table.
    *
    * Scale shape: both shingle legs are semi-join-pruned to the pair
    * members BEFORE the shingle-equality join (the pair set is
    * near-dup-sized, tiny against the corpus — the incremental-dedup
    * corpus-leg treatment), while the DF table aggregates the full
    * corpus once, vocabulary-sized with map-side combine. The per-pair
    * rank window is bounded by the members' shingle counts (document
    * length), never the corpus. `pairs` is read three times (two
    * prunes + the evidence join) — persist it if it is expensive to
    * derive (the registry query does).
    *
    * Returns `(id_a, id_b, shingle, df, rank)`, ties on DF broken by
    * the shingle text.
    */
  def pairShingleEvidence(
      docs: DataFrame, idCol: String, textCol: String,
      pairs: DataFrame, n: Int = 3, topK: Int = 3): DataFrame = {
    require(topK >= 1, "topK must be positive")
    val sh = graft.text.TextAnalysis
      .explodeShingles(docs, idCol, textCol, n)
      .transform(graft.core.CacheScope.disk)
    val dfreq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    val p = pairs.select(col("id_a"), col("id_b"))
    val shA = sh
      .join(p.select(col("id_a").as(idCol)).distinct(),
        Seq(idCol), "left_semi")
      .select(col(idCol).as("id_a"), col("shingle"))
    val shB = sh
      .join(p.select(col("id_b").as(idCol)).distinct(),
        Seq(idCol), "left_semi")
      .select(col(idCol).as("id_b"), col("shingle"))
    val shared = p.join(shA, Seq("id_a")).join(shB, Seq("id_b", "shingle"))
    val w = Window.partitionBy("id_a", "id_b")
      .orderBy(col("df").asc, col("shingle").asc)
    shared.join(dfreq, Seq("shingle"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= topK)
      .select("id_a", "id_b", "shingle", "df", "rank")
  }

  /** Per-document novelty vs a REFERENCE corpus — the memorization /
    * freshness audit: for each document, how many of its distinct
    * word-`n`-shingles already occur ANYWHERE in `ref`. The per-doc
    * aggregate complement of the q64-style pairwise contamination
    * report (which counts doc×benchmark overlap CELLS): eval-set novelty
    * ("is this benchmark already in the training data"), dedup-policy
    * tuning ("how much of the new crawl is old"), and memorization
    * screens all read this one number per document.
    *
    * Scale shape: both sides collapse to distinct (id, shingle) /
    * distinct shingle rows ([[graft.text.TextAnalysis
    * .explodeShingles]] — one shuffle each, map-side combined); the
    * membership test is a LEFT SEMI join keyed on the shingle (no
    * payload carry, no fan-out — the reference set is a set, never a
    * pair generator), and the per-doc rollup regroups shingle-count
    * rows. Nothing in the plan is ever pairwise. Documents with
    * fewer than `n` words have no shingles and report (0, 0, null).
    *
    * Returns `(id, n_shingles, n_seen, novelty_frac)` where
    * `novelty_frac = 1 − n_seen/n_shingles` rounded to 6 (null when
    * the document has no shingles).
    */
  def noveltyScreen(
      docs: DataFrame, idCol: String, textCol: String,
      ref: DataFrame, refTextCol: String, n: Int = 3): DataFrame = {
    val sh = graft.text.TextAnalysis
      .explodeShingles(docs, idCol, textCol, n)
    val refSh = graft.text.TextAnalysis
      .explodeShingles(ref.select(lit(0L).as("__rid"),
        col(refTextCol)), "__rid", refTextCol, n)
      .select("shingle").distinct()
    val seen = sh.join(refSh, Seq("shingle"), "left_semi")
      .groupBy(idCol).agg(count(lit(1)).as("n_seen"))
    val totals = sh.groupBy(idCol)
      .agg(count(lit(1)).as("n_shingles"))
    docs.select(col(idCol))
      .join(totals, Seq(idCol), "left")
      .join(seen, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_seen"), lit(0L)).as("n_seen"),
        round(lit(1.0) - coalesce(col("n_seen"), lit(0L)).cast("double")
          / col("n_shingles"), 6).as("novelty_frac"))
  }

  /** Sorted-neighborhood blocking — the THIRD candidate-generation
    * family next to token blocking (inverted index) and SymSpell
    * deletion blocking (q126): sort all records by a blocking key and
    * compare each record only to its `window` successors in sort
    * order. The classic record-linkage blocker for typo-dense keys
    * where token sets diverge but the sort still co-locates variants
    * ("jon smith"/"john smith"); candidates are verified here with
    * exact `levenshtein ≤ maxDist` (integer edit distance — identical
    * in any engine).
    *
    * Scale shape: the global sort rank is a range exchange (NOT a
    * single-task global window — ranks come banded by construction);
    * candidate pairs join on the rank BUCKET `(rank−1) div window`
    * with each left row probing its own and the next bucket — every
    * row meets at most 2·window candidates, so the candidate count is
    * ≤ n·window by construction, never quadratic, and the verify is
    * one codegen'd levenshtein per candidate. The known recall trade
    * (variants sorting far apart are missed) is the published one;
    * multi-pass with a second key is the standard mitigation.
    *
    * Returns `(id_a, id_b, key_a, key_b, dist, rank_gap)` for
    * verified pairs, `id_a` the sort-earlier record, `1 ≤ rank_gap ≤
    * window`.
    */
  def sortedNeighborhoodPairs(
      df: DataFrame, idCol: String, keyCol: String,
      window: Int, maxDist: Int): DataFrame = {
    require(maxDist >= 0, "maxDist must be non-negative")
    sortedNeighborhoodScored(df, idCol, keyCol, window, "levenshtein")
      .where(col("score") <= maxDist)
      .select(col("id_a"), col("id_b"), col("key_a"), col("key_b"),
        col("score").cast("int").as("dist"), col("rank_gap"))
  }

  /** Scorer names accepted by [[sortedNeighborhoodScored]], in the
    * order a sensitivity sweep would compare them.
    */
  val snScorers: Seq[String] =
    Seq("levenshtein", "damerau_levenshtein", "jaro_winkler")

  /** The scorer-parameterized sorted-neighborhood entry point: ALL
    * banded candidates (≤ n·window by construction — see
    * [[sortedNeighborhoodCandidates]]) scored by the named verifier,
    * with ONE stable output schema across scorers —
    * `(id_a, id_b, key_a, key_b, score, rank_gap)`, `score` always a
    * double of the scorer's native value (edit-distance counts for
    * the Levenshtein family, similarity in [0,1] for Jaro–Winkler).
    * This is the generic surface a threshold-sensitivity analysis
    * (the q251 shape) sweeps WITHOUT special-casing columns per
    * scorer; the three thresholded variants
    * ([[sortedNeighborhoodPairs]] / [[sortedNeighborhoodPairsDl]] /
    * [[sortedNeighborhoodPairsJw]]) are thin filters over this, so
    * every scorer shares the one candidate generator and the one
    * codegen'd verify join. Note the threshold DIRECTION is the
    * scorer's: distances keep small scores, similarities keep large.
    */
  def sortedNeighborhoodScored(
      df: DataFrame, idCol: String, keyCol: String,
      window: Int, scorer: String): DataFrame = {
    val score = scorer match {
      case "levenshtein" => levenshtein(col("key_a"), col("key_b"))
      case "damerau_levenshtein" =>
        expr("graft_damerau_levenshtein(key_a, key_b)")
      case "jaro_winkler" => expr("graft_jaro_winkler(key_a, key_b)")
      case other => throw new IllegalArgumentException(
        s"unknown scorer '$other' (one of ${snScorers.mkString(", ")})")
    }
    sortedNeighborhoodCandidates(df, idCol, keyCol, window)
      .select(col("id_a"), col("id_b"), col("key_a"), col("key_b"),
        score.cast("double").as("score"), col("rank_gap"))
  }

  /** [[sortedNeighborhoodPairs]] with the Jaro–Winkler verify instead
    * of Levenshtein — the name-matching variant: JW's prefix boost
    * and agreement reading fit person/part NAMES (where the head of
    * the string is the stable part) better than raw edit distance,
    * and the sort-order blocking co-locates exactly the shared-prefix
    * candidates JW scores highest. Verification is the codegen'd
    * [[graft.expressions.JaroWinkler]] — bit-compatible with
    * DuckDB's `jaro_winkler_similarity`, so the threshold filter
    * can't flip cross-engine. Same ≤ n·window candidate bound.
    *
    * Returns `(id_a, id_b, key_a, key_b, jw, rank_gap)` with
    * `jw ≥ minSim`, `jw` rounded to 6.
    */
  def sortedNeighborhoodPairsJw(
      df: DataFrame, idCol: String, keyCol: String,
      window: Int, minSim: Double): DataFrame = {
    require(minSim > 0.0 && minSim <= 1.0, "minSim in (0, 1]")
    sortedNeighborhoodScored(df, idCol, keyCol, window, "jaro_winkler")
      .where(col("score") >= minSim)
      .select(col("id_a"), col("id_b"), col("key_a"), col("key_b"),
        round(col("score"), 6).as("jw"), col("rank_gap"))
  }

  /** Fellegi–Sunter agreement weights from a labeled pair sample —
    * the calibration step that turns ad-hoc field comparisons into
    * principled record-linkage scores: for each declared field,
    * `m = P(agree | match)` and `u = P(agree | non-match)` estimated
    * from the labeled pairs (Laplace-smoothed `(a + 0.5)/(n + 1)` so
    * a field that always/never agrees still yields finite weights),
    * and the log-likelihood-ratio weights `w_agree = ln(m/u)`,
    * `w_disagree = ln((1−m)/(1−u))` — sum a pair's field weights and
    * you have its linkage score; fields whose w_agree ≈ 0 are
    * USELESS comparators and can be dropped from the blocking
    * pipeline (that audit is the point of the table).
    *
    * Agreement is null-safe equality (`<=>`) of the two records'
    * field values — both-null agrees, one-null disagrees, the SQL
    * semantics a survivorship pipeline needs.
    *
    * Exactness: agreement counts are exact BIGINTs from one pass
    * over the joined pairs; m and u are single double divisions of
    * `count + 0.5` forms and each weight is one ln of their ratio —
    * mirrored op order, bit-identical cross-engine.
    *
    * Scale shape: the pair frame joins the record table twice by id
    * (key-partitioned equi-joins), then ONE aggregation computes
    * every field's four counts in the same pass (a column per field,
    * not a scan per field); output is |fields| rows via the
    * [[graft.operators.Analytics.fdAudit]] union pattern applied to
    * one-row frames.
    *
    * Returns `(field, n_match, n_nonmatch, m, u, w_agree,
    * w_disagree)` in declaration order.
    */
  def fellegiSunterWeights(
      pairs: DataFrame, idACol: String, idBCol: String,
      matchCol: String, records: DataFrame, idCol: String,
      fields: Seq[String]): DataFrame = {
    require(fields.nonEmpty, "at least one comparison field")
    val recA = records.select((col(idCol).as("__ida") +:
      fields.map(f => col(f).as("__a_" + f))): _*)
    val recB = records.select((col(idCol).as("__idb") +:
      fields.map(f => col(f).as("__b_" + f))): _*)
    val joined = pairs
      .select(col(idACol).as("__ida"), col(idBCol).as("__idb"),
        col(matchCol).cast("boolean").as("__m"))
      .join(recA, Seq("__ida"))
      .join(recB, Seq("__idb"))
      .transform(graft.core.CacheScope.disk)
    val aggCols = fields.flatMap { f =>
      val agree = (col("__a_" + f) <=> col("__b_" + f)).cast("long")
      Seq(
        sum(when(col("__m"), agree).otherwise(0L)).as("__am_" + f),
        sum(when(!col("__m"), agree).otherwise(0L)).as("__au_" + f))
    } ++ Seq(
      sum(when(col("__m"), 1L).otherwise(0L)).as("__nm"),
      sum(when(!col("__m"), 1L).otherwise(0L)).as("__nu"))
    // one-row frame, persisted so the per-field selects below don't
    // re-run the aggregation once per field
    val counts = joined.agg(aggCols.head, aggCols.tail: _*)
      .transform(graft.core.CacheScope.disk)
    fields.map { f =>
      val m = (col("__am_" + f).cast("double") + lit(0.5)) /
        (col("__nm").cast("double") + lit(1.0))
      val u = (col("__au_" + f).cast("double") + lit(0.5)) /
        (col("__nu").cast("double") + lit(1.0))
      counts.select(
        lit(f).as("field"),
        col("__nm").as("n_match"),
        col("__nu").as("n_nonmatch"),
        round(m, 6).as("m"),
        round(u, 6).as("u"),
        round(log(m / u), 6).as("w_agree"),
        round(log((lit(1.0) - m) / (lit(1.0) - u)), 6)
          .as("w_disagree"))
    }.reduce(_ unionByName _)
  }

  /** [[sortedNeighborhoodPairs]] with the UNRESTRICTED
    * Damerau–Levenshtein verify ([[graft.expressions
    * .DamerauLevenshtein]], integer-exact and matching DuckDB's
    * `damerau_levenshtein`): an adjacent transposition costs 1, so
    * `maxDist` units of slack land exactly where keyboard typos do —
    * plain `levenshtein` charges the swap 2 and rejects the
    * commonest true match at the same bound. Both distances are
    * emitted, so the report shows what DL buys per pair. Same ≤
    * n·window candidate bound as the levenshtein variant.
    *
    * Returns `(id_a, id_b, key_a, key_b, dl, lev, rank_gap)` with
    * `dl ≤ maxDist` (and always `dl ≤ lev`).
    */
  def sortedNeighborhoodPairsDl(
      df: DataFrame, idCol: String, keyCol: String,
      window: Int, maxDist: Int): DataFrame = {
    require(maxDist >= 0, "maxDist must be non-negative")
    sortedNeighborhoodScored(df, idCol, keyCol, window,
        "damerau_levenshtein")
      .where(col("score") <= maxDist)
      .withColumn("lev", levenshtein(col("key_a"), col("key_b")))
      .select(col("id_a"), col("id_b"), col("key_a"), col("key_b"),
        col("score").cast("int").as("dl"), col("lev"), col("rank_gap"))
  }

  /** The shared sorted-neighborhood candidate generator: global
    * range-exchange rank on (key, id), bucket-banded self-join —
    * each row probes its own and the next `(rank−1) div window`
    * bucket, so candidates are ≤ n·window BY CONSTRUCTION. Verify
    * strategies plug in downstream through the scorer-parameterized
    * [[sortedNeighborhoodScored]].
    */
  private def sortedNeighborhoodCandidates(
      df: DataFrame, idCol: String, keyCol: String,
      window: Int): DataFrame = {
    require(window >= 1, "window must be positive")
    val ranked = graft.operators.Analytics.rankByRange(
        df.select(col(idCol).as("__id"), col(keyCol).as("__key"))
          .where(col("__key").isNotNull)
          .withColumn("__g", lit(1)),
        Seq("__g"), Seq(col("__key").asc, col("__id").asc), "__rnk")
      .select(col("__id"), col("__key"), col("__rnk"),
        ((col("__rnk") - 1) / window).cast("long").as("__bkt"))
      .transform(graft.core.CacheScope.disk)
    val right = ranked.select(col("__id").as("id_b"),
      col("__key").as("key_b"), col("__rnk").as("__r2"),
      col("__bkt").as("__b2"))
    val probes = ranked
      .select(col("__id").as("id_a"), col("__key").as("key_a"),
        col("__rnk").as("__r1"),
        explode(array(col("__bkt"), col("__bkt") + 1)).as("__b2"))
    probes.join(right, Seq("__b2"))
      .where(col("__r2") > col("__r1") &&
        col("__r2") - col("__r1") <= window)
      .select(col("id_a"), col("id_b"), col("key_a"), col("key_b"),
        (col("__r2") - col("__r1")).as("rank_gap"))
  }

  /** LSH parameter planner — the S-curve audit a (bands, rows) choice
    * should be read against BEFORE a 100 TB banding run: for each
    * candidate configuration and each Jaccard similarity on a
    * `gridStep` grid, the probability that a pair with that
    * similarity becomes an LSH candidate, `p = 1 − (1 − s^r)^b`
    * (Broder/LSH standard), plus each grid point's false-positive /
    * false-negative classification against `threshold` (candidate
    * mass below the threshold = wasted verify work; missed mass above
    * it = recall loss — [[lshRecallAudit]] then measures the real
    * corpus against the curve's prediction).
    *
    * Cross-engine exactness without `pow`: `s^r` and `(1−s^r)^b`
    * evaluate as LEFT-FOLD multiplication chains (`aggregate` over
    * `sequence`) — IEEE multiplication in a fixed order is
    * bit-deterministic, where `pow(double, double)` is
    * library-dependent in its last ulp; grid points are
    * `k·gridStep/1000` with integer k, identical doubles in any
    * engine. The whole table is `|configs| × grid` literal-lattice
    * rows — a driver-free constant-size plan.
    *
    * Returns `(bands, rows_per_band, s_milli, p_candidate,
    * false_positive, false_negative)`, `p_candidate` rounded to 6.
    */
  def lshPlan(
      spark: org.apache.spark.sql.SparkSession,
      configs: Seq[(Int, Int)], threshold: Double,
      gridStepMilli: Int = 50): DataFrame = {
    require(configs.nonEmpty, "at least one (bands, rows) config")
    require(gridStepMilli >= 1 && gridStepMilli <= 500,
      "gridStepMilli in [1, 500]")
    import spark.implicits._
    val cfg = configs.toDF("bands", "rows_per_band")
    val grid = cfg.select(col("bands"), col("rows_per_band"),
      explode(sequence(lit(gridStepMilli), lit(1000 - gridStepMilli),
        lit(gridStepMilli))).as("s_milli"))
    val s = col("s_milli").cast("double") / 1000.0
    val sr = aggregate(sequence(lit(1), col("rows_per_band")),
      lit(1.0), (acc, _) => acc * s)
    val miss = aggregate(sequence(lit(1), col("bands")),
      lit(1.0), (acc, _) => acc * (lit(1.0) - sr))
    grid
      .withColumn("p_candidate", round(lit(1.0) - miss, 6))
      .withColumn("false_positive",
        (s < threshold) && col("p_candidate") >= 0.5)
      .withColumn("false_negative",
        (s >= threshold) && col("p_candidate") < 0.5)
      .select(col("bands"), col("rows_per_band"), col("s_milli"),
        col("p_candidate"),
        col("false_positive").cast("int").as("false_positive"),
        col("false_negative").cast("int").as("false_negative"))
  }
}
