package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Deduplication operators over a `documents(doc_id, text, ...)` table —
  * the corpus-cleaning stage of a crawl-derived training-data pipeline.
  *
  * Scale notes (100 TB corpus):
  *  - exact: one hash-shuffle on a 16-byte digest — the cheapest possible
  *    grouping key; never group by raw text.
  *  - ngram/minhash: the pair-generating join is the cost center. MinHash
  *    LSH bounds it to band-bucket collisions (candidates ∝ near-dups, not
  *    n²); the exact-Jaccard verify then runs only on candidates. Band
  *    buckets are hash keys → uniform shuffle, no skew beyond true dup
  *    clusters (bounded by `maxBucketSize` guard).
  *  - simhash: signature is one 64-bit long per doc; banding on 16-bit
  *    chunks makes Hamming-≤k search a 4-way equi-join, not a cross join.
  */
object Dedup {

  /** Exact dedup by content fingerprint (md5 of normalized text):
    * keep the min doc_id of each group, count members. */
  def exact(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_docs"))
      .select(col("fp"), col("keep_id"), col("n_docs"))

  /** Distinct word-n-gram shingles per doc: (doc_id, sh). Single-pass UDF
    * (see TextCore for why this beats a HOF chain) then explode. */
  def shingleSets(documents: DataFrame, n: Int): DataFrame =
    documents
      .select(col("doc_id"), explode(shingleSetUdf(n)(col("text"))).as("sh"))

  /** Per-doc band hashes: (doc_id, band, bh) — shared by [[minhashLsh]]
    * (bucket join) and [[oversizedBuckets]] (capped-bucket report). */
  private def bandHashes(documents: DataFrame, n: Int, k: Int, bands: Int): DataFrame =
    documents
      .select(col("doc_id"), explode(minhashBandsUdf(n, k, bands)(col("text"))).as("bk"))
      .select(col("doc_id"), col("bk._1").as("band"), col("bk._2").as("bh"))

  /** The buckets [[minhashLsh]] DROPPED under the same arguments: one row
    * per (band, bh) whose population exceeds `maxBucketSize`, with the
    * count. Run this after a capped LSH pass to see which degenerate
    * clusters (boilerplate/empty docs) were excluded from the pair join —
    * their members are better handled as a connected component than as
    * O(size²) pairs. */
  def oversizedBuckets(documents: DataFrame, n: Int = 3, k: Int = 64,
                       bands: Int = 16, maxBucketSize: Int = 1 << 16): DataFrame = {
    require(k % bands == 0)
    bandHashes(documents, n, k, bands)
      .groupBy(col("band"), col("bh"))
      .agg(count(lit(1)).as("bucket_size"))
      .filter(col("bucket_size") > maxBucketSize)
  }

  /** Exact n-gram Jaccard similarity for every doc pair sharing ≥1 shingle,
    * thresholded. O(pairs-sharing-a-shingle); at corpus scale use
    * [[minhashLsh]] which produces the same pairs above the threshold. */
  def ngramJaccard(documents: DataFrame, n: Int = 3, threshold: Double = 0.8): DataFrame = {
    val s = shingleSets(documents, n)
    val sizes = s.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val inter = s.as("a").join(s.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sza")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("szb")), "doc_b")
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("sza") + col("szb") - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** MinHash + banded LSH near-dup pairs, exact-Jaccard verified.
    *
    * shingle → k-minhash signature → `bands` band hashes → self-join on
    * (band, hash) → candidate pairs → exact Jaccard ≥ threshold. With
    * k=64, 16×4 banding, a pair at s=0.8 is missed with prob
    * (1-0.8⁴)¹⁶ ≈ 2e-4; at the planted-dup similarity (≥0.97) ≈ 3e-17 —
    * the verify step makes precision exact, recall is the LSH curve.
    *
    * `maxBucketSize` bounds the candidate explosion of degenerate buckets
    * (N boilerplate/empty docs hashing to one (band, bh) go N²/2 without
    * it): buckets larger than the cap are DROPPED before the pair join, so
    * per-bucket work is ≤ maxBucketSize²/2. A dropped bucket can only lose
    * pairs inside a mega-cluster, which every other band still has 15
    * chances to emit — and true mega-clusters are better handled as
    * connected components than as all-pairs output. Not silent: inspect
    * [[oversizedBuckets]] with the same arguments to see what was capped. */
  def minhashLsh(documents: DataFrame, n: Int = 3, k: Int = 64,
                 bands: Int = 16, threshold: Double = 0.8,
                 maxBucketSize: Int = 1 << 16): DataFrame = {
    require(k % bands == 0)
    val sigs = bandHashes(documents, n, k, bands)
    // bucket-size guard: count per (band, bh), keep rows of sane buckets.
    // The count and the join shuffle on the same key — co-partitioned,
    // one extra narrow stage, no second pass over `documents`.
    val sized = sigs.groupBy(col("band"), col("bh"))
      .agg(count(lit(1)).as("__bn"))
      .filter(col("__bn") <= maxBucketSize)
      .select(col("band"), col("bh"))
    val kept = sigs.join(sized, Seq("band", "bh"))
    val candidates = kept.as("a").join(kept.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // exact verify on candidates only
    val s = shingleSets(documents, n)
    val sizes = s.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    candidates
      .join(s.select(col("doc_id").as("doc_a"), col("sh")), "doc_a")
      .join(s.select(col("doc_id").as("doc_b"), col("sh")), Seq("doc_b", "sh"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sza")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("szb")), "doc_b")
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("sza") + col("szb") - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** SimHash near-dup pairs: 64-bit fingerprints, banded into 4×16-bit
    * chunks (a pair within Hamming distance 3 must agree on ≥1 chunk —
    * pigeonhole), verified by true Hamming distance ≤ maxHamming.
    *
    * The 4-chunk banding only guarantees recall for maxHamming ≤ 3: at 4+
    * a pair can differ in every chunk and silently vanish while the verify
    * step makes the output LOOK exact — hence the hard require. */
  def simhashPairs(documents: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4x16-bit banding is exact only for maxHamming in [0,3], got $maxHamming")
    // no persist: this is library code — the two self-join sides share the
    // scan's exchange via ReuseExchange, and a cache here would leak past
    // return (round-1 ADVICE)
    val fps = documents
      .select(col("doc_id"), simhashUdf(col("text")).as("fp"))
    val chunks = fps.select(col("doc_id"), col("fp"),
        explode(sequence(lit(0), lit(3))).as("c"))
      .withColumn("ck",
        call_function("shiftright", col("fp"), col("c") * 16).bitwiseAND(lit(0xFFFFL)))
    val pairs = chunks.as("a").join(chunks.as("b"),
        col("a.c") === col("b.c") && col("a.ck") === col("b.ck") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.fp").as("fpa"), col("b.fp").as("fpb"))
      .distinct()
      .withColumn("hamming", hamming64(col("fpa"), col("fpb")).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
    pairs
  }

  /** Per-doc simhash fingerprints (hex), for inspection/round-trip. */
  def simhashTable(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), lpad(hex(simhashUdf(col("text"))), 16, "0").as("simhash"))

  /** Connected components over a near-dup pair graph → canonical-document
    * selection: (doc_id, component_id, keep_id) with component_id = keep_id
    * = the component's minimum doc_id. Completes the dedup story: the pair
    * operators above say WHICH docs are near-dups, this resolves the pair
    * graph into survivor clusters — the content-level analog of the
    * reference's keep-max-id duplicate resolution over URL identity
    * (`SqlQueueTaskProvider.scala:73-77`; min-id here because training-data
    * dedup conventionally keeps the earliest-crawled doc).
    *
    * Output covers only docs that appear in at least one pair: a doc with
    * no near-duplicate is its own singleton cluster and is ABSENT from the
    * result. A caller that needs every doc left-joins its documents on
    * `doc_id` and reads a null `keep_id` as the doc keeping itself.
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond") — each operation is
    * one window + one shuffle over the edge list, converges in O(log²)
    * iterations, and at the fixpoint every node holds a direct edge to its
    * component's minimum. Chosen over plain min-label propagation because
    * propagation needs O(diameter) rounds: a pathological near-dup CHAIN
    * (each doc similar only to its neighbors) has diameter ∝ cluster size,
    * while star operations contract it logarithmically. Never materializes
    * a component in one place — no driver-side union-find, no
    * collect — so a 10⁹-edge pair graph from a 100 TB corpus streams
    * through shuffles.
    *
    * Each iteration ends in `localCheckpoint` to truncate the (otherwise
    * exponentially nesting) lineage; on a real cluster prefer
    * `spark.sparkContext.setCheckpointDir` + reliable checkpoints if
    * executor loss mid-computation must be survivable.
    *
    * Convergence is detected by an order-insensitive (count,
    * bit_xor(xxhash64)) checksum of the edge set — one tiny aggregate per
    * iteration instead of a full `except` self-join; a checksum collision
    * on UNEQUAL consecutive edge sets (probability ≈ 2⁻⁶⁴ per iteration)
    * could stop one iteration early, which the `require` below would
    * surface on the next run rather than silently mis-cluster. */
  def connectedComponents(pairs: DataFrame, aCol: String = "doc_a",
                          bCol: String = "doc_b", maxIter: Int = 50): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("u"))
    def sym(e: DataFrame): DataFrame =
      e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
    def checksum(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var edges = pairs
      .select(least(col(aCol), col(bCol)).as("u"), greatest(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint()
    var prev = checksum(edges)
    var converged = prev._1 == 0L // no edges ⇒ nothing to contract
    var it = 0
    while (!converged && it < maxIter) {
      // large-star: every neighbor LARGER than u re-links to the minimum of
      // u's closed neighborhood (m ≤ u < v keeps edges canonical m < v)
      val large = sym(edges)
        .withColumn("m", least(min(col("v")).over(w), col("u")))
        .filter(col("v") > col("u"))
        .select(col("m").as("u"), col("v"))
        .distinct()
      // small-star: u and its strictly-smaller neighbors all re-link to
      // their minimum (the component root emits nothing from its own group
      // — its members emit the edges that keep it attached)
      val smaller = sym(large)
        .filter(col("v") < col("u"))
        .withColumn("m", min(col("v")).over(w))
      val small = smaller.filter(col("v") =!= col("m"))
        .select(col("m").as("u"), col("v"))
        .unionByName(smaller.select(col("m").as("u"), col("u").as("v")))
        .distinct()
        .localCheckpoint()
      val cur = checksum(small)
      converged = cur == prev
      prev = cur
      edges = small
      it += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIter iterations")
    // fixpoint edges are (componentMin, member) stars; the root itself is
    // its own component
    edges.select(col("v").as("doc_id"), col("u").as("component_id"))
      .unionByName(edges.select(col("u").as("doc_id"), col("u").as("component_id")))
      .distinct()
      .withColumn("keep_id", col("component_id"))
  }
}
