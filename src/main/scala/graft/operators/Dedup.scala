package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Deduplication operators for a training-data pipeline: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * Algorithms per the public literature: MinHash resemblance sketches
  * (Broder, "On the resemblance and containment of documents", 1997),
  * LSH banding (Leskovec/Rajaraman/Ullman, Mining of Massive Datasets
  * ch. 3), SimHash (Charikar, "Similarity estimation techniques from
  * rounding algorithms", STOC 2002; Manku et al., WWW 2007 for the
  * chunk-based Hamming search).
  *
  * Scale design: every variant is candidate-generation-by-key (groupBy /
  * equi-join on a hash-derived bucket) followed by verification WITHIN
  * buckets only — never an all-pairs comparison. At 100 TB the bucket
  * join shuffles on band hashes (uniformly distributed by construction),
  * and pathological buckets are capped (`maxBucket`) the way production
  * LSH dedup pipelines cap hot shingle buckets.
  */
object Dedup {

  /** Exact dedup: group identical RAW text, keep the smallest id as
    * canonical. Null text is missing data, not "identical content" —
    * SQL GROUP BY would collapse every extraction failure into one
    * giant fake duplicate group, so null rows are excluded. Map-side
    * partial agg makes this one shuffle of (hash(text) → id) pairs. */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .filter(col(textCol).isNotNull)
      .groupBy(col(textCol))
      .agg(
        min(col(idCol)).as(idCol),
        count(lit(1)).as("dup_count"))
      .select(col(idCol), col("dup_count"))
      .orderBy(idCol)

  /** MinHash signature: `numHashes` permutations approximated by seeded
    * xxhash64 over word `k`-shingles; signature i = min over shingles of
    * hash_i(shingle).
    *
    * Both hot stages are native codegen'd expressions:
    * [[graft.functions.ShingleHashes]] joins the token bytes once per
    * row and hashes each k-window as a byte-range (replacing the
    * interpreted `transform ∘ concat_ws ∘ slice` HOF chain — measured
    * ~3× on q17 at sf0.1), and [[graft.functions.MinHashSignature]]
    * folds those longs into the signature without re-hashing strings. */
  def withMinHashSignature(docs: DataFrame, k: Int = 3, numHashes: Int = 32,
      textCol: String = "text"): DataFrame = {
    val staged = docs
      .withColumn("__shingle_hashes",
        graft.functions.ShingleHashes.shingleHashes(tokens(col(textCol)), k))
    staged
      .withColumn("minhash_sig",
        graft.functions.MinHashSignature.minhashSignature(
          col("__shingle_hashes"), numHashes))
      .drop("__shingle_hashes")
  }

  /** LSH banding: split the signature into `bands` bands of
    * `numHashes/bands` rows, hash each band, and emit candidate pairs
    * that share ANY band bucket. Returns distinct (id_a, id_b) with
    * id_a < id_b, plus the MinHash-estimated Jaccard (fraction of equal
    * signature positions).
    *
    * Scale shape (the expensive part of dedup at 100 TB):
    *  - candidate generation self-joins ONLY (band_hash → id) pairs —
    *    two ints per row — never the signatures;
    *  - pairs are distinct-ed BEFORE signatures are re-attached, so the
    *    estimate join is per unique pair, not per shared bucket;
    *  - hot buckets (a shingle pattern shared by thousands of docs) are
    *    capped at `maxBucket` members, the standard skew defense — a
    *    bucket that big is a common-boilerplate cluster, not a dup pair
    *    candidate set worth quadratic work;
    *  - default 8 rows/band drives the false-candidate rate to j^8 per
    *    band, which is what keeps vocabulary-heavy corpora (where
    *    random-pair Jaccard is high) from exploding. */
  def minHashCandidates(docs: DataFrame, k: Int = 3, numHashes: Int = 32,
      bands: Int = 4, maxBucket: Int = 200,
      idCol: String = "doc_id", textCol: String = "text",
      spillTo: Option[String] = None): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    // docs with fewer than k tokens have no shingles — their sentinel
    // signatures are all identical and would cross-collide in every
    // band; they can't be shingle-near-dups of anything, so drop them
    val eligible = docs.filter(size(tokens(col(textCol))) >= k)
    val computed = withMinHashSignature(eligible, k, numHashes, textCol)
      .select(col(idCol), col("minhash_sig"))
    // The signature table is referenced three times below (banding +
    // both sides of the pair estimate), so it must materialize once.
    // Two modes:
    //  - `spillTo = Some(path)`: checkpoint the signatures through a
    //    TableLog commit and read them back as FILES. This is the
    //    100 TB shape — no executor-cache residency, consumers are
    //    plain parquet scans, and the table is a durable artifact an
    //    incremental dedup can admit against later.
    //  - `spillTo = None` (default, small/interactive runs): persist
    //    EAGERLY — a lazy persist lets the three branches of a single
    //    job race the cold cache and each compute the signatures
    //    themselves. The cache lives until the caller drops it
    //    (`spark.catalog.clearCache()` between unrelated jobs, as Bench
    //    and QueryProbe do) — it cannot be unpersisted here because the
    //    returned plan still references it lazily.
    val signed = spillTo match {
      case Some(path) =>
        graft.lake.TableLog.commitOverwrite(docs.sparkSession, path, computed)
        graft.lake.TableLog.read(docs.sparkSession, path)
      case None =>
        val cached = computed
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        cached.count()
        cached
    }
    val banded = bandHashes(signed, bands, rows, idCol)
    // Cap pathological buckets (hot-key defense for the self-join).
    val bucketSizes = banded.groupBy("band_id", "band_hash")
      .agg(count(lit(1)).as("bucket_n"))
      .filter(col("bucket_n").between(2, maxBucket))
    val inBuckets = banded.join(bucketSizes, Seq("band_id", "band_hash"), "left_semi")
    val a = inBuckets.select(col("band_id"), col("band_hash"), col(idCol).as("id_a"))
    val b = inBuckets.select(col("band_id"), col("band_hash"), col(idCol).as("id_b"))
    val pairs = a.join(b, Seq("band_id", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    // Re-attach signatures once per unique pair for the estimate.
    val sigA = signed.select(col(idCol).as("id_a"), col("minhash_sig").as("sig_a"))
    val sigB = signed.select(col(idCol).as("id_b"), col("minhash_sig").as("sig_b"))
    pairs.join(sigA, "id_a").join(sigB, "id_b")
      .select(col("id_a"), col("id_b"),
        (aggregate(
          zip_with(col("sig_a"), col("sig_b"),
            (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / numHashes)
          .as("est_jaccard"))
      .orderBy("id_a", "id_b")
  }

  /** (id, band_id, band_hash) from a signed frame — band hash over the
    * band's slice of the signature. */
  private def bandHashes(signed: DataFrame, bands: Int, rows: Int,
      idCol: String): DataFrame =
    signed.select(
      col(idCol),
      explode(transform(
        sequence(lit(0), lit(bands - 1)),
        b => struct(
          b.as("band_id"),
          xxhash64(b, slice(col("minhash_sig"), b * rows + 1, lit(rows)).cast("string"))
            .as("band_hash")))).as("band"))
      .select(col(idCol), col("band.band_id"), col("band.band_hash"))

  /** Standalone LSH band table (idCol, band_id, band_hash) for `docs` —
    * the unit an incremental dedup store persists and joins on. Docs
    * with fewer than `k` tokens have no shingles and emit NO bands
    * (they can't be shingle-near-dups of anything). Same signature and
    * banding scheme as [[minHashCandidates]], so band equality here IS
    * candidate-pair membership there. */
  def bandTable(docs: DataFrame, k: Int = 3, numHashes: Int = 32,
      bands: Int = 4, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val eligible = docs.filter(size(tokens(col(textCol))) >= k)
    bandHashes(
      withMinHashSignature(eligible, k, numHashes, textCol)
        .select(col(idCol), col("minhash_sig")),
      bands, numHashes / bands, idCol)
  }

  /** Exact n-gram Jaccard verification over candidate pairs: joins token
    * shingle SETS back and computes |∩|/|∪|. Only candidates pay the
    * set-intersection cost.
    *
    * Shingles are hashed to longs before the set math (|∩| and |∪| are
    * unchanged absent a 64-bit collision; the hashing is the native
    * ShingleHashes byte-range scan), and the per-pair hot loop is the
    * native [[graft.functions.JaccardSimilarity]] — one sorted merge
    * pass per pair with set semantics, instead of materializing
    * intersection and union arrays just to take their sizes
    * (bit-parity with that formulation asserted in TextDedupSpec). */
  def jaccardVerify(docs: DataFrame, candidates: DataFrame, k: Int = 3,
      threshold: Double = 0.5,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sets = docs.select(col(idCol),
      graft.functions.ShingleHashes.shingleHashes(tokens(col(textCol)), k)
        .as("sh"))
    candidates
      .join(sets.withColumnRenamed(idCol, "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
      .join(sets.withColumnRenamed(idCol, "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
      .withColumn("jaccard",
        round(graft.functions.JaccardSimilarity.jaccardSim(
          col("sh_a"), col("sh_b")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
      .orderBy("id_a", "id_b")
  }

  /** Containment verification — the ASYMMETRIC companion to Jaccard
    * (Broder, "On the resemblance and containment of documents", 1997,
    * §2: c(A,B) = |A∩B| / |A|). Catches doc-inside-doc near-supersets
    * that Jaccard misses: a long page wrapping a duplicated core has a
    * large union (low Jaccard) but the smaller doc's shingles are
    * almost all present in the larger. Returns max-containment
    * |∩| / min(|A|,|B|) per candidate pair — "what fraction of the
    * smaller doc is contained in the other".
    *
    * Same scale contract as [[jaccardVerify]]: shingles travel as
    * hashed longs (native ShingleHashes byte-range scan), sets are
    * de-duplicated once per doc, and only candidate pairs pay the
    * set-intersection cost. */
  def containmentVerify(docs: DataFrame, candidates: DataFrame, k: Int = 3,
      threshold: Double = 0.5, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val sets = docs.select(col(idCol),
      array_distinct(graft.functions.ShingleHashes.shingleHashes(
        tokens(col(textCol)), k)).as("sh"))
      // a doc with no shingles (< k tokens) can't contain or be
      // contained — and 0/0 would be NaN, which Spark's ordering
      // treats as greater than any threshold
      .filter(size(col("sh")) > 0)
    candidates
      .join(sets.withColumnRenamed(idCol, "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
      .join(sets.withColumnRenamed(idCol, "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
      .withColumn("containment",
        round(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          least(size(col("sh_a")), size(col("sh_b"))).cast("double"), 4))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("containment"))
      .orderBy("id_a", "id_b")
  }

  /** The composed fuzzy-dedup pipeline — the production shape at
    * 100 TB: LSH candidate generation (bucket join, never all-pairs) →
    * exact n-gram-Jaccard verification (quadratic work only within
    * candidate pairs) → keep-first filtering (every verified near-dup
    * of a smaller id drops; transitive chains resolve to the chain's
    * smallest surviving head, the standard streaming-friendly
    * heuristic that avoids an iterative connected-components pass).
    * Returns the surviving documents' ids. */
  def fuzzyDedupKeepFirst(docs: DataFrame, k: Int = 3, numHashes: Int = 32,
      bands: Int = 8, maxBucket: Int = 200, threshold: Double = 0.5,
      idCol: String = "doc_id", textCol: String = "text",
      spillTo: Option[String] = None): DataFrame = {
    val candidates = minHashCandidates(docs, k, numHashes, bands, maxBucket,
      idCol, textCol, spillTo).select("id_a", "id_b")
    val verified = jaccardVerify(docs, candidates, k, threshold, idCol, textCol)
    val dropped = verified.select(col("id_b").as(idCol)).distinct()
    docs.join(dropped, Seq(idCol), "left_anti")
      .select(col(idCol))
      .orderBy(idCol)
  }

  /** 64-bit SimHash per document: per-token 64-bit hash, each bit votes
    * ±1, sign of the vote sum sets the fingerprint bit. Near-dups have
    * small Hamming distance.
    *
    * Computed by the native per-row expression
    * [[graft.functions.SimHash64]] — map-only, no explode, no shuffle
    * (the explode → 64-conditional-sum groupBy formulation multiplies
    * the row count by the token count and shuffles it back together;
    * parity between the two is asserted in TextDedupSpec). Token-less
    * docs (null, empty, whitespace-only — for which split() yields the
    * single-empty-token array [""], NOT an empty array) are dropped:
    * every such doc would otherwise share the identical simhash64([""])
    * fingerprint and turn the candidate self-join quadratic on one
    * hamming-0 clique. */
  def simHash(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs
      .filter(length(trim(col(textCol))) > 0)
      .select(col(idCol),
        graft.functions.SimHash64.simhash64(tokens(col(textCol))).as("simhash"))
      .orderBy(idCol)
}
