package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Fuzzy entity resolution (record linkage) via symmetric-delete blocking.
  *
  * The reference pipeline keys everything on exact entity ids
  * (`src/main.py:64-78` joins tournaments→events→markets on equal ids); a
  * corpus assembled from MULTIPLE upstream feeds additionally needs the
  * linkage step those ids presuppose — matching records whose keys differ by
  * a typo. The classic scalable shape is "block, then verify": generate a
  * small candidate set from cheap equality keys, then run the expensive
  * edit-distance verify ONLY on candidates — never all-pairs.
  *
  * Blocking here is the symmetric-delete scheme (FastSS / SymSpell, public
  * algorithm): each name emits its depth-1 deletion neighborhood — the
  * normalized string itself plus every single-character-deleted variant.
  * Two strings within Levenshtein distance 1 are GUARANTEED to share a key:
  *  - deletion/insertion: the shorter string IS a key of the longer one;
  *  - substitution at position i: both sides' delete-at-i keys are equal.
  * So recall at maxDist = 1 is exact, with |name|+1 keys per record and
  * near-unique buckets (no token/q-gram frequency skew). Distance-2 linkage
  * needs the depth-2 neighborhood (O(|name|²) keys) — a documented knob,
  * not implemented here.
  *
  * Scale shape (100 TB): key generation is a narrow per-row explode; the
  * candidate join is an equi-join on high-cardinality keys (shuffle-hash /
  * sort-merge territory, AQE-splittable if a pathological key — e.g. a
  * shared default name — skews; [[oversizedKeys]] makes that observable,
  * same audit contract as `Dedup.oversizedBuckets`); `levenshtein` runs
  * codegen'd on candidates only. Nothing in the plan is quadratic in the
  * corpus.
  */
object EntityResolution {

  /** Case/whitespace normalization — the cheap canonicalization every
    * linkage pass starts with (idempotent). */
  def normalizeName(c: Column): Column =
    lower(trim(regexp_replace(c, "\\s+", " ")))

  /** Depth-1 symmetric-delete neighborhood of an (already normalized)
    * string: `[s, delete(s,1), …, delete(s,len)]`, deduplicated (runs of a
    * repeated character produce identical deletions — e.g. zero-padded ids).
    * Empty string ⇒ `[""]`. */
  def deletionNeighborhood(s: Column): Column =
    array_distinct(transform(sequence(lit(0), length(s)), i =>
      when(i === lit(0), s).otherwise(
        concat(s.substr(lit(1), i - 1), s.substr(i + 1, length(s))))))

  /** Blocking-key audit: neighborhood keys shared by more than `minSize`
    * records of `df` (`(id, name)` schema). Empty result = every verify
    * bucket is at most `minSize` per side; a hot key here is the salting /
    * per-key-cap signal before the candidate join is even run. */
  def oversizedKeys(df: DataFrame, minSize: Long): DataFrame =
    df.select(explode(deletionNeighborhood(normalizeName(col("name")))).as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("key_n"))
      .where(col("key_n") > minSize)

  /** Two-sided blocking-key audit for a [[fuzzyPairs]] join: the candidate
    * blowup is the PRODUCT of the two sides' bucket sizes, so a key that
    * is rare in the index but present in every batch row (a default name)
    * is invisible to the one-sided audit (ADVICE r8) — this one joins the
    * per-side key counts and flags keys whose `key_n_left · key_n_right`
    * exceeds `pairBudget` candidate pairs. Run it on the frames exactly as
    * the join will see them; an empty result bounds the join's worst
    * bucket. */
  def oversizedJoinKeys(left: DataFrame, right: DataFrame,
      pairBudget: Long): DataFrame = {
    def keyCounts(df: DataFrame, n: String): DataFrame =
      df.select(explode(deletionNeighborhood(normalizeName(col("name")))).as("k"))
        .groupBy(col("k")).agg(count(lit(1)).as(n))
    keyCounts(left, "key_n_left").join(keyCounts(right, "key_n_right"), "k")
      .where(col("key_n_left") * col("key_n_right") > pairBudget)
      .select(col("k"), col("key_n_left"), col("key_n_right"),
        (col("key_n_left") * col("key_n_right")).as("candidate_pairs"))
  }

  /** Persistable linkage index over the canonical side: `(k, id, nm)` —
    * the normalized name and its precomputed neighborhood keys,
    * ~|name|+1 rows per record. Write it once; later batches probe it via
    * [[fuzzyPairsIncremental]] without re-normalizing or re-keying history
    * — the linkage leg of the engine's incremental-index family (hash,
    * band, span, bloom, centroid, signature, state indexes). */
  def nameIndex(df: DataFrame): DataFrame =
    df.select(col("id"), normalizeName(col("name")).as("nm"))
      .withColumn("k", explode(deletionNeighborhood(col("nm"))))
      .select(col("k"), col("id"), col("nm"))

  /** Link `left` to `right` (both `(id, name)`): all cross-side pairs with
    * normalized Levenshtein distance ≤ `maxDist`, as
    * `(id_a, id_b, dist)`. Exact — the symmetric-delete block generation
    * guarantees every qualifying pair becomes a candidate. */
  def fuzzyPairs(left: DataFrame, right: DataFrame, maxDist: Int = 1): DataFrame =
    fuzzyPairsIncremental(nameIndex(left), right, maxDist)

  /** [[fuzzyPairs]] with the left side already indexed (a loaded
    * [[nameIndex]] artifact): link a new batch against history with one
    * equi-join — history names are never re-normalized or re-keyed. */
  def fuzzyPairsIncremental(index: DataFrame, batch: DataFrame,
      maxDist: Int = 1): DataFrame = {
    require(maxDist == 1,
      s"depth-1 deletion neighborhood guarantees recall only for maxDist = 1, got $maxDist")
    val kb = batch.select(col("id").as("id_b"), normalizeName(col("name")).as("nb"))
      .withColumn("k", explode(deletionNeighborhood(col("nb"))))
    index.select(col("k"), col("id").as("id_a"), col("nm").as("na"))
      .join(kb, "k")
      // A pair can collide on several keys (one per shared deletion);
      // dedup so each surviving pair is emitted once. (The optimizer pushes
      // the levenshtein verify into the join, so the aggregate only sees
      // qualifying pairs — see `graft.Dev final-plan er_fuzzy_pairs`.) The THRESHOLD
      // form of levenshtein bands the DP to O(maxDist·n) with early exit
      // (returns -1 past the threshold) — the verify inner loop at scale.
      .select(col("id_a"), col("na"), col("id_b"), col("nb")).distinct()
      .withColumn("dist", levenshtein(col("na"), col("nb"), maxDist).cast("int"))
      .where(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist"))
  }
}
