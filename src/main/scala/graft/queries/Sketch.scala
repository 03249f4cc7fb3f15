package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import QueryUtil._

/** The production MinHash sketch and the one LSH candidate-and-verify
  * engine. The sketch: 16 xxhash64-seeded minhashes over distinct
  * word-3-gram shingles, banded 8×2 with the band signature compacted
  * to one 64-bit key (the S-curve midpoint of 8×2 sits at J≈0.29, so
  * recall at the 0.5 decision threshold is high and the exact-Jaccard
  * verify removes every false candidate — the rationale measured in
  * BENCH.md "Scale-path quality").
  *
  * The engine — `candidates` (band-key join) then `verified` (exact
  * Jaccard) — is the only band join in the code base. Its callers:
  * q24/q35 (md5 4×4 family), q24p, q53/q53s (via
  * SignatureStore.verdictsAgainst), q73 (SimHash bands, Hamming
  * verify), VectorOps.bandedPairs (hyperplane bands, cosine verify),
  * CorpusPipeline's near-dup stage and
  * streaming.StreamingExtract.nearDedupBatch.
  *
  * All expressions are codegen'd column functions — changing them here
  * changes q24p/q53, whose DuckDB oracles (exact all-pairs Jaccard)
  * re-measure the hash family's recall on every driver run.
  */
object Sketch {

  val NumHashes = 16
  val Bands = 8

  /** Cheap precondition equivalent to "has ≥1 shingle" (≥3 tokens),
    * deliberately NOT `size(shingles) > 0`: a pushed-down filter on the
    * derived column would inline the whole shingle pipeline into the
    * scan filter and evaluate it twice (the q24/q60 plan pathology).
    */
  val hasShingles: Column = col("text").rlike("\\S+\\s+\\S+\\s+\\S+")

  /** doc_id → (hsh: sorted distinct shingle hashes — the exact-verify
    * input; sigs: the 16 minhashes). Callers materialize the result
    * (localCheckpoint / a signature table) so the shingle pipeline runs
    * once per document ever.
    */
  def sketch(docs: DataFrame, idCol: String = "doc_id"): DataFrame = docs
    .where(hasShingles)
    .withColumn("toks", tokens(col("text")))
    .select(col(idCol), shingles3(col("toks")).as("shingles"))
    .select(col(idCol),
      array_sort(transform(col("shingles"), x => xxhash64(x))).as("hsh"),
      transform(sequence(lit(0), lit(NumHashes - 1)),
        j => array_min(transform(col("shingles"), t => xxhash64(j, t)))).as("sigs"))

  /** The 8 compact band signatures of a `sigs` minhash array, as an
    * array column (each = 64-bit hash of that band's 2 minhashes) —
    * precomputable once and STORED, so a signature table never re-pays
    * the banding hash work on the read side.
    */
  def bandSigs(sigs: Column): Column =
    transform(sequence(lit(0), lit(Bands - 1)),
      b => xxhash64(b, concat_ws(",", slice(sigs, b * 2 + 1, lit(2)))))

  /** `sketch` plus its 8 band signatures as a `bands` column — the row
    * shape of the signature store (SignatureStore).
    */
  def banded(docs: DataFrame): DataFrame =
    sketch(docs).withColumn("bands", bandSigs(col("sigs")))

  /** Sketch rows → (doc_id, band_id, band_sig) — the LSH join key rows.
    * The shuffle carries 8 bytes of signature per (doc, band).
    */
  def bandRows(df: DataFrame, idCol: String = "doc_id"): DataFrame =
    explodeBands(df.select(col(idCol), bandSigs(col("sigs")).as("bands")), idCol)

  /** (doc_id, bands) rows with PRECOMPUTED band signatures → the same
    * (doc_id, band_id, band_sig) join rows as `bandRows`, no hashing.
    */
  def explodeBands(df: DataFrame, idCol: String = "doc_id"): DataFrame = df
    .select(col(idCol), posexplode(col("bands")).as(Seq("band_id", "band_sig")))

  /** Exact Jaccard of two sorted shingle-hash arrays via the codegen'd
    * sorted-merge intersection (register graft.plans.GraftFunctions
    * first). Single IEEE division — bit-identical across engines.
    */
  def jaccard(ha: Column, hb: Column): Column = {
    val c = call_function("sorted_intersect_count", ha, hb)
    c.cast("double") / (size(ha) + size(hb) - c).cast("double")
  }

  /** Candidate pairs of the LSH band join: ids of `left` and `right`
    * band rows (idCol, band_id, band_sig) that share a band, as the
    * distinct (pair._1, pair._2) pairs. `right = None` is the self-join,
    * which keeps only pairs with pair._1 < pair._2. Any band family
    * works: band_sig may be a 64-bit key, an md5 string or a bit string.
    *
    * Both sides repartition on the join keys BEFORE the id is renamed,
    * so the two sides of a self-join are one identical Exchange subtree
    * that ReuseExchange dedups — the band pipeline runs once, not twice.
    * The left side is the hash join's build side.
    */
  def candidates(left: DataFrame, right: Option[DataFrame] = None,
      idCol: String = "doc_id", pair: (String, String) = ("doc_a", "doc_b")): DataFrame = {
    val (a, b) = pair
    def keyed(df: DataFrame): DataFrame = df.select(idCol, "band_id", "band_sig")
      .repartition(col("band_id"), col("band_sig"))
    val l = keyed(left)
    val joined = l.withColumnRenamed(idCol, a).hint("shuffle_hash")
      .join(right.fold(l)(keyed).withColumnRenamed(idCol, b), Seq("band_id", "band_sig"))
    (if (right.isEmpty) joined.where(col(a) < col(b)) else joined)
      .select(a, b).distinct()
  }

  /** The candidate pairs whose exact shingle-set Jaccard reaches
    * `threshold`: each side's sorted `hsh` array (from `sketch`) is
    * joined onto the pairs — `left` holds the first id's sketch,
    * `right` the second's — so shingle arrays move for candidates only.
    */
  def verified(pairs: DataFrame, left: DataFrame, right: DataFrame,
      threshold: Double, idCol: String = "doc_id"): DataFrame = {
    val Array(a, b) = pairs.columns
    pairs
      .join(left.select(col(idCol).as(a), col("hsh").as("h_a")), Seq(a))
      .join(right.select(col(idCol).as(b), col("hsh").as("h_b")), Seq(b))
      .where(jaccard(col("h_a"), col("h_b")) >= threshold)
      .select(a, b)
  }
}
