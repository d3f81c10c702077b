package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text / document operators for large-scale training-data pipelines.
  *
  * Engine-portability rule (shared with the DuckDB oracles): every hash is
  * derived from md5 hex strings — identical bytes-in/hex-out on any engine —
  * never from engine-native hash functions. Numeric hashes take the first
  * 15 hex chars (60 bits) so they fit a signed 64-bit integer in any SQL
  * dialect.
  *
  * Scale shapes:
  *  - minhash signatures are per-row higher-order-function folds — no
  *    explode, no shuffle until the band join;
  *  - LSH candidate generation shuffles once on (band_id, band_hash);
  *    hot bands (boilerplate shingles) are the skew axis — salt or cap
  *    bucket sizes at 100 TB;
  *  - simhash is one explode + one partial-aggregated groupBy per doc.
  */
object TextOps {

  val HashMod = 1000000007L

  /** Default LSH band-bucket cap (see [[capBuckets]]): one boilerplate
    * band (every doc sharing a header/footer) makes the candidate join
    * quadratic at corpus scale, so the pipeline-facing dedup entry points
    * cap bucket sizes by default. 1000 docs/bucket ⇒ ≤ 10⁶ candidate
    * pairs per bucket — bounded work per bucket regardless of corpus
    * size. Recall notes: near-dup pairs that differ anywhere keep their
    * other, uncapped bands; a MASS-duplicate cluster larger than the cap
    * (identical in every band) keeps pairs only among its `cap`
    * smallest-id members — byte-identical copies belong to exact dedup
    * (run it first), not LSH. */
  val DefaultMaxBandBucket = 1000

  /** Fixed universal-hash constants for the minhash family
    * h_i(x) = (a_i·x + b_i) mod HashMod (a_i < 10⁶ keeps a·x < 2⁶³). */
  val MinhashA: Array[Long] = {
    val r = new scala.util.Random(42); Array.fill(64)(1L + r.nextInt(999999))
  }
  val MinhashB: Array[Long] = {
    val r = new scala.util.Random(43); Array.fill(64)(r.nextInt(1000000007))
  }

  def tokens(text: Column): Column = split(trim(text), " ")

  /** Distinct word k-shingles, empty when the doc has < k tokens.
    *
    * PERF: only use this single-Column form on small inputs — `toks` is
    * re-evaluated inside every lambda invocation (Catalyst does not CSE
    * across higher-order-function boundaries). The query paths hash
    * shingles with the native [[graft.functions.TextHash]] kernels; this
    * declarative form is their parity reference. */
  def shingles(text: Column, k: Int): Column =
    shinglesOf(tokens(text), k)

  private def shinglesOf(toks: Column, k: Int): Column = {
    val n = size(toks)
    when(n >= k,
      array_distinct(transform(sequence(lit(1), n - (k - 1)),
        i => concat_ws(" ", (0 until k).map(j => element_at(toks, i + j)): _*))))
      .otherwise(array().cast("array<string>"))
  }

  /** LSH band keys: positional rolling hash of each band's signature rows
    * (integer arithmetic, engine-portable). */
  def lshBands(sigCol: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      (1 until rowsPerBand).foldLeft(
        element_at(sigCol, b * rowsPerBand + 1)) { (acc, r) =>
        pmod(acc * 31 + element_at(sigCol, b * rowsPerBand + r + 1), lit(HashMod))
      }
    }: _*)

  /** MinHash+LSH near-duplicate candidates: docs sharing at least one band,
    * with the signature-estimated Jaccard. One shuffle on the band key,
    * pair dedup via distinct. Hot bands (boilerplate-heavy corpora) are the
    * skew axis at scale — cap band bucket sizes or salt. */
  /** Hot-band skew lever: cap every (band_id, band_hash) bucket at its
    * `cap` smallest doc ids before the candidate self-join. A bucket of
    * size B contributes B² candidate pairs, so one boilerplate band
    * (every doc sharing a header/footer) turns the join quadratic.
    * Rank-capping (not dropping the whole bucket) keeps the bucket's
    * first `cap` members pairing — so even a mass-duplicate cluster
    * identical in EVERY band still yields pairs among its smallest-id
    * members (the canonical keepers) instead of silently losing all of
    * them; truly-similar pairs that differ anywhere also keep their
    * other, non-boilerplate bands. The window partitions on the same key
    * the join shuffles on, so the cap costs no extra exchange. */
  private def capBuckets(banded: DataFrame, cap: Option[Int]): DataFrame =
    cap match {
      case Some(c) =>
        val wb = org.apache.spark.sql.expressions.Window
          .partitionBy(col("band_id"), col("band_hash"))
          .orderBy(col("doc"))
        banded.withColumn("_brn", row_number().over(wb))
          .filter(col("_brn") <= c).drop("_brn")
      case None => banded
    }

  /** (doc, hv) distinct shingle-hash arrays via the native one-eval-per-row
    * kernel ([[graft.functions.TextHash.ShingleHash60]] — bit-identical to
    * the declarative shingled→hash60 chain, ~5× cheaper). */
  private def shingleHashed(docs: DataFrame, idCol: String, textCol: String,
                            k: Int): DataFrame =
    graft.Par.byKey(docs, col(idCol))
      .select(col(idCol).as("doc"),
        graft.functions.TextHash.shingle_hash60(col(textCol), k, HashMod).as("hv"))
      .filter(size(col("hv")) > 0)

  /** The LSH band table — one row per doc × band: `(doc, sig, band_id,
    * band_hash)`, uncapped (the skew cap is a query-time lever applied in
    * [[minhashPairsFromBands]]). This is the persistable "text index": one
    * full shingle→hash→signature pass over the corpus, after which every
    * downstream dedup consumer (pair generation, clustering, streaming
    * parity checks) reads the tiny banded table instead of re-shingling —
    * the [[LshIndexIO]] build/search split, mirroring the ANN tier's
    * [[AnnIndexIO]]. */
  def lshBandTable(docs: DataFrame, idCol: String, textCol: String,
                   shingleK: Int = 3, numHashes: Int = 16,
                   bands: Int = 4): DataFrame = {
    val rowsPerBand = numHashes / bands
    shingleHashed(docs, idCol, textCol, shingleK)
      .select(col("doc"), graft.functions.TextHash.minhash_sig(col("hv"),
        MinhashA.take(numHashes).toSeq, MinhashB.take(numHashes).toSeq,
        HashMod).as("sig"))
      .select(col("doc"), col("sig"),
        posexplode(lshBands(col("sig"), bands, rowsPerBand)).as(Seq("band_id", "band_hash")))
  }

  /** Candidate pairs from a (possibly persisted/reloaded) band table —
    * the join half of [[minhashLshPairs]]; bit-identical whether the band
    * table is the inline lineage or a Parquet round-trip. */
  def minhashPairsFromBands(bandTable: DataFrame, numHashes: Int = 16,
                            minEstJaccard: Double = 0.25,
                            maxBandBucket: Option[Int] = Some(DefaultMaxBandBucket)): DataFrame = {
    // persist: both self-join sides read `banded` — without it the whole
    // upstream lineage runs twice (once per side). The materialized table
    // is tiny (one row per doc×band).
    val banded = capBuckets(bandTable, maxBandBucket)
      .transform(graft.CacheRegistry.persistTracked(_))
    val a = banded.select(col("band_id"), col("band_hash"),
      col("doc").as("doc_a"), col("sig").as("sig_a"))
    val b = banded.select(col("band_id"), col("band_hash"),
      col("doc").as("doc_b"), col("sig").as("sig_b"))
    a.join(b, Seq("band_id", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), _ === _), x => x))
          .cast("double") / numHashes).as("est_jaccard"))
      .distinct()
      .filter(col("est_jaccard") >= minEstJaccard)
  }

  /** INCREMENTAL candidate pairs: a NEW batch's bands probed against a
    * (persisted) index's bands — the snapshot-over-snapshot dedup shape.
    * At 100 TB you never re-pair snapshot N against itself to admit
    * snapshot N+1: old×old pairs were already decided when N was built,
    * so the probe generates only pairs TOUCHING the new batch —
    * new×index (every collision, oriented `(doc_new, doc_match)`) plus
    * new×new (`doc_new < doc_match`, the batch's internal duplicates,
    * without which two copies arriving together would both be admitted).
    *
    * Semantics pin: the result is EXACTLY [[minhashPairsFromBands]] over
    * the unioned band table, restricted to pairs with a new-batch side
    * (spec-proven) — the bucket cap applies to UNION membership, so
    * admitting a batch incrementally and rebuilding from scratch agree
    * row-for-row. Doc ids must be disjoint across index and batch (a
    * re-crawl carries a new revision id, not the old one).
    *
    * Scale shape: one shuffle on (band_id, band_hash); the probe side is
    * batch-sized (days of crawl), the index side corpus-sized — AQE
    * broadcasts the batch side when it fits, and the bucket cap bounds
    * the worst band fan-out either way. */
  def minhashProbePairs(indexBands: DataFrame, batchBands: DataFrame,
                        numHashes: Int = 16, minEstJaccard: Double = 0.25,
                        maxBandBucket: Option[Int] = Some(DefaultMaxBandBucket)): DataFrame = {
    val all = capBuckets(
      indexBands.withColumn("_new", lit(false))
        .unionByName(batchBands.withColumn("_new", lit(true))), maxBandBucket)
      .transform(graft.CacheRegistry.persistTracked(_))
    val a = all.filter(col("_new")).select(col("band_id"), col("band_hash"),
      col("doc").as("doc_new"), col("sig").as("sig_a"))
    val b = all.select(col("band_id"), col("band_hash"),
      col("doc").as("doc_match"), col("sig").as("sig_b"),
      col("_new").as("match_is_new"))
    a.join(b, Seq("band_id", "band_hash"))
      .filter(!col("match_is_new") || (col("doc_new") < col("doc_match")))
      .select(col("doc_new"), col("doc_match"), col("match_is_new"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), _ === _), x => x))
          .cast("double") / numHashes).as("est_jaccard"))
      .distinct()
      .filter(col("est_jaccard") >= minEstJaccard)
  }

  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      shingleK: Int = 3, numHashes: Int = 16, bands: Int = 4,
                      minEstJaccard: Double = 0.25,
                      maxBandBucket: Option[Int] = Some(DefaultMaxBandBucket)): DataFrame =
    minhashPairsFromBands(
      lshBandTable(docs, idCol, textCol, shingleK, numHashes, bands),
      numHashes, minEstJaccard, maxBandBucket)

  /** Line-level dedup (CCNet-style boilerplate removal): drop every line
    * that occurs more than `maxOccurrences` times CORPUS-WIDE (cookie
    * banners, nav text, signatures), keep the rest in original order.
    *
    * Scale shape: one explode + one map-side-combined count on the line
    * hash; the over-threshold "boilerplate set" is SMALL by construction
    * (only lines repeated corpus-wide), so the removal join is a
    * broadcast LEFT ANTI — the corpus lines shuffle once for the count
    * and once for the per-doc reassembly, never against each other.
    * Reassembly is order-exact: lines collect with their positions and
    * re-join sorted, so surviving text is the original minus dropped
    * lines. Docs whose every line drops stay in the output with empty
    * text (auditable, not silently vanished). */
  /** CONTENT-DEFINED CHUNKING at word granularity — the Rabin/FastCDC
    * idea (Muthitacharoen et al., LBFS, SOSP'01) re-expressed over the
    * token stream: cut AFTER word `i` whenever the w-gram ENDING at `i`
    * hashes to the target residue mod `divisor`, so chunk boundaries
    * depend only on LOCAL content — an insertion early in a document
    * shifts every fixed-size block but leaves all later CDC chunks
    * byte-identical, which is what makes chunk-level dedup/delta robust
    * under edits (the storage-dedup property, applied to training-data
    * incremental updates). Expected chunk length ≈ `divisor` words; a
    * trailing partial chunk always closes at the last word. Production
    * FastCDC adds min/max bounds — here the divisor is the lever and
    * the semantics stay exactly replayable.
    *
    * One row per chunk: `(doc, chunk_idx, start_word, end_word,
    * n_words, chunk_md5)` — the md5 of the space-joined chunk text is
    * the dedup key downstream. Scale shape: fully ROW-LOCAL (per-doc
    * HOFs over the token array, no window, no join — the only exchange
    * is the kernel-feed [[graft.Par.byKey]]); the chunk table then
    * feeds the same hash-groupBy dedup the exact tier uses. */
  def cdcChunks(docs: DataFrame, idCol: String, textCol: String,
                w: Int = 4, divisor: Int = 16, target: Int = 0): DataFrame = {
    require(w >= 1, s"gram width must be >= 1, got $w")
    require(divisor >= 1 && target >= 0 && target < divisor,
      s"need 0 <= target < divisor, got $target / $divisor")
    val spanned = graft.Par.byKey(docs, col(idCol))
      .select(col(idCol).cast("long").as("doc"), col(textCol).as("_text"),
        tokens(col(textCol)).as("_toks"))
      .withColumn("_n", size(col("_toks")).cast("long"))
      // residues of the w-gram ending at each word (gram j0, 0-based,
      // ends at word j0 + w); empty below w tokens. Native kernel for
      // the md5 pass; the mod is a cheap per-element transform
      .withColumn("_gh", transform(
        graft.functions.TextHash.gram_hash60_array(col("_text"), w),
        h => pmod(h, lit(divisor.toLong))))
      .withColumn("_cuts", filter(
        transform(col("_gh"), (h, j) =>
          when(h === target.toLong, (j + w).cast("long"))),
        c => c.isNotNull))
      // chunk END positions: every cut, plus the last word unless a cut
      // already landed there
      // try_element_at: ANSI element_at THROWS on the empty cuts array
      .withColumn("_ends",
        when(expr("try_element_at(_cuts, -1)") === col("_n"), col("_cuts"))
          .otherwise(concat(col("_cuts"), array(col("_n")))))
      .select(col("doc"), col("_toks"), col("_ends"),
        posexplode(col("_ends")).as(Seq("_i", "_end")))
      .withColumn("_start", when(col("_i") === 0, lit(1L))
        .otherwise(element_at(col("_ends"), col("_i")) + 1L))
    spanned.select(col("doc"),
      (col("_i") + 1).cast("long").as("chunk_idx"),
      col("_start").as("start_word"), col("_end").as("end_word"),
      (col("_end") - col("_start") + 1L).as("n_words"),
      md5(array_join(
        slice(col("_toks"), col("_start").cast("int"),
          (col("_end") - col("_start") + 1L).cast("int")), " ")
        .cast("binary")).as("chunk_md5"))
  }

  def dedupLines(docs: DataFrame, idCol: String, textCol: String,
                 sep: String = "\n", maxOccurrences: Int = 10): DataFrame = {
    val quoted = java.util.regex.Pattern.quote(sep)
    val lines = graft.Par.byKey(docs, col(idCol))
      .select(col(idCol).as("doc"), split(col(textCol), quoted).as("_parts"))
      .select(col("doc"), size(col("_parts")).as("n_lines"),
        posexplode(col("_parts")).as(Seq("pos", "ln")))
      .transform(graft.CacheRegistry.persistTracked(_))
    val boiler = lines.groupBy(col("ln"))
      .agg(count(lit(1)).as("_n")).filter(col("_n") > maxOccurrences)
      .select(col("ln"))
    val kept = lines.join(broadcast(boiler), Seq("ln"), "left_anti")
      .groupBy(col("doc")).agg(
        count(lit(1)).cast("long").as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("ln")))),
          x => x.getField("ln")), sep).as("text_dedup"))
    docs.select(col(idCol).as("doc"),
        size(split(col(textCol), quoted)).cast("long").as("n_lines"))
      .join(kept, Seq("doc"), "left")
      .select(col("doc"), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"))
  }

  /** Exact n-gram Jaccard gated behind MinHash/LSH candidates — the scale
    * shape for [[ngramJaccardPairs]] (which stays as the exact all-pairs
    * verification baseline). Candidate pairs are docs sharing at least one
    * LSH band of their minhash signature (one shuffle on the band key,
    * Σ bucket² candidate pairs); each candidate is then verified with the
    * EXACT set Jaccard via `array_intersect` over the per-doc shingle-hash
    * arrays — so precision is exact and only recall depends on the band
    * layout. The all-pairs shingle equi-join this replaces is Σd² on hot
    * shingles (boilerplate) and cannot run at 100 TB. */
  def ngramJaccardPairsGated(docs: DataFrame, idCol: String, textCol: String,
                             shingleK: Int = 3, minJaccard: Double = 0.2,
                             numHashes: Int = 16, bands: Int = 4,
                             maxBandBucket: Option[Int] = Some(DefaultMaxBandBucket)): DataFrame =
    ngramJaccardPairsGatedFromPre(
      graft.CacheRegistry.persistTracked(
        shingleHashed(docs, idCol, textCol, shingleK)),
      minJaccard, numHashes, bands, maxBandBucket)

  /** [[ngramJaccardPairsGated]] from a prepared (doc, hv) table — lets
    * [[lshRecallAudit]] feed BOTH sides from one shingle pass. */
  private def ngramJaccardPairsGatedFromPre(pre: DataFrame,
                             minJaccard: Double,
                             numHashes: Int, bands: Int,
                             maxBandBucket: Option[Int]): DataFrame = {
    val rowsPerBand = numHashes / bands
    // band keys only (no signature columns carried into the self-join);
    // persisted because both candidate sides read it
    val banded = capBuckets(
      pre.select(col("doc"), graft.functions.TextHash.minhash_sig(col("hv"),
          MinhashA.take(numHashes).toSeq, MinhashB.take(numHashes).toSeq,
          HashMod).as("sig"))
        .select(col("doc"),
          posexplode(lshBands(col("sig"), bands, rowsPerBand)).as(Seq("band_id", "band_hash"))),
      maxBandBucket)
      .transform(graft.CacheRegistry.persistTracked(_))
    val cand = banded.select(col("doc").as("doc_a"), col("band_id"), col("band_hash"))
      .join(banded.select(col("doc").as("doc_b"), col("band_id"), col("band_hash")),
        Seq("band_id", "band_hash"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    cand
      .join(pre.select(col("doc").as("doc_a"), col("hv").as("ha")), "doc_a")
      .join(pre.select(col("doc").as("doc_b"), col("hv").as("hb")), "doc_b")
      .withColumn("c", size(array_intersect(col("ha"), col("hb"))).cast("double"))
      .select(col("doc_a"), col("doc_b"),
        (col("c") / (size(col("ha")) + size(col("hb")) - col("c"))).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** CONTAINMENT pairs (Broder 1997's asymmetric resemblance — the
    * quote/partial-copy detector): `C(A,B) = |S(A)∩S(B)| / |S(A)|`,
    * which stays high when a small document sits inside a much larger
    * one even though Jaccard (÷ the union) collapses — exactly the
    * pairs a Jaccard gate is blind to. Emits `(doc_a, doc_b, cont_a,
    * cont_b)` for ordered pairs where EITHER direction clears
    * `minContainment` (cont_a = fraction of A's shingles inside B).
    *
    * Candidates come from the shared-shingle inverted buckets (a doc
    * contained in another shares EVERY shingle, so one shared shingle
    * is a complete candidacy condition — no band-recall caveat), with
    * the hot-shingle rank cap bounding boilerplate buckets (capped
    * recall documented, cap mirrored by the oracle). The exact
    * intersection count then comes from the pair groupBy — candidate-
    * sized, never corpus². */
  /** Shared pair-intersection scaffolding for the exact set-overlap
    * family ([[ngramJaccardPairs]], [[containmentPairs]]): from a
    * `(doc, hv)` hash-array table, explode → optional hot-bucket rank
    * cap → self equi-join on the hash → per-pair intersection count →
    * per-doc sizes. Yields `(doc_a, doc_b, c, na, nb)`; the callers
    * differ only in the final ratio and gate. */
  private def pairIntersectionCounts(pre: DataFrame,
                                     maxBucket: Option[Int]): DataFrame = {
    val sh = pre.select(col("doc"), explode(col("hv")).as("g"))
    val capped = maxBucket match {
      case Some(cap) =>
        val wb = org.apache.spark.sql.expressions.Window
          .partitionBy(col("g")).orderBy(col("doc"))
        sh.withColumn("_rn", row_number().over(wb))
          .filter(col("_rn") <= cap).drop("_rn")
      case None => sh
    }
    val common = capped.select(col("doc").as("doc_a"), col("g"))
      .join(capped.select(col("doc").as("doc_b"), col("g")), Seq("g"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("c"))
    val sizes = pre.select(col("doc"), size(col("hv")).cast("long").as("n"))
    common
      .join(sizes.select(col("doc").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc").as("doc_b"), col("n").as("nb")), "doc_b")
  }

  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       shingleK: Int = 3, minContainment: Double = 0.8,
                       maxShingleBucket: Int = 1000): DataFrame = {
    val pre = shingleHashed(docs, idCol, textCol, shingleK)
      .transform(graft.CacheRegistry.persistTracked(_))
    pairIntersectionCounts(pre, Some(maxShingleBucket))
      .select(col("doc_a"), col("doc_b"),
        (col("c").cast("double") / col("na")).as("cont_a"),
        (col("c").cast("double") / col("nb")).as("cont_b"))
      .filter(col("cont_a") >= minContainment ||
        col("cont_b") >= minContainment)
  }

  /** LSH RECALL AUDIT — the measured answer to "what does the banded
    * candidate generation miss?": ground truth = the all-pairs exact
    * Jaccard gate ([[ngramJaccardPairs]] — quadratic, audit-scale
    * only), candidate = the shipped banded+verified chain
    * ([[ngramJaccardPairsGated]]); one row:
    * `(n_true, n_found, recall)`. Precision needs no audit — the gated
    * chain verifies exactly, so found ⊆ true by construction (the
    * LEFT join direction encodes it). Run this on a SAMPLE when tuning
    * band arity/caps for a new corpus; the quadratic side is the cost. */
  def lshRecallAudit(docs: DataFrame, idCol: String, textCol: String,
                     shingleK: Int = 3, minJaccard: Double = 0.2,
                     numHashes: Int = 16, bands: Int = 4,
                     maxBandBucket: Option[Int] = Some(DefaultMaxBandBucket)): DataFrame = {
    // ONE shingle pass feeds both sides (they are bit-identical on the
    // (doc, hv) table, so nothing is lost and the corpus is hashed once)
    val pre = graft.CacheRegistry.persistTracked(
      shingleHashed(docs, idCol, textCol, shingleK))
    val exact = ngramJaccardPairsFromPre(pre, minJaccard)
      .select(col("doc_a"), col("doc_b"))
    val found = ngramJaccardPairsGatedFromPre(pre, minJaccard,
        numHashes, bands, maxBandBucket)
      .select(col("doc_a"), col("doc_b"), lit(1).as("_f"))
    recallRollup(exact, found, Seq("doc_a", "doc_b"))
  }

  /** Exact n-gram Jaccard similarity for all pairs above a threshold:
    * explode shingles → equi-join on the shingle → pair intersection counts
    * → join per-doc set sizes → |A∩B| / (|A|+|B|−|A∩B|). Verification
    * baseline for [[ngramJaccardPairsGated]] — Σd² on hot shingles, do not
    * run standalone at scale (containmentPairs shows the capped form). */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        shingleK: Int = 3, minJaccard: Double = 0.2): DataFrame =
    // join on the 60-bit shingle hash, not the shingle string — same
    // cardinality (collisions are ~1e-13 and mirrored by the oracle), far
    // smaller shuffle; the compact pre-explode (doc, hash-array) table
    // persists once and feeds sizes + both join sides (native kernel,
    // bit-identical to the declarative shingled→hash60 chain)
    ngramJaccardPairsFromPre(
      graft.CacheRegistry.persistTracked(
        shingleHashed(docs, idCol, textCol, shingleK)),
      minJaccard)

  private def ngramJaccardPairsFromPre(pre: DataFrame,
                                       minJaccard: Double): DataFrame =
    pairIntersectionCounts(pre, None)
      .select(col("doc_a"), col("doc_b"),
        (col("c").cast("double") / (col("na") + col("nb") - col("c")))
          .as("jaccard"))
      .filter(col("jaccard") >= minJaccard)

  /** 60-bit numeric hash of a string via md5 prefix (engine-portable). */
  def hash60(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  /** SimHash (60-bit): per token, ±1 vote on each bit of hash60(token);
    * simhash bit j set iff the vote sum is positive. One explode + one
    * groupBy with 60 declarative sums (map-side combined). */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = graft.Par.byKey(docs, col(idCol)).select(col(idCol).as("doc"),
      explode(tokens(col(textCol))).as("w"))
      .withColumn("h", hash60(col("w")))
    val bitSums = (0 until 60).map(j =>
      sum(shiftright(col("h"), j).bitwiseAND(1) * 2 - 1).as(s"b$j"))
    val agg = tok.groupBy("doc").agg(bitSums.head, bitSums.tail: _*)
    val sh = (0 until 60).map(j =>
      when(col(s"b$j") > 0, lit(1L << j)).otherwise(0L)).reduce(_ + _)
    agg.select(col("doc"), sh.as("simhash"))
  }

  /** SimHash NEAR-duplicate pairs — the crawl-dedup classic (Charikar
    * 2002 / the Google near-dup recipe): the 60-bit simhash splits into
    * `bands` equal bit fields, docs sharing a field pair up (bucket
    * rank-capped like every LSH family here), survivors verify with
    * the EXACT Hamming distance `bit_count(a XOR b)` at `maxHamming`.
    * Pigeonhole: distance < `bands` guarantees a shared untouched
    * field, so recall is COMPLETE for `maxHamming ≤ bands − 1` (the
    * default 5 at 6 bands). Integer-only arithmetic end to end —
    * engine-portable by construction. Returns (id_a, id_b, hamming). */
  def simhashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                          bands: Int = 6, maxHamming: Int = 5,
                          maxBucket: Int = DefaultMaxBandBucket): DataFrame =
    simhashPairsFromSh(simhash(docs, idCol, textCol), bands, maxHamming,
      Some(maxBucket))

  private def simhashPairsFromSh(sh: DataFrame, bands: Int, maxHamming: Int,
                                 maxBucket: Option[Int]): DataFrame = {
    require(bands >= 1 && 60 % bands == 0,
      s"bands must divide 60, got $bands")
    val bandBits = 60 / bands
    val mask = (1L << bandBits) - 1
    val banded = sh.select(col("doc"), col("simhash"),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band_id"),
            shiftright(col("simhash"), b * bandBits).bitwiseAND(mask)
              .as("band_key"))): _*)).as("_b"))
      .select(col("doc"), col("simhash"),
        col("_b.band_id"), col("_b.band_key"))
    val capped = maxBucket match {
      case Some(c) =>
        val wb = org.apache.spark.sql.expressions.Window
          .partitionBy(col("band_id"), col("band_key")).orderBy(col("doc"))
        banded.withColumn("_rn", row_number().over(wb))
          .filter(col("_rn") <= c).drop("_rn")
      case None => banded
    }
    capped.as("a").join(capped.as("b"),
        col("a.band_id") === col("b.band_id") &&
        col("a.band_key") === col("b.band_key") &&
        col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("id_a"), col("b.doc").as("id_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** SimHash RECALL AUDIT — the [[lshRecallAudit]] discipline applied to
    * the simhash family. Because `maxHamming ≤ bands − 1` makes the
    * UNCAPPED band join pigeonhole-COMPLETE, the uncapped chain IS the
    * exact ground truth here (no all-pairs join needed — the audit is
    * the one banded family whose truth side stays equi-join-shaped),
    * and the measured number isolates exactly what the audit exists to
    * measure: the hot-bucket rank cap's recall cost. One simhash pass
    * feeds both chains; found ⊆ true by construction (capped buckets
    * generate a candidate subset; both sides verify identically). One
    * row: `(n_true, n_found, recall)`. */
  def simhashRecallAudit(docs: DataFrame, idCol: String, textCol: String,
                         bands: Int = 6, maxHamming: Int = 5,
                         maxBucket: Int = DefaultMaxBandBucket): DataFrame = {
    require(maxHamming <= bands - 1,
      s"truth side needs the pigeonhole guarantee: maxHamming $maxHamming > bands-1")
    val sh = graft.CacheRegistry.persistTracked(
      simhash(docs, idCol, textCol))
    val exact = simhashPairsFromSh(sh, bands, maxHamming, None)
      .select(col("id_a"), col("id_b"))
    val found = simhashPairsFromSh(sh, bands, maxHamming, Some(maxBucket))
      .select(col("id_a"), col("id_b"), lit(1).as("_f"))
    recallRollup(exact, found, Seq("id_a", "id_b"))
  }

  /** Shared audit tail: truth LEFT JOIN found → one
    * `(n_true, n_found, recall)` row (6-dp ratio, null-safe on 0). */
  private[graft] def recallRollup(exact: DataFrame, found: DataFrame,
                                  keys: Seq[String]): DataFrame =
    exact.join(found, keys, "left")
      .agg(count(lit(1)).as("n_true"),
        sum(when(col("_f").isNotNull, 1L).otherwise(0L)).as("n_found"))
      .select(col("n_true"), col("n_found"),
        (round(col("n_found").cast("double") /
          nullif(col("n_true"), lit(0L)), 6) + 0.0).as("recall"))

  /** Document fingerprint: min over 4-token k-gram rolling hashes
    * (winnowing-style shingle-min; null for docs with < 4 tokens).
    * Token-hash array is materialized per row before the gram transform —
    * the single-expression form re-hashes every token per gram lookup. */
  def fingerprintDf(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val grams = {
      val hs = col("_hs")
      transform(sequence(lit(1), greatest(size(hs) - 3, lit(1))), i =>
        pmod(pmod(pmod(element_at(hs, i) * 31 + element_at(hs, i + 1), lit(HashMod))
          * 31 + element_at(hs, i + 2), lit(HashMod))
          * 31 + element_at(hs, i + 3), lit(HashMod)))
    }
    graft.Par.byKey(docs, col(idCol))
      .select(col(idCol), tokens(col(textCol)).as("_toks"))
      .select(col(idCol), transform(col("_toks"),
        w => pmod(hash60(w), lit(HashMod))).as("_hs"))
      .select(col(idCol),
        when(size(col("_hs")) >= 4, array_min(grams))
          .otherwise(lit(null).cast("long")).as("fingerprint"))
  }

  /** Language-ID by stopword-marker voting with a deterministic argmax
    * (de > en > es > fr priority on ties). Heuristic n-gram language ID
    * at training-data-pipeline quality. */
  val langMarkers: Map[String, Seq[String]] = Map(
    "de" -> Seq("der", "die", "und", "nicht", "das"),
    "en" -> Seq("the", "and", "of", "to", "in"),
    "es" -> Seq("el", "la", "de", "que", "y"),
    "fr" -> Seq("le", "les", "et", "des", "un"))

  def langId(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val st = graft.functions.QualityStats.quality_stats(col(textCol))
    val scored = docs.select(col(idCol).as("doc"),
      st.getField("s_de").cast("long").as("s_de"),
      st.getField("s_en").cast("long").as("s_en"),
      st.getField("s_es").cast("long").as("s_es"),
      st.getField("s_fr").cast("long").as("s_fr"))
    scored.withColumn("lang_pred",
      when(col("s_de") >= col("s_en") && col("s_de") >= col("s_es") &&
        col("s_de") >= col("s_fr"), "de")
        .when(col("s_en") >= col("s_es") && col("s_en") >= col("s_fr"), "en")
        .when(col("s_es") >= col("s_fr"), "es")
        .otherwise("fr"))
  }

  /** [[langId]]'s winner as a single Column — the inline form a one-
    * lineage streaming chain needs (same marker sets, same ≥ tie order;
    * value-identical to joining `langId` back). */
  def langPredCol(text: Column): Column = {
    val st = graft.functions.QualityStats.quality_stats(text)
    val de = st.getField("s_de").cast("long")
    val en = st.getField("s_en").cast("long")
    val es = st.getField("s_es").cast("long")
    val fr = st.getField("s_fr").cast("long")
    when(de >= en && de >= es && de >= fr, "de")
      .when(en >= es && en >= fr, "en")
      .when(es >= fr, "es")
      .otherwise("fr")
  }

  /** Benchmark decontamination: flag training documents sharing at least
    * `minOverlap` k-gram shingles with a benchmark/eval set — the standard
    * train-set hygiene pass before LLM training (n-gram overlap filtering).
    *
    * Scale shape: the benchmark side is small by construction (eval suites
    * are KBs-MBs against a 100 TB corpus), so its distinct shingle-hash set
    * is broadcast; the training side is scanned once through the native
    * shingle-hash kernel, exploded, and hash-joined against the broadcast
    * set — no shuffle of the corpus, one groupBy(doc) on the (rare) hits.
    * Docs with fewer than k tokens have zero shingles and pass clean. */
  def decontaminate(train: DataFrame, bench: DataFrame, idCol: String,
                    textCol: String, k: Int = 3, minOverlap: Int = 1): DataFrame = {
    import graft.functions.TextHash
    val benchH = bench
      .select(explode(TextHash.shingle_hash60(col(textCol), k, HashMod)).as("h"))
      .distinct()
    // persisted: feeds both the overlap count and the per-doc shingle sizes
    val trainH = graft.Par.byKey(train, col(idCol))
      .select(col(idCol).as("doc"),
        TextHash.shingle_hash60(col(textCol), k, HashMod).as("hv"))
      .transform(graft.CacheRegistry.persistTracked(_))
    val overlap = trainH.select(col("doc"), explode(col("hv")).as("h"))
      .join(broadcast(benchH), "h")
      .groupBy("doc").agg(count(lit(1)).as("n_overlap"))
    trainH.select(col("doc"), size(col("hv")).cast("long").as("n_shingles"))
      .join(overlap, Seq("doc"), "left")
      .select(col("doc"), col("n_shingles"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)) >= minOverlap).as("contaminated"))
  }

  /** Decontamination for the regime where the benchmark shingle set is
    * TOO BIG TO BROADCAST (the [[decontaminate]] plan hash-joins every
    * corpus shingle against a broadcast set — fine for one eval suite,
    * wrong when the "benchmark" is a multi-GB union of every held-out
    * set): a Bloom filter over the benchmark hashes (a few MB at any
    * fpp·n) broadcasts instead, prefilters the exploded corpus shingles
    * row-locally, and ONLY the surviving (doc, h) pairs — true overlaps
    * plus the fpp sliver — pay the shuffle join against the full
    * benchmark table for EXACT verification. No false negatives in the
    * Bloom ⇒ the verified output is bit-identical to [[decontaminate]]
    * (same oracle SQL attests both), while the corpus-side shuffle
    * shrinks from every shingle to ≈ (overlap + fpp·corpus).
    *
    * The membership probe is Spark's native `BloomFilterMightContain`
    * (the runtime-row-level-filtering expression) over the serialized
    * sketch folded in as ONE binary literal — the probe stays inside
    * whole-stage codegen (the bitset deserializes once per task, not
    * per row) and the literal rides the torrent-broadcast task binary,
    * so the plan both filters before the only shuffle AND keeps the
    * explode→filter span fused. */
  /** Column probe of a driver-built Bloom sketch via Spark's native
    * `BloomFilterMightContain` (the runtime-row-level-filtering
    * expression) over the serialized bitset folded in as ONE binary
    * literal: the probe stays inside whole-stage codegen (the bitset
    * deserializes once per task, not per row) and the literal rides the
    * torrent-broadcast task binary. `h` must be a LONG column (the
    * expression probes `mightContainLong`) — hash strings through
    * [[hash60]] first. Shared by [[decontaminateBloom]] and
    * [[graft.operators.HtmlOps.frontierFilterBloom]]. */
  def bloomMightContain(bloom: org.apache.spark.util.sketch.BloomFilter)
                       (h: Column): Column = {
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    org.apache.spark.sql.graftbridge.Bridge.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal(
          bos.toByteArray,
          org.apache.spark.sql.types.BinaryType),
        org.apache.spark.sql.graftbridge.Bridge.expression(h)))
  }

  def decontaminateBloom(train: DataFrame, bench: DataFrame, idCol: String,
                         textCol: String, k: Int = 3, minOverlap: Int = 1,
                         fpp: Double = 0.01): DataFrame = {
    import graft.functions.TextHash
    val spark = train.sparkSession
    val benchH = bench
      .select(explode(TextHash.shingle_hash60(col(textCol), k, HashMod)).as("h"))
      .distinct()
      .transform(graft.CacheRegistry.persistTracked(_))
    // one bounded build-side pass: the count sizes the sketch, the
    // aggregation tree assembles it — both O(|bench|), driver gets only
    // the fixed-size bitset
    val nBench = benchH.count()
    val bloom = benchH.stat.bloomFilter("h", math.max(nBench, 1L), fpp)
    val mightContain = bloomMightContain(bloom) _
    val trainH = graft.Par.byKey(train, col(idCol))
      .select(col(idCol).as("doc"),
        TextHash.shingle_hash60(col(textCol), k, HashMod).as("hv"))
      .transform(graft.CacheRegistry.persistTracked(_))
    val survivors = trainH.select(col("doc"), explode(col("hv")).as("h"))
      .filter(mightContain(col("h")))
    val overlap = survivors.join(benchH, "h")
      .groupBy("doc").agg(count(lit(1)).as("n_overlap"))
    trainH.select(col("doc"), size(col("hv")).cast("long").as("n_shingles"))
      .join(overlap, Seq("doc"), "left")
      .select(col("doc"), col("n_shingles"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)) >= minOverlap).as("contaminated"))
  }

  /** BPE-ish pre-tokenizer pattern (GPT-2 style: contraction suffixes,
    * space-prefixed letter runs / digit runs / punctuation runs, residual
    * whitespace) in the portable Java-regex / RE2 subset — the original
    * pattern's `\s+(?!\S)` lookahead is dropped (RE2 has no lookarounds);
    * counts differ from tiktoken only on runs of 3+ spaces. Non-overlapping
    * leftmost-first match count ≈ LLM token count, far closer than the
    * chars/4 rule for code and punctuation-heavy text. */
  val BpeTokenRe: String =
    "'(?:s|t|re|ve|m|ll|d)| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+"

  /** BPE-ish token count of a string column (see [[BpeTokenRe]]). */
  def bpeTokenCount(text: Column): Column =
    regexp_count(text, lit(BpeTokenRe)).cast("long")

  /** The engine's built-in merge table (merges.txt line order = rank):
    * frequent English pairs, VALID by construction (every merge consuming
    * a produced token — 'th'+'e', 'an'+'d' — ranks after the producer).
    * Deployments load their model's real table via
    * [[graft.functions.BpeMerge.parseMerges]]; this one is shared
    * verbatim with the DuckDB oracle so the parity gate exercises the
    * full greedy-merge mechanics. */
  val DefaultBpeMerges: Seq[(String, String)] = graft.functions.BpeMerge.parseMerges(
    """t h
      |i n
      |a n
      |o n
      |e r
      |r e
      |th e
      |an d
      |o u
      |s t
      |e n
      |o r
      |i t
      |e s""".stripMargin.linesIterator)

  /** EXACT merge-table BPE token count: greedy lowest-rank merges over
    * [[BpeTokenRe]] pre-tokens (native kernel,
    * [[graft.functions.BpeMerge]]). Row-local — one scan at any corpus
    * size; exact counts are what make packing budgets real
    * ([[SampleOps.packChunks]]'s `tokenCount` hook). */
  def mergeBpeTokenCount(text: Column,
                         merges: Seq[(String, String)] = DefaultBpeMerges): Column =
    graft.functions.BpeMerge.bpe_merge_count(text, merges, BpeTokenRe)

  /** PII patterns (portable Java-regex / RE2 subset — shared verbatim with
    * the DuckDB oracle; no lookarounds, no backreferences). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re  = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"

  /** PII detection + scrub: per-doc counts of emails / IPv4 addresses /
    * phone numbers and the text with each replaced by a typed placeholder.
    * Row-local (codegen regex over each row, no shuffle) — the shape that
    * matters at 100 TB is simply one scan. Replacement order is fixed
    * (email → ip → phone); the placeholders match no later pattern. */
  def piiScrub(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    docs.select(col(idCol).as("doc"),
      regexp_count(t, lit(EmailRe)).cast("long").as("n_emails"),
      regexp_count(t, lit(Ipv4Re)).cast("long").as("n_ips"),
      regexp_count(t, lit(PhoneRe)).cast("long").as("n_phones"),
      regexp_replace(regexp_replace(regexp_replace(t,
        EmailRe, "<EMAIL>"), Ipv4Re, "<IP>"), PhoneRe, "<PHONE>").as("scrubbed"))
  }

  /** Gopher-style repetition metrics: unique-token ratio, most-frequent-
    * token fraction, and duplicate-3-gram fraction (1 − distinct/total
    * 3-grams; null for docs with < 3 tokens). Repetition is the strongest
    * single heuristic for machine-generated/boilerplate text in
    * training-data pipelines.
    *
    * Per-row metrics (counts, distincts, grams) are higher-order-function
    * folds over the materialized token array — no shuffle; only the
    * top-token multiplicity needs the explode → two-level groupBy (both
    * levels map-side combined, keyed by doc). */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val base = graft.Par.byKey(docs, col(idCol))
      .select(col(idCol).as("doc"), tokens(col(textCol)).as("_toks"))
      .select(col("doc"), col("_toks"),
        size(col("_toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("_toks"))).cast("long").as("n_unique"),
        size(shinglesOf(col("_toks"), 3)).cast("long").as("n3_distinct"))
      .transform(graft.CacheRegistry.persistTracked(_))
    val top = base.select(col("doc"), explode(col("_toks")).as("w"))
      .groupBy("doc", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc").agg(max(col("c")).as("top_cnt"))
    base.join(top, "doc")
      .select(col("doc"), col("n_tokens"), col("n_unique"),
        round(col("n_unique").cast("double") / col("n_tokens"), 6).as("unique_ratio"),
        round(col("top_cnt").cast("double") / col("n_tokens"), 6).as("top_token_frac"),
        when(col("n_tokens") >= 3,
          round(lit(1.0) - col("n3_distinct").cast("double") / (col("n_tokens") - 2), 6))
          .otherwise(lit(null).cast("double")).as("dup_3gram_frac"))
  }

  /** BM25-ranked keyword search over the corpus (rational-idf variant).
    *
    * Standard BM25 with one engine-portability substitution: the idf uses
    * the raw Robertson–Sparck-Jones odds ratio (N − df + 0.5)/(df + 0.5)
    * WITHOUT the log — log implementations may differ in the last ulp
    * across engines, which would break exact cross-engine verification.
    * log is monotone so per-term ranking is unchanged; multi-term scores
    * weight rare terms more sharply than the log form. k1/b are the
    * classic Robertson defaults.
    *
    * Scale shape: per-term tf is a per-row HOF count over the fixed
    * literal term set (no explode, no inverted-index materialization),
    * corpus stats (N, Σdl, per-term df) reduce to ONE row broadcast back,
    * and the top-k is orderBy + limit = TakeOrderedAndProject
    * (per-partition heaps, driver merges k rows — no global sort shuffle).
    * Every float expression is a fixed tree (no float sum across rows), so
    * scores are bit-reproducible regardless of partitioning. */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               terms: Seq[String], k: Int = 20,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val tf = graft.Par.byKey(docs, col(idCol))
      .select(col(idCol).as("doc"), tokens(col(textCol)).as("_toks"))
      .select(Seq(col("doc"), size(col("_toks")).cast("long").as("dl")) ++
        terms.indices.map(i => size(filter(col("_toks"),
          w => w === terms(i))).cast("long").as(s"tf$i")): _*)
      .transform(graft.CacheRegistry.persistTracked(_))
    val aggCols = Seq(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl")) ++
      terms.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
    val stats = tf.agg(aggCols.head, aggCols.tail: _*)
    val avgdl = col("sum_dl").cast("double") / col("n_docs").cast("double")
    val contribs = terms.indices.map { i =>
      val tfD = col(s"tf$i").cast("double")
      val idf = ((col("n_docs") - col(s"df$i")).cast("double") + lit(0.5)) /
        (col(s"df$i").cast("double") + lit(0.5))
      when(col(s"tf$i") > 0,
        idf * ((tfD * (lit(k1) + lit(1.0))) /
          (tfD + lit(k1) * ((lit(1.0) - lit(b)) +
            lit(b) * (col("dl").cast("double") / avgdl)))))
        .otherwise(lit(0.0))
    }
    tf.crossJoin(broadcast(stats))
      .select(col("doc"), col("dl"), contribs.reduce(_ + _).as("score"))
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col("doc"))
      .limit(k)
  }

  /** Positional posting lists — the persisted INVERTED INDEX for exact
    * phrase serving ([[phraseSearch]]): one row per token occurrence
    * `(doc, pos, term)`, written partitioned by `tb = hash(term) mod
    * buckets` so a query touches only its terms' buckets. Direct term
    * partitioning would mint one directory per DISTINCT TERM (a
    * vocabulary-sized small-file explosion at corpus scale); hash
    * bucketing keeps the layout at `buckets` dirs while a literal
    * `tb = xxhash64(term) % buckets` predicate still constant-folds
    * into a partition filter. Build cost: one tokenize + explode, one
    * shuffle-free write. */
  def buildPostings(docs: DataFrame, idCol: String, textCol: String,
                    path: String, buckets: Int = 64): Unit = {
    docs.select(col(idCol).cast("long").as("doc"),
        posexplode(tokens(col(textCol))).as(Seq("pos", "term")))
      .withColumn("tb", pmod(xxhash64(col("term")), lit(buckets)))
      .write.mode("overwrite").partitionBy("tb").parquet(path)
    // the bucket arity is part of the LAYOUT: record it so a search
    // can never route `tb` predicates with a mismatched modulus (which
    // would silently return empty results). Through the Hadoop FS like
    // the parquet write itself — the index path may be hdfs://, s3a://
    val fsPath = new org.apache.hadoop.fs.Path(path, "_graft_buckets")
    val fs = fsPath.getFileSystem(
      docs.sparkSession.sparkContext.hadoopConfiguration)
    val out = fs.create(fsPath, true)
    try out.write(buckets.toString.getBytes("UTF-8")) finally out.close()
  }

  /** Exact phrase matches over a [[buildPostings]] index: one
    * `(doc, pos)` row per occurrence of `phrase` starting at token
    * position `pos` (0-based; overlapping occurrences all count — the
    * standard positional-index semantics, Manning et al. IR ch. 2).
    *
    * The m-term phrase is an (m−1)-fold equi-join of per-term posting
    * streams on `(doc, pos + j)` — each stream reads ONLY its term's
    * hash bucket (the `tb` predicate is foldable, so Catalyst prunes
    * partitions at listing time) and pushes `term = t` into the scan.
    * Join input is occurrence-count-sized, not corpus-sized; the join
    * keys carry (doc, pos) so skew is bounded by per-doc term
    * frequency. A single-term phrase is the bare posting lookup. */
  def phraseSearch(s: SparkSession, path: String, phrase: Seq[String],
                   buckets: Int = 64): DataFrame = {
    require(phrase.nonEmpty, "phrase must have at least one term")
    // the index's RECORDED arity wins over the caller's default — a
    // modulus mismatch would silently answer every phrase with zero
    // rows; legacy layouts without the sidecar use the parameter
    val metaPath = new org.apache.hadoop.fs.Path(path, "_graft_buckets")
    val fs = metaPath.getFileSystem(
      s.sparkContext.hadoopConfiguration)
    val effBuckets =
      if (fs.exists(metaPath)) {
        val in = fs.open(metaPath)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toInt
        finally in.close()
      } else buckets
    val post = s.read.parquet(path)
    // unique column names per term stream (a phrase can repeat a term,
    // so the join must never see two references to one attribute set)
    def postingsOf(t: String, j: Int): DataFrame =
      post.filter(col("tb") === pmod(xxhash64(lit(t)), lit(effBuckets)) &&
          col("term") === t)
        .select(col("doc").as(s"_d$j"), col("pos").as(s"_q$j"))
    phrase.zipWithIndex.tail.foldLeft(
        postingsOf(phrase.head, 0)
          .select(col("_d0").as("doc"), col("_q0").as("pos"))) {
      case (acc, (t, j)) =>
        acc.join(postingsOf(t, j), col("doc") === col(s"_d$j") &&
            col(s"_q$j") === col("pos") + lit(j))
          .select(col("doc"), col("pos"))
    }
  }

  /** SFT chat-template TURN SPANS — the loss-masking stage an
    * instruction-tuning pipeline runs after templating: documents are
    * cut into alternating user/assistant turns, each turn is rendered
    * as `<|role|>\n<text>\n`, and the output gives every turn's exact
    * CHARACTER span `[span_start, span_end)` of its text inside the
    * rendered conversation plus `in_loss` (assistant turns only — the
    * spans a trainer masks loss to). One row per (doc, turn).
    *
    * Offsets come from a per-doc prefix-sum window (marker + text + 1
    * newline per preceding turn) — shuffle bounded by doc key, turn
    * fan-out ≤ `maxTurns`; everything else is row-local, so the chain
    * composes with scan pushdown and streams with a doc-keyed state.
    * The fixture derivation (turn k = tokens [k·turnTokens, …)) is the
    * planting discipline: corpus documents are not conversations, so
    * the turn structure is derived deterministically and the oracle
    * replays the identical derivation. */
  def sftTurnSpans(docs: DataFrame, idCol: String, textCol: String,
                   turnTokens: Int = 8, maxTurns: Int = 4): DataFrame = {
    val toks = tokens(col(textCol))
    val nTurns = least(
      ((size(toks) + lit(turnTokens - 1)) / lit(turnTokens)).cast("int"),
      lit(maxTurns))
    // null text ⇒ null turn array ⇒ posexplode emits NO rows (the
    // correct zero-turn case; unguarded, least() would skip the null
    // ceil term and mint maxTurns phantom turns)
    val turns = docs.select(col(idCol).cast("long").as("doc"),
        posexplode(when(col(textCol).isNotNull,
          transform(sequence(lit(0), nTurns - 1), i =>
            array_join(slice(toks, i * turnTokens + 1, lit(turnTokens)),
              " "))))
          .as(Seq("turn_idx", "ttext")))
      .withColumn("role",
        when(col("turn_idx") % 2 === 0, "user").otherwise("assistant"))
      .withColumn("_mlen",
        when(col("role") === "user", lit(9)).otherwise(lit(14)))
    val W = org.apache.spark.sql.expressions.Window
    val w = W.partitionBy("doc")
      .orderBy("turn_idx").rowsBetween(W.unboundedPreceding, -1)
    turns
      .withColumn("_prefix", coalesce(
        sum(col("_mlen") + length(col("ttext")) + 1).over(w), lit(0L)))
      .select(col("doc"), col("turn_idx"), col("role"),
        (col("_prefix") + col("_mlen")).cast("long").as("span_start"),
        (col("_prefix") + col("_mlen") + length(col("ttext")))
          .cast("long").as("span_end"),
        (col("role") === "assistant").as("in_loss"))
  }

  /** Per-source token-length PROFILE — the corpus report that sizes
    * sequence-length and packing config (how long are documents per
    * source; where do the p95 tails sit): doc count, mean, exact
    * interpolated quantiles (p25/p50/p75/p95) and max of the
    * whitespace-token count, one row per source.
    *
    * Scale note: EXACT `percentile` buffers each group's values — the
    * right tool for bounded-cardinality profiling (|sources| rows) on
    * corpora up to the executor-memory regime, and what the oracle can
    * replay bit-for-bit (`quantile_cont` = Spark's interpolated law).
    * Past that, swap `percentile` → `approx_percentile` in place: same
    * plan shape, sketch-bounded state (the spec pins the approx twin
    * within its documented error on the same data). */
  def lengthQuantiles(docs: DataFrame, textCol: String,
                      sourceCol: String): DataFrame = {
    val n = size(tokens(col(textCol))).cast("long")
    def q(p: Double, name: String): Column =
      (round(percentile(col("_n"), lit(p)), 6) + 0.0).as(name)
    docs.select(col(sourceCol).as("source"), n.as("_n"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        (round(avg(col("_n")), 6) + 0.0).as("mean_tokens"),
        q(0.25, "p25"), q(0.5, "p50"), q(0.75, "p75"), q(0.95, "p95"),
        max(col("_n")).as("max_tokens"))
  }

  /** Per-source VOCABULARY profile — distinct words, type/token ratio,
    * singleton share (hapax fraction): the lexical-diversity report a
    * mixing pass reads next to [[lengthQuantiles]] (a source whose
    * type/token ratio collapses is template spam; one whose hapax share
    * explodes is OCR noise). One tokenize + one (source, word) count
    * aggregate (map-side combined), then a source rollup — shuffle
    * bounded by the distinct-(source, word) count.
    *
    * EXACT distinct counts, which is what the oracle replays; at
    * unbounded vocabulary swap the distinct aggregate for
    * `approx_count_distinct` (HLL++, sketch-bounded state) in place —
    * the spec pins the approx twin within its error bound on the same
    * data. */
  def vocabStats(docs: DataFrame, textCol: String,
                 sourceCol: String): DataFrame = {
    val wc = docs.select(col(sourceCol).as("source"),
        explode(tokens(col(textCol))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
    wc.groupBy("source").agg(
      count(lit(1)).as("n_distinct"),
      sum(col("c")).as("n_tokens"),
      (round(count(lit(1)).cast("double") / sum(col("c")), 6) + 0.0)
        .as("type_token_ratio"),
      (round(sum(when(col("c") === 1, 1L).otherwise(0L)).cast("double")
        / count(lit(1)), 6) + 0.0).as("hapax_frac"))
  }

  /** The composite-quality stopword set (distinct from the language
    * markers; shared with [[qualityCol]]). */
  val QualityStopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")

  /** The composite keep/drop score as a single Column — one source of
    * truth shared by [[qualityScore]] and the streaming curation chain
    * (favor mid-length docs with some stopwords, few long words). */
  def qualityCol(text: Column): Column = {
    // r17: fields of the one-pass native [[graft.functions.QualityStats]]
    // kernel instead of size(filter(tokens…)) HOFs — same when-chain, so
    // null propagation and every ratio are value-identical (spec-pinned)
    val st = graft.functions.QualityStats.quality_stats(text)
    val nWords = st.getField("n_words").cast("long")
    val stopRatio = st.getField("n_stop").cast("double") / st.getField("n_words")
    val longRatio = st.getField("n_long").cast("double") / st.getField("n_words")
    lit(1.0) -
      when(stopRatio < 0.02, 0.4).otherwise(0.0) -
      when(nWords < 5, 0.4).otherwise(0.0) -
      when(longRatio > 0.5, 0.2).otherwise(0.0)
  }

  /** MODEL-BASED quality filtering — a nearest-centroid (Rocchio)
    * classifier over the row-local quality features, the engine-portable
    * stand-in for the fastText-style classifiers modern curation stacks
    * (CCNet, FineWeb-Edu, DCLM) gate documents with. TRAIN: per-class
    * feature centroids over the rows matching `isTrain` (one map-side-
    * combined aggregate — conditional means, |classes|·|features| cells
    * in a single row). APPLY: broadcast the 1-row centroid frame and
    * label every document by squared-distance comparison — row-local,
    * zero corpus shuffle, composes with scan pushdown.
    *
    * Determinism/parity contract: features are exact ratio arithmetic;
    * the centroids are the ONLY multi-row aggregates, so they — and
    * nothing else — are rounded (6 dp, docs/SCALE.md pitfall 5), making
    * distances and margins deterministic scalar arithmetic an oracle
    * replays bit-for-bit. A real fastText/DNN classifier slots into the
    * same shape: its scores become one more row-local column; the
    * train/broadcast/apply split is what this operator pins.
    *
    * Features: stopword ratio, long-word ratio, mean word length / 10
    * (scaled to the ratios' range). `label` must be non-null on train
    * rows; a single-class train set yields null centroids for the
    * missing class and null predictions — surface, don't mask.
    * Returns (doc, is_train, label_pred, margin); margin = d²(neg) −
    * d²(pos), positive ⇒ closer to the positive centroid. */
  /** The classifier's feature projection — one definition feeds batch
    * train, batch apply, and the frozen streaming apply. */
  private def qualityFeatureCols(textCol: String): Seq[Column] = {
    val st = graft.functions.QualityStats.quality_stats(col(textCol))
    val stopRatio = st.getField("n_stop").cast("double") / st.getField("n_words")
    val longRatio = st.getField("n_long").cast("double") / st.getField("n_words")
    val meanLen10 = st.getField("n_chars").cast("double") /
      st.getField("n_words").cast("double") / 10.0
    Seq(stopRatio.as("f1"), longRatio.as("f2"), meanLen10.as("f3"))
  }

  private def sqDistTo(pre: String): Column =
    Seq("f1", "f2", "f3").zipWithIndex.map { case (f, i) =>
      val d = col(f) - col(s"$pre${i + 1}")
      d * d
    }.reduce(_ + _)

  /** TRAIN step alone: the 1-row per-class centroid frame
    * (a1..a3 = positive class, b1..b3 = negative). The 6-dp round is the parity contract (see
    * [[centroidClassifier]]). */
  def centroidFit(docs: DataFrame, idCol: String, textCol: String,
                  isTrain: Column, label: Column): DataFrame =
    docs.select(col(idCol).cast("long").as("doc") +:
        qualityFeatureCols(textCol) :+ isTrain.as("is_train") :+
        label.as("_y"): _*)
      .filter(col("is_train")).agg(
        round(avg(when(col("_y"), col("f1"))), 6).as("a1"),
        round(avg(when(col("_y"), col("f2"))), 6).as("a2"),
        round(avg(when(col("_y"), col("f3"))), 6).as("a3"),
        round(avg(when(!col("_y"), col("f1"))), 6).as("b1"),
        round(avg(when(!col("_y"), col("f2"))), 6).as("b2"),
        round(avg(when(!col("_y"), col("f3"))), 6).as("b3"))

  def centroidClassifier(docs: DataFrame, idCol: String, textCol: String,
                         isTrain: Column, label: Column): DataFrame = {
    val base = docs.select(col(idCol).cast("long").as("doc") +:
      qualityFeatureCols(textCol) :+ isTrain.as("is_train"): _*)
    base.crossJoin(broadcast(
        centroidFit(docs, idCol, textCol, isTrain, label)))
      .select(col("doc"), col("is_train"),
        (sqDistTo("a") < sqDistTo("b")).as("label_pred"),
        (sqDistTo("b") - sqDistTo("a")).as("margin"))
  }

  /** Fitted logistic model: train-split feature means/stds (the
    * standardization is PART of the model — GD on these small-scale
    * ratio features barely moves unstandardized, see logregFit) and the
    * weight vector [b, w1, w2, w3] over the STANDARDIZED features. */
  case class LogregModel(mu: Array[Double], sd: Array[Double],
                         w: Array[Double])

  /** LOGISTIC-REGRESSION quality classifier fit — the model-based gate
    * one step up from [[centroidFit]]'s class means: standardize the
    * three quality features on the train split (round-6 population
    * mean/std; zero std ⇒ 1), then full-batch gradient descent on the
    * logistic loss (+ intercept), `iters` steps at rate `lr`.
    *
    * Scale shape (r17 optimization): the gradient only sees each DISTINCT
    * standardized feature tuple once per iteration — the features are
    * ratios of small per-doc integer counts, so the train split collapses
    * into a (f1, f2, f3, y) → multiplicity HISTOGRAM far smaller than the
    * corpus (one map-side-combined shuffle). The fit then runs the T
    * gradient steps over the histogram: collected to the driver when it
    * is small (size-gated like [[graft.model.SessionCalibrator]]'s
    * broadcast probe — bounded work however large the corpus), else as T
    * multiplicity-weighted aggregates over the persisted histogram (the
    * pre-r17 job-per-iteration shape, now over the reduced frame). The
    * pre-r17 loop ran T×2 single-task AQE stage-jobs over the row-level
    * frame — 106 jobs ≈ 4.3 s of pure scheduling at sf0.1.
    *
    * Parity: multiplicity-weighted sums equal row-level sums in real
    * arithmetic; the per-iteration 6-dp weight quantization (the
    * [[centroidFit]] rule, HALF_UP) absorbs the float reassociation —
    * exactly the mechanism that already makes Spark's partition-order
    * sums match the DuckDB replay's. The collected histogram is sorted
    * before the loop so the local sum order is run-reproducible. */
  def logregFit(docs: DataFrame, idCol: String, textCol: String,
                isTrain: Column, label: Column,
                iters: Int = 50, lr: Double = 1.0,
                maxHistRows: Int = 262144): LogregModel = {
    def q6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val raw = graft.CacheRegistry.persistTracked(
      docs.select(col(idCol).cast("long").as("doc") +:
          qualityFeatureCols(textCol) :+ isTrain.as("is_train") :+
          label.as("_y"): _*)
        .filter(col("is_train"))
        .select(col("f1"), col("f2"), col("f3"),
          when(col("_y"), 1.0).otherwise(0.0).as("y")))
    val st = raw.agg(
      avg(col("f1")).as("m1"), stddev_pop(col("f1")).as("s1"),
      avg(col("f2")).as("m2"), stddev_pop(col("f2")).as("s2"),
      avg(col("f3")).as("m3"), stddev_pop(col("f3")).as("s3")).head()
    require(!st.isNullAt(0), "logregFit: no training rows")
    val mu = Array(q6(st.getDouble(0)), q6(st.getDouble(2)), q6(st.getDouble(4)))
    val sd = Array(q6(st.getDouble(1)), q6(st.getDouble(3)), q6(st.getDouble(5)))
      .map(s => if (s == 0.0) 1.0 else s)
    val histDf = raw.groupBy("f1", "f2", "f3", "y")
      .agg(count(lit(1)).as("cnt"))
    // gate for the driver-side loop (~10 MB at the default)
    val probe = histDf.limit(maxHistRows + 1).collect()
    val w = Array(0.0, 0.0, 0.0, 0.0)
    if (probe.length <= maxHistRows) {
      // standardize locally with the identical IEEE expression per value
      val rows = probe.map { r =>
        ((r.getDouble(0) - mu(0)) / sd(0), (r.getDouble(1) - mu(1)) / sd(1),
          (r.getDouble(2) - mu(2)) / sd(2), r.getDouble(3), r.getLong(4))
      }.sortBy(t => (t._1, t._2, t._3, t._4))
      val n = rows.map(_._5).sum.toDouble
      for (_ <- 0 until iters) {
        var g0 = 0.0; var g1 = 0.0; var g2 = 0.0; var g3 = 0.0
        rows.foreach { case (f1, f2, f3, y, cnt) =>
          val z = w(0) + w(1) * f1 + w(2) * f2 + w(3) * f3
          val d = (1.0 / (1.0 + math.exp(-z)) - y) * cnt
          g0 += d; g1 += d * f1; g2 += d * f2; g3 += d * f3
        }
        w(0) = q6(w(0) - lr * g0 / n); w(1) = q6(w(1) - lr * g1 / n)
        w(2) = q6(w(2) - lr * g2 / n); w(3) = q6(w(3) - lr * g3 / n)
      }
    } else {
      // corpus too diverse for the gate: the distributed iteration loop,
      // weighted by multiplicity over the (still reduced) histogram
      val feats = graft.CacheRegistry.persistTracked(
        histDf.select(
          ((col("f1") - mu(0)) / sd(0)).as("f1"),
          ((col("f2") - mu(1)) / sd(1)).as("f2"),
          ((col("f3") - mu(2)) / sd(2)).as("f3"), col("y"), col("cnt")))
      for (_ <- 0 until iters) {
        val z = lit(w(0)) + lit(w(1)) * col("f1") +
          lit(w(2)) * col("f2") + lit(w(3)) * col("f3")
        val p = lit(1.0) / (lit(1.0) + exp(-z))
        val c = col("cnt").cast("double")
        val r = feats.agg(
          sum(col("cnt")).as("n"),
          sum((p - col("y")) * c).as("g0"),
          sum((p - col("y")) * col("f1") * c).as("g1"),
          sum((p - col("y")) * col("f2") * c).as("g2"),
          sum((p - col("y")) * col("f3") * c).as("g3")).head()
        val n = r.getLong(0).toDouble
        for (j <- 0 to 3) w(j) = q6(w(j) - lr * r.getDouble(j + 1) / n)
      }
    }
    LogregModel(mu, sd, w)
  }

  private def logregP(m: LogregModel): Column = {
    def f(j: Int): Column = (col(s"f${j + 1}") - m.mu(j)) / m.sd(j)
    val z = lit(m.w(0)) + lit(m.w(1)) * f(0) + lit(m.w(2)) * f(1) +
      lit(m.w(3)) * f(2)
    lit(1.0) / (lit(1.0) + exp(-z))
  }

  /** Fit on the `isTrain` split, apply corpus-wide:
    * (doc, is_train, score, label_pred). */
  def logregClassifier(docs: DataFrame, idCol: String, textCol: String,
                       isTrain: Column, label: Column,
                       iters: Int = 50, lr: Double = 1.0): DataFrame = {
    val m = logregFit(docs, idCol, textCol, isTrain, label, iters, lr)
    val p = logregP(m)
    docs.select(col(idCol).cast("long").as("doc") +:
        qualityFeatureCols(textCol) :+ isTrain.as("is_train"): _*)
      .select(col("doc"), col("is_train"),
        (round(p, 6) + 0.0).as("score"), (p >= 0.5).as("label_pred"))
  }

  /** chars/4 LLM-token estimate (the heuristic tier next to the exact
    * [[mergeBpeTokenCount]]). */
  def estTokensCol(text: Column): Column =
    ceil(length(trim(text)).cast("double") / 4.0).cast("long")

  /** SPAN-LEVEL exact substring dedup (the Lee et al., "Deduplicating
    * Training Data Makes Language Models Better" shape, at token
    * granularity): find every `k`-token gram that occurs in MORE THAN ONE
    * distinct document, and merge the duplicated positions per document
    * into maximal spans `[span_start, span_end]` (1-based token indices,
    * inclusive; spans merge when they overlap or touch). Doc-level dedup
    * (MinHash/SimHash) cannot see a boilerplate paragraph pasted into a
    * million otherwise-distinct pages — this operator returns exactly the
    * token ranges a curation pass would cut.
    *
    * Plan shape (scale-first):
    *  1. one row-local pass hashes every gram — `hash60(md5)` of the
    *     joined token window, the engine-portable key used everywhere in
    *     graft; the token array is materialized as a named column BEFORE
    *     the gram lambda (docs/SCALE.md pitfall #1: no CSE across HOF
    *     boundaries);
    *  2. cross-doc duplication is `min(doc) != max(doc)` per gram hash —
    *     a map-side-combined aggregate (NOT a window over the raw
    *     positions: a boilerplate gram with 10⁶ occurrences would pile
    *     into one window task; the combiner reduces it on the map side);
    *  3. duplicated positions come back via a shuffle join on the hash
    *     (AQE splits the skewed hot-gram keys), and the island merge is
    *     per-doc windows over ONLY the duplicated positions — typically a
    *     tiny fraction of the corpus.
    * At 100 TB the position stream is the cost driver (one 24-byte row
    * per token); the standard tightening is winnowing (Schleimer et al.,
    * SIGMOD'03) — keep only per-window minimum hashes, which this
    * layout composes with by replacing step 1's dense positions. */
  /** (doc, _gh): per-document array of `hash60(md5)` k-token-gram keys,
    * position p (1-based) at array index p. Shared by
    * [[substringDedupSpans]] (dense positions), [[winnowedFingerprints]]
    * (row-local thinning BEFORE the explode), and [[cdcChunks]].
    * r12: the native [[graft.functions.TextHash.GramHash60Array]]
    * kernel — one eval per row instead of the interpreted
    * transform→slice→array_join→conv(md5) HOF chain (bit-parity pinned
    * in TextVectorOpsSpec, the NgramArray discipline). */
  private def gramHashArray(docs: DataFrame, idCol: String, textCol: String,
                            k: Int): DataFrame =
    graft.Par.byKey(docs, col(idCol))
      .select(col(idCol).cast("long").as("doc"),
        graft.functions.TextHash.gram_hash60_array(col(textCol), k).as("_gh"))

  def substringDedupSpans(docs: DataFrame, idCol: String, textCol: String,
                          k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // posexplode_OUTER + post-filter (not posexplode): the inferred
    // `size > 0` generate-filter would re-evaluate the whole gram
    // transform in a pushed-down scan Filter — 2× the md5 work here,
    // quadratic for winnow (docs/SCALE.md pitfall 1b)
    val grams = gramHashArray(docs, idCol, textCol, k)
      .select(col("doc"), posexplode_outer(col("_gh")).as(Seq("i0", "h")))
      .filter(col("h").isNotNull)
      .select(col("doc"), (col("i0") + 1).cast("long").as("i"), col("h"))
      .transform(graft.CacheRegistry.persistTracked(_))
    val dupH = grams.groupBy("h")
      .agg(min("doc").as("_mn"), max("doc").as("_mx"))
      .filter(col("_mn") =!= col("_mx")).select("h")
    val dup = grams.join(dupH, "h").select("doc", "i")
    val wLag = Window.partitionBy("doc").orderBy("i")
    val brk = dup
      .withColumn("_b",
        when(coalesce(lag(col("i"), 1).over(wLag), lit(-1000000L)) + k < col("i"),
          lit(1L)).otherwise(lit(0L)))
      .withColumn("island",
        sum(col("_b")).over(wLag.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
    brk.groupBy("doc", "island")
      .agg(min("i").as("span_start"),
        (max("i") + (k - 1)).as("span_end"),
        (max("i") + k - min(col("i"))).as("span_toks"))
      .drop("island")
  }

  /** APPLY side of the span-level dedup: cut every duplicated span out
    * of each document and reassemble the remainder in order — the
    * curation action [[substringDedupSpans]]'s detection feeds. The
    * per-doc span list rides back as ONE array column (spans per doc are
    * few by construction — they are merged maximal islands), so removal
    * is a row-local positional filter + rejoin; docs without spans pass
    * through the same canonical single-space rejoin. Output mirrors
    * [[dedupLines]]'s shape: (doc, n_tokens, n_removed, text_dedup),
    * with fully-duplicated docs kept as empty text, not dropped. */
  def removeDuplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                            k: Int = 10): DataFrame = {
    val spans = substringDedupSpans(docs, idCol, textCol, k)
      .groupBy("doc")
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("_spans"))
    val keepTok = (w: Column, i: Column) =>
      !exists(col("_spans"), s =>
        i + 1 >= s.getField("span_start") && i + 1 <= s.getField("span_end"))
    docs.select(col(idCol).cast("long").as("doc"), tokens(col(textCol)).as("_toks"))
      .join(spans, Seq("doc"), "left")
      .select(col("doc"), col("_toks"),
        coalesce(col("_spans"),
          array().cast("array<struct<span_start:bigint,span_end:bigint>>"))
          .as("_spans"))
      .select(col("doc"),
        size(col("_toks")).cast("long").as("n_tokens"),
        filter(col("_toks"), keepTok).as("_kept"))
      .select(col("doc"), col("n_tokens"),
        (col("n_tokens") - size(col("_kept"))).cast("long").as("n_removed"),
        array_join(col("_kept"), " ").as("text_dedup"))
  }

  /** WINNOWED document fingerprints (Schleimer, Wilkerson, Aiken —
    * "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD'03; the MOSS selection rule): from each doc's dense k-token
    * gram-hash sequence, keep only the RIGHTMOST MINIMUM of every window
    * of `w` consecutive hashes. Guarantee: any shared token run of
    * length ≥ w + k − 1 contains a full common window in both documents,
    * whose (context-free) pick is the same gram — so every sufficiently
    * long match still collides on at least one selected fingerprint,
    * while the position stream thins ~w/2× on random text. This is the
    * published tightening [[substringDedupSpans]]'s scaladoc points at:
    * selection happens ROW-LOCALLY on the per-doc hash array BEFORE the
    * explode, so the thinning is real — the shuffle moves only selected
    * positions.
    *
    * Docs with 1 ≤ grams < w have no full window; plain winnowing emits
    * nothing for them, which would blind dedup to short documents — we
    * treat the whole doc as one window (select its rightmost global
    * min), a documented deviation mirrored by the oracle.
    *
    * The selection is an O(G·w) codegen'd HOF chain (windows ×
    * in-window argmin); the O(G) monotonic-deque form only pays off once
    * w is large, which dedup configs (w ≤ 16) don't reach.
    * Returns (doc, i, h) — selected 1-based position and its gram key. */
  def winnowedFingerprints(docs: DataFrame, idCol: String, textCol: String,
                           k: Int = 5, w: Int = 4): DataFrame = {
    require(w >= 1, s"window w=$w must be >= 1")
    val gh = col("_gh")
    // rightmost argmin over positions [j, j+len-1] of the hash array:
    // <= keeps the LATER equal hash, which is exactly the rightmost-
    // minimum tie rule
    def pick(j: Column, len: Column) =
      aggregate(sequence(j, j + len - 1),
        struct(lit(Long.MaxValue).as("mh"), lit(0).as("mp")),
        (acc, q) => when(element_at(gh, q) <= acc.getField("mh"),
          struct(element_at(gh, q).as("mh"), q.as("mp"))).otherwise(acc))
        .getField("mp")
    val selected =
      when(size(gh) >= w,
        array_distinct(transform(sequence(lit(1), size(gh) - (w - 1)),
          j => pick(j, lit(w)))))
      .when(size(gh) >= 1, array(pick(lit(1), size(gh))))
      .otherwise(array().cast("array<int>"))
    // (i, h) pairs are materialized BEFORE the explode so the gram array
    // itself never rides through the exploded stream.
    // explode_OUTER + post-filter, NOT explode: InferFiltersFromGenerate
    // would add `size(_fp) > 0`, and predicate pushdown substitutes the
    // ENTIRE selection expression into a scan-side Filter where it
    // re-evaluates as one giant no-CSE expression — measured 65 s → 2 s
    // at sf0.01 (docs/SCALE.md pitfall 1b)
    gramHashArray(docs, idCol, textCol, k)
      .select(col("doc"),
        transform(selected, p =>
          struct(p.cast("long").as("i"), element_at(gh, p).as("h"))).as("_fp"))
      .select(col("doc"), explode_outer(col("_fp")).as("fp"))
      .filter(col("fp").isNotNull)
      .select(col("doc"), col("fp.i").as("i"), col("fp.h").as("h"))
  }

  /** MOSS-style near-dup CANDIDATE PAIRS from winnowed fingerprints:
    * docs sharing ≥ `minShared` selected fingerprints, with the shared
    * count. The join is on the thinned fingerprint stream (~2/w of the
    * gram positions), and hot fingerprints — corpus-wide boilerplate —
    * are rank-capped per bucket exactly like the LSH band buckets
    * ([[DefaultMaxBandBucket]] semantics): deterministic by id-rank, so
    * the cap is a recall lever, not a nondeterminism source. */
  def winnowPairs(docs: DataFrame, idCol: String, textCol: String,
                  k: Int = 5, w: Int = 4, minShared: Int = 1,
                  maxBucket: Int = DefaultMaxBandBucket): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fp = winnowedFingerprints(docs, idCol, textCol, k, w)
      .select(col("doc"), col("h")).distinct()
      .transform(graft.CacheRegistry.persistTracked(_))
    val ranked = fp.withColumn("_r",
      row_number().over(Window.partitionBy("h").orderBy("doc")))
      .filter(col("_r") <= maxBucket).drop("_r")
    ranked.as("a").join(ranked.as("b"),
        col("a.h") === col("b.h") && col("a.doc") < col("b.doc"))
      .groupBy(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Quality heuristics: char/word counts, mean word length, long-word and
    * stopword ratios, est. LLM tokens (chars/4 rule), plus a composite
    * keep/drop score in [0,1]. */
  def qualityScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // kernel struct materialized ONCE per row; every statistic is a
    // field read (the attribute-not-re-derive discipline)
    val staged = docs.select(col(idCol).as("doc"),
      estTokensCol(col(textCol)).as("est_tokens"),
      graft.functions.QualityStats.quality_stats(col(textCol)).as("_st"))
    val st = col("_st")
    val nChars = st.getField("n_chars").cast("long")
    val nWords = st.getField("n_words").cast("long")
    val stopRatio = st.getField("n_stop").cast("double") / st.getField("n_words")
    val longRatio = st.getField("n_long").cast("double") / st.getField("n_words")
    val meanLen = nChars.cast("double") / nWords
    val quality = lit(1.0) -
      when(stopRatio < 0.02, 0.4).otherwise(0.0) -
      when(nWords < 5, 0.4).otherwise(0.0) -
      when(longRatio > 0.5, 0.2).otherwise(0.0)
    staged.select(col("doc"),
      nChars.as("n_chars"), nWords.as("n_words"),
      col("est_tokens"),
      meanLen.as("mean_word_len"),
      stopRatio.as("stopword_ratio"),
      longRatio.as("long_word_ratio"),
      quality.as("quality"))
  }

  /** The Gopher stop-word list (Rae et al. 2021, Appendix A). */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** GOPHER quality rules (Rae et al. 2021, Appendix A) — the published
    * named heuristic set, each rule surfaced as its own column so a
    * curation pass can gate on any subset (and telemetry can watch which
    * rule rejects what):
    *
    *  1. `pass_word_count`    — 50 ≤ words ≤ 100,000
    *  2. `pass_mean_word_len` — 3 ≤ mean word length ≤ 10 (characters
    *     per word, not chars/words-with-spaces)
    *  3. `pass_symbol_ratio`  — (# chars + ellipsis occurrences) /
    *     words ≤ 0.1
    *  4. `pass_bullet_lines`  — ≤ 90% of lines start with a bullet
    *  5. `pass_ellipsis_lines`— ≤ 30% of lines end with an ellipsis
    *  6. `pass_alpha_words`   — ≥ 80% of words contain an alphabetic
    *     character
    *  7. `pass_stop_words`    — ≥ 2 DISTINCT [[GopherStopwords]] present
    *
    * plus the measured quantities and `pass_all`. Entirely row-local
    * (streams unchanged, no shuffle). On a non-prose corpus the
    * stop-word rule correctly fails everything — that is the rule doing
    * its job, not a bug; the count/length rules carry the
    * discrimination there.
    *
    * Tokenization here is WHITESPACE-RUN splitting (empty tokens
    * dropped), not the corpus catalog's single-space [[tokens]]: the
    * published rules count words of running prose, so double spaces
    * must not mint empty words and newlines must separate words. The
    * alpha test is case-insensitive and stop-words match on the
    * lowercased token ("The" counts), per Rae et al.'s plain-word
    * reading. A whitespace-only document has zero words; its ratio
    * rules go null (null-division) and `pass_word_count` fails it. */
  def gopherRules(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = trim(col(textCol))
    val toks = filter(split(t, "\\s+"), w => w =!= "")
    // zero-word docs: ratio denominators go null (nullif mirrors the
    // oracle; ANSI mode would otherwise throw on the 0-divide)
    val nTok = nullif(size(toks), lit(0))
    val nWords = size(toks).cast("long")
    val meanWordLen = aggregate(transform(toks, w => length(w)),
      lit(0), _ + _).cast("double") / nTok
    val nHash = length(t) - length(replace(t, lit("#"), lit("")))
    val nEllipsis =
      (length(t) - length(replace(t, lit("..."), lit("")))) / 3 +
      (length(t) - length(replace(t, lit("…"), lit(""))))
    val symbolRatio = (nHash + nEllipsis).cast("double") / nTok
    val lines = split(col(textCol), "\n")
    val bulletFrac = size(filter(lines, l => {
      val lt = ltrim(l)
      lt.startsWith("•") || lt.startsWith("- ") || lt.startsWith("* ")
    })).cast("double") / size(lines)
    val ellipsisFrac = size(filter(lines, l => {
      val rt = rtrim(l)
      rt.endsWith("...") || rt.endsWith("…")
    })).cast("double") / size(lines)
    val alphaFrac = size(filter(toks, w => w.rlike("[a-zA-Z]")))
      .cast("double") / nTok
    val nStop = size(array_distinct(transform(filter(toks,
      w => GopherStopwords.map(s => lower(w) === s).reduce(_ || _)),
      w => lower(w)))).cast("long")
    val rules: Seq[(String, Column)] = Seq(
      "pass_word_count" -> (nWords >= 50 && nWords <= 100000),
      "pass_mean_word_len" -> (meanWordLen >= 3.0 && meanWordLen <= 10.0),
      "pass_symbol_ratio" -> (symbolRatio <= 0.1),
      "pass_bullet_lines" -> (bulletFrac <= 0.9),
      "pass_ellipsis_lines" -> (ellipsisFrac <= 0.3),
      "pass_alpha_words" -> (alphaFrac >= 0.8),
      "pass_stop_words" -> (nStop >= 2))
    docs.select(col(idCol).cast("long").as("doc") +:
      nWords.as("n_words") +:
      (round(meanWordLen, 6) + 0.0).as("mean_word_len") +:
      (round(alphaFrac, 6) + 0.0).as("alpha_word_frac") +:
      nStop.as("n_stop_distinct") +:
      rules.map { case (n, c) => c.as(n) } :+
      rules.map(_._2).reduce(_ && _).as("pass_all"): _*)
  }

  /** Per-document (w1, w2) adjacent-token transitions — the shared
    * feature explode for [[lmScore]] and [[dsirWeights]]. Docs with
    * < 2 tokens contribute no rows. */
  private def transitions(docs: DataFrame, idCol: String,
                          textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    val n = greatest(size(toks) - 1, lit(0))
    docs.select(col(idCol).as("doc"),
        explode(zip_with(slice(toks, lit(1), n), slice(toks, lit(2), n),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("_bg"))
      .select(col("doc"), col("_bg.w1"), col("_bg.w2"))
  }

  /** Perplexity-style LM quality scoring (the CCNet recipe — Wenzek et
    * al. 2020 rank Common Crawl documents by KenLM perplexity and keep
    * the low tail), engine-trained: an add-one-smoothed BIGRAM model is
    * fitted on the corpus's own whitespace tokens and every document is
    * scored by its mean negative log-likelihood per transition,
    * `nll = −avg ln[(c(w1,w2)+1) / (c(w1)+V)]` — low = fluent relative
    * to the corpus, high = outlier gibberish. Returns
    * (doc, n_trans, nll); docs with < 2 tokens carry null nll (no
    * transitions to score) and survive for the caller to triage.
    *
    * Scale shape: both count tables are map-side-combined aggregates of
    * the SAME transition explode (vocab- and bigram-bounded, not
    * corpus-bounded); the score join is a shuffle equi-join on the
    * bigram key — hot function-word bigrams skew it, which AQE's skew
    * split handles (the counts side is one row per key, so replication
    * is cheap); the vocab size rides a 1-row broadcast. One corpus
    * explode feeds everything — no second tokenize pass. */
  def lmScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tr = transitions(docs, idCol, textCol)
    val c1 = tr.groupBy("w1").agg(count(lit(1)).as("_c1"))
    val c12 = tr.groupBy("w1", "w2").agg(count(lit(1)).as("_c12"))
    val vocab = docs.select(explode(tokens(col(textCol))).as("_w"))
      .agg(countDistinct(col("_w")).as("_nv"))
    // r17 (guide §3): fold the unigram counts and the smoothing into a
    // per-DISTINCT-bigram log-prob table first — c12⋈c1 is bigram-
    // vocabulary-sized — so the corpus-sized transition stream pays ONE
    // equi-join instead of two. Identical _lp per transition; the
    // round-6 on the per-doc mean absorbs the sum-order change exactly
    // as it absorbs Spark-vs-DuckDB partition order.
    val lp = c12.join(c1, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col("w1"), col("w2"),
        log((col("_c12") + 1).cast("double") /
          (col("_c1") + col("_nv"))).as("_lp"))
    val scored = tr
      .join(lp, Seq("w1", "w2"))
      .groupBy("doc")
      .agg(count(lit(1)).as("n_trans"), avg(col("_lp")).as("_alp"))
    docs.select(col(idCol).as("doc")).join(scored, Seq("doc"), "left")
      .select(col("doc"), coalesce(col("n_trans"), lit(0L)).as("n_trans"),
        (round(-col("_alp"), 6) + 0.0).as("nll"))
  }

  /** CCNet PERPLEXITY BUCKETS (Wenzek et al. 2020 §4.3: each dump is
    * split per language into head/middle/tail THIRDS by LM perplexity,
    * and training recipes keep head(+middle)) — here per SOURCE over
    * [[lmScore]]'s nll: bucket 1..`nBuckets` in score order (low nll =
    * fluent = head), docs with no transitions labeled `unscored`.
    *
    * Scale shape — deliberately NOT a per-source ntile window: a window
    * partitioned by source funnels a whole source (corpus/#sources rows
    * — terabytes at 100 TB) through one sort task. Instead the global
    * two-pass rank ([[SampleOps.globalRank]] — range-repartition +
    * local ranks + a driver prefix bounded by `rangeParts`) orders
    * (source, nll, doc) once with bounded partitions, per-source
    * offsets/counts come back as one source-bounded broadcast, and the
    * bucket is CLOSED-FORM integer arithmetic on the per-source rank —
    * bit-identical to SQL `ntile` by construction (first `n mod k`
    * buckets take the extra row), which is what the oracle replays
    * directly as a window. Returns
    * (doc, source, n_trans, nll, bucket, ccnet_label). */
  def lmBuckets(docs: DataFrame, idCol: String, textCol: String,
                sourceCol: String, nBuckets: Int = 3,
                rangeParts: Int = 32): DataFrame = {
    val scored = docs.select(col(idCol).as("doc"), col(sourceCol).as("source"))
      .join(lmScore(docs, idCol, textCol), Seq("doc"))
    val ranked = SampleOps.globalRank(scored.filter(col("nll").isNotNull),
      Seq(col("source").asc, col("nll").asc, col("doc").asc), rangeParts)
    val per = ranked.groupBy("source")
      .agg(min(col("rank")).as("_r0"), count(lit(1)).as("_ns"))
    val k = lit(nBuckets.toLong)
    // exact integer ceil-div (the balancedShards discipline: subtract the
    // pmod so the division is exactly divisible — no floor-div or double
    // rounding semantics to match across engines)
    def ceilDiv(a: Column, b: Column): Column = {
      val m = a + b - 1
      ((m - pmod(m, b)) / b).cast("long")
    }
    val srank = col("rank") - col("_r0") + 1
    val r = pmod(col("_ns"), k)
    val q = ((col("_ns") - r) / k).cast("long")
    val cut = r * (q + 1) // rows in the first r (larger) buckets
    val bucketed = ranked.join(broadcast(per), Seq("source"))
      .withColumn("bucket",
        when(srank <= cut, ceilDiv(srank, q + 1))
          .otherwise(r + ceilDiv(srank - cut, q)))
      .drop("rank", "_r0", "_ns")
    val unscored = scored.filter(col("nll").isNull)
      .withColumn("bucket", lit(null).cast("long"))
    bucketed.unionByName(unscored)
      .withColumn("ccnet_label",
        when(col("bucket").isNull, "unscored")
          .when(col("bucket") === 1, "head")
          .when(col("bucket") === nBuckets.toLong, "tail")
          .otherwise("middle"))
      .select(col("doc"), col("source"), col("n_trans"), col("nll"),
        col("bucket"), col("ccnet_label"))
  }

  /** Per-document n-gram NOVELTY — the contribution-of-new-content
    * signal (the memorization/duplication analyses of Lee et al. and
    * the dataset-curation practice of preferring novel text): a doc's
    * novelty is the fraction of its DISTINCT k-token-grams whose
    * corpus-wide first owner (min doc id) is this doc. 1.0 = every
    * gram first appears here; 0.0 = everything was already written by
    * an earlier doc. Deterministic by construction (min over ids).
    *
    * Scale shape: one shingle pass → per-gram min-owner aggregate
    * (map-side combined, gram-bounded) → join back on the gram key
    * (AQE-skew-handled; hot boilerplate grams are one row on the owner
    * side) → per-doc ratio. Docs with < k tokens carry null novelty. */
  def ngramNovelty(docs: DataFrame, idCol: String, textCol: String,
                   k: Int = 3): DataFrame = {
    // gram keys are the NATIVE 60-bit shingle hashes (the dedup family's
    // key space, md5-rule oracle-portable): the string-shingle explode
    // costs ~5× more (interpreted per-shingle concat — measured 6.4 s
    // vs ~1 s at sf0.1) and the min-owner/ratio arithmetic only needs
    // key identity. Hash collisions merge grams deterministically and
    // identically in any engine — the same modulo-space semantics every
    // minhash/LSH consumer here already lives in.
    val sh = shingleHashed(docs, idCol, textCol, k)
      .select(col("doc"), explode(col("hv")).as("g"))
    val owner = sh.groupBy("g").agg(min(col("doc")).as("_own"))
    val scored = sh.join(owner, Seq("g"))
      .groupBy("doc")
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("_own") === col("doc"), 1)).as("n_novel"))
    docs.select(col(idCol).as("doc")).join(scored, Seq("doc"), "left")
      .select(col("doc"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        (round(col("n_novel").cast("double") / col("n_grams"), 6) + 0.0)
          .as("novelty"))
  }

  /** Overlapping token-window CHUNKING — the retrieval/pretraining
    * splitter: windows of `size` tokens starting every
    * `stride = size − overlap` tokens; the last window keeps its true
    * (shorter) length; a doc of ≤ `overlap` tokens yields exactly one
    * chunk. Start positions are `1, 1+stride, …` up to
    * `max(n − overlap, 1)` — deterministic, so chunk ids are stable
    * across runs and engines. Entirely row-local (explode of a
    * per-row sequence): streams unchanged, no shuffle, and the chunk
    * fan-out is the only row growth. */
  def chunkTokens(docs: DataFrame, idCol: String, textCol: String,
                  chunkSize: Int = 32, overlap: Int = 8): DataFrame = {
    require(chunkSize >= 1 && overlap >= 0 && overlap < chunkSize,
      s"need 0 <= overlap < chunkSize, got $chunkSize overlap=$overlap")
    val stride = chunkSize - overlap
    val toks = tokens(col(textCol))
    val n = size(toks)
    docs.select(col(idCol).as("doc"), toks.as("_toks"),
        posexplode(sequence(lit(1), greatest(n - overlap, lit(1)),
          lit(stride))).as(Seq("_k", "_start")))
      .select(col("doc"), (col("_k") + 1).as("chunk_id"),
        col("_start").as("start_tok"),
        size(slice(col("_toks"), col("_start"), lit(chunkSize)))
          .cast("long").as("n_tokens"),
        concat_ws(" ", slice(col("_toks"), col("_start"), lit(chunkSize)))
          .as("chunk"))
  }

  /** Per-source token-distribution DRIFT — the data-mixing QA monitor:
    * for every source, the KL divergence from its add-one-smoothed
    * unigram distribution to the corpus-wide mixture,
    * `KL(s) = Σ_w p_s(w)·ln(p_s(w)/q(w))` over the FULL corpus vocab
    * (absent words take the smoothing floor). High KL = the source
    * speaks a different language than the blend — the signal mixture
    * tuning and contamination triage key on (cf. the domain-reweighting
    * line of work, e.g. DoReMi, which optimizes exactly these
    * per-domain distribution gaps).
    *
    * Scale shape: ONE corpus explode feeds two map-side-combined
    * aggregates (per-(source,word) and per-word — both vocab-bounded);
    * the KL sum then runs on the (sources × vocab) frame built from a
    * broadcast of the corpus table — no corpus-sized join, and the
    * result is one row per source. */
  def sourceDrift(docs: DataFrame, idCol: String, textCol: String,
                  srcCol: String, topVocab: Int = 0): DataFrame = {
    val tok = docs.select(col(srcCol).as("src"),
      explode(tokens(col(textCol))).as("w"))
    val csw = tok.groupBy("src", "w").agg(count(lit(1)).as("_csw"))
    val cwAll = tok.groupBy("w").agg(count(lit(1)).as("_cw"))
    // extreme-vocab lever: the grid is (sources × vocab); restrict it to
    // the TOP-K corpus words (count desc, word asc — deterministic) when
    // the full vocab would blow the frame up. The distribution mass a
    // drift monitor watches lives in the head; totals `_n`/`_ns` then
    // renormalize over the kept words so the KL stays a true divergence
    // on the truncated support. orderBy+limit compiles to
    // TakeOrderedAndProject — per-partition top-K heaps + a K·P driver
    // merge — so the head-cap stays distributed at exactly the vocab
    // scales it targets (an unpartitioned row_number window would funnel
    // the whole vocabulary through one task).
    val cw =
      if (topVocab <= 0) cwAll
      else cwAll.orderBy(col("_cw").desc, col("w")).limit(topVocab)
    // per-source totals over the SCORED support (≡ all tokens when the
    // vocab is untruncated), so p and q stay true distributions
    val ns = csw.join(cw.select("w"), Seq("w"))
      .groupBy("src").agg(sum("_csw").as("_ns"))
    val stats = cw.agg(count(lit(1)).as("_v"), sum("_cw").as("_n"))
    // (source × vocab) grid: every source scores every corpus word, so
    // absent words contribute their smoothing-floor mass
    val grid = ns.crossJoin(broadcast(stats))
      .crossJoin(cw)
      .join(csw, Seq("src", "w"), "left")
      .withColumn("_p", (coalesce(col("_csw"), lit(0L)) + 1).cast("double") /
        (col("_ns") + col("_v")))
      .withColumn("_q", (col("_cw") + 1).cast("double") /
        (col("_n") + col("_v")))
    grid.groupBy("src")
      .agg(first(col("_ns")).as("n_tokens"),
        sum(col("_p") * log(col("_p") / col("_q"))).as("_kl"))
      .select(col("src").as("source"), col("n_tokens"),
        (round(col("_kl"), 6) + 0.0).as("kl"))
  }

  /** URL normalization + domain curation — the web-corpus hygiene stage
    * (FineWeb/CCNet-style): lowercase, strip scheme / leading `www.` /
    * query+fragment / trailing slashes, extract host and a last-two-label
    * registered domain (documented heuristic — no public-suffix list in
    * a dependency-free engine), and flag blocklisted domains. Entirely
    * row-local (codegen regex), so it streams unchanged and costs one
    * narrow pass at any corpus size; the per-domain rollup downstream of
    * it is a map-side-combined aggregate bounded by domain count.
    * Patterns are in the portable RE2/Java subset, shared with the
    * oracle replay. */
  def urlCurate(docs: DataFrame, idCol: String, urlCol: String,
                blocklist: Seq[String]): DataFrame = {
    val lower0 = lower(col(urlCol))
    val noScheme = regexp_replace(lower0, "^[a-z][a-z0-9+.-]*://", "")
    val noWww = regexp_replace(noScheme, "^www\\.", "")
    val noQuery = regexp_replace(noWww, "[?#].*$", "")
    val norm = regexp_replace(noQuery, "/+$", "")
    val host = regexp_extract(norm, "^[^/]+", 0)
    val domain = regexp_extract(host, "[^.]+\\.[^.]+$", 0)
    val blocked =
      if (blocklist.isEmpty) lit(false)
      else blocklist.map(b => domain === b).reduce(_ || _)
    docs.select(col(idCol).as("doc"), norm.as("url_norm"),
      host.as("host"), domain.as("domain"), blocked.as("blocked"))
  }

  /** Every label-boundary suffix of a dotted host, most-specific first
    * by construction order: `cdn.site3.org` → `[cdn.site3.org,
    * site3.org, org]`. */
  private def hostSuffixes(host: Column): Column = {
    val labels = split(host, "\\.")
    transform(sequence(lit(0), size(labels) - 1),
      i => array_join(slice(labels, i + 1, size(labels) - i), "."))
  }

  /** Domain-suffix blocklisting, the URL-filter stage web curation runs
    * against published blocklists (UT1/RefinedWeb-style lists match by
    * registered-domain SUFFIX, not exact host): a host is blocked by
    * pattern `p` iff `host == p` or `host` ends with `"." + p` — label
    * boundaries only, so `site3.org` blocks `cdn.site3.org` but never
    * `notsite3.org`. When several patterns match, the MOST SPECIFIC
    * wins (longest; exact ties → lexicographically first) — the
    * standard suffix-list precedence.
    *
    * This is the JOIN form for blocklists too large to inline in the
    * plan: each host explodes into its ≤ label-count suffixes (a
    * bounded ≤8× fan-out, not a corpus blow-up), equi-joins the
    * BROADCAST pattern table, and the per-doc argmin picks the winning
    * pattern. Two bounded shuffles on `doc` (hit aggregation + the
    * left join back); the literal [[domainSuffixBlockCol]] twin is
    * zero-shuffle for config-sized lists. */
  def domainSuffixBlock(docs: DataFrame, idCol: String, hostCol: String,
                        patterns: DataFrame,
                        patternCol: String = "pattern"): DataFrame = {
    val e = docs.select(col(idCol).as("doc"),
      explode(hostSuffixes(col(hostCol))).as("_sfx"))
    val hits = e
      .join(broadcast(patterns.select(col(patternCol).as("_sfx"))), Seq("_sfx"))
      .groupBy("doc")
      .agg(min(struct((-length(col("_sfx"))).as("nl"),
        col("_sfx").as("p"))).as("_m"))
      .select(col("doc"), col("_m").getField("p").as("blocked_by"))
    docs.select(col(idCol).as("doc"), col(hostCol).as("host"))
      .join(hits, Seq("doc"), "left")
      .withColumn("is_blocked", col("blocked_by").isNotNull)
  }

  /** Literal-blocklist twin of [[domainSuffixBlock]]: the winning
    * pattern (or null) as a row-local Column — zero shuffle, streams
    * unchanged. Same precedence law (longest match, ties lexicographic). */
  def domainSuffixBlockCol(host: Column, blocklist: Seq[String]): Column = {
    val ordered = blocklist.distinct.sortBy(b => (-b.length, b))
    ordered.foldRight(lit(null).cast("string")) { (b, acc) =>
      when(host === b || host.endsWith("." + b), lit(b)).otherwise(acc)
    }
  }

  /** CORPUS-WIDE FREQUENT n-GRAMS — the heavy-hitter tier, via the
    * SKETCH-PREFILTER two-pass (Cormode & Muthukrishnan's count-min,
    * J. Algorithms 2005, in its exact-verify deployment):
    *
    *  1. SKETCH pass: every gram hashes into `depth` rows of `width`
    *     counters (independent salted [[hash60]] buckets); the aggregate
    *     is a map-side-combined groupBy over (row, bucket), so the
    *     SHUFFLE is bounded by depth·width COUNTERS per partition — not
    *     by the distinct-gram count, which at 100 TB is exactly the
    *     thing that outgrows a groupBy(gram) shuffle.
    *  2. PREFILTER: the ≤ depth·width counters collect into lookup maps
    *     folded into the plan as single literal nodes (the centMatrixLit
    *     rule — the payload is CONFIG-bounded, ~depth·width·16 B, so a
    *     literal beats a broadcast frame whose filter would fold into a
    *     join condition), and each gram row keeps only if its count-min
    *     estimate `min_i counters_i[bucket_i(g)]` reaches `minCount` —
    *     a row-local Filter, zero shuffle, zero join.
    *  3. EXACT pass: groupBy over the SURVIVING grams only (the shuffle
    *     is now candidate-sized), final `HAVING count ≥ minCount`.
    *
    * Correctness is INDEPENDENT of the sketch parameters: count-min only
    * OVERestimates (a bucket sums every gram that lands in it), so the
    * prefilter has no false negatives and step 3 removes the false
    * positives — a width of 1 degrades to a plain exact groupBy, never
    * to a wrong answer (property-pinned). `depth`/`width` trade
    * prefilter selectivity against sketch size; the oracle replays the
    * plain exact HAVING. Returns (gram, cnt). */
  def frequentNgrams(docs: DataFrame, idCol: String, textCol: String,
                     n: Int = 2, minCount: Long = 10,
                     depth: Int = 3, width: Int = 2048): DataFrame = {
    require(n >= 1 && depth >= 1 && width >= 1 && minCount >= 1,
      s"bad params n=$n depth=$depth width=$width minCount=$minCount")
    // deliberately NOT cached: the exploded gram frame is corpus-sized
    // (every token position), so materializing it would cost corpus-scale
    // storage exactly where this operator exists to avoid corpus-scale
    // state — both passes recompute the explode from the compressed
    // columnar scan instead (two cheap narrow scans)
    val grams = docs.select(explode(gramArray(col(textCol), n)).as("g"))
    // passes 2+3: row-local prefilter, then the exact candidate groupBy
    cmPrefilter(grams, minCount, depth, width)
      .groupBy(col("g").as("gram")).agg(count(lit(1)).as("cnt"))
      .select(col("gram"), col("cnt"))
      .filter(col("cnt") >= minCount)
  }

  /** Space-joined n-gram array of a text column (empty when < n tokens)
    * via the native one-eval-per-row kernel
    * ([[graft.functions.TextHash.NgramArray]] — bit-identical to the
    * declarative tokens→transform→concat_ws chain, property-pinned in
    * TextHashSpec, ~an order of magnitude cheaper than the interpreted
    * per-gram HOF it replaces). */
  private def gramArray(textCol: Column, n: Int): Column =
    graft.functions.TextHash.ngram_array(textCol, n)

  /** Count-min bucket of gram `g` in sketch row `i` — the sketch-
    * internal hash: the result is EXACT regardless of the hash family
    * (overestimate-only + exact verify), so the buckets use the
    * codegen'd native xxhash64 instead of the md5-based oracle-shared
    * hash60 (3 md5s per gram per pass gone; the remaining cost is the
    * interpreted gram-construction HOF, shared with every gram op). */
  private def cmBucket(i: Int, g: Column, width: Int): Column =
    pmod(xxhash64(lit(i), g), lit(width))

  /** Oracle-shared bucket family: salted [[hash60]] rows. The count-min
    * exactness contract is hash-family-independent (overestimate-only +
    * exact verify), so the production path keeps the cheaper codegen'd
    * xxhash64 ([[cmBucket]]); THIS family exists for the one place the
    * counter TABLE itself is the attested output — the streaming
    * maintenance oracle row — because `md5`-derived hash60 replays in
    * SQL while xxhash64 does not. */
  private def cmBucketShared(i: Int, g: Column, width: Int): Column =
    pmod(hash60(concat(lit(s"cm$i:"), g)), lit(width.toLong))

  /** The count-min COUNTER TABLE over n-grams of `textCol` on the
    * oracle-shared bucket family: one row per occupied (sketch row `i`,
    * bucket `b`) with its gram count — at most depth·width rows
    * regardless of corpus size. Purely declarative (explode → explode →
    * map-side-combined groupBy), so the same lineage runs STREAMING as a
    * stateful aggregate whose state is exactly the bounded counter grid
    * ([[graft.streaming.SketchStream]]), with SQL-replayable rows. */
  def cmSketchCountersShared(docs: DataFrame, textCol: String, n: Int = 2,
                             depth: Int = 3, width: Int = 2048): DataFrame =
    cmCountersFromGrams(
      docs.select(explode(gramArray(col(textCol), n)).as("g")),
      depth, width, cmBucketShared)

  private def cmCountersFromGrams(grams: DataFrame, depth: Int, width: Int,
      bucket: (Int, Column, Int) => Column = cmBucket): DataFrame =
    grams
      .select(explode(array((0 until depth).map(i =>
        struct(lit(i).as("i"), bucket(i, col("g"), width).as("b"))): _*)).as("s"))
      .groupBy(col("s.i").as("i"), col("s.b").as("b"))
      .agg(count(lit(1)).as("c"))

  /** Collect a counter table into per-row literal lookup maps — the
    * FROZEN sketch (config-bounded: ≤ depth·width entries). */
  private def cmSketchMaps(counters: DataFrame, depth: Int): Array[Map[Long, Long]] = {
    val rows = counters.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    Array.tabulate(depth)(i =>
      rows.filter(_._1 == i).map(t => t._2 -> t._3).toMap)
  }

  /** Count-min estimate of gram `g` under a frozen sketch — min over the
    * depth rows' literal-map lookups; row-local, stream-legal. */
  private def cmEstimateCol(maps: Array[Map[Long, Long]], g: Column,
                            width: Int): Column = {
    val est = maps.indices.map(i =>
      coalesce(element_at(typedLit(maps(i)), cmBucket(i, g, width)), lit(0L)))
    if (est.length == 1) est.head else least(est: _*)
  }

  /** The count-min sketch prefilter (passes 1+2 of [[frequentNgrams]]):
    * one bounded-shuffle counter aggregate over `grams.g`, counters
    * folded back as literal lookup maps, rows kept iff the count-min
    * estimate reaches `minCount`. Row-local on the way back — every
    * OTHER column of `grams` rides along untouched, which is what lets
    * the per-source head reuse it. */
  private def cmPrefilter(grams: DataFrame, minCount: Long,
                          depth: Int, width: Int): DataFrame = {
    val maps = cmSketchMaps(
      cmCountersFromGrams(grams.select(col("g")), depth, width), depth)
    grams.filter(cmEstimateCol(maps, col("g"), width) >= minCount)
  }

  /** TOP-K FREQUENT n-GRAMS PER SOURCE — the consumer shape of the
    * heavy-hitter tier (mixing reports, contamination triage: "what are
    * source X's dominant bigrams?"): the [[frequentNgrams]] count-min
    * prefilter composed with a per-source rank head. The global sketch
    * is a SOUND prefilter for the per-source question because a gram's
    * per-source count never exceeds its corpus count, and count-min
    * never underestimates THAT — so any gram clearing `minCount` in
    * some source survives the row-local gate (no false negatives; the
    * exact pass removes the rest).
    *
    * Scale shape: bounded sketch shuffle → row-local prefilter → exact
    * (source, gram) groupBy over survivors only → `row_number ≤ k` over
    * the source key, which InferWindowGroupLimit turns into a map-side
    * partial top-k (the same WindowGroupLimit machinery PlanAuditSpec
    * pins for the dedup caps) — no source, however hot, ever
    * single-task sorts its full gram table. Ties break (cnt DESC,
    * gram ASC) — fully deterministic. Returns (source, gram, cnt, rank). */
  def topNgramsPerSource(docs: DataFrame, sourceCol: String,
                         textCol: String, n: Int = 2, k: Int = 10,
                         minCount: Long = 10,
                         depth: Int = 3, width: Int = 2048): DataFrame = {
    require(n >= 1 && k >= 1 && depth >= 1 && width >= 1 && minCount >= 1,
      s"bad params n=$n k=$k depth=$depth width=$width minCount=$minCount")
    val grams = docs.select(col(sourceCol).as("source"),
      explode(gramArray(col(textCol), n)).as("g"))
    val counted = cmPrefilter(grams, minCount, depth, width)
      .groupBy(col("source"), col("g").as("gram"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("cnt").desc, col("gram"))
    counted.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("source"), col("gram"), col("cnt"),
        col("rank").cast("long").as("rank"))
  }

  /** BPE VOCABULARY INDUCTION — learn the merge table itself (Sennrich
    * et al. 2016), the "train a tokenizer on the corpus" pipeline stage
    * next to the APPLY side ([[mergeBpeTokenCount]], which consumes a
    * given table). Textbook loop: start from characters, repeatedly merge the
    * most frequent adjacent symbol pair (ties broken lexicographically
    * on (left, right) — fully deterministic), weighting pairs by word
    * frequency. Returns the learned table (rank, lhs, rhs, cnt); fewer
    * rows than `numMerges` when the corpus exhausts its pairs.
    *
    * Scale shape: ONE corpus pass builds the word-frequency table
    * (map-side combined, vocab-bounded); every iteration after that
    * runs on the WORD TABLE, not the corpus — a pair-count aggregate
    * over ≤vocab rows plus a 1-row driver collect (the same
    * driver-iterates / cluster-reduces discipline as the k-means fits).
    * Words are held as DOUBLE-space-delimited symbol strings with single
    * sentinel spaces at the ends, so applying a merge is ONE
    * non-overlapping left-to-right `replace(" l  r ", " lr ")`. The
    * half-boundary trick (each pattern consumes only the INNER space of
    * each flanking double separator) is what makes a plain C-style
    * replace equal to the leftmost-rescan merge rule: with single-space
    * separators the match would consume the shared boundary space and
    * skip token-adjacent repeats ("banana" + (a,n) → [b,an,a,n,a]
    * instead of the correct [b,an,an,a] — Sennrich et al. 2016 use
    * zero-width boundary assertions for exactly this reason). With the
    * outer space left intact, adjacent occurrences each find their own
    * boundary, and since merging can never CREATE a new (l,r) occurrence
    * (the merged symbol is strictly longer than either side), one pass
    * IS the fixpoint — bit-identical in any engine with C-style replace,
    * and word-for-word the rule [[graft.functions.BpeMerge.mergeWord]]
    * applies on the serve side. Each
    * iteration's table is persisted (and materialized by the NEXT
    * iteration's argmax — nothing unpersists mid-loop), so iteration i
    * never re-derives the chain from scratch. */
  def bpeTrain(docs: DataFrame, idCol: String, textCol: String,
               numMerges: Int = 12, maxLocalWords: Int = 1 << 20): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words0 = docs.select(explode(tokens(col(textCol))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(col("freq"),
        concat(lit(" "), concat_ws("  ", split(col("w"), "")), lit(" "))
          .as("s"))
    // r17 size-gated driver fast path (the connectedComponents /
    // logreg-histogram discipline): the word table is VOCAB-bounded, and
    // every merge decision is exact integer/string arithmetic — within
    // the gate the whole loop runs on the collected table in one job
    // instead of ~3 scheduled jobs per merge. Tie order compares UTF-8
    // BYTES unsigned (UTF8String's binary ordering, which the
    // distributed orderBy used); the same " l  r " → " lr " literal
    // replace applies. Past the gate the distributed loop below runs
    // unchanged — BpeTrainSpec pins path parity.
    val probe = words0.limit(maxLocalWords + 1).collect()
    if (probe.length <= maxLocalWords) {
      def byteLt(a: String, b: String): Boolean = {
        val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
        var i = 0
        val n = math.min(x.length, y.length)
        while (i < n) {
          val c = (x(i) & 0xff) - (y(i) & 0xff)
          if (c != 0) return c < 0
          i += 1
        }
        x.length < y.length
      }
      var cur = probe.map(r => (r.getLong(0), r.getString(1)))
      val merges =
        scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
      var i = 0
      var done = false
      while (i < numMerges && !done) {
        val counts = new java.util.HashMap[(String, String), Long]()
        cur.foreach { case (freq, s) =>
          // tokens of the double-spaced symbol string: trim spaces, split
          // on the two-space separator (split(trim(s), "  ") parity)
          var lo = 0; var hi = s.length
          while (lo < hi && s.charAt(lo) == ' ') lo += 1
          while (hi > lo && s.charAt(hi - 1) == ' ') hi -= 1
          val toks = s.substring(lo, hi).split("  ", -1)
          var j = 0
          while (j < toks.length - 1) {
            val key = (toks(j), toks(j + 1))
            counts.put(key, counts.getOrDefault(key, 0L) + freq)
            j += 1
          }
        }
        if (counts.isEmpty) done = true
        else {
          var best: (String, String) = null
          var bc = -1L
          counts.forEach { (k, c) =>
            if (c > bc || (c == bc && (byteLt(k._1, best._1) ||
              (k._1 == best._1 && byteLt(k._2, best._2))))) {
              best = k; bc = c
            }
          }
          val (l, r) = best
          merges += ((i + 1, l, r, bc))
          cur = cur.map { case (freq, s) =>
            (freq, s.replace(s" $l  $r ", s" $l$r "))
          }
          i += 1
        }
      }
      return merges.toSeq.toDF("rank", "lhs", "rhs", "cnt")
    }
    // the word table is vocab-bounded — coalesce it so the 12 iteration
    // jobs schedule a handful of tasks each instead of a full shuffle
    // width of near-empty ones (measured: most of the fit's wall time
    // was per-job scheduling overhead at sf0.1's ~40-word vocab)
    val words = words0.coalesce(8)
    var cur = graft.CacheRegistry.persistTracked(words)
    cur.count()
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var i = 0
    var done = false
    while (i < numMerges && !done) {
      val toks = split(trim(col("s")), "  ")
      val n = greatest(size(toks) - 1, lit(0))
      val best = cur.select(col("freq"), explode(zip_with(
          slice(toks, lit(1), n), slice(toks, lit(2), n),
          (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1).collect()
      if (best.isEmpty) done = true
      else {
        val (l, r, c) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((i + 1, l, r, c))
        // no forcing count: the next iteration's argmax materializes the
        // cache (one replace step over the already-cached parent), and
        // nothing unpersists mid-loop — one job per iteration, not two
        cur = graft.CacheRegistry.persistTracked(cur.select(col("freq"),
          replace(col("s"), lit(s" $l  $r "), lit(s" $l$r ")).as("s")))
        i += 1
      }
    }
    merges.toSeq.toDF("rank", "lhs", "rhs", "cnt")
  }

  /** DSIR — Data Selection via Importance Resampling (Xie et al., 2023):
    * rank raw documents by how target-like they are under hashed n-gram
    * features. Features are bigram transitions hashed into `buckets`
    * cells ([[hash60]] mod B); the TARGET distribution is fitted on the
    * rows satisfying `targetPred` (in-corpus exemplars — the published
    * method's "formal text" side), the RAW distribution on the whole
    * corpus; both add-one smoothed over the B buckets. A document's
    * log-importance weight is Σ over its feature occurrences of
    * ln(p_target(b) / p_raw(b)) — resampling keeps the high tail.
    * Returns (doc, n_feat, logw, is_target); docs with < 2 tokens score
    * null logw.
    *
    * Scale shape: the two distributions are B-row map-side-combined
    * aggregates (B = `buckets`, thousands — NOT vocab-sized); the
    * fitted prob table then COLLECTS (B rows, bounded by config) and
    * serves as a one-row broadcast lookup map with a row-local fold
    * over each doc's own feature array — the scoring pass touches the
    * corpus exactly once with ZERO shuffles. That is the whole point of
    * the hashed feature space at 100 TB — the model is O(B), not
    * O(vocab²), so it rides a broadcast instead of a join. */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
                  targetPred: Column, buckets: Int = 1024): DataFrame = {
    // the flag rides the explode (a join back on doc would shuffle the
    // corpus-sized transition table for a per-doc boolean)
    // r17: bigram hashing through the native [[graft.functions.TextHash
    // .GramHash60Array]] kernel (one md5 pass per gram in one eval per
    // doc) — the zip_with/concat_ws/md5-expression chain evaluated the
    // whole hash pipeline interpreted per exploded bigram. hash60 parity
    // is the kernel's spec-pinned contract.
    // targetPred must evaluate ONCE PER DOC, not once per exploded
    // feature: the Project sits UNDER the Generate (CollapseProject
    // cannot merge across it), so `_is_t` and the gram array reach the
    // explode as materialized attributes
    val flagged = docs.select(col(idCol).as("doc"),
      targetPred.as("_is_t"),
      graft.functions.TextHash.gram_hash60_array(col(textCol), 2).as("_gh"))
    val feats = flagged
      .select(col("doc"), col("_is_t"), explode(col("_gh")).as("_h"))
      .select(col("doc"), col("_is_t"),
        pmod(col("_h"), lit(buckets.toLong)).as("_b"))
    // ONE train pass: per-bucket raw AND target counts from a single
    // map-side-combined aggregate (three separate aggregates would each
    // re-run the explode — measured ~3× the train cost); the totals and
    // the smoothed log-ratios finish DRIVER-side over the B collected
    // rows with the identical arithmetic (same IEEE ops, same
    // `Math.log` the codegen expression compiles to — oracle-shared).
    val bucketCounts = feats.groupBy("_b").agg(
      count(lit(1)).as("_cr"),
      count(when(col("_is_t"), 1)).as("_ct"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val nr = bucketCounts.map(_._2).sum
    val nt = bucketCounts.map(_._3).sum
    // SERVE row-locally: the fitted model is B rows — a lookup map on a
    // one-row broadcast frame (bounded by `buckets`, never by data) and
    // a fold over each doc's own feature array. The scoring pass touches
    // the corpus exactly once with ZERO shuffles.
    val spark = docs.sparkSession
    import spark.implicits._
    val lrMap = bucketCounts.map { case (b, cr, ct) =>
      b -> math.log(((ct + 1).toDouble / (nt + buckets)) /
        ((cr + 1).toDouble / (nr + buckets)))
    }.toMap
    // unseen-bucket floor: ln((0+1)/(nt+B) / ((0+1)/(nr+B))). Unreachable
    // while train and score share one frame (every scored bucket was
    // counted), but the lookup must stay TOTAL so a future build/serve
    // split can't silently null-poison the fold.
    val unseenLr = math.log((nr + buckets).toDouble / (nt + buckets))
    val model = Seq((1, lrMap)).toDF("_jk", "_m")
    // score over the SAME kernel gram array (materialized under the
    // projection so the fold reads an attribute): per-gram cost is one
    // map lookup instead of an interpreted md5 expression chain. Fold
    // order = gram position order, exactly the zip_with order; n_feat =
    // gram count (== ntok−1 for ntok ≥ 2, 0 otherwise — greatest(−1, 0)
    // parity included).
    val lrs = transform(col("_gh"),
      h => coalesce(element_at(col("_m"), pmod(h, lit(buckets.toLong))),
        lit(unseenLr)))
    docs.withColumn("_jk", lit(1))
      .join(broadcast(model), "_jk")
      .select(col(idCol).as("doc"),
        graft.functions.TextHash.gram_hash60_array(col(textCol), 2).as("_gh"),
        col("_m"), targetPred.as("is_target"))
      .select(col("doc"), size(col("_gh")).as("_nf"),
        aggregate(lrs, lit(0.0), _ + _).as("_lw"),
        col("is_target"))
      .select(col("doc"),
        col("_nf").cast("long").as("n_feat"),
        when(col("_nf") >= 1, round(col("_lw"), 6) + 0.0)
          .otherwise(lit(null).cast("double")).as("logw"),
        col("is_target"))
  }
}
