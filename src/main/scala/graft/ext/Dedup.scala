package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.Tables
import graft.sink.BucketedTables

/**
 * Deduplication operators over the `documents` corpus — the core
 * training-data-pipeline family (exact, n-gram Jaccard, MinHash+LSH,
 * SimHash). Every operator is a pure Catalyst plan (explode / hash-join /
 * hash-agg — no UDFs, no driver loops) so the same code runs on a
 * 1000-executor cluster: the only shuffles are on token/shingle/band keys,
 * which is the textbook distributed-LSH layout (cf. MMDS ch.3; Spark's own
 * ml.feature.MinHashLSH uses the same shape).
 *
 * Hash functions are md5-based rather than JVM/engine hashes so results are
 * engine-reproducible (the DuckDB oracle implements the identical math).
 */
object Dedup {

  /**
   * Exact dedup: content-hash grouping. Each doc is annotated with its
   * content hash, the canonical (minimum) doc_id of its duplicate group,
   * and the group size. At scale: one shuffle on the 128-bit hash; skew-free
   * by construction.
   */
  def exactDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val hashed = docs.select(col("doc_id"),
      md5(col("text").cast("binary")).as("content_hash"))
    val groups = hashed.groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("canonical_id"),
        count(lit(1)).as("group_size"))
    hashed.join(groups, "content_hash")
      .select(col("doc_id"), col("content_hash"), col("canonical_id"),
        col("group_size"),
        (col("doc_id") === col("canonical_id")).as("is_canonical"))
      .orderBy(col("doc_id"))
  }

  /**
   * N-gram (word-trigram) Jaccard near-dup pairs: distinct 3-gram shingles
   * per doc, J = |∩| / (|A|+|B|-|∩|), threshold 0.8. (Trigram shingles,
   * not bigrams: on this small-vocabulary corpus bigram document
   * frequencies are in the hundreds, which defeats any candidate pruning —
   * the standard 3-5-word shingling of the near-dup literature keeps
   * shingles discriminative.)
   *
   * EXACT prefix-filtering (Bayardo et al., "Scaling Up All Pairs
   * Similarity Search", WWW'07): order every doc's shingles by global
   * frequency (rarest first; canonical tiebreak on the shingle itself) and
   * index only the first `n - ceil(t·n) + 1` of them. Any pair with
   * J ≥ t must have overlap ≥ ceil(t·max(|A|,|B|)), hence must collide
   * inside these prefixes — so candidates come from a self-join on the
   * RAREST shingles only, and the exact intersection is computed per
   * candidate via array_intersect. Results are identical to the naive
   * all-pairs shingle join (the DuckDB oracle runs the naive form), but
   * the quadratic blowup on ubiquitous shingles is gone: this is the
   * difference between a 35 s and a ~2 s bench at sf0.1, and between
   * feasible and infeasible at 100 TB.
   */
  def ngramJaccardPairs(spark: SparkSession, dir: String,
      threshold: Double = 0.8): DataFrame =
    ngramJaccardPairsOf(Tables.load(spark, dir, "documents"), threshold)

  /** [[ngramJaccardPairs]] over any `(doc_id, text)` frame — the entry a
    * pipeline composes with its own corpus (also what the skewed-corpus
    * stress spec drives). Building the frame runs Spark jobs: the eager
    * corpus-wide hash-collision probe ([[shinglesCollide]]). */
  def ngramJaccardPairsOf(docs: DataFrame,
      threshold: Double): DataFrame =
    ngramJaccardPairsOf(docs, threshold, forceStringVerify = false)

  /**
   * GLOBAL INJECTIVITY check: true iff two DISTINCT shingle strings
   * anywhere in the corpus share an xxhash64 value — the one case where a
   * hashed-array `array_intersect` could silently differ from the exact
   * string-set intersection (a cross-doc collision overcounts the
   * intersection; a within-doc collision shrinks a set). One eager
   * vocabulary-scale aggregation (min≠max of the strings per hash key
   * witnesses any collision; the map-side partial reduces the exchange to
   * distinct-shingle rows). Strings appear in THIS probe and nowhere else
   * in the pair queries — every exchange of the returned plan moves
   * 8-byte hashes. Expected-never at 2⁻⁶⁴ per pair of distinct shingles;
   * when it fires, verification falls back to the exact string arrays, so
   * the result is ALWAYS the exact string-set answer. The probe is an
   * EAGER Spark job run while the pair query is constructed; callers that
   * force string verification skip it.
   */
  private def shinglesCollide(docs: DataFrame): Boolean = {
    val agg = docs.select(explode(
        graft.functions.WordShingles.shingles(col("text"), 3)).as("s"))
      .select(xxhash64(col("s")).as("sh"), col("s"))
      .groupBy(col("sh"))
      .agg(min(col("s")).as("mn"), max(col("s")).as("mx"))
    !agg.where(col("mn") =!= col("mx")).isEmpty
  }

  /** The verification-side shingle sets: hashed arrays (8 B/shingle
    * through the candidate-attach joins) when the corpus-wide hash is
    * injective, the exact string arrays when a collision was detected
    * (or forced by a spec). Array LENGTH is the string-set size in both
    * forms ([[graft.functions.WordShingleHashes]] dedups by string), so
    * sizes, intersections and the rounded scores are bit-identical when
    * no collision exists — proven by the forced-fallback equality spec
    * and the DuckDB oracle (which always runs the naive string form). */
  private def verifyShingles(docs: DataFrame,
      useStrings: Boolean): DataFrame =
    if (useStrings)
      docs.select(col("doc_id"),
        graft.functions.WordShingles.shingles(col("text"), 3)
          .as("shingles"))
    else
      docs.select(col("doc_id"),
        graft.functions.WordShingles.shingleHashes(col("text"), 3)
          .as("shingles"))

  private[graft] def ngramJaccardPairsOf(docs: DataFrame, threshold: Double,
      forceStringVerify: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // per-doc set size rides along the explode (no second aggregation);
    // shingles travel as xxhash64 keys — 8 bytes through every shuffle
    // instead of the ~35-byte string, now INCLUDING the verification
    // arrays (hashed natively inside the shingling pass). A cross-shingle
    // hash collision can only ADD a candidate, and the
    // collision-CHECKED verification below stays exact either way.
    val docSh = docs.select(col("doc_id"),
      graft.functions.WordShingles.shingleHashes(col("text"), 3)
        .as("shingles"))
    val exploded = docSh.select(col("doc_id"),
      size(col("shingles")).as("n"),
      explode(col("shingles")).as("sh"))

    // Bayardo prefix filter. Global document frequency of every shingle
    // (one agg on the hashed shingle key), then each doc's shingles ranked
    // rarest-first (tiebreak on hash then the shingle string — one fixed
    // global total order) and only the first n − ceil(t·n) + 1 indexed:
    // any pair with J ≥ t must share an indexed prefix shingle (proof:
    // J ≥ t ⟹ |A∩B| ≥ ⌈t·max(|A|,|B|)⌉; if the smallest common element
    // of A and B under the global order sat outside either prefix, fewer
    // than ⌈t·n⌉ common elements could follow it). The candidate join
    // therefore runs on the RAREST shingles only — per-shingle fanout is
    // bounded by the df of rare shingles instead of the unbounded Σ df(s)²
    // of the all-shingle self-join (one ubiquitous boilerplate shingle no
    // longer produces a quadratic pair explosion).
    // ordering on (df, sh) alone is output-deterministic: two same-doc
    // rows tying on both carry the SAME join key, so whichever side of
    // the prefix cutoff each lands on, the candidate set is identical —
    // carrying the shingle string through the window shuffle just to
    // break that tie would ~4× the shuffled bytes
    val dfTbl = exploded.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val stringVerify = forceStringVerify || shinglesCollide(docs)
    val wPrefix = Window.partitionBy(col("doc_id"))
      .orderBy(col("df"), col("sh"))
    val prefix = exploded.join(dfTbl, "sh")
      .withColumn("rk", row_number().over(wPrefix))
      // ceil(n·t) with an epsilon: when n·t is exactly integral, a one-ulp
      // FP overshoot would round ceil up and silently shorten the prefix,
      // dropping pairs with J exactly at the threshold
      .where(col("rk") <= col("n") - ceil(col("n") * threshold - lit(1e-9)) + 1)
      .select(col("doc_id"), col("sh"))
    val candidates = prefix.as("a").join(prefix.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()

    // exact per-candidate verification on the full shingle sets — results
    // are identical to the naive all-pairs shingle join (the DuckDB oracle
    // runs the naive form); hashed arrays unless the corpus broke
    // injectivity (see shingleDfWithCollisionCheck)
    val vSh = verifyShingles(docs, stringVerify)
    val sA = vSh.select(col("doc_id").as("d1"), col("shingles").as("sh1"))
    val sB = vSh.select(col("doc_id").as("d2"), col("shingles").as("sh2"))
    candidates.join(sA, "d1").join(sB, "d2")
      .withColumn("shared", size(array_intersect(col("sh1"), col("sh2"))))
      .withColumn("jaccard", round(col("shared") /
        (size(col("sh1")) + size(col("sh2")) - col("shared")), 6))
      .where(col("jaccard") >= threshold)
      .select(col("d1"), col("d2"), col("jaccard"))
      .orderBy(col("d1"), col("d2"))
  }

  /**
   * CONTAINMENT near-dup pairs: C = |A∩B| / min(|A|,|B|) ≥ t over the
   * word-trigram shingle sets — the asymmetric-duplication predicate
   * Jaccard misses (a document QUOTED inside a much larger one has
   * containment ≈ 1 but Jaccard ≈ |A|/|B| ≈ 0; crawl pipelines use
   * containment to catch wrapper pages and quote-expansions).
   *
   * Exact prefix filtering, containment-adapted: a qualifying pair
   * overlaps in ≥ ⌈t·min(|A|,|B|)⌉ shingles, so the SMALLER side must
   * expose a shared shingle within its first |X| − ⌈t·|X|⌉ + 1 shingles
   * under the global rarest-first order (same argument as
   * [[ngramJaccardPairs]], applied to the min side). Since either side
   * of a pair may be the smaller, candidates come from prefix(X) ⋈
   * FULL(Y) over all ordered pairs (the full side is semi-joined down to
   * shingles appearing in someone's prefix by the join itself), then
   * exact verification on the full sets — identical output to the naive
   * all-shingle self-join the DuckDB oracle runs. Fanout is bounded by
   * Σ_{s indexed} df(s)·prefix_df(s): rare-shingle postings, not the
   * unbounded all-pairs blowup.
   */
  def containmentPairs(spark: SparkSession, dir: String,
      threshold: Double = 0.9): DataFrame =
    containmentPairsOf(Tables.load(spark, dir, "documents"), threshold)

  /** [[containmentPairs]] over any `(doc_id, text)` frame. Building the
    * frame runs the eager hash-collision probe ([[shinglesCollide]]). */
  def containmentPairsOf(docs: DataFrame,
      threshold: Double): DataFrame =
    containmentPairsOf(docs, threshold, forceStringVerify = false)

  private[graft] def containmentPairsOf(docs: DataFrame, threshold: Double,
      forceStringVerify: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docSh = docs.select(col("doc_id"),
      graft.functions.WordShingles.shingleHashes(col("text"), 3)
        .as("shingles"))
    val exploded = docSh.select(col("doc_id"),
      size(col("shingles")).as("n"), explode(col("shingles")).as("sh"))
    // ordering on (df, sh) alone is output-deterministic: two same-doc
    // rows tying on both carry the SAME join key, so whichever side of
    // the prefix cutoff each lands on, the candidate set is identical —
    // carrying the shingle string through the window shuffle just to
    // break that tie would ~4× the shuffled bytes
    val dfTbl = exploded.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val stringVerify = forceStringVerify || shinglesCollide(docs)
    val wPrefix = Window.partitionBy(col("doc_id"))
      .orderBy(col("df"), col("sh"))
    // ceil epsilon: see ngramJaccardPairs (an exact-integral t·n must not
    // round up and silently shorten the prefix)
    val prefix = exploded.join(dfTbl, "sh")
      .withColumn("rk", row_number().over(wPrefix))
      .where(col("rk") <= col("n") - ceil(col("n") * threshold - lit(1e-9)) + 1)
      .select(col("doc_id").as("pd"), col("sh"))
    val full = exploded.select(col("doc_id").as("fd"), col("sh"))
    val candidates = prefix.join(full, "sh")
      .where(col("pd") =!= col("fd"))
      .select(least(col("pd"), col("fd")).as("d1"),
        greatest(col("pd"), col("fd")).as("d2"))
      .distinct()
    // exact verification on hashed sets unless injectivity broke — see
    // shingleDfWithCollisionCheck / verifyShingles
    val vSh = verifyShingles(docs, stringVerify)
    val sA = vSh.select(col("doc_id").as("d1"), col("shingles").as("sh1"))
    val sB = vSh.select(col("doc_id").as("d2"), col("shingles").as("sh2"))
    candidates.join(sA, "d1").join(sB, "d2")
      .withColumn("shared", size(array_intersect(col("sh1"), col("sh2"))))
      .withColumn("containment", round(col("shared")
        / least(size(col("sh1")), size(col("sh2"))), 6))
      .where(col("containment") >= threshold)
      .select(col("d1"), col("d2"), col("containment"))
      .orderBy(col("d1"), col("d2"))
  }

  /**
   * N-GRAM NOVELTY — the inverse signal of [[spanDupStats]]: per doc,
   * the fraction of its distinct trigram shingles that occur in NO other
   * document. Data-curation pipelines use it as a uniqueness/diversity
   * score (high-novelty docs add information; near-zero novelty means
   * the doc is assembled from corpus-common phrasing even when no single
   * near-duplicate exists). Same one-explode + one-shingle-keyed-agg +
   * one-join layout as [[exactDedup]]/[[spanDupStats]] — linear,
   * skew-free (the shingle df aggregation keys on the shingle itself).
   * Shingles are distinct per doc, so the df count IS the document
   * frequency with no extra distinct pass.
   */
  def ngramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val sh = docs.select(col("doc_id"),
      explode(graft.functions.WordShingles.shingles(col("text"), 3)).as("s"))
    val dfTbl = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
    sh.join(dfTbl, "s")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
      .withColumn("novelty",
        round(col("n_unique").cast("double") / col("n_shingles"), 6))
      .orderBy(col("doc_id"))
  }

  /**
   * SPAN-LEVEL duplication statistics — the C4/RefinedWeb preprocessing
   * step that removes repeated SPANS rather than whole documents
   * (boilerplate, navigation chrome, license blocks recur across pages
   * whose full texts differ). Each doc is cut into consecutive
   * `spanLen`-token spans; a span is "duplicated" when it occurs in MORE
   * THAN ONE document (within-doc repeats don't count). Emits per doc its
   * span count, duplicated-span count and the dup ratio — the signal a
   * filtering pipeline thresholds on (or uses to excise the spans).
   *
   * Scale shape: one explode (≤ n_tokens/spanLen rows per doc), one
   * aggregation on the 128-bit span hash (skew-free), one hash join back
   * — the same one-shuffle-per-stage layout as [[exactDedup]], linear in
   * corpus size. Span hashes are md5 so the DuckDB oracle reproduces
   * them byte-for-byte.
   */
  def spanDupStats(spark: SparkSession, dir: String,
      spanLen: Int = 10): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val toks = split(col("text"), " ")
    val nsp = floor(size(toks) / lit(spanLen)).cast("int")
    // planned ONCE: the frequency aggregate and the join-back both
    // consume the spanned frame — without this the interpreted span
    // chain re-plans into both branches and the corpus is split+hashed
    // twice (PlanGuard check 6, round 16). persist(DISK_ONLY), NOT
    // localCheckpoint (round-16 ADVICE): this frame is CORPUS-sized, and
    // localCheckpoint is unreplicated with truncated lineage — one lost
    // executor kills the job at 100 TB. A persisted frame keeps its
    // lineage (lost blocks recompute) and still plans both consumers as
    // one shared in-memory-relation scan, so check 6 stays satisfied.
    val spans = docs.select(col("doc_id"),
      explode(when(nsp >= 1,
        transform(sequence(lit(0), nsp - 1), i =>
          md5(concat_ws(" ", slice(toks, i * spanLen + 1, lit(spanLen)))
            .cast("binary"))))
        .otherwise(array().cast("array<string>"))).as("span_md5"))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val spanDf = spans.groupBy(col("span_md5"))
      .agg(countDistinct(col("doc_id")).as("span_docs"))
    spans.join(spanDf, "span_md5")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("span_docs") > 1, 1).otherwise(0)).as("n_dup_spans"))
      .withColumn("dup_ratio", round(col("n_dup_spans") / col("n_spans"), 6))
      .orderBy(col("doc_id"))
  }

  /**
   * x39 — span EXCISION: the removal transform [[spanDupStats]] only
   * reports. Each doc's consecutive `spanLen`-token spans that occur in
   * MORE THAN ONE document are cut out and the text is rebuilt from the
   * surviving spans (plus the unspanned tail tokens) — the
   * C4/RefinedWeb-style boilerplate-removal step that excises repeated
   * license blocks/navigation chrome instead of dropping whole docs.
   *
   * Scale shape: same as x28 — one explode, one md5-keyed dup
   * aggregation (skew-free), one join back — plus an ordered
   * collect_list per doc to reassemble the text. The per-doc rebuild
   * state is bounded by the doc's own span count, so memory scales with
   * document size, not corpus size. Emits (doc_id, n_spans, n_dropped,
   * cleaned_text); the DuckDB oracle rebuilds the identical string
   * (string_agg ORDER BY span index, trailing tokens appended, same
   * trim/concat construction).
   */
  def spanExcise(spark: SparkSession, dir: String,
      spanLen: Int = 10): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val toksC = split(col("text"), " ")
    val base = docs.select(col("doc_id"), toksC.as("toks"),
      floor(size(toksC) / lit(spanLen)).cast("int").as("nsp"))
    val spans = base.select(col("doc_id"),
        posexplode(when(col("nsp") >= 1,
          transform(sequence(lit(0), col("nsp") - 1), i =>
            concat_ws(" ", slice(col("toks"), i * spanLen + 1, lit(spanLen)))))
          .otherwise(array().cast("array<string>"))).as(Seq("i", "span_text")))
      .withColumn("span_md5", md5(col("span_text").cast("binary")))
    val dup = spans.groupBy(col("span_md5"))
      .agg(countDistinct(col("doc_id")).as("span_docs"))
    // surviving spans reassembled in order; collect_list skips the nulls
    // the `when` leaves for dropped spans
    val rebuilt = spans.join(dup, "span_md5")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("span_docs") > 1, 1L).otherwise(0L)).as("n_dropped"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("span_docs") === 1,
            struct(col("i"), col("span_text"))))),
          _.getField("span_text"))).as("body"))
    val tail = concat_ws(" ",
      slice(col("toks"), col("nsp") * spanLen + 1,
        size(col("toks")) - col("nsp") * spanLen))
    base.join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        trim(concat_ws(" ", coalesce(col("body"), lit("")), tail))
          .as("cleaned_text"))
      .orderBy(col("doc_id"))
  }

  /** k-th minhash of a shingle column: lexicographic min of the first 8 hex
    * chars of md5(k:shingle). Engine-reproducible (md5 is md5 everywhere).
    * The production path is the fused [[graft.functions.MinHashSig]]
    * native; this expression form is kept as the spec's reference
    * implementation (ExtSpec pins the two bit-equal). */
  private[graft] def minhashOf(k: Int, tok: Column): Column =
    substring(md5(concat(lit(s"$k:"), tok).cast("binary")), 1, 8)

  /** Minhash signature frame `(doc_id, sig: array<string>)` over any
    * `(doc_id, text)` frame — the shared shingle→signature step of
    * [[minhashLshPairs]] and [[dedupIndexReuse]], computed by the fused
    * one-pass [[graft.functions.MinHashSig]] native: a shuffle-free scan
    * projection instead of the previous corpus-scale
    * explode → 12-md5-per-row → per-doc aggregate (bit-identical — the
    * native's scaladoc carries the proof; the isNotNull filter drops
    * exactly the <n-token docs the explode form never emitted). */
  private def minhashSignatures(docs: DataFrame, numHashes: Int): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.MinHashSig.sig(col("text"), numHashes, 3).as("sig"))
      .where(col("sig").isNotNull)

  /** One row per (doc, band): the signature exploded to its xxhash64 band
    * keys (band index folded into the hash so bands never collide), with
    * the signature riding along for the verify step. */
  private def explodeBandKeys(sig: DataFrame, numHashes: Int,
      rowsPerBand: Int): DataFrame = {
    val keys = array((0 until numHashes / rowsPerBand).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(k => element_at(col("sig"), k + 1))
      xxhash64(lit(b) +: cols: _*)
    }: _*)
    sig.select(col("doc_id"), col("sig"), explode(keys).as("bkey"))
  }

  /** The minhash verify of every band join (x3's self-join and
    * [[probeStored]]'s new×corpus join), over candidates aliased `l`/`r`:
    * deduped by the (`id1`, `id2`) pair aggregation — the carried
    * signatures are functionally dependent on the ids, so first() is
    * deterministic — and kept at ≥ 0.5 agreeing minhashes (6dp). */
  private def verifyBandPairs(candidates: DataFrame, numHashes: Int,
      id1: String, id2: String): DataFrame = {
    val agree = (0 until numHashes).map(k =>
      when(element_at(col("sig1"), k + 1) === element_at(col("sig2"), k + 1),
        1).otherwise(0)).reduce(_ + _)
    candidates
      .groupBy(col("l.doc_id").as(id1), col("r.doc_id").as(id2))
      .agg(first(col("l.sig")).as("sig1"), first(col("r.sig")).as("sig2"))
      .withColumn("est_jaccard",
        round(agree.cast("double") / numHashes, 6))
      .where(col("est_jaccard") >= 0.5)
      .select(col(id1), col(id2), col("est_jaccard"))
  }

  /** The one MinHash-LSH probe, run by x57 (on inline corpus bands) and
    * by x59/x62/x64/x88/x93 (on stored segments): the probe's band rows
    * join each segment on the band key, and the verified per-segment
    * results union (segment corpus_id spaces are disjoint), sorted. */
  private def probeStored(probe: DataFrame, numHashes: Int,
      segments: DataFrame*): DataFrame =
    segments.map(s => verifyBandPairs(
        probe.as("l").join(s.as("r"), col("l.bkey") === col("r.bkey")),
        numHashes, "new_id", "corpus_id"))
      .reduce(_.unionByName(_))
      .orderBy(col("new_id"), col("corpus_id"))

  /** A planted new batch: every `modulo`-th doc re-ingested verbatim
    * under id + `idOffset`. */
  private def planted(docs: DataFrame, idOffset: Long,
      modulo: Int = 5): DataFrame =
    docs.where(col("doc_id") % modulo === 0)
      .select((col("doc_id") + idOffset).as("doc_id"), col("text"))

  /** The planted new batch exploded to its band keys — the probe side
    * (and x64/x88's appended segment) of the stored-index entries. */
  private def plantedProbe(spark: SparkSession, dir: String,
      numHashes: Int, rowsPerBand: Int, idOffset: Long,
      modulo: Int = 5): DataFrame =
    explodeBandKeys(minhashSignatures(
        planted(Tables.load(spark, dir, "documents"), idOffset, modulo),
        numHashes), numHashes, rowsPerBand)

  /** Builds + persists the corpus minhash signature index (band-key-
    * bucketed parquet table); returns the table name. Ingest-time cost:
    * one `documents` scan + shingle/signature pass + the bucket write. */
  private def buildDedupIndex(spark: SparkSession, dir: String,
      numHashes: Int, rowsPerBand: Int): String = {
    val table = dedupIndexTable(dir)
    BucketedTables.writeIndex(explodeBandKeys(minhashSignatures(
        Tables.load(spark, dir, "documents"), numHashes), numHashes,
      rowsPerBand), table, "bkey")
    table
  }

  private def dedupIndexTable(dir: String): String =
    "graft_minhash_index_" + BucketedTables.indexSuffix(dir)

  /** The corpus index, built once: the stored table if this session has
    * it, else [[buildDedupIndex]]. */
  private def corpusIndex(spark: SparkSession, dir: String,
      numHashes: Int, rowsPerBand: Int): String =
    BucketedTables.ensureIndex(spark, dedupIndexTable(dir))(
      buildDedupIndex(spark, dir, numHashes, rowsPerBand))

  /**
   * x59 — "index once, query many" made literal: the corpus-side minhash
   * signatures of [[incrementalDedup]] are built ONCE and PERSISTED as a
   * parquet table bucketed by band key (via [[graft.sink.BucketedTables]]),
   * and the new batch joins against the STORED index — at query time the
   * corpus `documents` table is never rescanned and never re-shingled
   * (the only `documents` scan in the plan is the new batch's own). This
   * is the reference's implicit perf model (README.md:6,8 — records are
   * indexed on ingest and queries hit the index, not the topic) and the
   * 100 TB posture: the signature index is built once per corpus and
   * appended per ingest batch, so each day's batch pays only its own
   * shingling plus a band join whose corpus side arrives PRE-BUCKETED on
   * the join key — no corpus-side shuffle either; only the (small) batch
   * side is exchanged to the bucket layout. The probe is x57's own
   * ([[probeStored]]) over the stored table, so results are identical to
   * [[incrementalDedup]] for the same planted batch and the oracle is
   * shared.
   */
  def dedupIndexReuse(spark: SparkSession, dir: String,
      numHashes: Int = 12, rowsPerBand: Int = 3,
      idOffset: Long = 1000000L): DataFrame = {
    // ingest-time: build + persist; query-time: only the new batch
    // touches `documents`
    probeStored(plantedProbe(spark, dir, numHashes, rowsPerBand, idOffset),
      numHashes, spark.table(buildDedupIndex(spark, dir, numHashes,
        rowsPerBand)))
  }

  /**
   * x62 — the PROBE-ONLY side of x59: reuses the stored index if this
   * session already built it (building it once if not, so the entry is
   * self-contained) — the steady-state "query many" cost of the
   * index-once model. Identical result contract to [[dedupIndexReuse]]
   * and [[incrementalDedup]] — the oracle is shared; the BENCH delta
   * between x59 (build+probe every run) and x62 (probe-only after the
   * first run) is the point: probe ≪ build.
   */
  def dedupIndexProbe(spark: SparkSession, dir: String,
      numHashes: Int = 12, rowsPerBand: Int = 3,
      idOffset: Long = 1000000L): DataFrame =
    probeStored(plantedProbe(spark, dir, numHashes, rowsPerBand, idOffset),
      numHashes, spark.table(corpusIndex(spark, dir, numHashes,
        rowsPerBand)))

  /**
   * x64 — INDEX APPEND: the index is maintained INCREMENTALLY as
   * segments, never rebuilt. Yesterday's ingest batch (the x57/x59
   * planted batch, ids +1e6) is persisted as its OWN band-key-bucketed
   * segment next to the corpus segment — an idempotent per-batch
   * overwrite, the ES/Lucene segment model — and today's batch (every
   * 7th doc, ids +2e6) probes BOTH segments. Each probe join hits one
   * pre-bucketed segment with no corpus-side shuffle; segment results
   * union (corpus_id spaces are disjoint across segments, so per-segment
   * verify == whole-index verify). Docs divisible by 35 prove the append:
   * they match their original AND the appended batch-1 copy.
   */
  def dedupIndexAppend(spark: SparkSession, dir: String,
      numHashes: Int = 12, rowsPerBand: Int = 3): DataFrame = {
    val table = corpusIndex(spark, dir, numHashes, rowsPerBand)
    // append batch-1 (ids +1e6) as its own segment — idempotent overwrite
    val segTable = table + "_seg1"
    BucketedTables.writeIndex(
      plantedProbe(spark, dir, numHashes, rowsPerBand, 1000000L),
      segTable, "bkey")
    // today's batch probes corpus segment + appended segment
    probeStored(
      plantedProbe(spark, dir, numHashes, rowsPerBand, 2000000L, 7),
      numHashes, spark.table(table), spark.table(segTable))
  }

  /**
   * x88 — INDEX SEGMENT MERGE (compaction), completing the index
   * lifecycle (x59 build → x62 probe → x64 append → merge): with daily
   * appends the segment count grows and every query pays one probe join
   * PER SEGMENT — exactly Lucene's problem, and its answer: periodically
   * merge small segments into one. The merge is ONE bucketed rewrite of
   * the stored signature rows (union of segments, re-bucketed on the
   * band key) — signatures are NEVER recomputed and `documents` is never
   * re-shingled; at 100 TB compaction costs one shuffle of the
   * signature index (≈ 100 B/doc), not a corpus pass. Today's batch
   * then probes the MERGED segment alone, and because segment corpus_id
   * spaces are disjoint, one probe of the merge ≡ the union of
   * per-segment probes — the result contract (and oracle) is x64's,
   * which is the proof the compaction lost nothing.
   */
  def dedupIndexMerge(spark: SparkSession, dir: String,
      numHashes: Int = 12, rowsPerBand: Int = 3): DataFrame = {
    val table = corpusIndex(spark, dir, numHashes, rowsPerBand)
    val segTable = BucketedTables.ensureIndex(spark, table + "_seg1")(
      BucketedTables.writeIndex(
        plantedProbe(spark, dir, numHashes, rowsPerBand, 1000000L),
        table + "_seg1", "bkey"))
    val mergedTable = table + "_merged1"
    BucketedTables.writeIndex(
      spark.table(table).unionByName(spark.table(segTable)),
      mergedTable, "bkey")
    probeStored(
      plantedProbe(spark, dir, numHashes, rowsPerBand, 2000000L, 7),
      numHashes, spark.table(mergedTable))
  }

  /**
   * x93 — STREAMING INDEX MAINTENANCE: the x64 append loop as it runs in
   * production — new documents ARRIVE AS A STREAM, and every micro-batch
   * commits its minhash signatures as its own segment from inside
   * `foreachBatch` (batchId-keyed dynamic-partition overwrite, the kq53
   * exactly-once discipline: batch 0's commit is deliberately REPLAYED
   * and must be a no-op). The planted batch streams in TWO micro-batches
   * (`maxFilesPerTrigger=1`), so the segment store genuinely accumulates
   * across triggers; queries then probe corpus segment ∪ stream-built
   * segments and the result is CONTRACT-IDENTICAL to the batch append
   * (x64's oracle — disjoint corpus_id spaces, every pair lives in
   * exactly one segment). At 100 TB each trigger pays only its own
   * shingle/signature pass and a segment-sized write; the corpus index
   * is never touched, and x88's compaction folds the accumulated
   * micro-segments on whatever cadence suits.
   */
  def streamingIndexAppend(spark: SparkSession, dir: String,
      numHashes: Int = 12, rowsPerBand: Int = 3): DataFrame = {
    val table = corpusIndex(spark, dir, numHashes, rowsPerBand)
    val newBatch = planted(Tables.load(spark, dir, "documents"), 1000000L)
    val streamSegs = graft.streaming.StreamPipeline.Replay(spark) { r =>
      val segPath = s"${r.work}/segments"
      def commit(batch: DataFrame, batchId: Long): Unit =
        explodeBandKeys(minhashSignatures(batch, numHashes), numHashes,
            rowsPerBand)
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(segPath)
      r.run(r.input(newBatch.repartition(2), perFile = true))(
        _.foreachBatch { (batch: org.apache.spark.sql.Dataset[
            org.apache.spark.sql.Row], batchId: Long) =>
          commit(batch.toDF(), batchId)
          // at-least-once retry: the recommit must be a no-op
          if (batchId == 0L) commit(batch.toDF(), batchId)
        })
      Tables.parquet(spark, segPath)
        .select(col("doc_id"), col("sig"), col("bkey"))
        .localCheckpoint() // the probe result must outlive the work dir
    }
    probeStored(
      plantedProbe(spark, dir, numHashes, rowsPerBand, 2000000L, 7),
      numHashes, spark.table(table), streamSegs)
  }

  /**
   * x57 — INCREMENTAL dedup against an accumulated corpus: the production
   * shape of near-dup detection — a NEW BATCH arrives and must be checked
   * against the existing corpus WITHOUT re-comparing the corpus to
   * itself. Candidates come from the same minhash band join as
   * [[minhashLshPairs]], but the join is STRICTLY new×corpus (the corpus
   * side never self-joins), so incremental cost is O(new batch) band
   * collisions — at 100 TB the corpus-side signatures are a precomputed
   * index you append to, and each day's batch pays only its own
   * candidates. The batch is planted deterministically (every 5th doc
   * re-ingested verbatim under a shifted id), so every planted doc must
   * rediscover its source at signature agreement 1.0. It runs the same
   * probe ([[probeStored]]) as the stored-index entries x59–x93, over
   * corpus bands computed inline instead of read from the stored index.
   */
  def incrementalDedup(spark: SparkSession, dir: String,
      numHashes: Int = 12, rowsPerBand: Int = 3,
      idOffset: Long = 1000000L): DataFrame = {
    val base = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val all = base.withColumn("is_new", lit(false))
      .unionByName(planted(base, idOffset).withColumn("is_new", lit(true)))
    // fused one-pass native signature — see minhashSignatures; persisted
    // so the new-vs-corpus band join's two sides share one signature pass
    // (see minhashPairsOf)
    val sig = all.select(col("doc_id"), col("is_new"),
      graft.functions.MinHashSig.sig(col("text"), numHashes, 3).as("sig"))
      .where(col("sig").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    def bands(side: Column): DataFrame =
      explodeBandKeys(sig.where(side), numHashes, rowsPerBand)
    probeStored(bands(col("is_new")), numHashes, bands(!col("is_new")))
  }

  /**
   * MinHash + LSH banding, shingle→minhash→band→bucket-join: 12 minhashes
   * over the word-trigram shingle set, banded 4×3; docs sharing any band
   * hash become candidate pairs; candidates are then verified with the
   * signature-agreement estimate (≥ 0.5). Trigram shingles (not unigrams)
   * keep the signature discriminative — on this corpus unigram token sets
   * saturate and every doc collides. The band join is the scale path: at
   * 100 TB only same-band docs ever meet, instead of the O(n²) all-pairs
   * join.
   */
  def minhashLshPairs(spark: SparkSession, dir: String,
      numHashes: Int = 12, rowsPerBand: Int = 3): DataFrame =
    minhashPairsOf(Tables.load(spark, dir, "documents"),
      numHashes, rowsPerBand)
      .orderBy(col("d1"), col("d2"))

  /** [[minhashLshPairs]] over any `(doc_id, text)` frame, UNSORTED — the
    * form a composed pipeline (x60) embeds mid-plan, where an interior
    * ORDER BY would only add a pointless exchange. Its verify is the one
    * [[probeStored]] runs ([[verifyBandPairs]]), over the band SELF-join
    * (`l.doc_id < r.doc_id`) instead of a new×corpus join. */
  private[graft] def minhashPairsOf(docs: DataFrame,
      numHashes: Int, rowsPerBand: Int): DataFrame = {
    // the signature is computed ONCE: one aggregation produces the full
    // 12-hash signature as an array; bands are EXPLODED from it (not
    // unioned over per-band re-aggregations) and the signatures ride along
    // the band join, so the shingle→minhash subtree appears exactly once
    // in the plan instead of ~6× (4 band branches + 2 verify joins).
    //
    // The join key is xxhash64(band, band's minhashes) — ONE LONG through
    // the candidate shuffle instead of the 26-char md5-hex concat (the
    // band index inside the hash keeps different bands from colliding).
    // Near-identical grouping to the oracle's string banding: a 2⁻⁶⁴
    // cross-band hash collision could only ADD a candidate, which the
    // signature-agreement verify then scores on the REAL signatures
    // — a spurious candidate whose overall signature agreement ALSO clears
    // the 0.5 threshold would be a pair the string-banded oracle lacks
    // (accepted: ~2⁻⁶⁴ per pair and further gated by the agreement test;
    // hash on both engines if exact parity ever matters more than key
    // width).
    // the band SELF-join would otherwise plan the signature pass (scan +
    // shingle + 12 md5 minima per doc) once per side — DISK_ONLY persist
    // of the ~110 B/doc (doc_id, sig) frame makes both sides read one
    // shared InMemoryRelation (the kq65/check-6 materialization rule;
    // measured 2.3 -> 1.4 s warm at sf0.1, and one corpus scan instead
    // of two at any scale)
    val sig = minhashSignatures(docs, numHashes)
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val bands = explodeBandKeys(sig, numHashes, rowsPerBand)
    verifyBandPairs(bands.as("l").join(bands.as("r"),
        col("l.bkey") === col("r.bkey") &&
          col("l.doc_id") < col("r.doc_id")),
      numHashes, "d1", "d2")
  }

  /**
   * x86 — DEDUP QUALITY EVAL: precision/recall of the MinHash-LSH
   * candidate pairs (x3, est ≥ 0.5) against the exact n-gram Jaccard
   * truth (x2, jaccard ≥ 0.8), the dedup analog of the ANN recall eval
   * (x83). The operational point is the same: banding parameters (12
   * hashes × 4 bands here) trade recall for candidate volume, and at
   * corpus scale nobody can eyeball what the banding loses — this entry
   * IS the tuning metric. Both legs reuse their pinned pair queries
   * verbatim; the comparison is one full-outer join on (d1, d2) + a
   * 1-row aggregate, all metrics exact integer ppm (null-guarded floor
   * divisions). On a production corpus the truth leg runs on a SAMPLE
   * (it is the expensive exact join); here the fixture corpus is small
   * enough to run it whole.
   */
  def dedupEval(spark: SparkSession, dir: String): DataFrame = {
    // the fixture corpus has NO mid-range-Jaccard pairs (planted dups
    // are all >= 0.8, everything else dissimilar), which would make the
    // eval vacuously perfect — augment with deterministic PARTIAL copies
    // (first 2/3 of tokens, ids +2e6) so j ≈ 0.66 pairs exist and the
    // 12×(4,3) banding genuinely loses some of them
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val derived = docs.where(col("doc_id") % 3 === 0)
      .select((col("doc_id") + lit(2000000L)).as("doc_id"),
        expr("array_join(slice(split(text, ' '), 1, " +
          "CAST(greatest((2 * size(split(text, ' '))) div 3, 3) AS INT))" +
          ", ' ')").as("text"))
    val corpus = docs.unionByName(derived)
    val truth = ngramJaccardPairsOf(corpus, 0.5)
      .select(col("d1"), col("d2")).withColumn("t", lit(1L))
    val pred = minhashPairsOf(corpus, 12, 3)
      .select(col("d1"), col("d2")).withColumn("hit", lit(1L))
    truth.join(pred, Seq("d1", "d2"), "full")
      .agg(sum(coalesce(col("t"), lit(0L))).as("n_truth"),
        sum(coalesce(col("hit"), lit(0L))).as("n_pred"),
        sum(when(col("t").isNotNull && col("hit").isNotNull, 1L)
          .otherwise(0L)).as("n_hit"))
      .withColumn("precision_ppm",
        coalesce(expr("n_hit * 1000000 div n_pred"), lit(0L)))
      .withColumn("recall_ppm",
        coalesce(expr("n_hit * 1000000 div n_truth"), lit(0L)))
  }

  /**
   * 32-bit SimHash per doc over the distinct-token set: token hash =
   * first 8 md5 hex digits as an int; bit i of the signature is the sign
   * of Σ_tokens (2·bit_i(h)−1). Near-dup clusters = equal signatures.
   * Computed by the native one-pass [[graft.functions.SimHash32]]
   * expression — a shuffle-free map scan; the only shuffle left is the
   * cluster-size aggregation on the 32-bit signature.
   */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val sigs = docs.select(col("doc_id"),
      graft.functions.SimHash32.simhash32(col("text")).as("simhash"))
    val clusters = sigs.groupBy(col("simhash"))
      .agg(count(lit(1)).as("cluster_size"))
    sigs.join(clusters, "simhash")
      .select(col("doc_id"), col("simhash"), col("cluster_size"))
      .orderBy(col("doc_id"))
  }

  /**
   * Near-duplicate CLUSTERS: connected components over the MinHash-LSH
   * pair graph ([[minhashLshPairs]]) — the step a real corpus-dedup
   * pipeline runs after pair generation, so "A≈B, B≈C" collapses into one
   * cluster with one canonical (minimum) doc id kept. Singleton docs are
   * their own cluster.
   *
   * Distributed as iterative min-label propagation (the textbook
   * DataFrame CC: each round every vertex takes the min label among
   * itself and its neighbors; converged when no label changes — the same
   * driver-synchronized round structure as Pregel/GraphX, with only a
   * per-round count crossing the driver). Label state is
   * `localCheckpoint`ed each round so lineage stays flat. Rounds needed =
   * component diameter — near-dup clusters are shallow (pairs/triangles),
   * so 2-3 rounds in practice; at web scale the same loop is run with the
   * large-star/small-star optimization (Kiveris et al., "Connected
   * Components in MapReduce", SOCC'14), which this layout extends to
   * directly. All label updates are MINs — deterministic under any
   * partitioning / execution order, which is what lets the DuckDB oracle
   * (a recursive-CTE reachability closure) hash-match exactly.
   */
  def dupClusters(spark: SparkSession, dir: String,
      maxRounds: Int = 10): DataFrame = {
    val docs = Tables.load(spark, dir, "documents").select(col("doc_id"))
    val pairs = minhashLshPairs(spark, dir).select(col("d1"), col("d2"))
    val edges = pairs
      .union(pairs.select(col("d2"), col("d1")))
      .toDF("src", "dst")
      .localCheckpoint() // computed once; pair generation is the hard part
    var labels = docs.select(col("doc_id"), col("doc_id").as("label"))
      .localCheckpoint()
    var round = 0
    var converged = false
    while (round < maxRounds && !converged) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("doc_id", "src"), "src")
        .groupBy(col("dst").as("doc_id"))
        .agg(min(col("label")).as("nmin"))
      // the convergence flag rides the SAME join that computes the new
      // label (no separate next⋈prev comparison job per round)
      val next = labels.join(neighborMin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("label"), coalesce(col("nmin"), col("label")))
            .as("label"),
          (coalesce(col("nmin"), col("label")) < col("label")).as("changed"))
        .localCheckpoint()
      converged = next.where(col("changed")).isEmpty
      labels = next.drop("changed")
      round += 1
    }
    // truncated propagation must never be mistaken for a fixpoint: a
    // component with diameter > maxRounds would get silently wrong labels
    if (!converged) throw new IllegalStateException(
      s"dupClusters did not converge in $maxRounds rounds — a component has " +
        s"diameter > $maxRounds; raise maxRounds")
    val sizes = labels.groupBy(col("label"))
      .agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "label")
      .select(col("doc_id"), col("label").as("cluster_id"),
        col("cluster_size"),
        (col("doc_id") === col("label")).as("is_canonical"))
      .orderBy(col("doc_id"))
  }

  /**
   * KEEP-BEST survivor selection — the decision step a real dedup
   * pipeline runs AFTER clustering: within every near-dup cluster
   * ([[dupClusters]]) keep the highest-QUALITY member (composite score
   * from [[TextAnalysis.qualityScore]]; ties broken by the larger
   * doc_id), not the arbitrary minimum id. Emits one row per cluster
   * with the kept doc and the drop count. One per-cluster bounded
   * window over the (already computed) cluster frame — the partition
   * key is the data-driven cluster id, the quality join is doc-keyed;
   * no new shuffle shape beyond the clustering itself. Scores are
   * 6dp-rounded on both engines, so the DESC ordering is bit-identical.
   */
  def keepBestInCluster(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clusters = dupClusters(spark, dir)
      .select(col("doc_id"), col("cluster_id"))
    val quality = TextAnalysis.qualityScore(spark, dir)
      .select(col("doc_id"), col("score"))
    val w = Window.partitionBy(col("cluster_id"))
    val wOrd = w.orderBy(col("score").desc, col("doc_id").desc)
    clusters.join(quality, "doc_id")
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("cluster_size", count(lit(1)).over(w))
      .where(col("rn") === 1)
      .select(col("cluster_id"), col("cluster_size"),
        col("doc_id").as("kept_doc"), col("score").as("kept_score"),
        (col("cluster_size") - 1).as("n_dropped"))
      .orderBy(col("cluster_id"))
  }

  /**
   * Near-duplicate clusters via ALTERNATING LARGE-STAR/SMALL-STAR
   * connected components (Kiveris et al., "Connected Components in
   * MapReduce and Beyond", SOCC'14) — the web-scale alternative to
   * [[dupClusters]]'s min-label propagation. Label propagation needs
   * diameter-many rounds; the star operations contract paths aggressively
   * and converge in O(log n) rounds on ANY graph shape, which is what a
   * production dedup graph (long chains of pairwise-similar crawl dups)
   * requires. Same fixpoint, same output contract and oracle as
   * [[dupClusters]]: every doc labeled with its component's minimum id.
   *
   * Edges are kept canonical (larger → smaller). Each round is two
   * rounds of grouped MIN-aggregation + equi-join on the node key — the
   * same shuffle shape as any large groupBy, deterministic under any
   * partitioning because every update is a MIN:
   *  - large-star: every node links its LARGER neighbors to the minimum
   *    of its closed neighborhood;
   *  - small-star: every node links its smaller neighbors (and itself)
   *    to that minimum.
   * Convergence (checked as edge-set equality, two anti-joins) leaves a
   * star per component: every non-root points directly at the component
   * min.
   */
  def dupClustersStars(spark: SparkSession, dir: String,
      maxRounds: Int = 20): DataFrame = {
    val docs = Tables.load(spark, dir, "documents").select(col("doc_id"))
    val pairs = minhashLshPairs(spark, dir).select(col("d1"), col("d2"))
    var edges = pairs.select(greatest(col("d1"), col("d2")).as("u"),
        least(col("d1"), col("d2")).as("v"))
      .where(col("u") =!= col("v")).distinct()
      .localCheckpoint() // pair generation runs once; lineage stays flat

    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("v"), col("u"))).toDF("u", "v")
      val mins = sym.groupBy(col("u")).agg(min(col("v")).as("nmin"))
        .select(col("u"), least(col("nmin"), col("u")).as("m"))
      sym.join(mins, "u").where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct() // v > u >= m: canonical orientation preserved
    }

    def smallStar(e: DataFrame): DataFrame = {
      // canonical input: every neighbor v < u, so min(N) is the closed-
      // neighborhood min too
      val mins = e.groupBy(col("u")).agg(min(col("v")).as("m"))
      e.join(mins, "u").select(col("v").as("u"), col("m").as("v"))
        .union(mins.select(col("u"), col("m").as("v")))
        .where(col("u") =!= col("v")).distinct()
    }

    var round = 0
    var converged = edges.isEmpty // an edgeless corpus is already done
    while (round < maxRounds && !converged) {
      val next = smallStar(largeStar(edges)).localCheckpoint()
      // both frames are distinct sets: equal counts + next ⊆ edges ⟺
      // set equality — a raw anti-join (except would re-distinct first)
      converged = next.count() == edges.count() &&
        next.join(edges, Seq("u", "v"), "left_anti").isEmpty
      edges = next
      round += 1
    }
    if (!converged) throw new IllegalStateException(
      s"dupClustersStars did not converge in $maxRounds rounds")
    // fixpoint is a star: one parent per non-root (min() guards anyway)
    val roots = edges.groupBy(col("u")).agg(min(col("v")).as("root"))
      .withColumnRenamed("u", "doc_id")
    val labels = docs.join(roots, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("root"), col("doc_id")).as("cluster_id"))
    val sizes = labels.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        (col("doc_id") === col("cluster_id")).as("is_canonical"))
      .orderBy(col("doc_id"))
  }

  /**
   * SimHash Hamming-neighbor pairs: all doc pairs whose 32-bit simhash
   * signatures differ in ≤ `maxHamming` bits — the real simhash dedup
   * predicate ([[simhash]]'s exact-equality clustering is its Hamming-0
   * special case).
   *
   * Distributed exactly by the pigeonhole banding of Manku/Jain/Sarma
   * (WWW'07, "Detecting Near-Duplicates for Web Crawling"): the 32 bits
   * split into `maxHamming + 1` blocks; ≤ maxHamming differing bits can
   * touch at most maxHamming blocks, so every qualifying pair agrees on at
   * least one FULL block and is found by an equi-join on (block index,
   * block value). Candidates are then verified exactly with
   * `bit_count(xor)`. Same LSH-join shape as [[minhashLshPairs]]: the only
   * shuffles are on block keys — no all-pairs comparison anywhere.
   *
   * The block join and verification run over DISTINCT SIGNATURES, not
   * docs (Manku's own layout): a simhash table saturates — many docs per
   * signature — so candidate generation on the signature space costs
   * |Σ|·nBlocks rows instead of N·nBlocks, and every (s1,s2) Hamming test
   * happens once instead of once per doc pair. Qualifying signature pairs
   * are then expanded back to doc pairs with two hash joins whose output
   * IS the result (no over-generation); equal-signature doc pairs
   * (Hamming 0) come from a separate per-signature self-pairing. On this
   * corpus that is the difference between a block join over 5k docs×4
   * blocks with ~6M-row candidate dedup and one over a few hundred
   * signatures — the same collapse a production 64-bit fingerprint table
   * exhibits (far fewer distinct fingerprints than pages).
   *
   * SCALE ADJUDICATION (round-13 sf1 probe, BENCH_CURVE): the operator's
   * per-emitted-pair cost is constant (0.87x/pair at 10x docs), but the
   * 32-bit UNIGRAM predicate itself saturates on a small-vocab corpus —
   * Hamming <= 3 qualifies ~12% of ALL doc pairs at sf0.1 and the output
   * grows quadratically (1.57M -> 169M pairs). This entry is therefore
   * the unigram-32 eval/compat form; the production-scale path is
   * [[simhash64Pairs]] (x129: 60-bit fingerprints over word-3-gram
   * shingles, output stays near-dup-sized at the same probe).
   */
  def simhashHammingPairs(spark: SparkSession, dir: String,
      maxHamming: Int = 3): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val sigs = docs.select(col("doc_id"),
      graft.functions.SimHash32.simhash32(col("text")).as("simhash"))
    hammingBandPairs(sigs, bits = 32, maxHamming = maxHamming)
  }

  /**
   * x129 — 60-BIT SHINGLE-FINGERPRINT near-dup pairs, the SCALE PATH of
   * the simhash family (Manku/Jain/Sarma WWW'07's actual production
   * design: wide fingerprints over SHINGLE features, tight Hamming
   * radius). The round-13 sf1 probe measured WHY x19 alone doesn't
   * scale: its per-pair cost is constant (0.87x/pair), but 32-bit
   * signatures over unigram SETS concentrate on a small-vocab corpus,
   * so Hamming <= 3 qualifies ~12% of ALL doc pairs at sf0.1 and the
   * OUTPUT grows quadratically (1.57M -> 169M pairs for 10x docs).
   * Word-3-gram shingles decorrelate the features and 60 bits
   * de-saturate the space, so qualifying pairs are the genuinely
   * near-identical docs — output stays near-dup-sized however the
   * corpus grows. 60 bits (15 md5 hex chars) rather than 64 so the
   * signature parses into a SIGNED BIGINT in both engines with no
   * unsigned-overflow edge; Hamming <= 3 via the same 4-block
   * pigeonhole equi-join as x19, on the signature space.
   */
  def simhash64Pairs(spark: SparkSession, dir: String,
      maxHamming: Int = 3): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
    val sigs = docs.select(col("doc_id"),
      graft.functions.SimHashShingle.simhashShingle60(col("text"), 3)
        .as("simhash"))
    hammingBandPairs(sigs, bits = 60, maxHamming = maxHamming)
  }

  /** Shared Manku pigeonhole banding over a (doc_id, simhash) frame —
    * see [[simhashHammingPairs]] for the full derivation. `bits` is the
    * signature width; blocks cover all bits (remainder spread one bit
    * each over the first blocks) so the pigeonhole guarantee holds. */
  private def hammingBandPairs(sigs: DataFrame, bits: Int,
      maxHamming: Int): DataFrame = {
    val nBlocks = maxHamming + 1
    val baseW = bits / nBlocks; val rem = bits % nBlocks
    val widths = (0 until nBlocks).map(b => baseW + (if (b < rem) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    val distinctSigs = sigs.select(col("simhash")).distinct()
    val blockStructs = array((0 until nBlocks).map { b =>
      struct(lit(b).as("blk"),
        shiftright(col("simhash"), offsets(b))
          .bitwiseAND(lit((1L << widths(b)) - 1)).as("blk_val"))
    }: _*)
    val blocks = distinctSigs.select(col("simhash"),
        explode(blockStructs).as("bk"))
      .select(col("simhash"),
        col("bk.blk").as("blk"), col("bk.blk_val").as("blk_val"))
    val l = blocks.as("l"); val r = blocks.as("r")
    // distinct unordered signature pairs within Hamming ≤ k (hamming ≥ 1:
    // equal signatures are handled by the self-pairing below)
    val sigPairs = l.join(r,
        col("l.blk") === col("r.blk") &&
          col("l.blk_val") === col("r.blk_val") &&
          col("l.simhash") < col("r.simhash"))
      .select(col("l.simhash").as("s1"), col("r.simhash").as("s2"))
      .distinct()
      .withColumn("hamming", bit_count(col("s1").bitwiseXOR(col("s2"))))
      .where(col("hamming") <= maxHamming)
    // expansion joins: every output row corresponds to exactly one
    // (sig-pair × doc × doc) combination — doc ids are unique, so
    // least/greatest ordering keeps each unordered doc pair once
    val a = sigs.select(col("doc_id").as("da"), col("simhash").as("s1"))
    val b = sigs.select(col("doc_id").as("db"), col("simhash").as("s2"))
    val cross = sigPairs.join(a, "s1").join(b, "s2")
      .select(least(col("da"), col("db")).as("d1"),
        greatest(col("da"), col("db")).as("d2"), col("hamming"))
    val within = sigs.as("x").join(sigs.as("y"),
        col("x.simhash") === col("y.simhash") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
        lit(0).as("hamming"))
    cross.union(within)
      .select(col("d1"), col("d2"), col("hamming"))
      .orderBy(col("d1"), col("d2"))
  }

  /**
   * x130 — LEAKAGE-AWARE TRAIN/VAL/TEST SPLIT: x67's deterministic hash
   * split applied to the NEAR-DUP CLUSTER, not the document. Per-doc
   * hash splitting (x67) lets a training document's near-duplicate land
   * in test — the evaluation-leakage failure Lee et al. 2022 §5 measure
   * (test perplexity silently inflated by train-set near-dups) and the
   * reason code/LLM corpus builds (The Stack, StarCoder) split AFTER
   * clustering. Here the split key is the cluster id (the MinHash-LSH
   * connected component of [[dupClusters]], singleton docs are their
   * own cluster), so every near-dup cluster lands ATOMICALLY in one
   * split; the bucket recipe is x67's (first 8 md5 hex digits mod 1000;
   * <960 train, <980 val, else test), stable under corpus growth and
   * identical across engines.
   *
   * Scale shape: the cluster pass is x21's (banded pair generation +
   * O(log n) label rounds — the hard part, measured at-most-linear in
   * the sf1 probe); the split itself is a map-side projection on the
   * label table plus one tiny window for cluster_size. Output is the
   * per-doc assignment a corpus build joins back to the data.
   */
  def leakageSplit(spark: SparkSession, dir: String): DataFrame = {
    val clusters = dupClusters(spark, dir)
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
    val bucket = conv(
      substring(md5(col("cluster_id").cast("string")), 1, 8), 16, 10)
      .cast("long") % 1000
    clusters
      .withColumn("bucket", bucket)
      .withColumn("part", when(col("bucket") < 960, "train")
        .when(col("bucket") < 980, "val").otherwise("test"))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        col("bucket"), col("part"))
      .orderBy(col("doc_id"))
  }

  /**
   * x109 — EXACT-SUBSTRING dedup (Lee et al. 2022, "Deduplicating
   * Training Data Makes Language Models Better"): excise every maximal
   * token region covered by a `k`-token substring that occurs more than
   * once in the corpus. Distinct from [[spanDupStats]]/[[spanExcise]]
   * (x28/x39), which tile NON-overlapping spans at fixed offsets: here
   * the k-grams SLIDE over every token offset, so duplicated text is
   * caught at ANY alignment, and overlapping/contiguous duplicated
   * grams are merged into maximal islands before excision — the Spark
   * re-expression of the paper's suffix-array scan as a hash-grouped
   * plan. Excision policy is C4-style (drop ALL occurrences); the
   * paper's keep-one variant is a WHERE-clause choice on the same plan.
   *
   * Plan shape: one posexplode (n_tokens rows per doc), one md5-keyed
   * occurrence count (uniform keys, skew-free), a join back, a per-doc
   * interval-merge window (island id = running count of gap-starts —
   * the classic overlap merge), and a coverage-filtered rebuild whose
   * per-row state is the doc's own island list. Every shuffle key is
   * the gram hash or doc_id, so the job is linear in corpus tokens —
   * the 100 TB shape (the gram-count table is the only big
   * intermediate, exactly as in the paper's distributed variant).
   */
  def exactSubstrExcise(spark: SparkSession, dir: String,
      k: Int = 12): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.load(spark, dir, "documents")
    val toksC = split(col("text"), " ")
    val base = docs.select(col("doc_id"), toksC.as("toks"),
      size(toksC).cast("long").as("n_tokens"))
    val grams = base.select(col("doc_id"),
      posexplode(when(col("n_tokens") >= k,
        transform(sequence(lit(0), (col("n_tokens") - k).cast("int")), i =>
          md5(concat_ws(" ", slice(col("toks"), i + 1, lit(k)))
            .cast("binary"))))
        .otherwise(array().cast("array<string>"))))
      .toDF("doc_id", "s", "gram_md5")
    val dupGrams = grams.groupBy(col("gram_md5"))
      .agg(count(lit(1)).as("occ"))
      .where(col("occ") >= 2)
      .select(col("gram_md5"))
    val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("s"))
    val islands = grams.join(dupGrams, "gram_md5")
      .select(col("doc_id"), col("s"))
      .withColumn("prev_max_e", max(col("s") + k).over(
        wOrd.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_island",
        when(col("prev_max_e").isNull || col("s") > col("prev_max_e"), 1)
          .otherwise(0))
      .withColumn("island", sum(col("new_island")).over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("s")).as("i_s"), max(col("s") + k).as("i_e"))
    val perDoc = islands.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_islands"),
        sum(col("i_e") - col("i_s")).as("dup_tokens"),
        // struct order inside the list is irrelevant: it only feeds the
        // order-insensitive coverage test below
        collect_list(struct(col("i_s"), col("i_e"))).as("ivs"))
    base.join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_islands"), lit(0L)).as("n_islands"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        concat_ws(" ",
          when(col("ivs").isNull, col("toks"))
            .otherwise(filter(col("toks"), (_, p) =>
              !exists(col("ivs"), iv =>
                p >= iv("i_s") && p < iv("i_e"))))).as("kept_text"))
      .orderBy(col("doc_id"))
  }

  /**
   * x117 — WINNOWING OVERLAP DETECTION (Schleimer/Wilkerson/Aiken's MOSS
   * fingerprints, [[graft.functions.Winnow]]): hash every word k-gram,
   * slide a w-window over the hash stream and keep each window's min.
   * Selection is position-synchronized — any shared token run of length
   * ≥ w+k−1 between two documents yields at least one SHARED selected
   * fingerprint — so counting shared fingerprints per pair finds LOCAL
   * overlap (quoted passages, boilerplate blocks) that whole-document
   * MinHash (x3, global resemblance) and exact-substring islands (x109,
   * within-corpus spans) frame differently. Plan shape is the LSH
   * standard: a map-only native fingerprint pass (~2/(w+1) of grams
   * survive), one shuffle of (doc, fingerprint) on the fingerprint, and
   * a self-join whose fan-out is bounded exactly like MOSS bounds it —
   * fingerprints occurring in more than `maxDf` documents are dropped
   * as boilerplate (they'd contribute quadratic pairs and no signal; at
   * 100 TB this cap is what keeps the join linear in true overlap).
   */
  def winnowingPairs(spark: SparkSession, dir: String, k: Int = 3,
      w: Int = 4, minShared: Int = 3, maxDf: Int = 50): DataFrame = {
    // materialize the fingerprint table once: three consumers (the df
    // cap and both pair-join sides) would otherwise each re-run the
    // winnow scan over the corpus
    val fps = Tables.load(spark, dir, "documents")
      .select(col("doc_id"),
        explode(graft.functions.Winnow.winnow(col("text"), k, w))
          .as("fph"))
      .localCheckpoint()
    val rare = fps.groupBy(col("fph"))
      .agg(count(lit(1)).as("df"))
      .where(col("df") <= maxDf)
      .select(col("fph"))
    val kept = fps.join(rare, "fph")
    kept.as("a").join(kept.as("b"),
        col("a.fph") === col("b.fph") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("shared"))
      .where(col("shared") >= minShared)
      .orderBy(col("d1"), col("d2"))
  }

  /**
   * x126 — CONTENT-DEFINED CHUNKING block dedup (the LBFS/FastCDC
   * primitive: Muthitacharoen et al., SOSP'01; Xia et al., ATC'16):
   * block boundaries derive from CONTENT, not offsets, so an insertion
   * shifts at most the block it lands in — the property fixed-offset
   * tiling (x28's span grid) lacks and the reason storage dedup and
   * block-level corpus dedup use CDC. A position i (gram..len) is a cut
   * iff the md5 of the `gram`-char window ENDING at i has a zero final
   * nibble (hash % 16 == 0 -> expected 16-char blocks); blocks run
   * cut-to-cut with a forced tail at len, block identity is the md5 of
   * the block text, and a block is DUPLICATED when >= 2 distinct docs
   * contain it (first in-region boundary re-synchronizes shared text,
   * so shared substrings align into identical blocks regardless of
   * their offsets).
   *
   * Boundary rule: position i is a cut iff the Rabin-Karp polynomial
   * hash of the `gram`-char window ending at i is divisible by 16
   * (expected 16-char blocks) — computed by the native
   * [[graft.functions.CdcCuts]] expression in ONE rolling pass per
   * document (one multiply-add per character; the original per-position
   * md5 explode paid one md5 PER CHARACTER and a cut-list shuffle +
   * join — that whole leg is now a map-side projection).
   *
   * Plan shape: cut lists are a map-side native projection, block
   * reconstruction is a map-only transform+explode with the text column
   * present (no second scan), and the only shuffles are the block-hash
   * aggregate and the per-doc rollup — never all-pairs, never a
   * self-join. Exact-integer outputs; ppm by positive-numerator floor
   * division.
   */
  def cdcBlocks(spark: SparkSession, dir: String, gram: Int = 8)
      : DataFrame = {
    import graft.functions.CdcCuts.cdcCuts
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text"),
        length(col("text")).cast("long").as("len"))
    val blocks = docs
      // native one-pass boundary scan; ascending positions, so the
      // array_union with the forced tail at len keeps sorted order
      .withColumn("cuts", cdcCuts(col("text"), gram, 16))
      .withColumn("cuts2", array_union(col("cuts"), array(col("len"))))
      .select(col("doc_id"), col("len"), col("text"),
        explode(expr(
          """transform(cuts2, (c, j) -> struct(
            |  CASE WHEN j = 0 THEN CAST(0 AS BIGINT) ELSE cuts2[j - 1]
            |    END AS s, c AS e))""".stripMargin)).as("sp"))
      .select(col("doc_id"), col("len"),
        (col("sp.e") - col("sp.s")).as("blen"),
        md5(expr("substring(text, CAST(sp.s + 1 AS INT), " +
          "CAST(sp.e - sp.s AS INT))")).as("bh"))
    val freq = blocks.groupBy(col("bh"))
      .agg(countDistinct(col("doc_id")).as("n_docs_b"))
    blocks.join(freq, "bh")
      .groupBy(col("doc_id"), col("len"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("n_docs_b") >= 2, 1L).otherwise(0L)).as("dup_blocks"),
        sum(when(col("n_docs_b") >= 2, col("blen")).otherwise(0L))
          .as("dup_chars"))
      .select(col("doc_id"), col("n_blocks"), col("dup_blocks"),
        col("dup_chars"),
        // greatest(len, 1): a zero-length doc divides by zero under
        // ANSI; its dup_chars is necessarily 0 so the ppm stays exact
        expr("(dup_chars * 1000000L) div greatest(len, 1L)").as("dup_ppm"))
      .orderBy(col("doc_id"))
  }

  /**
   * x127 — CORPUS-LEVEL LINE DEDUP (boilerplate removal; CCNet §4.1 /
   * RefinedWeb line-wise filtering): hash every line, count the DISTINCT
   * documents each line appears in, drop lines shared by >= `minDocs`
   * docs (headers, footers, nav chrome — the boilerplate that dominates
   * crawl data), and reassemble each document's surviving lines IN
   * ORDER. This removes a LINE from every doc — the granularity none of
   * the doc-level (x1–x4), block-level (x126) or substring (x109)
   * dedups express.
   *
   * The fixture corpus is single-line, so the entry derives a
   * deterministic lined corpus first (the closed-form-fixture trick,
   * cf. the synthetic URLs of x128): a per-source header line
   * (boilerplate shared by every doc of that source), the doc's own
   * tokens in `chunk`-token body lines, and a corpus-wide footer line.
   *
   * Plan shape at 100 TB: ONE posexplode (map-side), a line-frequency
   * aggregate keyed on md5(line) — the HASH travels through the
   * shuffle, never the line text twice — a hash-keyed join back, and a
   * per-doc reassembly aggregate. No pair join anywhere; the frequency
   * table is itself partial-aggregated map-side. Exact-integer metrics.
   */
  def lineDedup(spark: SparkSession, dir: String, chunk: Int = 10,
      minDocs: Int = 3): DataFrame = {
    val docs = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val lined = docs.select(col("doc_id"),
      expr(
        s"""concat(
           |  array(concat('== ', source, ' header ==')),
           |  transform(
           |    sequence(0L, CAST(ceil(size(split(text, ' ')) / ${chunk}.0)
           |      AS BIGINT) - 1L),
           |    i -> array_join(slice(split(text, ' '),
           |      CAST(i * $chunk + 1 AS INT), $chunk), ' ')),
           |  array('-- standard license footer --'))""".stripMargin)
        .as("lines"))
    lineDedupOn(lined, minDocs)
  }

  /** Core of [[lineDedup]] over an already-lined corpus — (doc_id,
    * lines: array&lt;string&gt;) in. Split out so specs can plant
    * boilerplate corpora directly. */
  def lineDedupOn(lined: DataFrame, minDocs: Int): DataFrame = {
    // planned ONCE: the frequency aggregate and the reassembly
    // join both consume this frame (the x73 diamond), and upstream
    // `lined` may carry an interpreted line-generation chain (x127's
    // fixture lining) that would otherwise re-plan into both branches
    // — PlanGuard check 6 caught exactly that here (round 16).
    // persist(DISK_ONLY), NOT localCheckpoint (round-16 ADVICE): the
    // exploded frame is CORPUS-sized; persist keeps lineage (an executor
    // loss recomputes, instead of failing the job) while both consumers
    // still share one in-memory-relation scan — check 6 stays satisfied.
    val exploded = lined
      .select(col("doc_id"), posexplode(col("lines")).as(Seq("pos", "line")))
      .withColumn("lh", md5(col("line")))
      .persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val freq = exploded.groupBy(col("lh"))
      .agg(countDistinct(col("doc_id")).as("line_docs"))
    exploded.join(freq, "lh")
      .withColumn("rm", col("line_docs") >= minDocs)
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("rm"), 1L).otherwise(0L)).as("lines_removed"),
        sum(when(col("rm"), length(col("line"))).otherwise(0L))
          .as("chars_removed"),
        array_join(expr(
          "transform(array_sort(collect_list(CASE WHEN NOT rm THEN " +
            "struct(pos, line) END)), s -> s.line)"), "\n")
          .as("text_clean"))
      .orderBy(col("doc_id"))
  }
}
