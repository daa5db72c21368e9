package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for corpus curation at 100 TB scale.
 *
 * Scale notes (the part that matters):
 *  - exact dedup is a hash-shuffle on the dedup key — Spark's
 *    `dropDuplicates`, one shuffle, partial-aggregate map side;
 *  - near-dup via MinHash is **banded LSH**: the only shuffles are
 *    (a) groupBy(doc) over exploded shingles to build signatures and
 *    (b) a self-equi-join on (band, bandHash). There is NO all-pairs
 *    comparison anywhere — candidate generation is linear in the number
 *    of colliding pairs, the classic MMDS ch.3 construction;
 *  - SimHash near-dup uses the pigeonhole banding of the 64-bit
 *    fingerprint (hamming ≤ 3 ⇒ at least one of 4 16-bit chunks equal),
 *    again an equi-join, not a cross join.
 */
object Dedup {

  /** Exact dedup on `keyCols` keeping the smallest `idCol` per group —
    * deterministic (unlike dropDuplicates' arbitrary row) so results are
    * reproducible run-to-run and auditable. A `min_by(struct(*), id)`
    * aggregation: one hash shuffle with map-side partial aggregation and no
    * per-partition sort — at billion-row scale the sort a window variant
    * needs dominates, while the agg buffer is one row per key. */
  def exactKeepMin(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame = {
    val cols = df.columns.toSeq
    // min_by skips rows whose ordering value is NULL — a group of all-NULL
    // ids would aggregate to one all-NULL row (keys included). The ordering
    // key is therefore a never-NULL struct with a null flag first: NULL ids
    // sort before every real id (the window version's asc_nulls_first), and
    // the struct itself is always comparable. A full-row hash is the LAST
    // tiebreak: rows that tie on (keyCols, idCol) — routine id collisions
    // in scraped data — but differ in payload (source URL, timestamp)
    // previously surfaced whichever row arrived first in its partition,
    // silently breaking the documented run-to-run reproducibility.
    val ord = struct(when(col(idCol).isNull, 0).otherwise(1).as("__nn"),
      col(idCol).as("__id"),
      xxhash64(cols.map(col): _*).as("__rh"))
    df.groupBy(keyCols.map(col): _*)
      .agg(min_by(struct(cols.map(col): _*), ord).as("__keep"))
      .select(cols.map(c => col("__keep")(c).as(c)): _*)
  }

  /**
   * CCNet-style boilerplate removal: drop every copy of any LINE whose
   * corpus-wide occurrence count reaches `minRepeat` (cookie banners,
   * nav menus, subscribe footers — text repeated across many pages), and
   * reassemble each document from its surviving lines in order.
   *
   * Lines are exact `\n` splits (no trimming — normalization is the
   * caller's choice, and exact lines keep the op replayable by any
   * engine). Every input document comes back (a fully-boilerplate doc
   * returns text "") with its original line count and the number removed.
   *
   * Scale shape: explode to (doc, pos, line) → one hash aggregation for
   * corpus line counts → an equi-join back on the line (the count side is
   * DISTINCT lines, so a million-fold repeated banner is ONE row on the
   * build side — frequency skew lands on the probe side where it
   * parallelizes) → one per-doc regroup. Three linear shuffles, nothing
   * driver-side, no all-pairs anywhere.
   */
  def removeRepeatedLines(df: DataFrame, idCol: String, textCol: String,
      minRepeat: Long): DataFrame = {
    require(minRepeat >= 2, s"removeRepeatedLines: minRepeat=$minRepeat would drop every line")
    // NULL text reads as "" (one empty line): posexplode of a NULL array
    // emits no rows, which would silently DROP the document from the output
    val lines = df.select(col(idCol),
      posexplode(split(coalesce(col(textCol), lit("")), "\n"))
        .as(Seq("__pos", "__line")))
    val counts = lines.groupBy("__line").agg(count(lit(1)).as("__cnt"))
    lines.join(counts, Seq("__line"))
      .select(col(idCol), col("__pos"), col("__line"),
        // blank lines are structure, not boilerplate: "" trivially reaches
        // minRepeat corpus-wide, and removing it would glue paragraphs
        // together in every document
        (col("__cnt") >= minRepeat &&
          length(trim(col("__line"))) > 0).as("__rm"))
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_lines"),
        sum(col("__rm").cast("long")).as("n_lines_removed"),
        // when() without otherwise is NULL for removed lines and
        // collect_list skips NULLs; array_sort on (pos, line) structs
        // restores document order deterministically
        array_join(transform(
          array_sort(collect_list(when(!col("__rm"),
            struct(col("__pos"), col("__line"))))),
          s => s("__line")), "\n").as(textCol))
  }

  /**
   * GLOBAL first-occurrence paragraph dedup (the C4 pipeline's cross-
   * document span rule, Raffel et al. 2020 §2.2 — distinct from
   * [[removeRepeatedLines]], which only drops lines repeated above a
   * corpus threshold): every distinct paragraph survives in exactly ONE
   * place — its first occurrence by (docId, position) — and is excised
   * everywhere else, so shared boilerplate (subscription footers, license
   * blocks, navigation) remains represented once corpus-wide instead of
   * once per crawl hit. Identity is the md5 of the NORMALIZED paragraph
   * ([[TextOps.normalize]]: case/punct/whitespace-insensitive), so
   * trivially reformatted copies dedup too; paragraphs that are blank
   * after trim are dropped outright (blank-line runs collapse); NULL text
   * reads as "" and yields "". Output is (idCol, cleaned) for every input
   * document — a document losing all paragraphs keeps an empty string.
   *
   * Scale shape: paragraph explode → one fingerprint aggregation keeping
   * min(struct(id, pos)) per fingerprint (map-side combine; a million-fold
   * repeated footer is ONE build row) → an equi-join back on the
   * fingerprint → one per-doc regroup. Three linear shuffles, no
   * all-pairs, no window over the full corpus.
   */
  def dedupParagraphs(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // ids must be NON-NULL: a NULL id would make the min(struct) winner
    // ordering indeterminate AND the final equi-join back on idCol silently
    // emit cleaned="" for that document (NULL never equi-joins). Enforced
    // in-plan — coalesce short-circuits, so the error fires only if a NULL
    // id actually flows through; no extra validation pass over the corpus.
    val src = df.withColumn(idCol, coalesce(col(idCol), raise_error(lit(
      s"dedupParagraphs: NULL $idCol — document identity must be non-null"))))
    val paras = src.select(col(idCol),
      posexplode(split(coalesce(col(textCol), lit("")), "\n"))
        .as(Seq("__pos", "__p")))
      .filter(trim(col("__p")) =!= "")
      .withColumn("__fp", md5(TextOps.normalize(col("__p"))))
    // first occurrence = lexicographic min of (id, pos); ids are enforced
    // non-null above so the struct ordering is total and deterministic
    val winners = paras.groupBy("__fp")
      .agg(min(struct(col(idCol).as("__wid"), col("__pos").as("__wpos"))).as("__w"))
    val kept = paras.join(winners, Seq("__fp"))
      .filter(col(idCol) === col("__w.__wid") && col("__pos") === col("__w.__wpos"))
    val agg = kept.groupBy(idCol)
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("__pos"), col("__p")))),
        s => s("__p")), "\n").as("cleaned"))
    src.select(col(idCol)).join(agg, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("cleaned"), lit("")).as("cleaned"))
  }

  /**
   * Exact substring-span dedup (the Lee et al. 2022 "Deduplicating
   * Training Data" operation at n-gram granularity): remove every token
   * covered by an n-gram whose corpus-wide occurrence count reaches
   * `minRepeat`. Unlike document/line dedup this catches boilerplate
   * embedded MID-DOCUMENT (license headers, navigation sentences, quoted
   * chain letters) — each document keeps its unique remainder.
   *
   * A token at position p is removed iff some flagged gram starts in
   * [p-n+1, p]; the cleaned text is the kept tokens in order. Documents
   * shorter than n words have no grams and pass through intact; NULL
   * text cleans to "".
   *
   * Scale shape: one gram explode → one corpus count aggregation (the
   * flagged side is DISTINCT grams, so a million-fold-repeated banner is
   * one build row) → an equi-join back → one per-doc regroup of flagged
   * START POSITIONS only (bounded by doc length); coverage expansion is
   * a per-row array expression, not a join. No all-pairs anywhere.
   */
  def removeRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int, minRepeat: Long): DataFrame = {
    require(n >= 2, s"removeRepeatedSpans: n=$n")
    require(minRepeat >= 2,
      s"removeRepeatedSpans: minRepeat=$minRepeat would drop every token")
    // NULL text reads as "" (words(NULL) is NULL, which would NULL-poison
    // n_tokens/n_removed instead of honoring the cleans-to-"" contract)
    val base = df.select(col(idCol),
      TextOps.words(coalesce(col(textCol), lit(""))).as("__ws"))
    val grams = base.filter(size(col("__ws")) >= n)
      .select(col(idCol), posexplode(transform(
        sequence(lit(0), size(col("__ws")) - n),
        i => md5(concat_ws(" ", slice(col("__ws"), i + 1, lit(n))))))
        .as(Seq("__gpos", "__gh")))
    val counts = grams.groupBy("__gh").agg(count(lit(1)).as("__f"))
    val flagged = grams.join(counts, Seq("__gh"))
      .filter(col("__f") >= minRepeat)
      .groupBy(idCol).agg(collect_list(col("__gpos")).as("__starts"))
    base.join(flagged, Seq(idCol), "left")
      .select(col(idCol), col("__ws"),
        coalesce(col("__starts"), array().cast("array<int>")).as("__st"))
      .select(col(idCol),
        size(col("__ws")).cast("long").as("n_tokens"),
        // sequence(0, -1) REVERSES instead of being empty — guard the
        // empty-document case explicitly
        transform(filter(
          when(size(col("__ws")) === 0, array().cast("array<int>"))
            .otherwise(sequence(lit(0), size(col("__ws")) - 1)),
          p => !exists(col("__st"), s => s <= p && p <= s + (n - 1))),
          p => element_at(col("__ws"), p + 1)).as("__kept"))
      .select(col(idCol), col("n_tokens"),
        (col("n_tokens") - size(col("__kept"))).cast("long").as("n_removed"),
        concat_ws(" ", col("__kept")).as("cleaned"))
  }

  /** Word n-gram shingle array (distinct). Tokenization is whitespace-RUN
    * splitting ([[TextOps.words]]): a literal single-space split embeds
    * empty tokens on double spaces and glues words across newlines, so a
    * benchmark doc (eval sets are whitespace-normalized) would share zero
    * shingles with the same content line-wrapped — silently defeating
    * near-dup detection and decontamination. Documents shorter than `n`
    * words become one shingle.
    *
    * PERFORMANCE: this single-Column convenience form embeds the split
    * INSIDE the shingle transform's lambda, where a free (non-lambda-
    * variable) expression is re-evaluated per ELEMENT on the interpreted
    * HOF path — O(words) redundant regex splits per document. Fine for
    * tests and one-off frames; any HOT path must bind the words array as
    * a column attribute through a projection and call
    * [[shingleArrayOfWords]] on it instead (what [[shingles]] does — the
    * winnowFingerprints fix, same mechanism, measured ~25x CPU there). */
  def shingleArray(text: Column, n: Int): Column =
    // whitespace-run tokenization: one regexp_replace pass collapses every
    // whitespace run to a single space, then the hot split stays on the
    // literal-space path. (Splitting directly on the char class
    // measured ~35% slower end-to-end on simhash; a translate()-based
    // char map measured slower still.) Token streams are identical to
    // [[TextOps.words]] for any non-blank doc (blank docs: words' []
    // vs [""] here -- both collapse to the single "" shingle below).
    // TextOps.WsRun, not Java \s: RE2 oracles exclude VT from \s.
    shingleArrayOfWords(
      split(trim(regexp_replace(text, TextOps.WsRun, " ")), " "), n)

  /** Shingle assembly over an ALREADY-TOKENIZED words array. Callers on a
    * hot path must pass a BOUND column attribute, not the split expression:
    * a free (non-lambda-variable) expression inside a higher-order
    * function's lambda is re-evaluated per ELEMENT on the interpreted eval
    * path (HOFs don't participate in codegen), so `slice(w, ...)` over an
    * inline split expression re-runs the whitespace regex split once per
    * shingle position — O(words) redundant splits per document
    * ([[shingles]] binds it; the winnowFingerprints fix, same mechanism,
    * measured ~25x CPU there). */
  private[graft] def shingleArrayOfWords(w: Column, n: Int): Column =
    when(size(w) >= n,
      array_distinct(transform(sequence(lit(0), size(w) - n),
        i => concat_ws(" ", slice(w, i + 1, lit(n))))))
      .otherwise(array(concat_ws(" ", w)))

  /** (id, shingle) exploded + distinct — the input to MinHash. The words
    * array is BOUND through a projection so the shingle transform reads an
    * attribute (see [[shingleArrayOfWords]]); CollapseProject keeps the
    * split (non-cheap producer referenced more than once is never
    * inlined). The generator output is row-for-row identical to the
    * pre-r16 one-expression shape: shingleArrayOfWords never returns an
    * empty or null array for a non-null words array (the otherwise branch
    * is a 1-element literal array), and a NULL text still collapses to the
    * single "" shingle through concat_ws's null-as-empty contract exactly
    * as before.
    * (Left UNfiltered on ids on purpose: an r16 experiment that dropped
    * NULL ids here to unify consumer subtrees broke minhashNearDups'
    * existing exchange reuse instead — measured 21→47 CPU-s/rep — while
    * the same filter INSIDE ngramJaccardNearDups measured −30% CPU.
    * Subtree identity under inferred-filter pushdown is shape-specific:
    * decide per consumer, by measurement.) */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("__id"),
        split(trim(regexp_replace(col(textCol), TextOps.WsRun, " ")), " ")
          .as("__w"))
      .select(col("__id"), explode(shingleArrayOfWords(col("__w"), n)).as("__sh"))

  /**
   * MinHash + banded-LSH near-duplicate pairs with exact verification.
   *
   * Pipeline (each stage a narrow DataFrame op; shuffles marked):
   *   1. shingle → explode                       (no shuffle)
   *   2. signatures: groupBy(__id) with `numHashes` min-aggregates over
   *      seeded xxhash64 of the shingle          (shuffle on __id)
   *   3. bands: each signature → `bands` rows keyed by a hash of its
   *      r = numHashes/bands slice               (no shuffle)
   *   4. candidates: self-equi-join on (band, bandHash), id_a < id_b
   *                                              (shuffle on band key)
   *   5. exact verify: join candidate ids back to per-doc shingle-hash
   *      sets; Jaccard = |∩| / |∪| via array_intersect (broadcastable
   *      when the candidate set is small)        (shuffle on id)
   *
   * Returns (id_a, id_b, jaccard) for verified pairs ≥ `threshold`.
   * At 100 TB the hotspot is a skewed band bucket (boilerplate duplicated
   * billions of times → a quadratic self-join inside one bucket):
   * `maxBucketWidth` drops buckets wider than the cap before the join —
   * documents that pathological belong to exact dedup (always run exact
   * before near-dup), and each doc still has `bands-1` other chances to
   * collide. Dropped buckets are a recall trade, not a correctness one.
   */
  def minhashNearDups(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 128,
      bands: Int = 64,
      threshold: Double = 0.5,
      maxBucketWidth: Int = 100000): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be a multiple of bands")
    val r = numHashes / bands

    val sh = shingles(df, idCol, textCol, shingleSize)

    // 2. signatures — numHashes min-aggs per doc. The variable-length
    // shingle string is hashed ONCE; the numHashes family members are
    // seeded xxhash64 over that fixed 8-byte base hash — far cheaper per
    // member than re-hashing the string numHashes times (the hottest CPU
    // in the whole pipeline), and a principled independent family (unlike
    // additive double-hashing, which ANSI mode also rejects for i64
    // wrap-around). Precision is exact regardless: step 5 verifies true
    // Jaccard on the full shingle-hash sets.
    // ONE aggregation computes BOTH the 128 signature min-aggs and the
    // verification shingle-hash set: the expensive side (scan + shingle
    // explode + map-side partial aggregation) runs once and its exchange is
    // shared by the banding and verification consumers via ReuseExchange.
    // (Two earlier shapes both lost: separate sig/sets aggregations scanned
    // the corpus twice; deriving signatures from the collected set as
    // 128 array_min(transform(...)) traded the second scan for per-doc
    // array materialization and measured ~25% slower.)
    val agg = minhashAgg(sh, numHashes)
    val banded = bandedKeys(agg.drop("__hs"), bands, r, maxBucketWidth)

    // 4. candidate pairs (equi-join on band bucket — NOT all-pairs)
    val a = banded.select(col("__id").as("id_a"), col("__band"), col("__bh"))
    val b = banded.select(col("__id").as("id_b"), col("__band").as("__band2"), col("__bh").as("__bh2"))
    val candidates = a.join(b,
        col("__band") === col("__band2") && col("__bh") === col("__bh2") &&
          col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()

    // 5. exact verification against the SAME aggregation's set column
    verifyJaccard(candidates, agg.select(col("__id"), col("__hs")), threshold)
  }

  /** The signature/set aggregation of [[minhashNearDups]] step 2: ONE
    * groupBy computes the `numHashes` min-aggs AND the verification
    * shingle-hash set, so the expensive side (scan + shingle explode +
    * map-side partial agg) runs once and its exchange is shared by the
    * banding and verification consumers via ReuseExchange. Extracted so
    * the cross-corpus variant builds each side with identical machinery. */
  private def minhashAgg(sh: DataFrame, numHashes: Int): DataFrame = {
    val sigAggs = (0 until numHashes).map(i =>
      min(xxhash64(col("__h0"), lit(i))).as(s"__h$i"))
    sh.withColumn("__h0", xxhash64(col("__sh")))
      .groupBy("__id")
      .agg(collect_set(col("__h0")).as("__hs"), sigAggs: _*)
  }

  /** Band keys (step 3) + skew guard: each signature row → `bands` rows
    * keyed by a hash of its r-wide slice, with pathologically wide buckets
    * discarded by [[dropOverCap]] (a window count — the r16 A/B
    * measured a groupBy + anti-join ~20% slower here because the second
    * consumer recomputes the signature aggregation; re-A/B'd r17 with the
    * broadcast-heavy-keys shape, see OPTIMIZATION_r17.md). */
  private def bandedKeys(sig: DataFrame, bands: Int, r: Int,
      maxBucketWidth: Int): DataFrame = {
    val bandStructs = (0 until bands).map { b =>
      val slice = (b * r until (b + 1) * r).map(i => col(s"__h$i"))
      struct(lit(b).as("band"), xxhash64(slice: _*).as("bh"))
    }
    val banded0 = sig
      .select(col("__id"), explode(array(bandStructs: _*)).as("__bk"))
      .select(col("__id"), col("__bk.band").as("__band"), col("__bk.bh").as("__bh"))
    dropOverCap(banded0, Seq("__band", "__bh"), maxBucketWidth)
  }

  /**
   * Cross-corpus NEAR-duplicate detection (the fuzzy member of
   * [[crossDedup]]'s family): MinHash-banded candidate pairs between an
   * accumulated `corpus` and an incoming `shard`, verified by exact
   * Jaccard on the full shingle-hash sets. Returns
   * (shard_id, corpus_id, jaccard) for verified pairs ≥ `threshold` — the
   * incremental-ingestion decontamination join ("is this new document a
   * near-copy of ANYTHING we already hold?") without ever comparing
   * shard docs to each other.
   *
   * Scale shape mirrors [[minhashNearDups]]: each side is one
   * signature/set aggregation; the candidate join is corpus-bands ⋈
   * shard-bands on (band, bandHash) — linear in colliding pairs, skew
   * capped per side, no all-pairs. In steady state the corpus side's
   * signatures/sets would persist as their own table so only the shard
   * side recomputes per ingest.
   */
  def crossNearDups(
      corpus: DataFrame,
      shard: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 128,
      bands: Int = 64,
      threshold: Double = 0.5,
      maxBucketWidth: Int = 100000): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be a multiple of bands")
    val r = numHashes / bands
    val cAgg = minhashAgg(shingles(corpus, idCol, textCol, shingleSize), numHashes)
    val sAgg = minhashAgg(shingles(shard, idCol, textCol, shingleSize), numHashes)
    crossCandidatesVerified(cAgg, sAgg, bands, r, threshold, maxBucketWidth)
  }

  /**
   * Corpus MinHash signature/set table for PERSISTED incremental dedup —
   * the steady-state deployment [[crossNearDups]] documents: compute this
   * ONCE per corpus (or incrementally per ingest), write it as its own
   * Delta table, and each new shard joins against the stored signatures
   * without ever rereading corpus text. Columns: the id (named `idCol`),
   * `sig` (array<long>, the numHashes min-hashes in order) and `hset`
   * (array<long>, the distinct shingle hashes for exact verification).
   */
  def signatures(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 128): DataFrame =
    minhashAgg(shingles(df, idCol, textCol, shingleSize), numHashes)
      .select(col("__id").as(idCol),
        array((0 until numHashes).map(i => col(s"__h$i")): _*).as("sig"),
        col("__hs").as("hset"))

  /**
   * [[crossNearDups]] against a PERSISTED signature table (the output of
   * [[signatures]], typically read back from Delta): only the shard side
   * computes shingles; the corpus side is banding + join over the stored
   * `sig`/`hset` columns. Must return exactly what [[crossNearDups]]
   * returns for the same corpus — the persistence is a cache, not a
   * semantic change.
   */
  def crossNearDupsAgainstSignatures(
      corpusSigs: DataFrame,
      shard: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 128,
      bands: Int = 64,
      threshold: Double = 0.5,
      maxBucketWidth: Int = 100000): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be a multiple of bands")
    val r = numHashes / bands
    // one-row probe (the package's requireDim discipline): a signature
    // table persisted under a different numHashes would otherwise die
    // mid-job on ANSI element_at — or worse, silently band a truncated
    // signature when MORE hashes are stored than requested
    // sampled over non-null sigs (probeWidth's rule): a leading NULL sig
    // row must raise the real diagnostic, not an NPE on getInt
    corpusSigs.select(size(col("sig")).as("n"))
      .filter(col("n").isNotNull).limit(1).collect()
      .headOption.foreach { row =>
        require(row.getInt(0) == numHashes,
          s"crossNearDupsAgainstSignatures: stored signatures carry " +
            s"${row.getInt(0)} hashes but numHashes=$numHashes was requested " +
            "— recompute the signature table or match the parameter")
      }
    // re-spread the stored signature vector into the positional columns
    // bandedKeys expects — the band hashing is IDENTICAL to the live path
    val cAgg = corpusSigs.select(
      (col(idCol).as("__id") +: col("hset").as("__hs") +:
        (0 until numHashes).map(i => element_at(col("sig"), i + 1).as(s"__h$i"))): _*)
    val sAgg = minhashAgg(shingles(shard, idCol, textCol, shingleSize), numHashes)
    crossCandidatesVerified(cAgg, sAgg, bands, r, threshold, maxBucketWidth)
  }

  /** The shared tail of [[crossNearDups]] and
    * [[crossNearDupsAgainstSignatures]]: banded corpus×shard candidate
    * join + exact Jaccard verification over the (__id, __h*, __hs)
    * aggregate frames. ONE definition — the persisted-signature path must
    * return exactly what the live path returns, and a threshold or
    * union-formula tweak applied to one copy would silently diverge them.
    */
  private def crossCandidatesVerified(
      cAgg: DataFrame, sAgg: DataFrame, bands: Int, r: Int,
      threshold: Double, maxBucketWidth: Int): DataFrame = {
    val cB = bandedKeys(cAgg.drop("__hs"), bands, r, maxBucketWidth)
      .select(col("__id").as("corpus_id"), col("__band"), col("__bh"))
    val sB = bandedKeys(sAgg.drop("__hs"), bands, r, maxBucketWidth)
      .select(col("__id").as("shard_id"), col("__band").as("__band2"),
        col("__bh").as("__bh2"))
    val candidates = sB.join(cB,
        col("__band") === col("__band2") && col("__bh") === col("__bh2"))
      .select("shard_id", "corpus_id").distinct()
    jaccardVerified(candidates, "shard_id", sAgg, "corpus_id", cAgg, threshold)
  }

  /** THE exact-Jaccard verification tail — one definition for the
    * same-corpus ([[verifyJaccard]]) and cross-corpus
    * ([[crossCandidatesVerified]]) paths (they had byte-identical copies;
    * a threshold or union-formula tweak applied to one would silently
    * diverge minhashNearDups from crossNearDups). */
  private def jaccardVerified(candidates: DataFrame,
      aCol: String, aSets: DataFrame, bCol: String, bSets: DataFrame,
      threshold: Double): DataFrame = {
    val withSets = candidates
      .join(aSets.select(col("__id").as(aCol), col("__hs").as("__hsa")), aCol)
      .join(bSets.select(col("__id").as(bCol), col("__hs").as("__hsb")), bCol)
    val inter = size(array_intersect(col("__hsa"), col("__hsb"))).cast("double")
    val union = (size(col("__hsa")) + size(col("__hsb"))).cast("double") - inter
    withSets
      .withColumn("jaccard", inter / union)
      .filter(col("jaccard") >= threshold)
      .select(aCol, bCol, "jaccard")
  }

  /** Exact Jaccard verification: join candidate (id_a, id_b) pairs to the
    * per-doc shingle-hash sets (`__id`, `__hs`) and keep pairs ≥ threshold. */
  private def verifyJaccard(candidates: DataFrame, sets: DataFrame,
      threshold: Double): DataFrame =
    jaccardVerified(candidates, "id_a", sets, "id_b", sets, threshold)

  /** The df/bucket skew guard shared by the inverted-index joins: rows
    * whose `keys` group holds more than `cap` rows are DROPPED, counted
    * with count(*) over Window.partitionBy(keys) — ONE exchange + sort of
    * the full input, whose output stays exchanged AND sorted on the keys,
    * so a downstream sort-merge self-join on the same keys reuses both
    * for free. (A groupBy + broadcast anti-join of the over-cap keys
    * measured 25–35% slower at sf0.1 and sf1: OPTIMIZATION_r17.md.) */
  private def dropOverCap(df: DataFrame, keys: Seq[String], cap: Int): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
    df.withColumn("__df", count(lit(1)).over(w))
      .filter(col("__df") <= cap)
      .drop("__df")
  }

  /** Default posting-list cap for the inverted-index near-dup joins:
    * 1% of the corpus, floored at 1000 (small corpora keep effectively
    * complete candidate generation) and ceilinged at 100k (the absolute
    * bound on per-shingle quadratic work). At 10M docs this is the old
    * flat 100k; at 1M docs it is 10k — 100× less candidate work per hot
    * shingle than the flat literal allowed; below 100k docs the floor
    * makes it a no-op for any realistic shingle distribution. */
  def autoDocFreqCap(nDocs: Long): Int =
    math.min(100000L, math.max(1000L, nDocs / 100L)).toInt

  /** Resolve the posting-list cap AND the frame the pipeline should read.
    * Explicit cap wins; else a caller-supplied `nDocs` (free when the
    * caller already knows it — e.g. from Delta stats,
    * `Snapshot.approxNumRecords`); else count `df` ONCE through an
    * RDD-level MEMORY_AND_DISK persist: the count materializes the blocks
    * and the shingle pipeline reads them, so a possibly-expensive (or
    * non-deterministic) upstream lineage is evaluated exactly once instead
    * of once for the count and again for the join. RDD persist, NOT
    * Dataset.persist: the session's CacheManager holds a strong reference
    * to a Dataset cache until an explicit unpersist (the ContextCleaner
    * never reclaims it), so a per-call Dataset.persist would leak one
    * cached corpus per default-cap call for the session's lifetime — an
    * RDD persist is auto-unpersisted by the ContextCleaner once the
    * result frames are garbage. An already-persisted input is used as-is
    * (its cache lifecycle belongs to the caller). */
  private def resolveDocFreqCap(
      df: DataFrame, maxDocFreq: Int, nDocs: Long): (DataFrame, Int) =
    if (maxDocFreq >= 0) (df, maxDocFreq)
    else if (nDocs >= 0) (df, autoDocFreqCap(nDocs))
    else if (df.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
      (df, autoDocFreqCap(df.count()))
    else {
      val rdd = df.rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = rdd.count()
      (df.sparkSession.createDataFrame(rdd, df.schema), autoDocFreqCap(n))
    }

  /**
   * Direct n-gram Jaccard near-duplicate pairs via an inverted shingle
   * index — the no-hash-approximation member of the dedup family (exact /
   * MinHash / SimHash / n-gram Jaccard / embedding-cosine).
   *
   * Pipeline (shuffles marked):
   *   1. shingle → explode                      (no shuffle)
   *   2. posting-list cap: per-shingle document frequency via a window
   *      count; shingles occurring in more than `maxDocFreq` docs are
   *      dropped before the join — they are the "stopword shingles" whose
   *      posting lists would make the self-join quadratic (shuffle on __sh)
   *   3. candidates: self-equi-join on shingle, id_a < id_b — quadratic
   *      only within one posting list, bounded by the cap (reuses the
   *      step-2 shuffle partitioning)
   *   4. exact verify: join candidates to per-doc shingle-hash sets;
   *      Jaccard = |∩| / |∪|                    (shuffle on id)
   *
   * Candidate generation is COMPLETE (any pair with jaccard > 0 shares a
   * shingle) except for pairs whose every shared shingle exceeds the df
   * cap — at threshold 0.5 such a pair shares ≥ a third of its union, so
   * in practice only boilerplate-only near-dups are affected; those belong
   * to exact dedup. Same recall-not-correctness trade as the MinHash
   * bucket-width guard.
   *
   * `maxDocFreq < 0` (the default) resolves to [[autoDocFreqCap]] — a
   * corpus-proportional cap instead of a flat literal: a flat 100k cap
   * permits ~5×10^9 candidate pairs per hot shingle at web scale, while
   * 1% of the corpus keeps the per-shingle quadratic bounded relative to
   * the data actually joined. Pass an explicit cap to pin behavior, or
   * `nDocs` when the count is already known (Delta stats) — the default
   * otherwise counts through a persist ([[resolveDocFreqCap]]) so the
   * upstream evaluates once.
   */
  def ngramJaccardNearDups(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      threshold: Double = 0.5,
      maxDocFreq: Int = -1,
      nDocs: Long = -1L): DataFrame = {
    val (input, cap) = resolveDocFreqCap(df, maxDocFreq, nDocs)
    // ONE pass over the text (guide §1.2/§2.3): shingle identity collapses
    // to its xxhash64 at the explode — the identity the verification sets
    // ALWAYS used (collect_set(xxhash64(__sh))) — and the per-doc hash-set
    // aggregation becomes the SINGLE source for both the verification sets
    // and (re-exploded) the inverted posting index. The expensive side
    // (scan + whitespace normalization + shingle assembly) previously ran
    // twice — once for the posting path, once for the sets; now it runs
    // once and its exchange is shared by every consumer via ReuseExchange,
    // the minhashAgg construction. Per-doc distinctness of the re-exploded
    // postings equals the old explode's (shingleArray is distinct per doc).
    // Collision model, stated precisely: in candidate GENERATION a
    // collision merges two posting lists — extra candidate pairs, killed
    // by the exact verify. But the df CAP now counts the MERGED list, so
    // a rare shingle colliding with an above-cap shingle has its postings
    // dropped with it — a ~|above-cap shingles|/2^64 per-shingle extension
    // of the cap's documented recall trade (pairs whose every shared
    // shingle is capped), NOT a new correctness class: the verify-set
    // identity was already hash-based, and pairs retaining any un-capped,
    // un-collided shared shingle still surface.
    // NULL ids are dropped at the source, NOT left to optimizer inference:
    // the verification joins infer `isnotnull(id)` and push it into THEIR
    // copy of the aggregation subtree, which would otherwise differ from
    // the posting path's copy and defeat ReuseExchange — the single text
    // pass would silently become two (read in the executed plan,
    // plans/r16; measured −30% CPU). Result-identical: a NULL-id document
    // can never survive the id_a < id_b / equi-join conditions, so it
    // appears in no output pair either way. Scoped HERE, not in
    // shingles(): the same filter at the shared source broke
    // minhashNearDups' reuse the other way (measured 21→47 CPU-s/rep).
    val sh = shingles(input, idCol, textCol, shingleSize)
      .filter(col("__id").isNotNull)
      .select(col("__id"), xxhash64(col("__sh")).as("__h"))
    val sets = sh.groupBy("__id")
      .agg(collect_set(col("__h")).as("__hs"))
    val posting = sets.select(col("__id"), explode(col("__hs")).as("__h"))

    val rare = dropOverCap(posting, Seq("__h"), cap)

    // Sort-merge join: both sides are the SAME window-cap output, already
    // exchanged AND sorted on __h — SMJ costs zero extra exchanges
    // (ReuseExchange) and no broadcast build. The hint also keeps the
    // 8-byte key's low size estimate from baiting AQE into broadcasting a
    // whole posting list (measured slower at bench scale, and a posting
    // list is exactly what must never broadcast at corpus scale).
    //
    // COUNT-BOUNDED PREFILTER (r17, guide §1.2 "don't compute what you
    // throw away"): the old shape array-verified EVERY distinct candidate
    // pair (sf0.1: 1.13M pairs for 81 survivors — two set joins plus an
    // array_intersect each). The pair aggregation below replaces the
    // .distinct() (same shuffle, one extra count column) and yields
    //   c(a,b) = |shared UNCAPPED shingles|  (posting rows are distinct
    //            per (doc, shingle-hash), so the join emits each shared
    //            uncapped hash exactly once per pair),
    // and per doc  capped(d) = |hs(d)| − |rare rows of d|. Any pair's true
    // intersection satisfies |∩| ≤ c + min(capped_a, capped_b) =: cu, and
    // x/(sa+sb−x) is increasing in x, so
    //   jaccard_true ≤ cu/(sa+sb−cu) =: ubnd
    // (denominator ≥ max(sa,sb) > 0 since cu ≤ min(sa,sb); both divisions
    // are correctly-rounded doubles over exact integers < 2^53, and
    // correctly-rounded division is monotone in both operands, so the
    // inequality survives floating point). Pairs with ubnd < threshold are
    // dropped WITHOUT touching the hash-set arrays — they cannot pass the
    // exact filter. Survivors still get the UNCHANGED exact verification
    // (full sets, exact jaccard in the output), so results are identical
    // on every input, capped or not; when no shingle hits the cap,
    // capped ≡ 0 and ubnd IS the exact jaccard, leaving only true
    // near-dups for the array pass.
    val pairCounts = rare.select(col("__id").as("id_a"), col("__h"))
      .hint("merge")
      .join(rare.select(col("__id").as("id_b"), col("__h").as("__h2")),
        col("__h") === col("__h2") && col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("__c"))
    val rcnt = rare.groupBy("__id").agg(count(lit(1)).as("__rc"))
    val docStats = sets.select(col("__id"), size(col("__hs")).as("__sz"))
      .join(rcnt, Seq("__id"), "left")
      .select(col("__id"), col("__sz"),
        (col("__sz").cast("long") - coalesce(col("__rc"), lit(0L))).as("__cp"))
    val pre = pairCounts
      .join(docStats.select(col("__id").as("id_a"),
        col("__sz").as("__sa"), col("__cp").as("__ua")), "id_a")
      .join(docStats.select(col("__id").as("id_b"),
        col("__sz").as("__sb"), col("__cp").as("__ub")), "id_b")
    val cu = (col("__c") + least(col("__ua"), col("__ub"))).cast("double")
    val ubnd = cu / (col("__sa").cast("double") + col("__sb").cast("double") - cu)
    val candidates = pre.filter(ubnd >= threshold).select("id_a", "id_b")

    verifyJaccard(candidates, sets, threshold)
  }

  /**
   * Winnowing fingerprints (the MOSS document-fingerprinting scheme,
   * Schleimer/Wilkerson/Aiken SIGMOD'03): hash the ORDERED word k-grams,
   * slide a `window`-wide frame over the hash sequence, keep each frame's
   * minimum — any shared substring of at least k + window - 1 words is
   * GUARANTEED to contribute a shared fingerprint, while storage shrinks
   * by ~window×. The between-the-hash-families member of the dedup set:
   * position-aware like n-gram Jaccard, sublinear in stored grams like
   * MinHash.
   *
   * Per-document work is pure codegen array expressions (transform /
   * slice / array_min — no UDF, no explode until the final fingerprint
   * set), so the fingerprint stage is a narrow map. The hash is the md5
   * HEX STRING (min by byte order): [0-9a-f] ASCII compares identically
   * in Spark, DuckDB, or any byte-ordered engine, so external oracles
   * replay fingerprint selection exactly with no 64-bit signedness games.
   *
   * Documents shorter than k words emit NO fingerprints (nothing to
   * guarantee); k..k+window-2 words yield the single global minimum.
   * Returns (idCol, fp) distinct.
   */
  def winnowFingerprints(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 4,
      window: Int = 4): DataFrame = {
    require(k >= 1, s"winnowFingerprints: k must be >= 1, got $k")
    require(window >= 1, s"winnowFingerprints: window must be >= 1, got $window")
    // Each lambda-consumed array is BOUND as a column attribute (words →
    // gram-md5s → fingerprints) instead of nesting one Column expression:
    // a free (non-lambda-variable) expression inside a higher-order
    // function's lambda is re-evaluated per ELEMENT on the interpreted
    // eval path (HOFs don't participate in codegen), so the nested shape
    // re-ran the whitespace split for every gram and ALL the gram md5s for
    // every window position — O(words²) interpreted work per document.
    // Bound attributes make each stage evaluate once per row: measured
    // ~185 → ~7 process-CPU-s on the sf0.01 corpus, results byte-identical
    // (exceptAll both ways = 0). CollapseProject cannot undo the split —
    // a non-cheap producing expression referenced more than once is never
    // inlined. explode_outer + IS NOT NULL stands in for explode for the
    // same reason: with a CHEAP generator child (the bound attribute),
    // InferFiltersFromGenerate adds size(child) > 0 and predicate pushdown
    // re-substitutes the WHOLE pipeline into that filter BELOW the
    // projections (everything computed twice again — read in the executed
    // plan); outer generate blocks the inference, and the null filter on
    // the OUTPUT attribute is exact: a fingerprint is an md5 hex (never
    // null), so only the empty/null-array padding rows die — precisely
    // the rows plain explode dropped.
    val ws = df.select(col(idCol), TextOps.words(col(textCol)).as("__ws"))
    val hs = ws.select(col(idCol),
      transform(TextOps.ngrams(col("__ws"), k), g => md5(g)).as("__wfh"))
    val h = col("__wfh")
    val fps = hs.select(col(idCol),
      when(size(h) === 0, array().cast("array<string>"))
        .when(size(h) < window, array(array_min(h)))
        .otherwise(array_distinct(transform(
          sequence(lit(1), size(h) - window + 1),
          i => array_min(slice(h, i, lit(window)))))).as("__wfp"))
    fps.select(col(idCol), explode_outer(col("__wfp")).as("fp"))
      .filter(col("fp").isNotNull).distinct()
  }

  /**
   * Near-duplicate pairs by shared winnowing fingerprints: pairs sharing
   * at least `minShared` selected fingerprints. Same inverted-index shape
   * as [[ngramJaccardNearDups]] — explode is already done (fingerprints
   * ARE the posting entries), one self-equi-join on fp quadratic only
   * within a posting list, with the same document-frequency cap killing
   * boilerplate fingerprints before the join. Returns (id_a, id_b,
   * shared) with shared = the exact count of co-selected fingerprints.
   */
  def winnowNearDups(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 4,
      window: Int = 4,
      minShared: Int = 5,
      maxDocFreq: Int = -1,
      nDocs: Long = -1L): DataFrame = {
    val (input, cap) = resolveDocFreqCap(df, maxDocFreq, nDocs)
    val fps = winnowFingerprints(input, idCol, textCol, k, window)
    val rare = dropOverCap(fps, Seq("fp"), cap)
    rare.select(col(idCol).as("id_a"), col("fp"))
      .join(rare.select(col(idCol).as("id_b"), col("fp").as("__fp2")),
        col("fp") === col("__fp2") && col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).cast("long").as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** 64-bit SimHash fingerprint per document: sign-aggregate of shingle-hash
    * bits. One shuffle (groupBy id); fingerprint assembly is pure bit math.
    * `hashFn` maps the shingle column to a 64-bit hash — xxhash64 by default
    * (fastest, codegen'd); pluggable so a cross-engine-reproducible hash
    * (e.g. md5-derived) can stand in when an external oracle must replay
    * the fingerprints. */
  def simhash(df: DataFrame, idCol: String, textCol: String, shingleSize: Int = 3,
      hashFn: Column => Column = xxhash64(_)): DataFrame = {
    val sh = shingles(df, idCol, textCol, shingleSize)
      .withColumn("__h", hashFn(col("__sh")))
    val bitSums = (0 until 64).map { j =>
      sum(when(shiftright(col("__h"), j).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"__b$j")
    }
    val agg = sh.groupBy("__id").agg(bitSums.head, bitSums.tail: _*)
    val fp = (0 until 64).map { j =>
      when(col(s"__b$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce((x, y) => x.bitwiseOR(y))
    agg.select(col("__id").as(idCol), fp.as("simhash"))
  }

  /**
   * Connected components over an undirected edge list via the alternating
   * large-star / small-star contraction (Kiveris et al., "Connected
   * Components in MapReduce and Beyond", SoCC'14) — the shuffle-friendly
   * formulation whose round count is O(log² n) regardless of component
   * DIAMETER. Plain min-label propagation needs O(diameter) rounds: a
   * million-document chain of pairwise near-dups (common with templated
   * boilerplate) would need a million shuffles; the star contraction
   * collapses it in a handful.
   *
   * Per round (shuffles marked):
   *   large-star: every node u connects its strictly-larger neighbors to
   *     m(u) = min(Γ(u) ∪ {u})      (groupBy(u) mins + emission join)
   *   small-star: every node u connects its strictly-smaller neighbors
   *     and itself to m = min of those  (same two shuffles)
   *
   * The edge set never exceeds the symmetric closure of the input, and
   * lineage is cut per round with localCheckpoint (at cluster scale set a
   * reliable checkpoint dir and swap in .checkpoint() for executor-loss
   * resilience — the algorithm is unchanged). Convergence is detected by a
   * cheap (count, xor-hash) signature and then CONFIRMED with an exact
   * set-difference check before the loop exits; `maxIter` bounds the loop
   * and non-convergence is loud, never a silently partial clustering.
   *
   * Returns (node, component) for every node appearing in `pairs`, where
   * component = the smallest id in the node's component. Self-loop pairs
   * (a = b) carry no connectivity and are dropped; their nodes may
   * therefore be absent (callers treat absent as singleton).
   */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 30): DataFrame = {
    def canon(df: DataFrame): DataFrame =
      df.select(least(col("u"), col("v")).as("u"),
          greatest(col("u"), col("v")).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    def sym(e: DataFrame): DataFrame =
      e.union(e.select(col("v").as("u"), col("u").as("v")))
    def largeStar(e: DataFrame): DataFrame = {
      val s = sym(e)
      val mins = s.groupBy("u").agg(min("v").as("__mn"))
        .select(col("u").as("__x"), least(col("u"), col("__mn")).as("__m"))
      canon(s.join(mins, col("u") === col("__x"))
        .filter(col("v") > col("u"))
        .select(col("__m").as("u"), col("v")))
    }
    def smallStar(e: DataFrame): DataFrame = {
      val s = sym(e).filter(col("v") < col("u"))
      val mins = s.groupBy("u").agg(min("v").as("__m"))
      val linked = s.join(mins, "u").select(col("__m").as("u"), col("v"))
      val self = mins.select(col("__m").as("u"), col("u").as("v"))
      canon(linked.union(self))
    }
    // order-independent, overflow-free edge-set signature (ANSI sum(long)
    // would throw on overflow; xor cannot). Equal signatures are confirmed
    // with an exact exceptAll before declaring convergence.
    def signature(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        expr("bit_xor(xxhash64(u, v))")).head
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    var edges = canon(
      pairs.select(col(aCol).as("u"), col(bCol).as("v"))
        .filter(col(aCol).isNotNull && col(bCol).isNotNull))
      .localCheckpoint()
    var curSig = signature(edges)
    var it = 0
    var converged = curSig._1 == 0L
    while (!converged && it < maxIter) {
      val next = smallStar(largeStar(edges)).localCheckpoint()
      val nextSig = signature(next)
      converged = nextSig == curSig &&
        next.exceptAll(edges).isEmpty && edges.exceptAll(next).isEmpty
      val prev = edges
      edges = next
      curSig = nextSig
      prev.unpersist()
      it += 1
    }
    require(converged,
      s"connectedComponents did not converge within $maxIter rounds " +
        s"(edge signature $curSig) — raise maxIter or pre-filter the pair graph")
    // fixpoint = forest of stars centered on each component's minimum
    edges.select(col("v").as("node"), col("u").as("component"))
      .union(edges.select(col("u").as("node"), col("u").as("component")).distinct())
  }

  /** Cluster near-duplicate documents from a verified pair list and pick a
    * deterministic canonical representative (the smallest id) per cluster.
    * Documents in no pair form singleton clusters of themselves. Output =
    * the input columns + `cluster` (component min id) + `is_canonical`.
    * One component computation + one (typically broadcast — only near-dup
    * members appear in it) join against the corpus. */
  def dedupClusters(docs: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String = "id_a", bCol: String = "id_b",
      maxIter: Int = 30): DataFrame = {
    val comps = connectedComponents(pairs, aCol, bCol, maxIter)
      .select(col("node").as("__node"), col("component").as("__component"))
    docs.join(comps, docs(idCol) === comps("__node"), "left")
      .select(docs.columns.map(docs(_)) :+
        coalesce(col("__component"), docs(idCol)).as("cluster"): _*)
      .withColumn("is_canonical", col(idCol) === col("cluster"))
  }

  /** Near-dup pairs by SimHash: hamming(fp_a, fp_b) ≤ maxHamming, found by
    * pigeonhole banding on four 16-bit chunks (equi-join per chunk). */
  def simhashNearDups(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      shingleSize: Int = 3,
      hashFn: Column => Column = xxhash64(_)): DataFrame = {
    // 4 fixed 16-bit chunks pigeonhole-guarantee a collision only for
    // hamming <= 3; a larger budget would silently miss pairs whose
    // differing bits spread across all four chunks
    require(maxHamming <= 3,
      s"simhashNearDups: 4-chunk banding is complete only for maxHamming <= 3, got $maxHamming")
    val fps = simhash(df, idCol, textCol, shingleSize, hashFn)
      .withColumnRenamed(idCol, "__id")
    val chunks = (0 until 4).map { c =>
      struct(lit(c).as("chunk"),
        shiftright(col("simhash"), c * 16).bitwiseAND(lit(0xFFFFL)).as("ck"))
    }
    val banded = fps.select(col("__id"), col("simhash"),
        explode(array(chunks: _*)).as("__c"))
      .select(col("__id"), col("simhash"), col("__c.chunk").as("__chunk"), col("__c.ck").as("__ck"))
    val a = banded.select(col("__id").as("id_a"), col("simhash").as("__fa"),
      col("__chunk"), col("__ck"))
    val b = banded.select(col("__id").as("id_b"), col("simhash").as("__fb"),
      col("__chunk").as("__chunk2"), col("__ck").as("__ck2"))
    a.join(b, col("__chunk") === col("__chunk2") && col("__ck") === col("__ck2") &&
        col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("__fa").bitwiseXOR(col("__fb"))).as("hamming"))
      // filter BEFORE the distinct shuffle: hamming is functionally
      // determined by the pair, so the reorder is result-identical, and the
      // overwhelming majority of chunk collisions (random 16-bit chunks
      // collide at 4/2^16; skewed sign patterns collide far more) exceed
      // maxHamming — they should die in the map stage, not cross the wire
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /**
   * Incremental-ingestion dedup: admit only `shard` rows whose normalized
   * content does not already exist in `corpus`, then exact-dedup the shard
   * against itself (deterministic keep-min id). The shape every recurring
   * crawl/refresh pipeline needs — new data is deduped against the
   * accumulated corpus WITHOUT rereading corpus text: only its
   * fingerprints flow into the join.
   *
   * Scale shape: corpus side reduces to DISTINCT fingerprints (one
   * hash-aggregation, map-side partial — a billion-row corpus with heavy
   * duplication shrinks before the wire), then a LEFT ANTI equi-join on
   * the fingerprint (both sides hash-partitioned on it; no all-pairs, no
   * driver materialization), then [[exactKeepMin]]'s single aggregation
   * for intra-shard dups. In steady state the corpus fingerprint set
   * would be persisted as its own Delta table and only the anti-join
   * re-runs per shard.
   */
  def crossDedup(corpus: DataFrame, shard: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    // NULL text reads as "" (the package-wide rule) BEFORE fingerprinting:
    // raw fingerprint(NULL) is NULL, which never equi-joins (every NULL-
    // text shard row slipped past the corpus anti-join) yet GROUPS as
    // equal in exactKeepMin (all but one NULL-text shard doc silently
    // dropped) — two contradictory NULL semantics in one operator
    val fpc = TextOps.fingerprint(coalesce(col(textCol), lit("")))
    val corpusFps = corpus.select(fpc.as("__fp")).distinct()
    shard.withColumn("__fp", fpc)
      .join(corpusFps, Seq("__fp"), "left_anti")
      .transform(s => exactKeepMin(s, idCol, Seq("__fp")))
      .drop("__fp")
  }

  /**
   * Fuzzy near-dup pairs via blocking + bounded edit distance: candidate
   * pairs share a BLOCK KEY (the first `prefixLen` chars of the normalized
   * text), and a pair is emitted when `levenshtein(norm_a, norm_b) <=
   * maxDist`. Classic entity-resolution blocking: the join is an equi-join
   * on the block key — linear in colliding pairs, no all-pairs — at the
   * documented cost of missing pairs whose edits fall inside the first
   * `prefixLen` characters (standard recall trade-off; run a second pass
   * blocked on a suffix key if that matters).
   *
   * The |len_a - len_b| <= maxDist filter is a necessary condition of the
   * edit distance and prunes candidates before the DP runs; the DP itself
   * uses Spark's thresholded levenshtein (banded, O(maxDist * n) not
   * O(n^2)) — on kilobyte documents the unbounded DP is the difference
   * between a scan and a stall.
   */
  def fuzzyNearDups(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int, prefixLen: Int = 16): DataFrame = {
    require(maxDist >= 1, s"fuzzyNearDups: maxDist=$maxDist")
    require(prefixLen >= 1, s"fuzzyNearDups: prefixLen=$prefixLen")
    val norm = df.select(col(idCol).as("__id"),
      TextOps.normalize(col(textCol)).as("__norm"))
      .withColumn("__blk", substring(col("__norm"), 1, prefixLen))
      .withColumn("__len", length(col("__norm")))
    val a = norm.select(col("__id").as("id_a"), col("__norm").as("__na"),
      col("__blk"), col("__len").as("__la"))
    val b = norm.select(col("__id").as("id_b"), col("__norm").as("__nb"),
      col("__blk").as("__blk2"), col("__len").as("__lb"))
    a.join(b, col("__blk") === col("__blk2") && col("id_a") < col("id_b") &&
        abs(col("__la") - col("__lb")) <= maxDist)
      // thresholded levenshtein returns -1 when the distance exceeds the
      // threshold — the banded DP abandons early instead of filling the
      // full matrix
      .withColumn("__d", levenshtein(col("__na"), col("__nb"), maxDist))
      .filter(col("__d") >= 0 && col("__d") <= maxDist)
      .select(col("id_a"), col("id_b"), col("__d").cast("long").as("edit_dist"))
  }
}
