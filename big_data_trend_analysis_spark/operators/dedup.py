"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram Jaccard.

North-star LLM-pipeline components (BASELINE.json): at 100 TB the only
viable near-dup strategies are the ones here — candidate generation by
*locality-sensitive bucketing* (a hash-partitioned equi-join) followed
by exact verification on the candidate set. Nothing does an O(n²)
cross join; every stage is explode → groupBy → join, i.e. shuffles on
bounded keys with map-side partial aggregation.

All hashes are Spark's ``xxhash64`` with explicit integer salts —
deterministic across runs, partitionings, and cluster sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from big_data_trend_analysis_spark import scope

#: Module-level names, not direct calls into ``scope``: perfbench's
#: traced run replaces them, and dedup's own calls resolve through the
#: replacement.
_materialize = scope.materialize
_truncate_lineage = scope.checkpoint

#: MinHash signature size / banding (b bands of r rows; with 16 perms,
#: 8 bands × 2 rows → LSH threshold (1/b)^(1/r) ≈ 0.35, comfortably
#: below the 0.6 Jaccard cut so recall at the cut is ~1.
MINHASH_PERMS = 16
MINHASH_BANDS = 8
MINHASH_ROWS = MINHASH_PERMS // MINHASH_BANDS


def dedup_exact(documents: DataFrame) -> DataFrame:
    """Exact text dedup: keep the min doc_id per distinct text.

    The grouping key is ``md5(text)`` (case-sensitive — NOT the
    lowercasing ``fingerprint``), so the shuffle hashes/compares/sorts
    16-byte keys instead of arbitrarily long document bodies; the
    representative text rides along as a ``min_by`` aggregate value
    (deterministic — all texts in a group are identical). Map-side
    combine still collapses each partition to one row per distinct
    text before the shuffle. This is the canonical "keep one
    representative" exact dedup, vs ``dropDuplicates`` whose survivor
    is partition-order-dependent.
    """
    return (
        documents.groupBy(F.md5("text").alias("_fp"))
        .agg(
            F.min_by("text", "doc_id").alias("text"),
            F.min("doc_id").alias("doc_id"),
        )
        .select("text", "doc_id")
    )


def _doc_tokens(documents: DataFrame) -> DataFrame:
    """Distinct (doc_id, token) pairs — the unigram relation."""
    return documents.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    ).distinct()


def _doc_shingles(
    documents: DataFrame, n: int = 3, distinct: bool = True, hashed: bool = False
) -> DataFrame:
    """Distinct (doc_id, shingle) pairs over word n-grams.

    MinHash runs over *shingles*, not unigram tokens: with a small
    vocabulary (driver fixtures have ~31 distinct words) unigram sets
    are nearly identical across documents, so unigram-LSH candidates
    explode quadratically; n-gram shingles (vocab^n space) keep sets
    discriminative — the standard shingle→minhash construction.

    The text is split ONCE into a words column before the shingle
    ``transform``; inlining ``split(text, ' ')`` inside the lambda makes
    Spark re-split the document for every shingle index — O(words²)
    character work per document (measured 2.5× slower at sf0.1).

    ``distinct=False`` skips the dedup shuffle for consumers that are
    duplicate-insensitive (MinHash's min aggregation, ``collect_set``
    verification) — one less full shuffle of shingle strings. Consumers
    whose math counts occurrences or document frequencies (SimHash bit
    sums, inverted-index df pruning) must keep the default.

    ``hashed=True`` replaces each shingle string with its ``xxhash64``
    — every downstream shuffle (distinct, document-frequency agg,
    inverted-index self-join, set collection) then moves 8-byte longs
    instead of multi-word strings, and set cardinalities (hence
    Jaccard) are preserved up to a 2^-64-scale collision probability.
    This is how shingle pipelines run at corpus scale; the un-hashed
    form exists for oracle SQL twins that must recompute the same
    relation in an engine without xxhash64.
    """
    # No narrower-than-cores widen here (unlike decontaminate_ngram):
    # measured round-12, repartitioning the corpus before shingling
    # cost the whole dedup family ~0.3-0.5 s each at sf0.1 — the
    # shingle explode is NOT hot enough to pay for a text shuffle; the
    # families' real cost sits in the post-shuffle posting joins, which
    # already run at full width.
    words = documents.select("doc_id", F.split("text", " ").alias("w"))
    shingled = words.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, greatest(size(w) - {n}, 0)),"
                f" i -> concat_ws(' ', slice(w, i + 1, {n})))"
            )
        ).alias("token"),
    )
    if hashed:
        shingled = shingled.select("doc_id", F.xxhash64("token").alias("token"))
    return shingled.distinct() if distinct else shingled


def minhash_signatures(documents: DataFrame, perms: int = MINHASH_PERMS) -> DataFrame:
    """Per-doc MinHash signature: min over shingles of xxhash64(sh, i).

    One explode + one groupBy computing all ``perms`` mins in a single
    aggregation pass (not ``perms`` passes). Shingles stay non-distinct
    — min is duplicate-insensitive, so the dedup shuffle would be pure
    cost.
    """
    toks = _doc_shingles(documents, distinct=False, hashed=True)
    aggs = [
        F.min(F.xxhash64(F.col("token"), F.lit(i))).alias(f"mh_{i}")
        for i in range(perms)
    ]
    return toks.groupBy("doc_id").agg(*aggs)


def dedup_minhash(
    documents: DataFrame,
    threshold: float = 0.6,
    perms: int = MINHASH_PERMS,
    bands: int = MINHASH_BANDS,
) -> DataFrame:
    """Near-dup pairs via MinHash-LSH banding + exact Jaccard verify.

    shingle → minhash → band → bucket-join → verify:
    1. signatures (one groupBy);
    2. band hashes, exploded to (band_id, band_hash, doc_id);
    3. self-equi-join on the bucket → candidate pairs (doc_a < doc_b);
    4. exact Jaccard on collected shingle sets for candidates only;
    5. filter jaccard ≥ threshold.

    The bucket join is an equi-join on (band_id, band_hash): hash-
    partitioned, broadcast-free, skew handled by AQE. Output columns:
    (doc_id_a, doc_id_b, jaccard).
    """
    rows = perms // bands
    sigs = _materialize(minhash_signatures(documents, perms))
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.xxhash64(
                    F.lit(b), *[F.col(f"mh_{b * rows + r}") for r in range(rows)]
                ).alias("band_hash"),
            )
            for b in range(bands)
        ]
    )
    buckets = sigs.select(
        "doc_id", F.explode(band_structs).alias("band")
    ).select("doc_id", "band.band_id", "band.band_hash")

    left = buckets.alias("l")
    right = buckets.alias("r")
    candidates = (
        left.join(
            right,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_id_a"),
            F.col("r.doc_id").alias("doc_id_b"),
        )
        .distinct()
    )
    candidates = _materialize(candidates)

    # Collect shingle sets ONLY for candidate docs: at scale the
    # candidate set is a vanishing fraction of the corpus, so the
    # semi-join prunes the expensive collect_set to that fraction.
    candidate_ids = (
        candidates.select(F.col("doc_id_a").alias("doc_id"))
        .union(candidates.select(F.col("doc_id_b").alias("doc_id")))
        .distinct()
    )
    # Non-distinct shingles share the signature path's cache entry, and
    # collect_set dedupes anyway.
    token_sets = (
        _materialize(_doc_shingles(documents, distinct=False, hashed=True))
        .join(candidate_ids, "doc_id", "left_semi")
        .groupBy("doc_id")
        .agg(F.collect_set("token").alias("toks"))
    )
    return (
        candidates.join(
            token_sets.select(F.col("doc_id").alias("doc_id_a"), F.col("toks").alias("toks_a")),
            "doc_id_a",
        )
        .join(
            token_sets.select(F.col("doc_id").alias("doc_id_b"), F.col("toks").alias("toks_b")),
            "doc_id_b",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("toks_a", "toks_b")).cast("double")
                / F.size(F.array_union("toks_a", "toks_b")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_id_a", "doc_id_b", "jaccard")
    )


SIMHASH_BITS = 32
SIMHASH_BANDS = 4  # 4 bands × 8 bits; pairs sharing any band are candidates


def simhash_fingerprints(documents: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """Per-doc SimHash: sign of per-bit sums of ±1 token-hash bits.

    All ``bits`` bit-sums are computed in one aggregation pass over the
    exploded shingle relation (shingles, not unigrams — see
    ``_doc_shingles``); the fingerprint is assembled with plain integer
    arithmetic — all JVM expressions. The hashed shingle relation
    doubles as the hash source: the per-doc distinct shuffle moves
    8-byte longs, and the ±1 bit contributions read those longs
    directly.
    """
    toks = _doc_shingles(documents, hashed=True).withColumn("h", F.col("token"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright("h", j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"bit_{j}")
        for j in range(bits)
    ]
    per_doc = toks.groupBy("doc_id").agg(*bit_sums)
    fingerprint = sum(
        [
            F.when(F.col(f"bit_{j}") > 0, F.lit(2**j).cast("long")).otherwise(F.lit(0).cast("long"))
            for j in range(bits)
        ],
        F.lit(0).cast("long"),
    )
    return per_doc.select("doc_id", fingerprint.alias("simhash"))


def dedup_simhash(
    documents: DataFrame,
    max_hamming: int = 3,
    fps: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash banding + Hamming verification.

    Pigeonhole: any pair within Hamming distance 3 of a 32-bit
    fingerprint agrees exactly on at least one of 4 disjoint 8-bit
    bands, so the band equi-join has full recall at the cut. Output:
    (doc_id_a, doc_id_b, hamming). Callers that already hold the
    materialized fingerprint relation (``dedup_simhash_check``'s truth
    join) pass it via ``fps`` so it is computed exactly once.
    """
    # Persist the per-doc fingerprints (1 row/doc, 12 bytes of payload)
    # and derive the 4-rows/doc band explode per join side as a narrow
    # projection off the cache — 4× less cache traffic than persisting
    # the exploded bucket relation itself.
    if fps is None:
        fps = _materialize(simhash_fingerprints(documents))
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.shiftright("simhash", b * 8).bitwiseAND(F.lit(0xFF)).alias("band_val"),
            )
            for b in range(SIMHASH_BANDS)
        ]
    )
    buckets = fps.select("doc_id", "simhash", F.explode(band_structs).alias("band")).select(
        "doc_id", "simhash", "band.band_id", "band.band_val"
    )
    left = buckets.alias("l")
    right = buckets.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_val") == F.col("r.band_val"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_id_a"),
            F.col("r.doc_id").alias("doc_id_b"),
            F.bit_count(
                F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
            ).alias("hamming"),
        )
        # Hamming cut BEFORE the pair-dedup: the filter is a free
        # projection-level predicate, so the distinct only shuffles
        # verified-close pairs instead of every band collision.
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def ngram_jaccard(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int = 5,
    min_shared: int = 2,
) -> DataFrame:
    """Near-dup pairs by word n-gram Jaccard with an inverted-index join.

    Candidate generation: explode n-gram shingles, drop shingles with
    document frequency > ``max_df`` (stop-shingles generate quadratic
    candidates for no recall — the classic inverted-index pruning), then
    self-join on the shingle keeping pairs that co-occur in at least
    ``min_shared`` rare shingles (a count aggregation, far cheaper than
    array work on junk pairs). Verification: exact Jaccard over full
    shingle sets for candidates only. Output: (doc_id_a, doc_id_b,
    jaccard).

    Recall argument: a true near-dup pair at Jaccard ≥ 0.5 shares ~half
    its shingles; near-dup-only shingles have df≈2 ≤ max_df, so such
    pairs co-occur in many rare shingles — the prefilter only prunes
    pairs whose overlap is a handful of common trigrams.

    The whole pipeline runs on ``xxhash64``-hashed shingles: the set
    build, df aggregation, the self-join, and the verification sets all
    shuffle 8-byte longs, never shingle strings; set cardinalities —
    hence every Jaccard value — are unchanged up to 2^-64-scale
    collisions.

    Shuffle budget: ONE pass builds the per-doc shingle-set relation
    (groupBy doc_id + collect_set — the only corpus-sized shuffle) and
    everything else derives from it: the flat (doc_id, shingle)
    relation re-explodes narrowly from the cached sets (no distinct
    shuffle — collect_set already deduped), df counts and the
    inverted-index self-join shuffle pruned key subsets, and
    verification joins the cached sets directly.
    """
    sets = _materialize(
        _doc_shingles(documents, n, distinct=False, hashed=True)
        .groupBy("doc_id")
        .agg(F.collect_set("token").alias("sh"))
    )
    shingles = sets.select("doc_id", F.explode("sh").alias("shingle"))

    doc_freq = shingles.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    rare = _materialize(
        shingles.join(
            doc_freq.filter(F.col("df") <= max_df).select("shingle"), "shingle"
        )
    )
    left = rare.alias("l")
    right = rare.alias("r")
    candidates = (
        left.join(
            right,
            (F.col("l.shingle") == F.col("r.shingle"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .groupBy(
            F.col("l.doc_id").alias("doc_id_a"), F.col("r.doc_id").alias("doc_id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .select("doc_id_a", "doc_id_b")
    )
    candidates = _materialize(candidates)
    # Same candidate-pruned verify as dedup_minhash: only docs that
    # appear in some candidate pair ship their sets into the join
    # (candidate_ids broadcast into the semi-join; full sets never
    # shuffle corpus-wide).
    candidate_ids = (
        candidates.select(F.col("doc_id_a").alias("doc_id"))
        .union(candidates.select(F.col("doc_id_b").alias("doc_id")))
        .distinct()
    )
    shingle_sets = sets.join(candidate_ids, "doc_id", "left_semi").select(
        "doc_id", "sh"
    )
    return (
        candidates.join(
            shingle_sets.select(F.col("doc_id").alias("doc_id_a"), F.col("sh").alias("sh_a")),
            "doc_id_a",
        )
        .join(
            shingle_sets.select(F.col("doc_id").alias("doc_id_b"), F.col("sh").alias("sh_b")),
            "doc_id_b",
        )
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
                / F.size(F.array_union("sh_a", "sh_b")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_id_a", "doc_id_b", "jaccard")
    )


def containment_dedup(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.6,
    max_df: int = 10,
    min_shared: int = 2,
) -> DataFrame:
    """Asymmetric shingle-CONTAINMENT near-dup pairs — the dedup mode
    Jaccard cannot see: C(A→B) = |S(A) ∩ S(B)| / |S(A)| flags a
    document QUOTED/SUBSET inside a much larger one (|A| ≪ |B| drives
    Jaccard toward 0 while containment stays ≈ 1). The signal the
    training-data dedup literature (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better") targets with
    substring/suffix machinery, re-expressed set-relationally.

    Same inverted-index economics as ``ngram_jaccard``: the per-doc
    distinct shingle relation is built once; document-frequency
    pruning (df ≤ ``max_df``) keeps stop-shingles out of the
    candidate self-join; candidate ORDERED pairs need ≥ ``min_shared``
    shared rare shingles; exact intersections are computed only for
    candidates via ``array_intersect`` over the collected sets. This
    variant keeps shingles as STRINGS so the DuckDB twin recomputes
    the identical relation — the corpus-scale deployment swaps in the
    ``xxhash64`` shingle representation exactly as ``ngram_jaccard``
    does, same plan shape.

    Returns ordered ``(doc_small, doc_big, n_small, n_inter,
    containment)`` rows with C ≥ ``threshold``: ``doc_small`` is the
    contained (quoted) side by construction of the ratio's
    denominator.
    """
    # distinct=False: collect_set dedups inside its own (map-side
    # partial) aggregation, so the _doc_shingles distinct added a whole
    # extra shuffle of the shingle-string relation for an identical set
    # (round-12 optimization, guide §2.4 "a distinct on data that is
    # already unique" — here, about to be deduped anyway).
    sets = _materialize(
        _doc_shingles(documents, n, distinct=False, hashed=False)
        .groupBy("doc_id")
        .agg(F.collect_set("token").alias("sh"))
    )
    shingles = sets.select("doc_id", F.explode("sh").alias("shingle"))
    doc_freq = shingles.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    rare = _materialize(
        shingles.join(
            doc_freq.filter(F.col("df") <= max_df).select("shingle"), "shingle"
        )
    )
    candidates = (
        rare.alias("l")
        .join(
            rare.alias("r"),
            (F.col("l.shingle") == F.col("r.shingle"))
            & (F.col("l.doc_id") != F.col("r.doc_id")),
        )
        .groupBy(
            F.col("l.doc_id").alias("doc_small"),
            F.col("r.doc_id").alias("doc_big"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .select("doc_small", "doc_big")
    )
    candidates = _materialize(candidates)
    candidate_ids = (
        candidates.select(F.col("doc_small").alias("doc_id"))
        .union(candidates.select(F.col("doc_big").alias("doc_id")))
        .distinct()
    )
    shingle_sets = sets.join(candidate_ids, "doc_id", "left_semi")
    return (
        candidates.join(
            shingle_sets.select(
                F.col("doc_id").alias("doc_small"), F.col("sh").alias("sh_a")
            ),
            "doc_small",
        )
        .join(
            shingle_sets.select(
                F.col("doc_id").alias("doc_big"), F.col("sh").alias("sh_b")
            ),
            "doc_big",
        )
        .select(
            "doc_small",
            "doc_big",
            F.size("sh_a").alias("n_small"),
            F.size(F.array_intersect("sh_a", "sh_b")).alias("n_inter"),
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size("sh_a"),
                6,
            ).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def incremental_dedup(
    archive: DataFrame,
    batch: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    max_df: int = 10,
    min_shared: int = 2,
) -> DataFrame:
    """Incremental new-batch-vs-archive dedup — the PRODUCTION dedup
    shape: when a fresh crawl lands beside an already-curated archive,
    dedup cost must be O(batch × posting-index), never a re-dedup of
    the whole corpus (at 100 TB the archive side is read-only index
    relations: fingerprints + shingle postings, exactly what this plan
    touches).

    Per batch document, first matching rule wins:

    - ``drop_exact``: its md5 text fingerprint already exists in the
      archive or on a smaller-id batch doc (first-wins within the
      batch) — one fingerprint-sized aggregation + window, no text
      shuffle;
    - ``drop_near``: word-``n``-gram Jaccard ≥ ``threshold`` against
      some ARCHIVE doc — rare-shingle candidates join BATCH-side
      postings against ARCHIVE-side postings only (df ≤ ``max_df``
      over the combined corpus bounds fan-out per shingle; the
      archive × archive quadrant is never joined), exact
      ``array_intersect`` verification on candidates only.
      Batch-internal NEAR dups are out of scope by design — that is
      the ordinary ``dedup_minhash`` job run on the batch alone;
    - ``keep`` otherwise.

    The near path shingles only the batch's EXACT SURVIVORS (df
    counts cover archive ∪ surviving batch — verbatim copies must not
    inflate a shingle's df past the rare cut and mask a real near
    match), and the first-rule-wins priority is applied in one final
    assembly join. Round 10's stage-fusion removed the old
    collect_set→re-explode shapes; the survivor restriction is one
    fp-relation-sized anti-join, not a pipeline barrier.

    Emits one row per batch doc: ``(doc_id, decision, match_id)`` —
    ``match_id`` is the smallest matching doc (deterministic), null
    for keeps. String shingles (like ``containment_dedup``) so the
    oracle replays the identical relation; the corpus-scale
    deployment swaps in xxhash64 shingles unchanged.
    """
    fp = F.md5("text").alias("fp")
    # Tagged union (round-13, guide §2.4): ONE fp-keyed window pass
    # serves both fingerprint consumers. The old shape shuffled the
    # corpus-sized fingerprint relation by fp for the first-owner
    # window, then AGAIN by doc_id for a batch-membership semi-join
    # (plus a third fp shuffle of the archive side for the
    # representative window below). An is_b tag makes batch
    # membership a row-local predicate, and a conditional min over
    # the same window frame yields the archive-side representative —
    # three corpus shuffles fold into one.
    fps_a = archive.select("doc_id", fp, F.lit(False).alias("is_b"))
    fps_b = batch.select("doc_id", fp, F.lit(True).alias("is_b"))
    universe = fps_a.unionByName(fps_b)
    w = Window.partitionBy("fp")
    # persisted: referenced by the exact path AND the archive-rep
    # path — unpersisted, the union + fp window subtree ran per
    # consumer.
    tagged = _materialize(
        universe.select(
            "doc_id",
            "is_b",
            F.min("doc_id").over(w).alias("min_id"),
            F.min(F.when(~F.col("is_b"), F.col("doc_id")))
            .over(w)
            .alias("min_a_id"),
        )
    )
    # persisted (round-12): referenced by the survivor anti-join AND
    # the final assembly — unpersisted, the fingerprint window subtree
    # ran twice.
    exact = _materialize(
        tagged.filter(F.col("is_b") & (F.col("min_id") < F.col("doc_id")))
        .select("doc_id", F.col("min_id").alias("exact_match"))
    )
    # ONE materialized flat shingle explode per side (VERDICT r9 watch
    # item: the collect_set→re-explode shape cost ~20 scheduler stages);
    # df counts, the candidate join, and the verification sets ALL
    # derive from these two cached postings relations. The batch side
    # keeps only EXACT-SURVIVOR docs (review finding: shingling the
    # whole batch let max_df verbatim copies of one document inflate
    # its shingles' df past the rare cut and silently suppress a real
    # near-dup match — df-rarity is evidence over distinct documents,
    # so exact copies must not vote). The anti-join is fp-relation
    # sized; the fusion's stage win (no collect_set→re-explode) stays.
    post_b = _materialize(
        _doc_shingles(batch, n, distinct=True, hashed=False).join(
            exact.select("doc_id"), "doc_id", "left_anti"
        )
    )
    # The archive side collapses each exact-duplicate (fp) group to
    # its min-id representative BEFORE shingling (ADVICE r10: only
    # batch-side copies were excluded from df voting, so archive-side
    # verbatim copies could still inflate a shingle's df past the rare
    # cut and mask a near match). Emitted decisions are unchanged by
    # construction — duplicates share identical shingle sets, and the
    # min match_id over a duplicate group IS the min-id representative
    # — while df counts become evidence over distinct documents on
    # both sides, and the archive explode shrinks.
    # min_a_id over the shared tagged window = min ARCHIVE doc_id per
    # fp (batch rows are nulled out of the conditional min), so the
    # representative set is identical to the old archive-only window
    # — without its extra fp shuffle of fps_a.
    reps_a = tagged.filter(
        ~F.col("is_b") & (F.col("doc_id") == F.col("min_a_id"))
    ).select("doc_id")
    post_a = _materialize(
        _doc_shingles(archive, n, distinct=True, hashed=False).join(
            reps_a, "doc_id", "left_semi"
        )
    )
    doc_freq = (
        post_a.unionByName(post_b)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    # persisted (round-12): joined against BOTH posting sides —
    # unpersisted, the union + df aggregation over the two posting
    # caches ran once per side.
    rare = _materialize(
        doc_freq.filter(F.col("df") <= max_df).select("token")
    )
    candidates = _materialize(
        post_b.join(rare, "token")
        .alias("b")
        .join(
            post_a.join(rare, "token").alias("a"),
            F.col("b.token") == F.col("a.token"),
        )
        .groupBy(
            F.col("b.doc_id").alias("b_id"), F.col("a.doc_id").alias("a_id")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .select("b_id", "a_id")
    )
    # Verification sets collect ONLY candidate docs (the ngram_jaccard
    # prune): full-corpus collect_set shuffles were the other half of
    # the old stage bill — candidate id lists are near-dup-sized.
    sets_b = (
        post_b.join(
            candidates.select(F.col("b_id").alias("doc_id")).distinct(),
            "doc_id",
            "left_semi",
        )
        .groupBy("doc_id")
        .agg(F.collect_set("token").alias("sh_b"))
    )
    sets_a = (
        post_a.join(
            candidates.select(F.col("a_id").alias("doc_id")).distinct(),
            "doc_id",
            "left_semi",
        )
        .groupBy("doc_id")
        .agg(F.collect_set("token").alias("sh_a"))
    )
    jac = F.size(F.array_intersect("sh_b", "sh_a")) / (
        F.size("sh_b") + F.size("sh_a")
        - F.size(F.array_intersect("sh_b", "sh_a"))
    )
    near = (
        candidates.join(
            sets_b.withColumnRenamed("doc_id", "b_id"), "b_id"
        )
        .join(sets_a.withColumnRenamed("doc_id", "a_id"), "a_id")
        .filter(F.round(jac, 6) >= threshold)
        .groupBy(F.col("b_id").alias("doc_id"))
        .agg(F.min("a_id").alias("near_match"))
    )
    # Final assembly: one pass over the batch ids, rule priority as a
    # CASE over two left joins (replaces the old anti-join + 3-way
    # union chain — fewer shuffles, same decisions).
    return (
        batch.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("exact_match").isNotNull(), F.lit("drop_exact"))
            .when(F.col("near_match").isNotNull(), F.lit("drop_near"))
            .otherwise(F.lit("keep"))
            .alias("decision"),
            F.coalesce("exact_match", "near_match").alias("match_id"),
        )
    )


def candidate_edges(
    documents: DataFrame,
    n: int = 3,
    max_df: int = 5,
    min_shared: int = 2,
) -> DataFrame:
    """Symmetric near-dup candidate edges from rare shared shingles.

    The same inverted-index candidate generation as ``ngram_jaccard``
    (df-pruned shingle self-join, ≥ ``min_shared`` co-occurrences),
    surfaced as an edge relation (src, dst) in both directions — the
    input graph for cluster resolution. The oracle twin recomputes the
    identical edge set from shingle *strings* (DuckDB has no xxhash64);
    the engine runs on hashed shingles — the edge sets agree because a
    spurious edge needs an xxhash64 collision between two rare
    shingles of the same document pair (2^-64-scale odds).
    """
    shingles = _materialize(
        _doc_shingles(documents, n, hashed=True).withColumnRenamed(
            "token", "shingle"
        )
    )
    doc_freq = shingles.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    rare = shingles.join(
        doc_freq.filter(F.col("df") <= max_df).select("shingle"), "shingle"
    )
    left = rare.alias("l")
    right = rare.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.shingle") == F.col("r.shingle"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .groupBy(
            F.col("l.doc_id").alias("src"), F.col("r.doc_id").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .select("src", "dst")
    )
    return pairs.union(pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


#: Rounds ``dedup_clusters`` runs before it gives up. A planted chain
#: of n documents with shuffled ids took 8 rounds at n = 200, 9 at
#: 1000 and 12 at 5000.
CLUSTER_MAX_ROUNDS = 50


def dedup_clusters(documents: DataFrame) -> DataFrame:
    """Resolve near-dup candidate pairs into canonical clusters.

    Connected components by min-label propagation — run **only over
    edge endpoints**, never the corpus: docs that appear in no
    candidate pair are their own cluster by definition, so the
    iterative state (labels), every per-round join, and every
    checkpoint is sized to the candidate subgraph, a vanishing fraction
    of a 100 TB corpus. The corpus-sized relation is touched exactly
    twice: once to generate edges, once in the final left join that
    attaches resolved labels (singletons coalesce to their own id).

    Every label is an endpoint of the same component, no larger than
    its node, so labels only fall and the fixpoint gives each node its
    component's min doc_id (``min`` in a recursion is monotone, so a
    faster path to the fixpoint gives the same answer — RaSQL, SIGMOD
    2019). Each round:

    - every node sees the least label among itself and its neighbours;
    - every label value (a root, or a node some label still points at)
      is hooked to the least label any node carrying it saw;
    - pointer jumping shortcuts ``label <- label[label]``.

    Propagation alone needs one round per hop of a component's
    diameter; hooking whole trees and jumping makes the rounds grow
    with its logarithm on the planted chains (``CLUSTER_MAX_ROUNDS``
    gives the figures). Each round is one lazy checkpoint and one
    convergence count, which materializes it; the round it replaced is
    freed then, so a call holds at most the shingle cache, the edges
    and two rounds, and the edges go once the loop ends. A loop that
    exhausts ``CLUSTER_MAX_ROUNDS`` unconverged raises rather than
    returning wrong cluster ids. Output: (doc_id, cluster_id,
    is_canonical) for every document; ``is_canonical`` (min doc_id
    wins) selects the one copy a curation pipeline keeps.

    Oracle: DuckDB WITH RECURSIVE reachability over the identical edge
    relation — exact equality, not a heuristic check.
    """
    # Edge generation scans the corpus — runs (eagerly, inside the
    # checkpoint) at the session's full parallelism.
    edges = _truncate_lineage(candidate_edges(documents))
    # Edges are symmetric, so src alone covers every endpoint, and
    # every endpoint has a neighbour.
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .select("doc_id", F.col("doc_id").alias("label"))
    )
    last = None  # the previous round's checkpoint
    for _ in range(CLUSTER_MAX_ROUNDS):
        seen = (
            edges.join(labels, edges.src == labels.doc_id)
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("label").alias("nmin"))
            .join(labels, "doc_id")
            .select("doc_id", "label", F.least("label", "nmin").alias("seen"))
        )
        hooks = seen.groupBy(F.col("label").alias("doc_id")).agg(
            F.min("seen").alias("hook")
        )
        # least() skips the NULL hook of a node no label points at.
        hooked = seen.join(hooks, "doc_id", "left").select(
            "doc_id",
            F.least("seen", "hook").alias("parent"),
            F.col("label").alias("prev"),
        )
        jump = hooked.select(
            F.col("doc_id").alias("parent"), F.col("parent").alias("label")
        )
        # Lazy: the convergence count below is this round's one action,
        # and it materializes the checkpoint. The pre-round label rides
        # along so the check is a filter, not a self-join.
        rnd = _truncate_lineage(
            hooked.join(jump, "parent").select("doc_id", "label", "prev"),
            eager=False,
        )
        changed = rnd.filter(F.col("label") != F.col("prev")).count()
        if last is not None:
            scope.free(last)
        last, labels = rnd, rnd.select("doc_id", "label")
        if not changed:
            break
    else:
        raise RuntimeError(
            f"dedup_clusters did not converge in {CLUSTER_MAX_ROUNDS} rounds"
        )
    scope.free(edges)
    return (
        documents.select("doc_id")
        .join(labels, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("label"), F.col("doc_id")).alias("cluster_id"),
        )
        .withColumn("is_canonical", F.col("doc_id") == F.col("cluster_id"))
    )


def fuzzy_token_join(documents: DataFrame, max_dist: int = 1) -> DataFrame:
    """Edit-distance-1 token pairs via deletion-neighborhood join (SymSpell).

    The string-similarity join entity resolution needs, in its
    100-TB-correct shape: two tokens are within edit distance 1 iff
    their single-deletion neighborhoods (token itself + every
    one-char-deletion variant) intersect — so candidate generation is
    an EQUI-join on variant strings (explode → self-join → distinct),
    never the O(|vocab|²) cross join, and the exact ``levenshtein``
    verify runs only on candidates. |neighborhood| = len+1 per token,
    so the exploded relation is ~avg_len × vocab — linear.

    The fixtures' vocabulary contains no natural ED-1 pairs, so the
    query plants deterministic typos INSIDE the plan (middle character
    deleted from every token of length ≥ 4 — expressible identically
    in both SQL dialects) and returns the full pair relation over the
    augmented vocabulary. The oracle recomputes it BRUTE-FORCE
    (cross join + levenshtein filter) — algorithm vs exhaustive
    search, exact row equality.

    ``max_dist`` ∈ {1, 2}. Deletion neighborhoods of radius d are a
    complete candidate generator for Levenshtein distance ≤ d (if
    lev(a,b) ≤ d, deleting the ≤d edited positions from each side
    yields a common string), so radius-2 uses the two-level deletion
    set — |neighborhood| grows from L+1 to O(L²/2) per token (~37
    variants for an 8-char token), still linear in vocabulary size and
    exactly SymSpell's general form. Completeness at both radii is
    property-tested against the brute-force cross join
    (tests/test_properties.py). Larger radii would need deeper
    neighborhoods and are rejected rather than silently incomplete.
    """
    if max_dist not in (1, 2):
        raise ValueError(
            "fuzzy_token_join: deletion-neighborhood generation is "
            f"implemented for max_dist in {{1, 2}} (got {max_dist})"
        )
    toks = documents.select(
        F.explode(F.split("text", " ")).alias("tok")
    ).distinct()
    half = F.floor(F.length("tok") / 2).cast("int")
    typos = (
        toks.filter(F.length("tok") >= 4)
        .select(
            F.concat(
                F.col("tok").substr(F.lit(1), half),
                F.col("tok").substr(half + F.lit(2), F.length("tok")),
            ).alias("tok")
        )
        .distinct()
    )
    vocab = _materialize(toks.union(typos).distinct())

    del1 = (
        "transform(sequence(1, length(tok)),"
        " i -> concat(substring(tok, 1, i - 1),"
        "             substring(tok, i + 1, length(tok))))"
    )
    variants = f"array_union(array(tok), {del1})"
    if max_dist == 2:
        # Second deletion applied to every first-deletion variant; the
        # whole neighborhood stays one row-local higher-order expression.
        del2 = (
            f"flatten(transform({del1},"
            " v -> transform(sequence(1, length(v)),"
            "  j -> concat(substring(v, 1, j - 1),"
            "              substring(v, j + 1, length(v))))))"
        )
        variants = f"array_distinct(array_union({variants}, {del2}))"
    neighborhood = vocab.select(
        "tok", F.explode(F.expr(variants)).alias("variant")
    )
    left = neighborhood.alias("l")
    right = neighborhood.alias("r")
    candidates = (
        left.join(
            right,
            (F.col("l.variant") == F.col("r.variant"))
            & (F.col("l.tok") < F.col("r.tok")),
        )
        .select(F.col("l.tok").alias("token_a"), F.col("r.tok").alias("token_b"))
        .distinct()
    )
    return (
        candidates.withColumn(
            "dist", F.levenshtein("token_a", "token_b").cast("int")
        )
        .filter(F.col("dist") <= max_dist)
        .select("token_a", "token_b", "dist")
    )


def decontaminate_ngram(
    documents: DataFrame, n: int = 3, bench_mod: int = 97
) -> DataFrame:
    """Training-data decontamination: word n-gram overlap vs a benchmark set.

    The eval-leakage gate every LLM training pipeline runs (GPT-3 §C /
    PaLM-style): any training document sharing an n-gram with a held-out
    benchmark document is flagged before training. Here the "benchmark"
    is the deterministic ``doc_id % bench_mod == 0`` slice standing in
    for the real eval files; production uses n=13 on real prose — the
    fixture's short word-bag texts need n=3 to be non-vacuous (171
    contaminated docs at sf0.01), and ``n`` is a parameter either way.

    Scale shape: each doc's DISTINCT n-gram set is built row-locally
    with higher-order functions (transform over a sequence — no
    corpus-sized explode of duplicates), the benchmark gram set is
    aggregated and **broadcast** (real benchmark suites are MBs — far
    under any broadcast threshold even when the training corpus is
    100 TB), so the contamination check is a broadcast semi-join at
    scan speed: zero wide shuffles over corpus grams; the only
    exchange carries the flagged (doc_id, gram-hit) pairs, which are
    output-sized. Returns one row per contaminated doc with its
    distinct shared-gram count, total distinct grams, and the
    contamination rate.
    """
    # Gram building is CPU-bound per row; a single-row-group parquet
    # fixture would otherwise serialize it on one task. Widen ONLY when
    # the scan yields fewer partitions than cores — at 100 TB the input
    # splits already exceed the cluster's parallelism and this is a
    # no-op (no shuffle of corpus text is ever added at scale).
    sc = documents.sparkSession.sparkContext
    if documents.rdd.getNumPartitions() < sc.defaultParallelism:
        documents = documents.repartition(sc.defaultParallelism)

    toks = F.split("text", " ")
    grams_expr = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
    )
    # Each branch filters BEFORE the gram projection (spelled out, not
    # left to predicate pushdown): the benchmark branch reads and
    # n-grams only its 1/bench_mod slice, so the corpus pays exactly
    # ONE gram-building pass over its own rows.
    bench_grams = (
        documents.filter((F.col("doc_id") % bench_mod == 0) & (F.size(toks) >= n))
        .select(F.explode(grams_expr).alias("g"))
        .distinct()
    )
    corpus = (
        documents.filter(
            (F.col("doc_id") % bench_mod != 0) & (F.size(toks) >= n)
        )
        .select("doc_id", grams_expr.alias("grams"))
        .select(
            "doc_id",
            F.size("grams").alias("n_grams"),
            F.explode("grams").alias("g"),
        )
    )
    # (doc_id, g) pairs are unique by construction — corpus grams are
    # array_distinct per doc and the broadcast side is distinct — so a
    # plain count equals COUNT(DISTINCT g) without the Expand pass.
    return (
        corpus.join(F.broadcast(bench_grams), "g")
        .groupBy("doc_id", "n_grams")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .select(
            "doc_id",
            "n_shared",
            "n_grams",
            F.round(F.col("n_shared") / F.col("n_grams"), 6).alias(
                "contamination_rate"
            ),
        )
    )


def dedup_minhash_check(
    documents: DataFrame,
    n_planted: int = 20,
    min_tokens: int = 20,
    threshold: float = 0.6,
) -> DataFrame:
    """MinHash-LSH recall invariant, hash-checked (closing the
    rows-only gap of ``dedup_minhash`` the way ``embed_neardup_check``
    closes ``embed_neardup``'s).

    Twins of the first ``n_planted`` documents with ≥ ``min_tokens``
    tokens are planted INSIDE the query by dropping the last token:
    an L-token doc shares L-3 of its L-2 word trigram shingles with
    its twin, so the exact pair Jaccard is ≥ (min_tokens-3)/
    (min_tokens-2) ≈ 0.94 ≫ ``threshold``. The full
    shingle→minhash→band→bucket-join→verify pipeline must recover
    EVERY planted pair. The pipeline is deterministic (xxhash64 band
    hashes, no RNG), and at J ≈ 0.94 the per-band match probability is
    J² ≈ 0.89 over 8 bands — measured 20/20 at every SF, no flapping.
    The oracle recomputes the eligible-seed count and demands
    ``all_found`` TRUE.

    Twins live in the NEGATIVE id space (twin = -(seed+1)): disjoint
    from any non-negative corpus id regardless of corpus size — a
    fixed positive offset would collide once real ids reach it
    (ADVICE r6). In pair output the twin is always ``doc_id_a``
    (pairs are emitted with doc_id_a < doc_id_b).
    """
    toks = F.split("text", " ")
    seeds = documents.filter(
        (F.col("doc_id") < n_planted) & (F.size(toks) >= min_tokens)
    )
    twins = seeds.select(
        (-(F.col("doc_id") + 1)).alias("doc_id"),
        F.array_join(F.slice(toks, 1, F.size(toks) - 1), " ").alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    augmented = documents.select(
        "doc_id", "text", "lang", "source", "n_chars"
    ).unionByName(twins)

    pairs = dedup_minhash(augmented, threshold=threshold)
    found = pairs.filter(
        (F.col("doc_id_a") == -(F.col("doc_id_b") + 1))
        & (F.col("doc_id_b") < n_planted)
        & (F.col("doc_id_b") >= 0)
    ).agg(F.count_distinct("doc_id_b").alias("n_found"))
    planted = seeds.agg(F.count(F.lit(1)).alias("n_planted"))
    return planted.crossJoin(found).select(
        "n_planted",
        "n_found",
        (F.col("n_found") == F.col("n_planted")).alias("all_found"),
    )


def dedup_simhash_check(
    documents: DataFrame,
    n_planted: int = 20,
    min_tokens: int = 20,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash banding recall + exclusion invariants, hash-checked.

    Same planted-twin construction as ``dedup_minhash_check``
    (drop-last-token twins of the first ``n_planted`` eligible docs,
    unioned in-plan). SimHash fingerprints of twin pairs land at small
    but data-dependent Hamming distances, so the invariant is the one
    the algorithm actually guarantees (pigeonhole over 4 disjoint
    8-bit bands):

    - ``recall_ok``: every planted pair whose true fingerprint Hamming
      distance ≤ ``max_hamming`` appears in ``dedup_simhash``'s output
      — banding recall at the cut is exact, not probabilistic;
    - ``exclusion_ok``: no planted pair beyond the cut leaks through
      the Hamming verify filter.

    True distances come from a direct XOR of the two fingerprints
    (O(n_planted) rows through an equi-join on the twin id — never a
    pairwise scan). The oracle pins the eligible-seed count and both
    booleans TRUE. Twins live in the NEGATIVE id space
    (twin = -(seed+1)), disjoint from any non-negative corpus id —
    see ``dedup_minhash_check``.
    """
    toks = F.split("text", " ")
    seeds = documents.filter(
        (F.col("doc_id") < n_planted) & (F.size(toks) >= min_tokens)
    )
    twins = seeds.select(
        (-(F.col("doc_id") + 1)).alias("doc_id"),
        F.array_join(F.slice(toks, 1, F.size(toks) - 1), " ").alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    augmented = documents.select(
        "doc_id", "text", "lang", "source", "n_chars"
    ).unionByName(twins)

    fps = _materialize(simhash_fingerprints(augmented))
    truth = (
        fps.filter((F.col("doc_id") < n_planted) & (F.col("doc_id") >= 0))
        .alias("o")
        .join(
            fps.filter(F.col("doc_id") < 0).alias("t"),
            F.col("t.doc_id") == -(F.col("o.doc_id") + 1),
        )
        .select(
            F.col("o.doc_id").alias("seed_id"),
            F.bit_count(
                F.col("o.simhash").bitwiseXOR(F.col("t.simhash"))
            ).alias("true_hamming"),
        )
    )
    found = dedup_simhash(augmented, max_hamming=max_hamming, fps=fps).filter(
        (F.col("doc_id_a") == -(F.col("doc_id_b") + 1))
        & (F.col("doc_id_b") < n_planted)
        & (F.col("doc_id_b") >= 0)
    )
    joined = truth.join(
        found.select(
            F.col("doc_id_b").alias("seed_id"), F.lit(True).alias("found")
        ),
        "seed_id",
        "left",
    )
    # coalesce: bool_and over zero rows is NULL — an empty planted set
    # (corpus too thin to seed twins) is vacuously OK, not unknown.
    return joined.agg(
        F.count(F.lit(1)).alias("n_planted"),
        F.coalesce(
            F.bool_and(
                F.when(
                    F.col("true_hamming") <= max_hamming, F.col("found").isNotNull()
                ).otherwise(F.lit(True))
            ),
            F.lit(True),
        ).alias("recall_ok"),
        F.coalesce(
            F.bool_and(
                F.when(
                    F.col("true_hamming") > max_hamming, F.col("found").isNull()
                ).otherwise(F.lit(True))
            ),
            F.lit(True),
        ).alias("exclusion_ok"),
    )


def ngram_jaccard_check(
    documents: DataFrame,
    n_planted: int = 20,
    min_tokens: int = 20,
    threshold: float = 0.5,
) -> DataFrame:
    """Inverted-index Jaccard recall gate, hash-checked (closing the
    dedup family's last planted-gate gap — VERDICT r9 #3; minhash/
    simhash/containment/incremental/semantic all had one).

    The same drop-last-token twin construction as
    ``dedup_minhash_check``: a twin's distinct trigram set is a
    SUBSET of its seed's (off by at most the one last-window
    shingle), so the true pair Jaccard is ≥ (L-3)/(L-2) ≈ 0.94 ≫
    ``threshold``. Unlike MinHash banding, df-pruning recall is NOT
    unconditional: a fully-templated seed whose every shingle repeats
    corpus-wide (df > max_df everywhere — sf0.001's doc 8 is one) is
    legitimately invisible to the inverted index. So the gate is the
    replayed-ELIGIBILITY design (the ``containment_check`` pattern):
    one row per planted seed with the engine's ``found`` flag, and
    the DuckDB oracle independently replays the algorithm's candidate
    rule — eligible ⇔ ≥ ``min_shared`` seed∩twin shingles with
    combined-corpus df ≤ ``max_df`` (verification can never reject a
    planted candidate: J ≈ 0.94) — and demands found == eligible row
    for row, at every SF. String-vs-xxhash64 shingle representations
    agree on every df count and set size up to 2^-64-scale collisions.

    Twins live in the NEGATIVE id space (twin = -(seed+1)) — disjoint
    from any non-negative corpus id regardless of corpus size; the
    twin is always ``doc_id_a`` in pair output (pairs are emitted
    with doc_id_a < doc_id_b).
    """
    toks = F.split("text", " ")
    seeds = documents.filter(
        (F.col("doc_id") < n_planted) & (F.size(toks) >= min_tokens)
    )
    twins = seeds.select(
        (-(F.col("doc_id") + 1)).alias("doc_id"),
        F.array_join(F.slice(toks, 1, F.size(toks) - 1), " ").alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    augmented = documents.select(
        "doc_id", "text", "lang", "source", "n_chars"
    ).unionByName(twins)

    pairs = ngram_jaccard(augmented, threshold=threshold)
    hits = pairs.filter(
        (F.col("doc_id_a") == -(F.col("doc_id_b") + 1))
        & (F.col("doc_id_b") < n_planted)
        & (F.col("doc_id_b") >= 0)
    ).select(F.col("doc_id_b").alias("seed_id"), F.lit(True).alias("hit"))
    return (
        seeds.select(F.col("doc_id").alias("seed_id"))
        .join(hits, "seed_id", "left")
        .select("seed_id", F.coalesce("hit", F.lit(False)).alias("found"))
    )


#: Normalization regex for ``dedup_exact_normalized`` — plain character
#: classes only, so Java regex (Spark) and RE2 (DuckDB) agree exactly.
_NORM_PATTERN = "[^a-z0-9]+"


def dedup_exact_normalized(documents: DataFrame) -> DataFrame:
    """Normalization-aware exact dedup — the CCNet/RefinedWeb first
    pass: lowercase, strip punctuation/digits-adjacent separators,
    collapse whitespace, THEN fingerprint. Catches the
    trivially-reformatted copies (case, punctuation, spacing) that
    byte-exact ``dedup_exact`` misses but near-dup LSH is overkill
    for.

    Same scale shape as ``dedup_exact``: the shuffle key is the
    16-byte md5 of the normalized form (never the body), map-side
    combine collapses each partition before the exchange, survivor =
    min doc_id (first-wins, deterministic). The normalization is a
    scan-speed JVM regexp chain (the ``mask_pii`` tier), and the
    regex uses plain character classes only so Java regex and RE2
    replay it identically.

    Emits one row per surviving document: (doc_id, n_copies,
    n_distinct_raw) — n_copies counts all members, n_distinct_raw
    the distinct RAW texts collapsed (>1 means normalization did
    real work beyond byte-exact dedup).
    """
    norm = F.trim(
        F.regexp_replace(F.lower(F.col("text")), _NORM_PATTERN, " ")
    )
    return (
        documents.select(
            "doc_id", F.md5(norm).alias("_fp"), F.md5("text").alias("_raw_fp")
        )
        .groupBy("_fp")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("_raw_fp").alias("n_distinct_raw"),
        )
        .select("doc_id", "n_copies", "n_distinct_raw")
    )


def levenshtein_blocking(part: DataFrame, max_dist: int = 3) -> DataFrame:
    """Blocked fuzzy entity matching over the part-name vocabulary —
    the standard two-phase ER shape (block → verify) beside
    ``fuzzy_token_join``'s neighborhood generation.

    Real entity resolution never runs |names|² levenshtein calls: a
    cheap BLOCKING key (here the name's last token — the head noun of
    the TPC-H-ish "adjective noun" part names) partitions the
    vocabulary so candidate pairs form only within blocks, and the
    exact ``levenshtein`` verify runs on candidates alone. Recall is
    exactly "pairs sharing a head noun" by construction — the
    documented trade every blocking scheme makes (SymSpell's deletion
    neighborhoods, ``fuzzy_token_join``, are the lossless
    alternative at radius ≤ 2). Scale shape: ONE corpus-sized
    aggregation to the distinct-name relation (vocabulary-bounded),
    then a block-keyed self-join on that tiny relation; the edit
    distance is a JVM builtin on both engines (identical unit-cost
    Wagner–Fischer).

    Emits matched pairs (name_a < name_b, lev ≤ ``max_dist``):
    (block_key, name_a, name_b, n_a, n_b, lev_dist).
    """
    names = part.groupBy("p_name").agg(
        F.count(F.lit(1)).alias("n_parts")
    )
    blocked = names.select(
        "p_name",
        "n_parts",
        F.element_at(F.split("p_name", " "), -1).alias("block_key"),
    )
    a = blocked.select(
        F.col("p_name").alias("name_a"),
        F.col("n_parts").alias("n_a"),
        "block_key",
    )
    b = blocked.select(
        F.col("p_name").alias("name_b"),
        F.col("n_parts").alias("n_b"),
        "block_key",
    )
    return (
        a.join(b, "block_key")
        .filter(F.col("name_a") < F.col("name_b"))
        .select(
            "block_key",
            "name_a",
            "name_b",
            "n_a",
            "n_b",
            F.levenshtein("name_a", "name_b").alias("lev_dist"),
        )
        .filter(F.col("lev_dist") <= max_dist)
    )
