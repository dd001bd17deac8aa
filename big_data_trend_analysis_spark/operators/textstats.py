"""Text-analysis operators over the documents table (north-star).

Scan-speed column expressions only (functions/text.py): language-ID,
quality scoring, token counting, fingerprinting — the per-document
enrichments a training-data pipeline computes on every one of its
10^11 documents, so they must stay inside whole-stage codegen.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from big_data_trend_analysis_spark.functions.text import (
    fingerprint,
    lang_id_en,
    n_tokens,
    n_word_tokens,
    quality_score,
)
from big_data_trend_analysis_spark.scope import checkpoint, materialize, materialize_tiny


def text_stats(documents: DataFrame) -> DataFrame:
    """Per-language doc counts / char stats / token totals (§2.3)."""
    return (
        documents.withColumn("n_toks", n_tokens("text"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
            F.sum("n_toks").alias("sum_tokens"),
        )
    )


def doc_profile(documents: DataFrame) -> DataFrame:
    """Per-document enrichment row: lang guess, quality, token counts,
    fingerprint — the canonical "annotate every document" pass."""
    return documents.select(
        "doc_id",
        lang_id_en("text").alias("lang_pred"),
        F.round(quality_score("text"), 6).alias("quality"),
        n_tokens("text").alias("n_tok"),
        n_word_tokens("text").alias("n_word_tok"),
        fingerprint("text").alias("fp"),
    )


def _clean_expr(col):
    """The normalization expression shared by text_clean/pipeline_curate."""
    c = F.lower(col)
    c = F.regexp_replace(c, "https?://[^ ]+", "<url>")
    c = F.regexp_replace(c, "[a-z0-9._%+-]+@[a-z0-9.-]+", "<email>")
    c = F.regexp_replace(c, "[^a-z0-9<> ]", " ")
    return F.trim(F.regexp_replace(c, "  +", " "))


def text_clean(documents: DataFrame) -> DataFrame:
    """Normalization/masking pass: the canonical pre-training cleanup.

    lowercase → mask URLs/emails → strip non-alphanumerics → collapse
    whitespace. All regexes use conservative character-class syntax
    that Java regex and RE2-family engines interpret identically, so
    the oracle twin is byte-for-byte comparable.
    """
    return documents.select("doc_id", _clean_expr(F.col("text")).alias("clean_text"))


def tfidf_top_term(documents: DataFrame) -> DataFrame:
    """Each document's most characteristic token by TF-IDF.

    tf = in-doc count, idf = ln(N/df); the winner is max_by on the
    (rounded weight, token) pair — deterministic under ties. Plan
    shape at scale: one explode, two hash aggregations, one broadcast
    of the tiny df relation — the inverted-index build every text
    pipeline runs.
    """
    toks = documents.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_rel = toks.distinct().groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = documents.select(F.countDistinct("doc_id").alias("n"))
    weighted = (
        tf.join(F.broadcast(df_rel), "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf") * F.log(F.col("n").cast("double") / F.col("df").cast("double")),
                6,
            ),
        )
    )
    return weighted.groupBy("doc_id").agg(
        F.max_by("token", F.struct(F.col("tfidf"), F.col("token"))).alias("top_token"),
        F.max(F.struct(F.col("tfidf"), F.col("token"))).getField("tfidf").alias("top_tfidf"),
    )


def pipeline_curate(documents: DataFrame, min_quality: float = 0.5) -> DataFrame:
    """End-to-end training-data curation as ONE declarative plan.

    normalize (text_clean) → quality gate → exact dedup on the
    *cleaned* text (keep min doc_id) → surface (doc_id, clean_text,
    quality). This is the LLM-pipeline capstone: every stage is a
    column expression or hash aggregation, so the whole flow is one
    Catalyst plan — filters push to the scan, the only shuffle is the
    dedup groupBy, and the same plan runs on 10^11 documents.
    """
    cleaned = documents.select(
        "doc_id",
        F.round(quality_score("text"), 6).alias("quality"),
        _clean_expr(F.col("text")).alias("clean_text"),
    ).filter(F.col("quality") >= min_quality)
    # Dedup keyed on md5(clean_text): the shuffle groups on 16-byte
    # fingerprints, not document bodies (same rationale as dedup_exact);
    # the surviving text/quality ride along as min_by values.
    survivors = cleaned.groupBy(F.md5("clean_text").alias("_fp")).agg(
        F.min("doc_id").alias("doc_id"),
        F.min_by("clean_text", "doc_id").alias("clean_text"),
        F.min_by("quality", "doc_id").alias("quality"),
    )
    return survivors.select("doc_id", "clean_text", "quality")


def quality_filter(documents: DataFrame, min_quality: float = 0.55) -> DataFrame:
    """Training-data quality gate: keep docs above the quality cut.

    The filter is a pure expression → Catalyst pushes the cheap parts
    (length) toward the scan; the survivors keep their profile columns.
    """
    profiled = documents.select(
        "doc_id",
        "lang",
        F.round(quality_score("text"), 6).alias("quality"),
    )
    return profiled.filter(F.col("quality") >= min_quality)


def pack_sequences(
    documents: DataFrame,
    token_budget: int = 512,
    n_buckets: int = 32,
) -> DataFrame:
    """Pack documents into fixed-token-budget training sequences.

    The sequence-construction step of an LLM data pipeline, in the
    concat-and-chunk form GPT-style pretraining uses: conceptually the
    token stream is concatenated in document order and cut every
    ``token_budget`` tokens; each document is assigned the sequence in
    which it *starts* (seq = floor(exclusive_running_sum / budget)) —
    deterministic, iteration-free, pure window arithmetic.

    A single global ORDER BY would be one task at 100 TB, so packing is
    bucketed: documents hash into ``n_buckets`` independent streams
    (thousands on a real cluster) and each bucket packs in parallel —
    one shuffle, window functions per bucket, no data through the
    driver. Sequence ids are (bucket, local_seq), globally unique and
    deterministic.
    """
    toks = documents.select(
        "doc_id",
        n_tokens("text").alias("n_toks"),
        F.pmod(F.col("doc_id"), F.lit(n_buckets)).alias("bucket"),
    )
    w = Window.partitionBy("bucket").orderBy("doc_id")
    cum = toks.withColumn(
        "cum_before",
        F.coalesce(
            F.sum("n_toks").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ),
    )
    return cum.select(
        "doc_id",
        "bucket",
        "n_toks",
        F.floor(F.col("cum_before") / F.lit(token_budget)).alias("local_seq"),
        (F.col("bucket") * F.lit(1_000_000)
         + F.floor(F.col("cum_before") / F.lit(token_budget))).alias("seq_id"),
    )


def winnow_fingerprints(
    documents: DataFrame, k: int = 4, window: int = 5
) -> DataFrame:
    """Winnowing document fingerprints (rolling-hash selection).

    The MOSS/winnowing scheme (Schleimer, Wilkerson & Aiken, SIGMOD'03)
    over word ``k``-grams: hash every k-gram, slide a ``window``-wide
    frame over the hash sequence, keep the minimum hash of each frame,
    and emit the distinct selected hashes — a position-robust,
    subset-sized fingerprint set that detects partial overlap (copied
    paragraphs) where one global digest cannot. Guarantees: any shared
    run of ≥ window+k-1 words produces at least one shared fingerprint.

    Plan shape: pure JVM higher-order functions (transform / slice /
    array_min / array_distinct) — NO shuffle at all; the per-document
    work is a narrow projection, so fingerprinting 10^11 docs runs at
    scan speed and the output co-partitions with the input for a
    downstream inverted-index join (plagiarism/near-dup lookup).

    The hash is the md5 hex string (lexicographic min — ASCII compare,
    engine-neutral), so the DuckDB oracle recomputes identical
    fingerprints; a production deployment swaps in xxhash64 for 8-byte
    comparisons with identical plan shape.
    """
    words = documents.select("doc_id", F.split("text", " ").alias("w")).filter(
        F.size("w") >= k
    )
    grams = words.select(
        "doc_id",
        F.expr(
            f"transform(sequence(0, size(w) - {k}),"
            f" i -> md5(concat_ws(' ', slice(w, i + 1, {k}))))"
        ).alias("hs"),
    ).filter(F.size("hs") >= window)
    return grams.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform(sequence(0, size(hs) - {window}),"
                    f" i -> array_min(slice(hs, i + 1, {window})))"
                )
            )
        ).alias("fp"),
    )


#: Fixed retrieval query for bm25_rank: two common terms plus the one
#: rare token in the fixture vocabulary, so idf spread is exercised.
BM25_QUERY_TERMS = ("spark", "join", "dup")


def bm25_rank(
    documents: DataFrame,
    terms: tuple[str, ...] = BM25_QUERY_TERMS,
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
) -> DataFrame:
    """BM25 retrieval scoring: top-k documents for a fixed term query.

    The ranking half of corpus curation / retrieval-augmented data
    work. Shape for 100 TB: the exploded token relation is filtered to
    the query terms BEFORE any shuffle (the tf aggregate moves only
    matching (doc, term) rows), document frequencies derive from the
    tf relation itself (df = #docs where tf>0 — no second corpus
    scan), the corpus scalars (N, Σdl) are one broadcast row, and the
    top-k is ``orderBy().limit()`` — planned as a distributed
    TakeOrdered (per-partition heaps), never a global sort or a
    single-partition Window over the corpus. Rank is assigned AFTER
    the limit, over ≤ k rows.

    Determinism discipline: dl and all counts are integers, so avgdl is
    an exact-integer division; each per-term score is rounded to 6
    then summed as DECIMAL so the doc score is independent of term
    addition order; ties rank by doc_id.
    """
    # Materialized: referenced twice (scores + df derivation), and only
    # O(matching_docs × |terms|) rows survive the term filter.
    tf = materialize(
        documents.select(
            "doc_id", F.explode(F.split("text", " ")).alias("tok")
        )
        .filter(F.col("tok").isin(*terms))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    dl = documents.select(
        "doc_id", F.size(F.split("text", " ")).alias("dl")
    )
    scal = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )

    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    term_score = F.round(
        idf
        * (F.col("tf") * (k1 + 1))
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / avgdl)),
        6,
    )
    scored = (
        tf.join(F.broadcast(dfreq), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(scal))
        .groupBy("doc_id")
        .agg(
            F.sum(term_score.cast("decimal(18,6)")).alias("bm25_dec")
        )
    )
    top = scored.orderBy(F.col("bm25_dec").desc(), F.col("doc_id").asc()).limit(
        top_k
    )
    w = Window.orderBy(F.col("bm25_dec").desc(), F.col("doc_id").asc())
    return top.select(
        F.row_number().over(w).alias("rnk"),
        "doc_id",
        F.col("bm25_dec").cast("double").alias("bm25"),
    )


def cooccurrence_pmi(
    documents: DataFrame,
    min_pairs: int = 5,
    top_k: int = 50,
) -> DataFrame:
    """Token-pair pointwise mutual information within documents.

    Term-association mining (collocation discovery / embedding-free
    relatedness). Shape for 100 TB: tokens are doc-DISTINCTED inside a
    single projection (``array_distinct`` before the explode — no
    dedup shuffle) and the doc-token relation is MATERIALIZED once
    (the ngram_jaccard pattern: one corpus-sized pass feeds the
    self-join, both df lookups, and the doc count — instead of three
    re-scans). The within-doc pair relation comes from one equi-join
    on ``doc_id``, pairs below ``min_pairs`` are cut before the df
    join, document frequencies broadcast (vocab ≪ corpus), and top-k
    is a distributed TakeOrdered with rank assigned after the limit.
    PMI uses exact integer counts, so ``ln((c_ab·N)/(df_a·df_b))`` is
    deterministic; ties break lexicographically.
    """
    dt = materialize(
        documents.select(
            "doc_id",
            F.explode(F.array_distinct(F.split("text", " "))).alias("tok"),
        )
    )
    # N = total corpus docs (count-star over the table — row-group
    # metadata scan; dt would undercount docs with NULL text).
    n_docs = documents.agg(F.count(F.lit(1)).alias("n_docs"))
    dfreq = dt.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))

    a = dt.alias("a")
    bb = dt.alias("b")
    pairs = (
        a.join(bb, "doc_id")
        .filter(F.col("a.tok") < F.col("b.tok"))
        .groupBy(
            F.col("a.tok").alias("token_a"), F.col("b.tok").alias("token_b")
        )
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= min_pairs)
    )
    df_a = dfreq.select(
        F.col("tok").alias("token_a"), F.col("df").alias("df_a")
    )
    df_b = dfreq.select(
        F.col("tok").alias("token_b"), F.col("df").alias("df_b")
    )
    scored = (
        pairs.join(F.broadcast(df_a), "token_a")
        .join(F.broadcast(df_b), "token_b")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "pmi",
            F.round(
                F.log(
                    (F.col("c_ab") * F.col("n_docs")).cast("double")
                    / (F.col("df_a") * F.col("df_b")).cast("double")
                ),
                6,
            ),
        )
    )
    order = [
        F.col("pmi").desc(),
        F.col("token_a").asc(),
        F.col("token_b").asc(),
    ]
    top = scored.orderBy(*order).limit(top_k)
    w = Window.orderBy(*order)
    return top.select(
        F.row_number().over(w).alias("rnk"),
        "token_a",
        "token_b",
        "c_ab",
        "pmi",
    )


def sample_mixture(
    documents: DataFrame,
    rates: dict[str, float] | None = None,
    default_rate: float = 0.25,
    seed: int = 13,
) -> DataFrame:
    """Deterministic per-stratum sampling (training-mixture weighting).

    The domain-mixing step of LLM data curation: keep a different
    fraction of documents per stratum (here ``lang``). Membership is
    ``bucket(doc_id, seed) mod 1e6 < rate·1e6`` — a pure row-local
    expression, so the sample is reproducible across runs, partitions,
    and cluster sizes, needs no shuffle and no RNG state, and composes
    with predicate pushdown (the hash filter evaluates right after the
    scan). The bucket is the portable md5 form (first 60 bits of
    ``md5(doc_id || ':' || seed)``) shared with ``split_train_val_test``
    / ``cap_per_key`` / ``stratified_sample_exact`` — implemented
    identically in every engine, so the EXACT membership replays in
    DuckDB/Postgres verbatim and the gate hash-checks per-document
    (VERDICT r9 #4: this retired the family's last engine-hash
    rows-only carve-out). Determinism and rate accuracy are
    property-tested on top.
    """
    rates = rates if rates is not None else {"en": 0.5}
    rate_expr = F.lit(default_rate)
    for lang, rate in sorted(rates.items()):
        rate_expr = F.when(F.col("lang") == lang, F.lit(rate)).otherwise(rate_expr)
    bucket = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("doc_id"), F.lit(seed))), 1, 15
            ),
            16,
            10,
        ).cast("long"),
        F.lit(1_000_000),
    )
    return (
        documents.withColumn("keep_rate", rate_expr)
        # FLOOR, not a bare integer cast: Spark's double→long cast
        # truncates while DuckDB's CAST rounds (review finding — a
        # rate like 0.7 is 699999.99…e-6 in binary, so the two engines
        # disagree by one bucket). floor() is the registry-documented
        # portable convention for double→int.
        .filter(bucket < F.floor(F.col("keep_rate") * 1_000_000))
        .select("doc_id", "lang", F.round("keep_rate", 6).alias("keep_rate"))
    )


def split_train_val_test(
    documents: DataFrame,
    val_frac: float = 0.05,
    test_frac: float = 0.05,
    key_col: str = "doc_id",
    seed: int = 29,
) -> DataFrame:
    """Deterministic train/val/test assignment (curation's last step).

    Same mechanics as ``sample_mixture``: a keyed hash buckets each
    row into one of three disjoint, exhaustive splits via two
    thresholds — a pure row-local expression, so the assignment is
    reproducible across runs, partitionings, and cluster sizes, needs
    no shuffle, no RNG state, and no global count. Keying on a STABLE
    id (never position) means adding new documents later cannot move
    any existing document between splits — the property that keeps an
    eval set uncontaminated across dataset versions.

    The bucket hash is md5-derived (first 60 bits of
    ``md5(key || ':' || seed)``) rather than ``xxhash64``: md5 is
    implemented identically in every engine, so the EXACT assignment
    is recomputable outside Spark — an eval-set membership audit can
    run in DuckDB/Postgres/psql verbatim, and the correctness gate
    hash-checks per-document assignments against the DuckDB oracle.
    (xxhash64 is a few ns/row cheaper but engine-specific — swap the
    bucket expression if that ever matters; both are scan-speed.)
    Disjointness/stability/ratios are property-tested.
    """
    if not (0 <= val_frac and 0 <= test_frac and val_frac + test_frac < 1):
        raise ValueError(
            f"invalid split fractions: val={val_frac}, test={test_frac}"
        )
    bucket = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col(key_col), F.lit(seed))), 1, 15
            ),
            16,
            10,
        ).cast("long"),
        F.lit(1_000_000),
    )
    val_cut = int(val_frac * 1_000_000)
    test_cut = val_cut + int(test_frac * 1_000_000)
    split = (
        F.when(bucket < val_cut, F.lit("val"))
        .when(bucket < test_cut, F.lit("test"))
        .otherwise(F.lit("train"))
    )
    return documents.withColumn("split", split)


def repetition_signals(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition/quality signals (Rae et al. 2021, §A1.1).

    The repetition family of the MassiveText quality rules — the
    signals that catch boilerplate, scraped templates, and
    keyword-stuffed spam that length/stopword gates miss:

    - ``dup_line_frac``: fraction of newline-split lines that repeat an
      earlier line (row-local higher-order fns);
    - ``dup_word_frac``: fraction of word occurrences beyond each
      word's first (row-local);
    - ``symbol_word_ratio``: '#'/ellipsis occurrences per word
      (row-local);
    - ``top_bigram_char_frac``: fraction of document characters covered
      by occurrences of its single most frequent word bigram — the one
      signal needing a shuffle: bigram frequencies aggregate per
      (doc, gram) with map-side partials, then ``max_by`` picks the
      mode; all shuffled rows are (doc_id, hash-sized gram, count).

    Thresholds are the caller's policy (the paper cuts at e.g.
    dup_line_frac > 0.30, top_2gram_char_frac > 0.20,
    symbol_word_ratio > 0.10); this operator just measures.
    """
    # Signal extraction is CPU-bound per row (higher-order fns + bigram
    # explode); widen a narrower-than-cores scan so a single-row-group
    # fixture doesn't serialize it. No-op at scale (input splits exceed
    # cluster parallelism) — same rationale as decontaminate_ngram.
    sc = documents.sparkSession.sparkContext
    if documents.rdd.getNumPartitions() < sc.defaultParallelism:
        documents = documents.repartition(sc.defaultParallelism)

    text = F.col(text_col)
    lines = F.split(text, "\n")
    toks = F.split(text, " ")
    n_lines = F.size(lines)
    n_words = F.size(toks)
    sig = documents.select(
        "doc_id",
        F.round(
            (n_lines - F.size(F.array_distinct(lines)))
            / F.greatest(n_lines, F.lit(1)),
            6,
        ).alias("dup_line_frac"),
        F.round(
            (n_words - F.size(F.array_distinct(toks)))
            / F.greatest(n_words, F.lit(1)),
            6,
        ).alias("dup_word_frac"),
        F.round(
            (
                F.length(text)
                - F.length(F.regexp_replace(text, r"#|\.\.\.|…", ""))
            )
            / F.greatest(n_words, F.lit(1)).cast("double"),
            6,
        ).alias("symbol_word_ratio"),
        F.length(text).alias("n_chars"),
    )

    # size >= 2 filter BEFORE the sequence: sequence(1, 0) descends in
    # Spark and would feed slice() an invalid start-0 index; docs with
    # no bigram surface as NULL through the left join instead
    bigrams = documents.filter(F.size(toks) >= 2).select(
        "doc_id",
        F.length(text).alias("n_chars"),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - 1),
                lambda i: F.concat_ws(" ", F.slice(toks, i, 2)),
            )
        ).alias("g"),
    )
    top = (
        bigrams.groupBy("doc_id", "n_chars", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.max_by(
                F.struct(
                    (F.col("c") * F.length("g")).alias("covered"),
                    F.col("n_chars"),
                ),
                # deterministic mode pick: count, then covered chars,
                # then the lexicographically largest bigram on full ties
                F.struct(F.col("c"), F.length("g"), F.col("g")),
            ).alias("t"),
        )
    )
    # covered = count·len(gram) double-counts overlapping occurrences of
    # self-repeating bigrams ("a a a a" -> 9 chars covered of 7), so the
    # ratio is capped at 1.0 to stay a true fraction for threshold cuts.
    return sig.join(
        top.select(
            "doc_id",
            F.round(
                F.least(
                    F.col("t.covered")
                    / F.greatest(F.col("t.n_chars"), F.lit(1)),
                    F.lit(1.0),
                ),
                6,
            ).alias("top_bigram_char_frac"),
        ),
        "doc_id",
        "left",
    ).drop("n_chars")


def curate_for_training(
    documents: DataFrame,
    min_quality: float = 0.5,
    max_dup_word_frac: float = 0.5,
    val_frac: float = 0.05,
    test_frac: float = 0.05,
) -> DataFrame:
    """Full curation capstone: normalize → redact → gate → dedup → split.

    Composes the library end-to-end the way a training-data run would:
    ``text_clean`` normalization, ``mask_pii`` redaction, the quality
    score plus a Gopher-style repetition cut (dup-word fraction — the
    row-local signal; see ``repetition_signals`` for the full set),
    exact dedup on the redacted text (min doc_id survives, 16-byte
    fingerprint shuffle), then the deterministic, growth-stable
    train/val/test assignment. One Catalyst plan: every gate is a
    pushable expression, the only shuffle is the dedup groupBy, and
    the split adds zero shuffles. Returns
    (doc_id, split, clean_text, quality).
    """
    from big_data_trend_analysis_spark.functions.text import mask_pii

    toks = F.split("text", " ")
    dup_word_frac = (
        F.size(toks) - F.size(F.array_distinct(toks))
    ) / F.greatest(F.size(toks), F.lit(1))
    gated = (
        documents.filter(dup_word_frac <= max_dup_word_frac)
        .select(
            "doc_id",
            F.round(quality_score("text"), 6).alias("quality"),
            # redact BEFORE normalizing: the cleaner strips the very
            # separators (dashes, dots) the PII patterns key on; the
            # placeholders then lowercase to <phone>/<ip>/… alongside
            # the cleaner's own <url>/<email> convention
            _clean_expr(mask_pii(F.col("text"))).alias("clean_text"),
        )
        .filter(F.col("quality") >= min_quality)
    )
    survivors = gated.groupBy(F.md5("clean_text").alias("_fp")).agg(
        F.min("doc_id").alias("doc_id"),
        F.min_by("clean_text", "doc_id").alias("clean_text"),
        F.min_by("quality", "doc_id").alias("quality"),
    )
    return split_train_val_test(
        survivors.select("doc_id", "clean_text", "quality"),
        val_frac=val_frac,
        test_frac=test_frac,
    ).select("doc_id", "split", "clean_text", "quality")


def unigram_perplexity(documents: DataFrame) -> DataFrame:
    """Per-document cross-entropy under the corpus unigram LM.

    The CCNet/Gopher-family *perplexity filter* — the standard LM-based
    quality signal a pre-training pipeline runs alongside the heuristic
    gates (``quality_filter``): documents whose tokens are improbable
    under the corpus language model are boilerplate/noise candidates.
    Here the LM is the corpus's own unigram distribution, so the whole
    computation stays declarative:

    - one explode over the shared whitespace tokenization (identical to
      ``tfidf_top_term``'s, so both sides of the oracle agree);
    - one vocab-sized aggregation for token counts + a 1-row total;
    - per-token information content ``-log2(cnt/total)`` rounded to
      6 dp then fixed to ``decimal(18,6)`` so the per-document sum is
      order-independent (the engine's deterministic-aggregate
      discipline, functions/numeric.py);
    - one join tokens→bits (vocab side is Zipf-bounded — AQE broadcasts
      it at fixture scale; at 100 TB it's a shuffle join on token with
      the frequency side orders of magnitude smaller than the corpus)
      and one final doc_id aggregation.

    Returns ``(doc_id, n_tokens, bits_per_token)`` — bits_per_token is
    the doc's unigram cross-entropy; 2^bits_per_token its perplexity.
    """
    toks = documents.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    # The unigram LM (vocab-sized counts) is materialized once
    # (checkpoint): both consumers — the corpus total and the
    # per-token join side — would otherwise each re-derive it from
    # their own full corpus scan (Catalyst does no subplan reuse
    # across DataFrame references). One eager vocab-sized job buys the
    # final plan down to a single corpus scan.
    cnts = checkpoint(
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = cnts.agg(F.sum("cnt").alias("total"))
    bits = (
        cnts.crossJoin(F.broadcast(total))
        .select(
            "token",
            F.round(-F.log2(F.col("cnt") / F.col("total")), 6)
            .cast("decimal(18,6)")
            .alias("bits"),
        )
    )
    return (
        toks.join(bits, "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            # floor(x·1e6 + 0.5)/1e6, not round(x, 6): the numerator is
            # an exact 6-dp decimal, so x = sum/n lands on EXACT
            # half-way 6th-decimal ties whenever n divides the scaled
            # sum oddly — where Spark (HALF_UP on the shortest decimal)
            # and DuckDB (libm nearbyint) disagree. Every step here is
            # a single IEEE op, bit-identical in both engines.
            (
                F.floor(
                    F.sum("bits").cast("double") / F.count(F.lit(1)) * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("bits_per_token"),
        )
    )


def bigram_perplexity(documents: DataFrame, lam: float = 0.7) -> DataFrame:
    """Per-document cross-entropy under a Jelinek-Mercer-interpolated
    bigram LM — the n=2 step from ``unigram_perplexity`` toward the
    CCNet quality filter's real KenLM n-gram model (VERDICT r8 #5).

    P(w_i | w_{i-1}) = λ·c(w_{i-1} w_i)/c(w_{i-1}·) + (1−λ)·c(w_i)/N —
    the classical JM smoothing (Jelinek & Mercer 1980; Chen & Goodman
    1999 survey): the ML bigram estimate backed off toward the corpus
    unigram so unseen-in-context words keep finite information content.
    Plan shape mirrors the unigram operator and stays declarative:

    - bigrams form ROW-LOCALLY (zip_with over the shifted token
      array — no shuffle, no self-join) then explode once;
    - the LM relations are vocab-sized: bigram counts (one corpus
      aggregation, checkpoint — three consumers), context
      counts as a re-aggregation, unigram counts from the shared
      tokenization;
    - per-bigram bits = round(−log2(λ·p_ml + (1−λ)·p_uni), 6) fixed
      to ``decimal(18,6)``; the interpolation weights are BOTH plain
      double literals (0.7 / 0.3) — computing ``1 − λ`` at runtime
      differs between engines (IEEE 1.0−0.7 vs DuckDB's exact
      decimal), the engine's float-discipline pitfall;
    - one join bigrams→bits (LM side orders of magnitude smaller
      than the corpus) and one doc_id aggregation with the same
      floor-based exact-decimal mean as the unigram operator.

    Documents with fewer than two tokens have no bigrams and drop
    out (both engines agree by construction). Returns
    ``(doc_id, n_bigrams, bits_per_bigram)``.
    """
    lam_c = {0.7: 0.3, 0.5: 0.5}.get(lam, round(1.0 - lam, 10))
    arr = F.split("text", " ")
    toks = documents.select("doc_id", F.explode(arr).alias("token"))
    uni = checkpoint(
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cu"))
    )
    total = uni.agg(F.sum("cu").alias("total"))
    pairs = F.zip_with(
        F.slice(arr, 1, F.size(arr) - 1),
        F.slice(arr, 2, F.size(arr) - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    big = documents.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    cb = checkpoint(
        big.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    cc = cb.groupBy("w1").agg(F.sum("cb").alias("cc"))
    probs = (
        cb.join(cc, "w1")
        .join(uni.withColumnRenamed("token", "w2"), "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1",
            "w2",
            F.round(
                -F.log2(
                    F.lit(lam) * (F.col("cb") / F.col("cc"))
                    + F.lit(lam_c) * (F.col("cu") / F.col("total"))
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("bits"),
        )
    )
    return (
        big.join(probs, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            # the unigram operator's tie-free mean: exact 6-dp decimal
            # numerator, single-IEEE-op steps, identical both engines
            (
                F.floor(
                    F.sum("bits").cast("double") / F.count(F.lit(1)) * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("bits_per_bigram"),
        )
    )


def inverted_index_build(documents: DataFrame, k: int = 50) -> DataFrame:
    """Distributed inverted-index (posting-list) build — the retrieval
    half of a training-data pipeline (BM25/winnowing consume this).

    term → (document frequency, min/max doc, head of the sorted
    posting list). The posting head is capped at ``k`` doc_ids BEFORE
    the collect (row_number over the term key), so no task ever holds
    an unbounded list — a stopword's full posting list at 100 TB is
    gigabytes, its head is bounded; the exact df/min/max still cover
    the whole list. The pair dedup, the window and the groupBy ALL
    key on term, so one explicit term repartition up front satisfies
    every downstream clustering requirement — the plan runs exactly
    ONE shuffle (asserted in tests/test_plan_properties.py). A
    stopword's term lands in a single partition; that hotspot is
    inherent to per-term posting assembly (cure at 100 TB: drop
    df>threshold terms first — the quality_filter stopword path).
    """
    toks = (
        documents.select(
            "doc_id", F.explode(F.split("text", " ")).alias("term")
        )
        .where(F.col("term") != "")
        .repartition("term")
        .dropDuplicates(["term", "doc_id"])
    )
    rn = F.row_number().over(Window.partitionBy("term").orderBy("doc_id"))
    return (
        toks.withColumn("rn", rn)
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.when(F.col("rn") <= k, F.col("doc_id"))
                        )
                    ),
                    lambda x: x.cast("string"),
                ),
            ).alias("postings_head"),
        )
    )


def bpe_merge_rounds(documents: DataFrame, rounds: int = 2) -> DataFrame:
    """Distributed BPE tokenizer training — ``rounds`` merge rounds
    unrolled into one Catalyst plan (the pagerank_fixed pattern).

    The real tokenizer-training shape (Sennrich et al. 2016): the
    corpus collapses ONCE to the word-frequency relation (the only
    corpus-sized shuffle — everything after runs on |vocab| rows,
    which is why BPE training is feasible at 100 TB at all). Each
    round: adjacent symbol pairs explode from the symbol string
    weighted by word freq, the argmax pair (freq desc, then
    lexicographic — deterministic) broadcasts back as a 1-row scalar,
    and the merge applies as a string ``replace``. Symbols are joined
    by DOUBLE spaces with the pattern ``' a  b '`` → ``' ab '``
    taking ONE space from each side: adjacent occurrences then never
    overlap, so a single left-to-right replace pass merges exactly
    the disjoint leftmost occurrences — which iterated to fixpoint
    (a merge can only remove adjacencies, never create new ones for
    a different pair) is canonical greedy BPE application; with
    single spaces the shared boundary space strands alternating
    singles (`' a a a a '` → `' aa a aa '` — probed). Two passes are
    run (one reaches fixpoint; the second is an idempotent guard),
    with identical replace semantics in both engines. Per-round
    ``checkpoint`` truncates lineage so round N+1 plans against
    the materialized vocab, not a growing expression tree. Output:
    one row per round — the learned merge rule and its frequency.
    """
    rules, _ = _bpe_rounds(
        documents.select(F.explode(F.split("text", " ")).alias("w")).where(
            F.col("w") != ""
        ),
        rounds,
    )
    return rules


def _bpe_rounds(words: DataFrame, rounds: int) -> tuple[DataFrame, DataFrame]:
    """The argmax-and-replace merge rounds over the |vocab| relation.

    ``words`` has one row per word occurrence (column ``w``). Returns
    the learned rules — ``(round, lhs, rhs, pf)``, one row per round —
    and the vocab after the last merge, ``(w, freq, s)`` with ``s``
    the word's symbols joined by double spaces. Each round checkpoints
    the vocab it reads, so the merged vocab is checkpointed only when
    a later round reads it; the returned one is still lazy.
    """
    sym0 = F.concat(
        F.lit("  "), F.concat_ws("  ", F.split(F.col("w"), "")), F.lit("  ")
    )
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).alias("freq")).select(
        "w", "freq", sym0.alias("s")
    )
    learned = []
    for r in range(1, rounds + 1):
        vocab = checkpoint(vocab)
        arr = vocab.withColumn("a", F.split(F.trim(F.col("s")), "  "))
        pairs = arr.select(
            "freq",
            F.explode(
                F.arrays_zip(
                    F.expr("slice(a, 1, size(a) - 1)").alias("lhs"),
                    F.expr("slice(a, 2, size(a) - 1)").alias("rhs"),
                )
            ).alias("p"),
        ).select("freq", F.col("p.lhs").alias("lhs"), F.col("p.rhs").alias("rhs"))
        best = checkpoint(
            pairs.groupBy("lhs", "rhs")
            .agg(F.sum("freq").alias("pf"))
            .orderBy(F.desc("pf"), F.asc("lhs"), F.asc("rhs"))
            .limit(1)
        )
        learned.append(
            best.select(F.lit(r).cast("int").alias("round"), "lhs", "rhs", "pf")
        )
        pat = F.concat(
            F.lit(" "), F.col("lhs"), F.lit("  "), F.col("rhs"), F.lit(" ")
        )
        rep = F.concat(F.lit(" "), F.col("lhs"), F.col("rhs"), F.lit(" "))
        merged = F.col("s")
        for _ in range(2):
            merged = F.replace(merged, pat, rep)
        vocab = vocab.crossJoin(F.broadcast(best)).select(
            "w", "freq", merged.alias("s")
        )
    return functools.reduce(DataFrame.unionByName, learned), vocab


def bpe_encode(documents: DataFrame, rounds: int = 2) -> DataFrame:
    """BPE tokenizer APPLICATION — encode every document with the
    merge table ``bpe_merge_rounds`` learns, end to end in ONE plan.

    Completes the tokenizer story: training is useless without the
    encode path a data pipeline runs over the whole corpus to budget
    tokens per document. The 100 TB shape is the standard production
    trick: encode the **vocabulary**, not the corpus — the merge
    chain (re-derived in-plan with the identical argmax-and-replace
    rounds as the trainer, each rule a broadcast 1-row scalar; zero
    driver collects) runs over the |vocab| relation only, and the
    corpus-sized side is a single explode + equi-join of doc words
    against the encoded vocab + one per-doc aggregation. Applying a
    merge to a distinct word once instead of to every occurrence is
    exact because BPE encoding is a pure function of the word.

    Output per document: word count, post-BPE token count, and a
    lossless-ness flag (symbols stripped of separator spaces must
    reassemble every word exactly — tokenization never invents or
    drops a byte).
    """
    doc_words = documents.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).where(F.col("w") != "")
    encoded = _bpe_encoded_vocab(doc_words, rounds)
    return (
        doc_words.join(encoded.select("w", "tpw", "rt"), "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.col("tpw").cast("long")).alias("n_tokens"),
            F.bool_and("rt").alias("roundtrip_ok"),
        )
    )


def _bpe_encoded_vocab(doc_words: DataFrame, rounds: int) -> DataFrame:
    """Shared encode-the-vocabulary stage of ``bpe_encode`` /
    ``pack_sequences_bpe``: re-derive the merge chain over the
    |vocab| relation (``_bpe_rounds``, the rounds ``bpe_merge_rounds``
    runs) and return ``(w, freq, tpw, rt)`` — tokens-per-word and the
    lossless-reassembly flag for every distinct word."""
    _, vocab = _bpe_rounds(doc_words, rounds)
    return checkpoint(vocab).select(
        "w",
        "freq",
        F.size(F.split(F.trim(F.col("s")), "  ")).alias("tpw"),
        (F.replace(F.col("s"), F.lit(" "), F.lit("")) == F.col("w")).alias("rt"),
    )


def pack_sequences_bpe(
    documents: DataFrame,
    rounds: int = 2,
    token_budget: int = 2048,
    n_buckets: int = 32,
) -> DataFrame:
    """``pack_sequences`` over REAL tokenizer lengths (VERDICT r8 #6):
    budget by post-BPE token counts, the way a production pretraining
    pipeline packs — whitespace word counts under-count tokens by the
    tokens-per-word factor, so whitespace-budgeted sequences overflow
    the model's context window.

    Composition, still one Catalyst plan: encode the VOCABULARY (the
    ``bpe_encode`` production trick — the merge chain runs on |vocab|
    rows), join doc words to tokens-per-word, aggregate to per-doc
    BPE lengths, then the bucketed concat-and-chunk arithmetic of
    ``pack_sequences`` (hash-bucketed streams, exclusive running sum,
    floor-divide by the budget — one shuffle per stage, no driver
    data). Documents with no non-empty words have zero tokens and
    drop with the word explode (both engines agree). Returns
    ``(doc_id, bucket, n_toks, local_seq, seq_id)`` where ``n_toks``
    is the document's BPE token count.
    """
    doc_words = documents.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).where(F.col("w") != "")
    encoded = _bpe_encoded_vocab(doc_words, rounds)
    counts = (
        doc_words.join(encoded.select("w", "tpw"), "w")
        .groupBy("doc_id")
        .agg(F.sum(F.col("tpw").cast("long")).alias("n_toks"))
        .select(
            "doc_id",
            "n_toks",
            F.pmod(F.col("doc_id"), F.lit(n_buckets)).alias("bucket"),
        )
    )
    w = Window.partitionBy("bucket").orderBy("doc_id")
    cum = counts.withColumn(
        "cum_before",
        F.coalesce(
            F.sum("n_toks").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ),
    )
    return cum.select(
        "doc_id",
        "bucket",
        "n_toks",
        F.floor(F.col("cum_before") / F.lit(token_budget)).alias("local_seq"),
        (F.col("bucket") * F.lit(1_000_000)
         + F.floor(F.col("cum_before") / F.lit(token_budget))).alias("seq_id"),
    )


def group_entropy(documents: DataFrame) -> DataFrame:
    """Per-source label-balance audit: Shannon entropy of the language
    mix — the dataset-composition check a multilingual training
    pipeline runs before fixing sampling weights (a source with
    entropy ≈ 0 is monolingual; ≈ log2(n_langs) is uniform).

    Each (source, lang) cell's term −p·log₂p is rounded per row and
    summed in exact decimal (the rounded_sum discipline), so the
    entropy is independent of partial-aggregation order. Two
    aggregations on the cell relation + a broadcast of the tiny
    per-source totals; nothing after the first groupBy touches rows.
    """
    from big_data_trend_analysis_spark.functions.numeric import rounded_sum

    cells = documents.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("c")
    )
    tot = cells.groupBy("source").agg(
        F.sum("c").alias("t"), F.count(F.lit(1)).alias("n_langs")
    )
    p = F.col("c").cast("double") / F.col("t")
    term = -(p * F.log2(p))
    return (
        cells.join(F.broadcast(tot), "source")
        .groupBy("source")
        .agg(
            F.min("t").alias("n_docs"),
            F.min("n_langs").alias("n_langs"),
            rounded_sum(term).alias("entropy_r"),
        )
    )


def boilerplate_lines(
    documents: DataFrame, max_df: int = 3, text_col: str = "text"
) -> DataFrame:
    """Corpus-level boilerplate-line removal (CCNet/RefinedWeb step).

    Lines repeated across more than ``max_df`` documents (nav bars,
    cookie banners, subscribe footers, license headers) are
    boilerplate and are stripped from EVERY document — the corpus-wide
    complement of the row-local ``repetition_signals``: no single
    document looks abnormal, the repetition is only visible across
    documents.

    Plan shape for 100 TB: one posexplode to the per-(doc, line)
    relation; the document-frequency aggregation shuffles DISTINCT
    (doc, line) pairs once; the boilerplate relation (df > max_df) is
    tiny by construction — boilerplate is by definition few DISTINCT
    strings — so it broadcasts back onto the line relation, and each
    document reassembles order-preserved (array_sort on the exploded
    position) in one final doc_id aggregation. Two shuffles total,
    both bounded by the line relation, never O(corpus²).

    Returns (doc_id, clean_text, n_lines_kept, n_lines_dropped).
    """
    lines = documents.select(
        "doc_id", F.posexplode(F.split(text_col, "\n")).alias("pos", "line")
    )
    boiler = (
        lines.select("doc_id", "line")
        .distinct()
        .groupBy("line")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_df)
        .select("line", F.lit(True).alias("is_boiler"))
    )
    flagged = lines.join(F.broadcast(boiler), "line", "left").select(
        "doc_id",
        "pos",
        "line",
        F.coalesce(F.col("is_boiler"), F.lit(False)).alias("is_boiler"),
    )
    collected = F.array_sort(F.collect_list(F.struct("pos", "line", "is_boiler")))
    kept_arr = F.filter(collected, lambda x: ~x.getField("is_boiler"))
    return flagged.groupBy("doc_id").agg(
        F.concat_ws(
            "\n", F.transform(kept_arr, lambda x: x.getField("line"))
        ).alias("clean_text"),
        F.size(kept_arr).alias("n_lines_kept"),
        (F.count(F.lit(1)) - F.size(kept_arr)).alias("n_lines_dropped"),
    )


def stratified_sample_exact(
    documents: DataFrame,
    k_per_stratum: int = 10,
    stratum_col: str = "lang",
    key_col: str = "doc_id",
    seed: int = 31,
) -> DataFrame:
    """Exact-k per-stratum sample under a deterministic portable order.

    The fixed-size complement of the rate-based ``sample_mixture``:
    carve EXACTLY ``k`` rows per stratum (an eval slice, a labeling
    batch, a per-domain inspection set), chosen by ranking each
    stratum on the md5 bucket of its stable key — so membership is
    reproducible across runs/partitionings/engines (the
    ``split_train_val_test`` portability discipline: any engine can
    recompute the ranking), and adding documents to OTHER strata
    never changes a stratum's sample. One window shuffle on the
    stratum key; ties on the 60-bit hash broken by the key itself.
    """
    bucket = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.col(key_col), F.lit(seed))), 1, 15),
        16,
        10,
    ).cast("long")
    w = Window.partitionBy(stratum_col).orderBy(bucket, F.col(key_col))
    return (
        documents.select(
            key_col, stratum_col, F.row_number().over(w).alias("rnk")
        )
        .filter(F.col("rnk") <= k_per_stratum)
    )


def collocation_llr(
    documents: DataFrame,
    min_count: int = 5,
    top_k: int = 50,
) -> DataFrame:
    """Dunning log-likelihood-ratio collocations over adjacent bigrams.

    The statistically-sound collocation test beside ``cooccurrence_pmi``
    (PMI over-rewards rare pairs; Dunning 1993's G² does not): for each
    adjacent word pair, the 2×2 contingency (k11 = c(ab),
    k12 = c(a·)−k11, k21 = c(·b)−k11, k22 = N−c(a·)−c(·b)+k11) scored
    by G² = 2·Σ k·ln(k) over the table vs its margins. Scale shape:
    ONE corpus pass materializes bigram counts (vocab²-bounded, the
    ``udtf_bigram_topk`` relation); first-word / second-word margins
    and N are re-aggregations of it, broadcast back. The nine k·ln(k)
    terms are each rounded to 6 dp before the fixed-order sum — after
    rounding, both engines combine identical doubles, so G² is
    bit-stable (the ``mutual_information`` discipline).

    Emits the ``top_k`` pairs by G² (ties lexicographic):
    (rnk, w1, w2, k11, llr).
    """
    toks = documents.select(
        F.filter(F.split("text", " "), lambda t: t != "").alias("arr")
    ).filter(F.size("arr") >= 2)
    grams = materialize(
        toks.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(arr) - 1),"
                    " i -> struct(arr[i - 1] AS w1, arr[i] AS w2))"
                )
            ).alias("g")
        )
        .select("g.w1", "g.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("k11"))
    )
    c1 = grams.groupBy("w1").agg(F.sum("k11").alias("c1"))
    c2 = grams.groupBy("w2").agg(F.sum("k11").alias("c2"))
    n = grams.agg(F.sum("k11").alias("n_tot"))

    def xlx(k):
        # k·ln(k) with the 0·ln(0) = 0 convention, quantized at 6 dp so
        # downstream arithmetic is identical-IEEE on both engines.
        return F.round(
            F.when(k > 0, k.cast("double") * F.log(k.cast("double")))
            .otherwise(F.lit(0.0)),
            6,
        )

    k11 = F.col("k11")
    k12 = F.col("c1") - k11
    k21 = F.col("c2") - k11
    k22 = F.col("n_tot") - F.col("c1") - F.col("c2") + k11
    llr = F.round(
        F.lit(2.0)
        * (
            xlx(k11)
            + xlx(k12)
            + xlx(k21)
            + xlx(k22)
            - xlx(F.col("c1"))
            - xlx(F.col("n_tot") - F.col("c1"))
            - xlx(F.col("c2"))
            - xlx(F.col("n_tot") - F.col("c2"))
            + xlx(F.col("n_tot"))
        ),
        6,
    )
    scored = (
        grams.filter(k11 >= min_count)
        .join(F.broadcast(c1), "w1")
        .join(F.broadcast(c2), "w2")
        .crossJoin(F.broadcast(n))
        .select("w1", "w2", "k11", llr.alias("llr"))
    )
    order = [F.col("llr").desc(), F.col("w1").asc(), F.col("w2").asc()]
    top = scored.orderBy(*order).limit(top_k)
    w = Window.orderBy(*order)
    return top.select(
        F.row_number().over(w).alias("rnk"), "w1", "w2", "k11", "llr"
    )


def dataset_mixing_weights(
    documents: DataFrame,
    max_epochs: float = 3.0,
) -> DataFrame:
    """Per-source sampling weights for a target pretraining mixture.

    The dataset-mixing step every LLM pretraining run performs: given
    the corpus's actual token mass per source and a target mixture
    (uniform over observed sources here — the commonest default when
    no tuned weights exist), the sampling weight for source s is
    w_s = target_share·T / tokens_s (how many times each of s's tokens
    is drawn per epoch of the blended stream). Oversampling is capped
    at ``max_epochs`` (the repetition ceiling after which quality
    degrades, Muennighoff 2023), and the effective post-cap token
    contribution is reported so the pipeline can renormalize or flag
    an infeasible mixture. Scale shape: ONE corpus-sized aggregation
    to per-source token totals; everything after is arithmetic on the
    sources relation (broadcast totals). All ratios are exact integer
    ratios rounded to 6 dp.

    Emits one row per source: (source, n_docs, n_tokens, token_share,
    target_share, weight, capped_weight, effective_tokens).
    """
    # per_src feeds both the totals rollup and the weights projection —
    # materialized so the corpus tokenizes once.
    per_src = materialize_tiny(
        documents.groupBy("source").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(n_tokens("text")).alias("n_tokens"),
        )
    )
    totals = per_src.agg(
        F.sum("n_tokens").alias("tot_tokens"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    # nullif guards: a source of empty/NULL texts has 0 tokens, and an
    # all-empty corpus has a 0 total — NULL on both engines (Spark ANSI
    # raises on /0, DuckDB returns inf).
    out = per_src.crossJoin(F.broadcast(totals)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(
            F.col("n_tokens") / F.nullif(F.col("tot_tokens"), F.lit(0)), 6
        ).alias("token_share"),
        F.round(F.lit(1.0) / F.col("n_sources"), 6).alias("target_share"),
        F.round(
            (F.col("tot_tokens").cast("double") / F.col("n_sources"))
            / F.nullif(F.col("n_tokens"), F.lit(0)),
            6,
        ).alias("weight"),
    )
    return out.select(
        "*",
        F.round(F.least(F.col("weight"), F.lit(max_epochs)), 6).alias(
            "capped_weight"
        ),
        F.round(
            F.least(F.col("weight"), F.lit(max_epochs)) * F.col("n_tokens"),
            6,
        ).alias("effective_tokens"),
    )


#: Fixed logistic-regression weights for the quality classifier —
#: (bias, w_len, w_tok, w_stop) over the three bounded quality_score
#: features. Stand-ins with the fasttext-classifier SHAPE (a published
#: weight vector applied at scan speed); a trained model drops into the
#: same expression.
_QLR_WEIGHTS = (-2.0, 1.5, 1.2, 2.0)


def quality_classifier_score(
    documents: DataFrame, keep_threshold: float = 0.5
) -> DataFrame:
    """Linear-model quality scoring at scan speed (fasttext-filter shape).

    The model-based twin of ``quality_filter``'s heuristic mean: a
    logistic regression over the same three bounded features
    (length / mean-token-length / stopword-ratio scores), evaluated as
    pure JVM expressions — batch inference with NO Python in the loop,
    the way a 100 TB quality pass must run (CCNet/fasttext classifiers
    are exactly a linear model over cheap features). Features and the
    logit are rounded to 6 dp before the sigmoid so both engines
    exponentiate the identical double.

    Emits (doc_id, f_len, f_tok, f_stop, score, keep).
    """
    from big_data_trend_analysis_spark.functions.text import (
        n_tokens as _nt,
        stopword_ratio,
    )

    c = F.col("text")
    f_len = F.round(
        F.least(F.length(c).cast("double") / F.lit(500.0), F.lit(1.0)), 6
    )
    f_tok = F.round(
        F.least(
            F.length(c).cast("double") / _nt(c).cast("double") / F.lit(8.0),
            F.lit(1.0),
        ),
        6,
    )
    f_stop = F.round(
        F.least(stopword_ratio(c) / F.lit(0.2), F.lit(1.0)), 6
    )
    b, w1, w2, w3 = _QLR_WEIGHTS
    feats = documents.select(
        "doc_id",
        f_len.alias("f_len"),
        f_tok.alias("f_tok"),
        f_stop.alias("f_stop"),
    )
    logit = F.round(
        F.lit(b)
        + F.lit(w1) * F.col("f_len")
        + F.lit(w2) * F.col("f_tok")
        + F.lit(w3) * F.col("f_stop"),
        6,
    )
    scored = feats.select(
        "*",
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6).alias("score"),
    )
    return scored.withColumn("keep", F.col("score") >= keep_threshold)


def cap_per_key(
    documents: DataFrame,
    max_per_key: int = 20,
    seed: int = 17,
) -> DataFrame:
    """Cap each source's contribution at ``max_per_key`` documents.

    The per-domain contribution cap every crawl-derived corpus applies
    (one mega-domain must not dominate the mixture): documents rank
    within their source by a PORTABLE md5 order (the
    ``split_train_val_test`` discipline — any engine recomputes the
    exact same survivor set, and existing documents never REORDER
    among themselves when the corpus grows; a new arrival can only
    push out the current tail), and rank > cap is dropped. One
    shuffle on the key; the rank window runs per source.
    Emits the per-source audit (the kept-id sum pins membership, not
    just counts): (source, n_docs, n_kept, n_dropped, sum_kept_ids).
    """
    h = F.md5(F.concat_ws(":", F.col("doc_id"), F.lit(seed)))
    w = Window.partitionBy("source").orderBy(h.asc(), F.col("doc_id").asc())
    ranked = documents.select("doc_id", "source").withColumn(
        "rnk", F.row_number().over(w)
    )
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_if(F.col("rnk") <= max_per_key).alias("n_kept"),
        F.count_if(F.col("rnk") > max_per_key).alias("n_dropped"),
        F.coalesce(
            F.sum(F.when(F.col("rnk") <= max_per_key, F.col("doc_id"))),
            F.lit(0),
        ).alias("sum_kept_ids"),
    )


def ngram_novelty_score(documents: DataFrame, n: int = 3) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's
    distinct word trigrams that appear NOWHERE else in the corpus
    (document frequency 1). High novelty = fresh text worth training
    on; low novelty = templated/duplicated content — the
    diversity-side complement of the dedup family (which REMOVES
    repeats; this SCORES how much of each survivor is corpus-unique).

    Plan: reuse the dedup family's distinct (doc_id, shingle)
    relation (split once, row-local ``transform`` fan-out), aggregate
    shingle→df, broadcast nothing — the df relation joins back to
    the postings on the shingle key, one shuffle each side, then a
    doc-keyed rollup. At 100 TB this is exactly the inverted-index
    economics of ``dedup_minhash``: postings partition by shingle,
    the rollup by doc, both keys uniform. The ratio is one double
    division of exact counts (bit-identical on both engines),
    rounded to 6 dp.

    Emits (doc_id, n_grams, n_unique, novelty). Documents shorter
    than ``n`` words contribute their whole word list as one short
    gram (the ``_doc_shingles`` convention the whole dedup family
    shares), so every document scores.
    """
    from big_data_trend_analysis_spark.operators.dedup import _doc_shingles

    grams = _doc_shingles(documents, n=n)
    df = grams.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    return (
        grams.join(df, "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("df") == 1).cast("long")).alias("n_unique"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_unique",
            F.round(
                F.col("n_unique").cast("double") / F.col("n_grams"), 6
            ).alias("novelty"),
        )
    )


def doc_chunking(
    documents: DataFrame, chunk_tokens: int = 64, stride: int = 48
) -> DataFrame:
    """Overlapping fixed-budget token chunking (context-window packing's
    sibling: RAG / embedding ingestion splits documents BEFORE encoding).

    Each document yields ceil-coverage chunks of ``chunk_tokens`` words
    at ``stride`` spacing — the final chunk always reaches the document
    tail, so every token lands in ≥1 chunk and interior tokens overlap
    by ``chunk_tokens − stride``. Pure row-local JVM expressions
    (sequence → posexplode → slice → concat_ws): no shuffle at all,
    the ideal 100-TB shape — chunking composes with the parquet scan
    and pushes straight into whole-stage codegen. Emitted text is the
    md5 fingerprint, not the body (the chunk store at scale writes
    bodies to its own sink; the gate pins identity + shape).

    Emits one row per chunk:
    (doc_id, chunk_id, start_tok, n_tok, chunk_fp).
    """
    w = F.split("text", " ")
    n = F.size(w)
    # ceil((n - chunk)/stride) in integer math; 0 when the doc fits
    n_extra = F.greatest(
        F.lit(0),
        F.floor(
            (n - F.lit(chunk_tokens) + F.lit(stride - 1))
            / F.lit(stride)
        ).cast("int"),
    )
    starts = F.sequence(F.lit(0), n_extra * stride, F.lit(stride))
    chunks = documents.select(
        "doc_id",
        F.col("text"),
        F.posexplode(starts).alias("chunk_id", "start_tok"),
    ).select(
        "doc_id",
        "chunk_id",
        "start_tok",
        F.slice(
            F.split("text", " "), F.col("start_tok") + 1, chunk_tokens
        ).alias("toks"),
    )
    return chunks.select(
        "doc_id",
        "chunk_id",
        "start_tok",
        F.size("toks").alias("n_tok"),
        F.md5(F.concat_ws(" ", "toks")).alias("chunk_fp"),
    )


def tfidf_cosine_pairs(
    documents: DataFrame,
    df_max: int = 10,
    top_k: int = 20,
) -> DataFrame:
    """Exact TF-IDF cosine similarity for candidate document pairs.

    The all-pairs similarity join (Elsayed/DISCO shape) that backs
    "related documents" and duplicate triage when MinHash's set
    semantics are too coarse: terms are word 3-gram SHINGLES (the
    ``_doc_shingles`` vocabulary — unigrams are useless here both
    statistically and economically: the fixture corpus has ~31
    distinct words, every one common, so unigram df-pruning yields
    zero candidates while unigram joins explode quadratically),
    weights are (1+ln tf)·ln(N/df), candidate pairs must share at
    least one RARE shingle (df ≤ ``df_max`` — the ``ngram_jaccard``
    economics), and each candidate's cosine is then EXACT — the full
    postings of both sides join through the candidate relation, so
    pruning affects recall only, never a surviving pair's score.
    Scale shape: one corpus shingle pass feeds tf/df/norms
    (materialized), candidates come from the df-pruned postings
    self-join (bucketed by shingle), and the final dot product
    shuffles candidate×term rows only. Determinism: weights are
    rounded to 6 dp into decimal, dot products and norms² fold
    exactly, and the cosine divides doubles cast from those decimals,
    rounded 6 dp; top-k ties break on the id pair.

    Emits ≤ top_k rows: (doc_a, doc_b, n_shared, cosine).
    """
    from big_data_trend_analysis_spark.operators.dedup import _doc_shingles

    # hashed=True: every downstream shuffle (tf/df aggregation, the
    # rare-postings self-join, both candidate-routed dot joins) moves
    # 8-byte longs instead of 3-word strings; term identity is never
    # emitted, so the oracle twin replays the un-hashed relation and
    # compares only ids/counts/cosines (the dedup-family layout).
    tf = (
        _doc_shingles(documents, n=3, distinct=False, hashed=True)
        .select("doc_id", F.col("token").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    n_docs = documents.agg(F.count(F.lit(1)).alias("n_docs"))
    # df via an unordered count window over the SAME term-keyed
    # exchange the aggregation-join pair used to need twice (round-13,
    # guide §2.4 "two operations keyed the same way can share one
    # exchange"): the old shape shuffled tf by term for the df
    # aggregation AND joined the result back onto tf — at fixture
    # scale a broadcast-join build job, at 100 TB a second full
    # shuffle of the posting relation (the df side is vocab-sized but
    # the probe side re-partitions). count(*) over (partition by term)
    # is the same df per posting row from ONE term shuffle, no sort
    # (full-frame count needs no ordering). tf itself is no longer
    # persisted: the window's exchange is the single consumer of the
    # tf aggregation, so the cache bought nothing.
    w_term = Window.partitionBy("term")
    posting = materialize(
        tf.withColumn("df", F.count(F.lit(1)).over(w_term))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "df",
            F.round(
                (1.0 + F.log(F.col("tf").cast("double")))
                * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            )
            .cast("decimal(18,6)")
            .alias("w"),
        )
    )
    # norms is referenced twice (the doc_a and doc_b sides of the
    # scored join); unpersisted, the posting cache re-aggregated per
    # side (round-13, guide §2.4).
    norms = materialize(
        posting.groupBy("doc_id").agg(
            F.sum(
                (F.col("w") * F.col("w")).cast("decimal(38,12)")
            ).alias("norm2")
        )
    )
    rare = posting.filter(F.col("df") <= df_max)
    cand = (
        rare.alias("a")
        .join(rare.alias("b"), "term")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    dots = (
        cand.join(
            posting.select(
                F.col("doc_id").alias("doc_a"),
                "term",
                F.col("w").alias("w_a"),
            ),
            "doc_a",
        )
        .join(
            posting.select(
                F.col("doc_id").alias("doc_b"),
                "term",
                F.col("w").alias("w_b"),
            ),
            ["doc_b", "term"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).alias("n_shared"),
            F.sum(
                (F.col("w_a") * F.col("w_b")).cast("decimal(38,12)")
            ).alias("dot"),
        )
    )
    scored = (
        dots.join(
            norms.select(F.col("doc_id").alias("doc_a"), F.col("norm2").alias("na")),
            "doc_a",
        )
        .join(
            norms.select(F.col("doc_id").alias("doc_b"), F.col("norm2").alias("nb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            F.round(
                F.col("dot").cast("double")
                / F.nullif(
                    F.sqrt(
                        F.col("na").cast("double") * F.col("nb").cast("double")
                    ),
                    F.lit(0.0),
                ),
                6,
            ).alias("cosine"),
        )
    )
    top = scored.orderBy(
        F.col("cosine").desc(), F.col("doc_a").asc(), F.col("doc_b").asc()
    ).limit(top_k)
    return top


#: Gopher's repetition/quality stopword probe (Rae et al. 2021 §A1.1):
#: a document must contain at least 2 of these 8 words to pass.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_rules(documents: DataFrame) -> DataFrame:
    """Gopher rule-based quality gates (Rae et al. 2021, appendix A) —
    the documented-rule companion to the engine's generic
    ``quality_filter`` heuristics: per document, the word-count band
    [50, 100k], mean word length band [3, 10], symbol-to-word ratio
    (# or …) ≤ 0.1, ≥ 80% of words containing an alphabetic
    character, and ≥ 2 of Gopher's 8 probe stopwords present. (The
    bullet-line / ellipsis-line rules need line structure the
    single-line fixture text cannot carry and are intentionally
    omitted.) Everything is one projection of JVM higher-order
    functions over the shared whitespace tokenization — scan speed,
    zero shuffles, 100 TB-safe by construction.

    Emits per doc: (doc_id, n_words, mean_word_len, symbol_ratio,
    alpha_ratio, n_stop_hits, rule_word_count, rule_mean_word_len,
    rule_symbol_ratio, rule_alpha_ratio, rule_stopwords, pass_gopher).
    """
    words = F.split(F.col("text"), " ")
    n_words = F.size(words)
    mean_len = F.round(
        F.aggregate(
            words, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
        ).cast("double")
        / n_words,
        6,
    )
    n_symbols = F.size(
        F.filter(words, lambda w: w.rlike("[#…]"))
    )
    symbol_ratio = F.round(n_symbols.cast("double") / n_words, 6)
    n_alpha = F.size(F.filter(words, lambda w: w.rlike("[a-zA-Z]")))
    alpha_ratio = F.round(n_alpha.cast("double") / n_words, 6)
    stop_arr = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    n_stop = F.size(F.array_intersect(F.array_distinct(words), stop_arr))
    base = documents.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_len.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        alpha_ratio.alias("alpha_ratio"),
        n_stop.alias("n_stop_hits"),
    )
    r_wc = (F.col("n_words") >= 50) & (F.col("n_words") <= 100_000)
    r_mwl = (F.col("mean_word_len") >= 3.0) & (
        F.col("mean_word_len") <= 10.0
    )
    r_sym = F.col("symbol_ratio") <= 0.1
    r_alpha = F.col("alpha_ratio") >= 0.8
    r_stop = F.col("n_stop_hits") >= 2
    return base.select(
        "*",
        r_wc.alias("rule_word_count"),
        r_mwl.alias("rule_mean_word_len"),
        r_sym.alias("rule_symbol_ratio"),
        r_alpha.alias("rule_alpha_ratio"),
        r_stop.alias("rule_stopwords"),
        (r_wc & r_mwl & r_sym & r_alpha & r_stop).alias("pass_gopher"),
    )


def paragraph_dedup(
    documents: DataFrame, seg_words: int = 10, min_docs: int = 3
) -> DataFrame:
    """Sub-document exact dedup: drop text segments that repeat across
    the corpus (the Falcon/RefinedWeb repeated-line removal, adapted
    to the fixture's line-less text as fixed 10-word segments).

    Document-level dedup keeps one copy of a page but leaves shared
    boilerplate (headers, legal footers) inside every survivor; this
    operator fingerprints each segment (md5) and removes segments
    whose fingerprint occurs in ≥ ``min_docs`` DISTINCT documents.
    Scale shape: one posexplode to the (doc, idx, fp) segment relation,
    ONE fp-keyed distinct-doc aggregation for the document frequency
    (postings-sized, never corpus²), one join back, and a doc-keyed
    rollup that reassembles the kept text in segment order (the
    surviving text is pinned as an md5, not shipped). Deterministic by
    construction — no sampling, no hashing beyond md5.

    Emits per doc: (doc_id, n_paras, n_dup_paras, clean_fp).
    """
    words = F.split(F.col("text"), " ")
    n_seg = F.ceil(F.size(words) / F.lit(seg_words)).cast("int")
    segs = documents.select(
        "doc_id",
        F.posexplode(F.sequence(F.lit(0), n_seg - 1)).alias("idx", "_"),
        words.alias("w"),
    ).select(
        "doc_id",
        "idx",
        F.concat_ws(
            " ", F.slice(F.col("w"), F.col("idx") * seg_words + 1, seg_words)
        ).alias("seg"),
    ).select("doc_id", "idx", "seg", F.md5("seg").alias("fp"))

    segs = materialize(segs)
    docfreq = (
        segs.select("doc_id", "fp")
        .distinct()
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    flagged = segs.join(docfreq, "fp").select(
        "doc_id",
        "idx",
        "seg",
        (F.col("df") >= min_docs).alias("is_dup"),
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_paras"),
            F.count_if(F.col("is_dup")).alias("n_dup_paras"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(
                                    ~F.col("is_dup"),
                                    F.struct("idx", "seg"),
                                )
                            )
                        ),
                        lambda s: s["seg"],
                    ),
                )
            ).alias("clean_fp"),
        )
    )


def ccnet_perplexity_buckets(documents: DataFrame) -> DataFrame:
    """CCNet-style head/middle/tail quality buckets by LM perplexity.

    CCNet (Wenzek et al. 2020) sorts a crawl by language-model
    perplexity and splits it into equal THIRDS — head (lowest
    perplexity, highest quality) feeds training first. Built directly
    on ``unigram_perplexity``'s per-doc bits: the two tercile cutoffs
    are exact order statistics (k = ⌈n/3⌉, ⌈2n/3⌉ — the winsorize
    discrete-quantile convention) located on the DISTINCT-bits
    relation via the range-partitioned cumsum (no global row_number
    over the corpus — the ``functions.ranks.range_cumsum`` scale posture), broadcast
    back as two scalars; every doc with bits ≤ cutoff joins the lower
    bucket, so ties share a bucket deterministically.

    Emits per doc: (doc_id, n_tokens, bits_per_token, bucket).
    """
    from big_data_trend_analysis_spark.functions.ranks import range_cumsum

    ppl = checkpoint(unigram_perplexity(documents))
    per_bits = ppl.groupBy("bits_per_token").agg(
        F.count(F.lit(1)).alias("n_b")
    )
    cum = range_cumsum(per_bits, "bits_per_token", ["n_b"])
    n_rel = cum.agg(F.sum("n_b").alias("n"))
    cuts = (
        cum.crossJoin(F.broadcast(n_rel))
        .select(
            "bits_per_token",
            "cum_n_b",
            F.expr("(n + 2) div 3").alias("k1"),
            F.expr("(2 * n + 2) div 3").alias("k2"),
        )
        .agg(
            F.min(
                F.when(
                    F.col("cum_n_b") >= F.col("k1"),
                    F.col("bits_per_token"),
                )
            ).alias("cut1"),
            F.min(
                F.when(
                    F.col("cum_n_b") >= F.col("k2"),
                    F.col("bits_per_token"),
                )
            ).alias("cut2"),
        )
    )
    return ppl.crossJoin(F.broadcast(cuts)).select(
        "doc_id",
        "n_tokens",
        "bits_per_token",
        F.when(F.col("bits_per_token") <= F.col("cut1"), F.lit("head"))
        .when(F.col("bits_per_token") <= F.col("cut2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def dsir_importance_weights(
    documents: DataFrame, target_source: str = "src0"
) -> DataFrame:
    """DSIR data-selection importance weights (Xie et al. 2023).

    Data Selection with Importance Resampling scores every raw
    document by how much more likely its features are under a TARGET
    domain's bag-of-ngrams LM than under the raw-pool LM — then
    resamples by that weight. Here the target is the ``target_source``
    slice and features are the shared whitespace unigrams: two
    add-1-smoothed LMs over the union vocabulary V (p(w) =
    (c_w+1)/(N+V)), and each document's log importance weight is
    Σ_tokens ln(p_target/p_pool), per-token terms rounded 6 dp and
    folded in exact decimal. Scale shape: the corpus collapses ONCE to
    the vocab-sized count relation (both LMs are columns of it), the
    per-token log-ratio joins back against the token stream, one
    doc-keyed rollup — at 100 TB the vocab relation is the only state
    and the corpus is scanned twice (LM build + scoring), the DSIR
    paper's own layout.

    Emits per doc: (doc_id, n_tokens, log_weight, avg_log_ratio).
    """
    toks = documents.select(
        "doc_id",
        (F.col("source") == target_source).alias("is_target"),
        F.explode(F.split("text", " ")).alias("token"),
    )
    cnts = checkpoint(
        toks.groupBy("token")
        .agg(
            F.count_if(F.col("is_target")).alias("c_t"),
            F.count(F.lit(1)).alias("c_all"),
        ),
        eager=False,
    )
    totals = cnts.agg(
        F.sum("c_t").alias("n_t"),
        F.sum("c_all").alias("n_all"),
        F.count(F.lit(1)).alias("v"),
    )
    ratio = (
        cnts.crossJoin(F.broadcast(totals))
        .select(
            "token",
            F.round(
                F.log(
                    (F.col("c_t") + 1).cast("double")
                    / (F.col("n_t") + F.col("v"))
                )
                - F.log(
                    (F.col("c_all") + 1).cast("double")
                    / (F.col("n_all") + F.col("v"))
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("lr"),
        )
    )
    return (
        toks.join(ratio, "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lr").cast("double").alias("log_weight"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "log_weight",
            F.round(
                F.col("log_weight") / F.col("n_tokens"), 6
            ).alias("avg_log_ratio"),
        )
    )


def tokenizer_fertility(documents: DataFrame, rounds: int = 2) -> DataFrame:
    """Tokenizer fertility (BPE tokens per word) by language.

    The multilingual-equity metric every tokenizer report leads with
    (e.g. the XLM-R and BLOOM analyses): a vocabulary trained mostly
    on one language FRAGMENTS the others — their fertility climbs,
    every context window carries less text, and training/inference
    cost per document rises proportionally. Built on the family's
    shared ``_bpe_encoded_vocab`` stage (the merge chain re-derived
    over the |vocab| relation with broadcast 1-row rules — the corpus
    is never re-encoded per occurrence), then ONE (lang)-keyed rollup
    of tokens-per-word over the word stream.

    Emits per lang: (lang, n_docs, n_words, n_tokens, fertility).
    """
    doc_words = documents.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("w")
    ).where(F.col("w") != "")
    encoded = _bpe_encoded_vocab(doc_words.select("doc_id", "w"), rounds)
    return (
        doc_words.join(encoded.select("w", "tpw"), "w")
        .groupBy("lang")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.col("tpw").cast("long")).alias("n_tokens"),
        )
        .select(
            "lang",
            "n_docs",
            "n_words",
            "n_tokens",
            F.round(
                F.col("n_tokens") / F.col("n_words"), 6
            ).alias("fertility"),
        )
    )


def _ols_loglog(points: DataFrame, x: str, y: str) -> DataFrame:
    """Closed-form OLS over a points relation, deterministic: the
    caller supplies x/y already rounded to 6 dp; products fold as
    exact DECIMAL(38,12) (6-dp operands multiply exactly at 12 dp),
    sums are order-independent, and the slope/intercept/r² divisions
    run on doubles rounded 6 dp — the ols_regression_group moment
    discipline over an arbitrary (x, y) relation.

    Returns 1 row: (n_points, slope, intercept, r2).
    """
    xd = F.col(x).cast("decimal(18,6)")
    yd = F.col(y).cast("decimal(18,6)")
    m = points.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xd).cast("double").alias("sx"),
        F.sum(yd).cast("double").alias("sy"),
        F.sum((xd * yd).cast("decimal(38,12)")).cast("double").alias("sxy"),
        F.sum((xd * xd).cast("decimal(38,12)")).cast("double").alias("sxx"),
        F.sum((yd * yd).cast("decimal(38,12)")).cast("double").alias("syy"),
    )
    n = F.col("n").cast("double")
    cov_n = n * F.col("sxy") - F.col("sx") * F.col("sy")
    var_x = n * F.col("sxx") - F.col("sx") * F.col("sx")
    var_y = n * F.col("syy") - F.col("sy") * F.col("sy")
    slope = F.round(cov_n / F.nullif(var_x, F.lit(0.0)), 6)
    return m.select(
        F.col("n").alias("n_points"),
        slope.alias("slope"),
        F.round(
            (F.col("sy") - slope * F.col("sx")) / n, 6
        ).alias("intercept"),
        F.round(
            (cov_n * cov_n)
            / F.nullif(var_x * var_y, F.lit(0.0)),
            6,
        ).alias("r2"),
    )


def zipf_fit_slope(documents: DataFrame, min_count: int = 5) -> DataFrame:
    """Zipf's-law fit of the corpus token frequency distribution:
    OLS slope of ln(freq) on ln(rank) — the corpus-health readout
    (natural language sits near slope −1; a pathological crawl slice
    or dedup failure bends it).

    Scale shape: ONE explode to token counts (vocab-sized), then the
    fit runs on the ``cnt ≥ min_count`` head — the standard Zipf
    practice (the freq-1 tail deviates from the power law by
    construction) AND the df-pruning economics: the surviving head
    relation is orders of magnitude below vocab size, so the
    rank window (freq DESC, token ASC — deterministic ties) runs on a
    bounded relation, never the corpus or the raw vocab. ln terms
    round to 6 dp; the OLS moments fold via ``_ols_loglog``'s exact
    decimal products.

    Emits 1 row: (n_types, n_tokens, n_points, slope, intercept, r2).
    """
    toks = documents.select(F.explode(F.split("text", " ")).alias("token"))
    cnts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    cnts = checkpoint(cnts, eager=False)
    totals = cnts.agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum("cnt").alias("n_tokens"),
    )
    head = cnts.filter(F.col("cnt") >= min_count)
    w = Window.orderBy(F.col("cnt").desc(), F.col("token").asc())
    points = head.select(
        F.round(F.log(F.row_number().over(w).cast("double")), 6).alias(
            "ln_rank"
        ),
        F.round(F.log(F.col("cnt").cast("double")), 6).alias("ln_freq"),
    )
    fit = _ols_loglog(points, "ln_rank", "ln_freq")
    return totals.crossJoin(F.broadcast(fit))


def heaps_law_fit(documents: DataFrame) -> DataFrame:
    """Heaps'-law fit of vocabulary growth: OLS slope of ln(V) on
    ln(N) over the doc_id-ordered corpus prefix curve (V = distinct
    types seen, N = tokens seen) — β ≈ 0.4–0.6 for natural text; a
    saturating curve (β → 0) is the fingerprint of a boilerplate- or
    duplicate-heavy corpus, which makes this the corpus-level
    companion to the dedup family's per-doc signals.

    Scale shape: per-token FIRST occurrence is one vocab-sized
    ``min(doc_id)`` aggregation; new-types-per-doc re-aggregates it
    doc-keyed; each doc's token count is a scan-speed projection; and
    the prefix curve comes from ``functions.ranks.range_cumsum`` over
    doc_id — the distributed prefix-sum, never an unpartitioned
    window over the corpus-sized doc relation. ln points round to
    6 dp; moments fold exactly (``_ols_loglog``).

    Emits 1 row: (n_docs, n_types, n_tokens, slope, intercept, r2) —
    slope is Heaps' β, exp(intercept) its K.
    """
    from big_data_trend_analysis_spark.functions.ranks import range_cumsum

    toks = documents.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    first_doc = toks.groupBy("token").agg(F.min("doc_id").alias("first_doc"))
    new_types = first_doc.groupBy(
        F.col("first_doc").alias("doc_id")
    ).agg(F.count(F.lit(1)).alias("new_types"))
    doc_tokens = documents.select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tok")
    )
    per_doc = doc_tokens.join(new_types, "doc_id", "left").select(
        "doc_id",
        "n_tok",
        F.coalesce("new_types", F.lit(0)).alias("new_types"),
    )
    curve = range_cumsum(per_doc, "doc_id", ["n_tok", "new_types"])
    points = curve.filter(F.col("cum_new_types") > 0).select(
        F.round(F.log(F.col("cum_n_tok").cast("double")), 6).alias("ln_n"),
        F.round(F.log(F.col("cum_new_types").cast("double")), 6).alias(
            "ln_v"
        ),
    )
    totals = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("new_types").alias("n_types"),
        F.sum("n_tok").alias("n_tokens"),
    )
    fit = _ols_loglog(points, "ln_n", "ln_v")
    return totals.crossJoin(F.broadcast(fit))


def weighted_sample_aes(
    documents: DataFrame, k: int = 20, seed: int = 47
) -> DataFrame:
    """Weighted sampling without replacement via Efraimidis–Spirakis
    exponential keys — the curation sampler where long documents
    should win proportionally to length, not uniformly.

    A-ES (Efraimidis & Spirakis 2006): draw u_i ~ U(0,1) per row, key
    k_i = u_i^(1/w_i), keep the k largest keys — exactly a weighted
    sample without replacement. Computed in the log domain
    (ln u_i / w_i, same order) with u_i from the portable md5 bucket
    shared with ``sample_mixture`` (first 60 bits of
    ``md5(doc_id || ':' || seed)``, +1 so ln never sees 0) — a pure
    row-local expression: no RNG state, no shuffle for key
    generation, reproducible across partitionings and engines. The
    top-k is a global ``ORDER BY (key DESC, doc_id)`` + LIMIT —
    Spark executes it as TakeOrderedAndProject (per-partition heaps,
    one k-row reduce; never a full sort at 100 TB). Weight =
    ``n_chars`` (clamped ≥ 1).

    Emits the k winners: (doc_id, lang, n_chars, es_key).
    """
    bucket = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.col("doc_id"), F.lit(seed))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    u = (bucket + F.lit(1)).cast("double") / F.lit(float(16**15))
    w = F.greatest(F.col("n_chars"), F.lit(1)).cast("double")
    key = F.log(u) / w
    return (
        documents.select(
            "doc_id",
            "lang",
            "n_chars",
            F.round(key, 6).alias("es_key"),
            key.alias("_key_raw"),
        )
        .orderBy(F.col("_key_raw").desc(), F.col("doc_id").asc())
        .limit(k)
        .drop("_key_raw")
    )


def naive_bayes_lang(
    documents: DataFrame, seed: int = 31, test_frac: float = 0.2
) -> DataFrame:
    """Multinomial naive-Bayes language classifier trained and
    evaluated in ONE declarative plan — the train/score/confusion
    archetype of a curation-pipeline quality model (the learned
    upgrade path from ``lang_id_multi``'s fixed profiles and the
    plumbing ``quality_classifier_score`` assumes).

    Deterministic md5-bucket split (the ``split_train_val_test``
    device, seed 31, 80/20); training is two hash aggregations
    (per-lang doc priors, per-(token, lang) Laplace counts); scoring
    joins the exploded test tokens against the vocab×langs count
    relation and folds per-(doc, lang) log-likelihoods

        score = ln P(lang) + Σ_tok ln (cnt(tok, lang) + 1)/(tot_l + V)

    as 6-dp decimal terms (order-independent); argmax per doc is a
    doc-keyed window ranked (score DESC, lang ASC). Scale shape: the
    corpus explodes once ×|langs| (a bounded constant), the model
    relations are vocabulary-bounded, and the confusion matrix is a
    |langs|² aggregate with accuracy riding every row.

    Emits one row per confusion cell: (lang_true, lang_pred, n_docs,
    n_test, accuracy).
    """
    bucket = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("doc_id"), F.lit(seed))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(1_000_000),
    )
    test_cut = int(test_frac * 1_000_000)
    tagged = documents.select(
        "doc_id", "lang", "text", (bucket < test_cut).alias("is_test")
    )
    train = tagged.filter(~F.col("is_test"))
    test = tagged.filter(F.col("is_test"))

    priors = train.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    tot_docs = priors.agg(F.sum("n_docs").alias("n_total"))
    lang_priors = priors.crossJoin(F.broadcast(tot_docs)).select(
        F.col("lang").alias("lang_pred"),
        F.round(
            F.log(
                F.col("n_docs").cast("double") / F.col("n_total")
            ),
            6,
        ).alias("ln_prior"),
    )

    train_toks = train.select(
        "lang", F.explode(F.split("text", " ")).alias("tok")
    )
    # ONE corpus explode/aggregation pass: the vocab×langs-bounded count
    # relation is materialized and both remaining model relations fold
    # FROM it (Σ cnt per lang == the token total; COUNT(DISTINCT tok)
    # == the vocabulary) instead of re-exploding the training corpus
    # once per relation (round-12 optimization, guide §2.3 "aggregate
    # before you shuffle" — the re-expansion cost three full
    # split+explode passes).
    tok_counts = materialize(
        train_toks.groupBy("tok", "lang").agg(
            F.count(F.lit(1)).alias("cnt")
        )
    )
    lang_totals = tok_counts.groupBy("lang").agg(
        F.sum("cnt").alias("tot_l")
    )
    vocab = tok_counts.select("tok").distinct().agg(
        F.count(F.lit(1)).alias("v_size")
    )

    test_toks = test.select(
        "doc_id",
        F.col("lang").alias("lang_true"),
        F.explode(F.split("text", " ")).alias("tok"),
    )
    # tokens x langs: the bounded-constant explosion; unseen (tok,
    # lang) pairs fall back to the pure-smoothing term via the left
    # join's NULL -> 0
    crossed = test_toks.crossJoin(
        F.broadcast(
            lang_totals.select(
                F.col("lang").alias("lang_pred"), "tot_l"
            )
        )
    ).join(
        tok_counts.select(
            "tok", F.col("lang").alias("lang_pred"), "cnt"
        ),
        ["tok", "lang_pred"],
        "left",
    )
    term = F.round(
        F.log(
            (F.coalesce(F.col("cnt"), F.lit(0)) + 1).cast("double")
            / (F.col("tot_l") + F.col("v_size")).cast("double")
        ),
        6,
    ).cast("decimal(28,6)")
    scores = (
        crossed.crossJoin(F.broadcast(vocab))
        .groupBy("doc_id", "lang_true", "lang_pred")
        .agg(F.sum(term).alias("ll_sum"))
        .join(F.broadcast(lang_priors), "lang_pred")
        .select(
            "doc_id",
            "lang_true",
            "lang_pred",
            F.round(
                F.col("ll_sum").cast("double") + F.col("ln_prior"), 6
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("lang_pred").asc()
    )
    preds = scores.select(
        "doc_id",
        "lang_true",
        "lang_pred",
        F.row_number().over(w).alias("rnk"),
    ).filter(F.col("rnk") == 1)
    cells = preds.groupBy("lang_true", "lang_pred").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    acc = cells.agg(
        F.sum("n_docs").alias("n_test"),
        F.sum(
            F.when(
                F.col("lang_true") == F.col("lang_pred"),
                F.col("n_docs"),
            ).otherwise(F.lit(0))
        ).alias("n_correct"),
    ).select(
        "n_test",
        F.round(
            F.col("n_correct").cast("double") / F.col("n_test"), 6
        ).alias("accuracy"),
    )
    return cells.crossJoin(F.broadcast(acc))
