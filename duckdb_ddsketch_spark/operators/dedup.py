"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine near-dup.

Scale design notes (the 100 TB reasoning, per operator):

* **exact**: the SUMMARY form (``exact_dedup_summary``) is the scale path —
  ``groupBy(md5(normalized_text))`` with partial aggregation, so the shuffle
  carries one (hash, count, min_id) per map task per distinct text and never
  collects. The per-row labeling form (``exact_dedup``) necessarily moves
  whole rows once (a window keyed on the hash — ANY per-row group label
  does: a groupBy+join-back would shuffle the rows too, plus an extra
  aggregate), so at corpus scale label with it once and write the result,
  or filter through ``incremental_dedup``'s anti-join instead.
* **MinHash**: signatures are computed *per row with no shuffle at all*
  (``array_min`` over md5-transformed shingles, one expression per hash
  seed); md5 is deterministic across engines and partitions. LSH banding
  then shuffles only (band_id, band_hash, doc_id) — bytes per doc, not the
  text. Hot buckets (boilerplate text) are the skew risk: cap bucket size
  before pairing (`lsh_candidate_pairs(max_bucket=...)`) exactly like
  production LSH dedup does, or salt the band hash.
* **pair verification**: exact Jaccard via a shingle equi-join restricted to
  candidate pairs — the join key is the shingle, so co-location is by
  content; frequent shingles are pre-filtered by document frequency
  (``max_df``) which is both a quality and a skew fix.
* **SimHash**: 60-bit signature folded from per-token md5 bits, per-row
  native; near-dup = signatures within Hamming distance k via banding on
  bit blocks (same LSH shape).
* **embedding cosine**: see ``similarity.py`` — near-dup is a thresholded
  self-join over LSH/bucketed candidates.

The md5-based hash family is chosen deliberately: it is bit-identical in
Spark, DuckDB, and Python, which makes every operator here oracle-checkable
— a lexicographic min over md5(seed || shingle) is a valid MinHash permutation.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

from .text import tokens, word_ngrams

# duplicate_span_extents: broadcast the materialized duplicated-gram census
# into the probe join when it has at most this many rows. 2M keys build a
# ~50-100 MB hash relation (xxhash64 BIGINT keys; ~2x that for md5 strings)
# — safe on stock driver/executor memory; larger censuses (boilerplate-heavy
# corpora) fall back to the equi-join. The bench-family census is ~450k rows.
_SPAN_DUP_BROADCAST_MAX = 2_000_000

__all__ = [
    "normalize_text",
    "exact_dedup",
    "exact_dedup_summary",
    "repeated_spans",
    "span_coverage",
    "minhash_signature",
    "minhash_signatures_df",
    "ngram_contamination",
    "incremental_dedup",
    "lsh_candidate_pairs",
    "lsh_candidate_probability",
    "lsh_plan",
    "jaccard_pairs",
    "minhash_lsh_dedup",
    "duplicate_clusters",
    "cluster_representatives",
    "simhash",
    "simhash_df",
    "simhash_pairs",
]


def normalize_text(text: Column) -> Column:
    """Canonical form for exact dedup: lowercase, collapse whitespace."""
    return F.regexp_replace(F.lower(F.trim(text)), " +", " ")


def exact_dedup(
    df: DataFrame, text: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one row per distinct normalized text (the min id wins).

    Returns the input columns plus ``is_canonical``; filter on it to dedup.
    """
    h = F.unhex(F.md5(normalize_text(F.col(text))))
    w = Window.partitionBy(h)
    return df.withColumn(
        "is_canonical", F.col(id_col) == F.min(id_col).over(w)
    )


def exact_dedup_summary(
    df: DataFrame, keys: Sequence[str], text: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-group dedup accounting: docs, distinct texts, dup rows.

    The digest is shuffled/aggregated as unhex(md5) — the 16-byte binary,
    not the 32-char hex string: the key is internal (only counts reach the
    output, and unhex is injective on hex so every count is unchanged) and
    the narrower key halves the distinct-aggregate's shuffle bytes and
    hash-table row width (guide §2.3; round-12 probe: 21.7 s -> 7.9 s
    in-session at the 60M bench shape, fresh-process pair in
    OPTIMIZATION_r12.md)."""
    h = F.unhex(F.md5(normalize_text(F.col(text))))
    return (
        df.select(*keys, h.alias("h"))
        .groupBy(*keys)
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("h").alias("n_distinct"),
            (F.count("*") - F.countDistinct("h")).cast("long").alias("n_dups"),
        )
    )


def repeated_spans(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Exact repeated n-token span detection — substring-level dedup.

    The document-level tools (exact/fingerprint/MinHash) miss boilerplate
    that repeats INSIDE otherwise-distinct documents (headers, license
    blocks, navigation chrome); the standard training-data fix is to flag
    exact n-token spans occurring in >= ``min_docs`` distinct documents
    (the substring-dedup rule, usually quoted at n=50 tokens; n is a
    parameter). Returns one row per repeated span:
    (span_hash, n_docs, n_occurrences, canonical_id).

    Scale shape: tokenization is map-only; the rolling n-gram hash explode
    is linear in corpus tokens (the same envelope as the MinHash shingle
    explode); the groupBy shuffles 16-byte md5 hashes with map-side
    partial aggregation; output is bounded by spans that actually repeat
    across documents. No reference counterpart (beyond-reference operator).
    """
    toks = F.split(F.lower(F.trim(F.col(text))), " +")
    ntok = F.size(toks)
    idx = F.sequence(F.lit(1), ntok - (n - 1))
    grams = F.transform(
        idx,
        lambda i: F.md5(
            F.concat_ws(" ", F.slice(toks, i.cast("int"), F.lit(n)))
        ),
    )
    # sequence(1, 0) is DESCENDING in Spark — guard short documents
    guarded = F.when(ntok >= n, grams).otherwise(
        F.array().cast("array<string>")
    )
    spans = df.select(F.col(id_col), F.explode(guarded).alias("span_hash"))
    return (
        spans.groupBy("span_hash")
        .agg(
            F.countDistinct(id_col).alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min(id_col).alias("canonical_id"),
        )
        .where(F.col("n_docs") >= min_docs)
    )


def duplicate_span_extents(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_docs: int = 2,
    gram_hash: str = "xxhash64",
) -> DataFrame:
    """Maximal duplicated-substring extents per document — "dedup the
    span, not the doc".

    :func:`repeated_spans` answers *which* fixed-n spans repeat across
    documents; this answers *where to cut*: for every document, the
    maximal token ranges covered by n-grams that occur in >=
    ``min_docs`` distinct documents. Overlapping and adjacent duplicated
    n-grams stitch into one extent, so an L-token shared passage (L >= n)
    comes back as ONE (span_start, span_end) row, not L-n+1 gram rows —
    the operator a training pipeline feeds straight into substring
    removal (suffix-array-class dedup a la deduplicating-training-data,
    re-expressed as hash shuffles).

    Returns (doc_id, span_start, span_end, n_grams): 1-based inclusive
    token indices and the number of duplicated n-grams stitched in.

    Scale shape (never all-pairs, no suffix array materialized):
      1. tokenize + positional rolling n-gram hash — map-only explode,
         linear in corpus tokens (same envelope as the MinHash shingles);
      2. duplication census — groupBy(16-byte hash) with map-side partial
         countDistinct, output bounded by spans that actually repeat; the
         census output is materialized once (``localCheckpoint`` — an
         EAGER, duplicated-gram-bounded job at call time) so its measured
         row count can pick the probe join strategy;
      3. positions ⋈ duplicated hashes — a BROADCAST equi-join on the
         hash when the census fits ``_SPAN_DUP_BROADCAST_MAX`` rows:
         the probe side then keeps its input partitioning AND its
         (doc, position) sort order, so stage 4 runs with no further
         exchange or sort (measured 12.5 -> 9.6 s fresh-floor on the 2M-doc
         bench family; the pre-change plan shuffled all 34M gram rows by
         hash for a sort-merge join, then re-shuffled the survivors by doc
         — 4 exchanges + 3 corpus-scale sorts, now 1 census exchange).
         Boilerplate-heavy censuses above the cap fall back to the
         equi-join (AQE picks the strategy), still reading the
         materialized census instead of rebuilding its gram pass;
      4. stitching — one lag + running-sum window and a groupBy, both
         keyed on doc_id (document-bounded partitions).
    A suffix automaton finds longer-than-n exact repeats too, but stage 1
    covers every repeat of length >= n (any such repeat contains a
    duplicated n-gram and the stitcher returns its full extent), and each
    stage above is a hash shuffle Spark executes at 100 TB without
    per-partition imperative code.

    With ``min_docs=1`` every gram is "duplicated", so the census
    materialization is corpus-token-sized — degenerate for this operator
    (every token of every document lands in one extent) but still correct.

    Calling this function runs two Spark jobs before any action on the
    result: the census ``localCheckpoint`` and its row ``count``. The
    checkpointed census lives in executor-local blocks, so losing an
    executor after the call fails the query that reads the result
    (Spark cannot recompute a local checkpoint).
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if min_docs < 1:
        raise ValueError(f"min_docs must be >= 1, got {min_docs}")
    if gram_hash not in ("xxhash64", "md5"):
        raise ValueError(
            f"gram_hash must be 'xxhash64' or 'md5', got {gram_hash!r}"
        )
    # Gram construction via posexplode + lead window, not per-doc array
    # slices: transform(idx, md5(concat_ws(slice(toks, i, n)))) re-copies
    # every token n times through fresh per-gram arrays — measured 13.2 s
    # for 34M grams at 2M docs, vs 4.8 s for the columnar lead() form
    # (both with md5 forced; an element_at chain measured 71 s — worst of
    # all). The window costs one exchange by doc id — and, per the
    # measured note on the `grams` frame below, the executed plan builds
    # this subtree TWICE (census branch + probe branch prune different
    # columns, so ReuseExchange does not deduplicate them); the lead()
    # form wins because each of those two builds is 2.7× cheaper than
    # the slice form's, not because it runs once.
    toks = F.split(F.lower(F.trim(F.col(text))), " +")
    tok_rows = df.select(
        F.col(id_col), F.posexplode(toks).alias("__pos0", "__tok")
    )
    w_doc = Window.partitionBy(id_col).orderBy("__pos0")
    lead_toks = [F.col("__tok")] + [
        F.lead("__tok", j).over(w_doc) for j in range(1, n)
    ]
    # Default hash is xxhash64 over the n token columns DIRECTLY: no gram
    # string is ever materialized (md5 first builds a ~n·token-width
    # concat, then digests to a 32-char string), and the census/probe
    # shuffles carry an 8-byte BIGINT key instead of 32+ bytes — measured
    # 23.6 -> 12.6 s fresh-process on the 2M-doc bench family. The hash never
    # reaches the output (only stitched positions do), so cross-engine
    # oracle parity needs only the duplicated-gram SET to match; a single
    # 64-bit collision among G grams flips a census row with probability
    # ~G²/2⁶⁵ (~3e-5 at 34M grams) and would surface as a deterministic,
    # loud hash-mismatch at gate scale, not a silent corruption.
    # gram_hash='md5' keeps the engine-portable 128-bit digest for
    # callers who export the census itself.
    if gram_hash == "xxhash64":
        h_expr = F.xxhash64(*lead_toks)
    else:
        h_expr = F.md5(F.concat_ws(" ", *lead_toks))
    grams = (
        tok_rows.withColumn("__last", F.lead("__tok", n - 1).over(w_doc))
        .withColumn("h", h_expr)
        # a doc shorter than n tokens has no complete gram: lead(n-1) is
        # NULL past the end, which also trims the ragged tail grams
        .where(F.col("__last").isNotNull() if n > 1 else F.lit(True))
        # keep the RAW __pos0 attribute (not pos = __pos0 + 1): the
        # gram-build window already sorted each partition by
        # (doc_id, __pos0), and with the broadcast probe join below the
        # stitching window's required (doc_id, __pos0) order survives
        # join + filter + project untouched, so the whole probe side runs
        # sort-free. Projecting pos = __pos0 + 1 here would hide the
        # ordering behind an expression alias and reinstate a 34M-row
        # sort. 1-based positions are restored in the final aggregate.
        .select(id_col, "__pos0", "h")
        # BOTH consumers (census and probe) need these rows with
        # different pruning (census drops __pos0), so ReuseExchange does
        # NOT deduplicate the subtrees: the executed plan builds the
        # grams twice (scan + posexplode + per-doc window each time).
        # Measured trade-off: a lazy localCheckpoint that materializes
        # the 34M-row frame once benched 21.3 s vs 12.6 s for
        # compute-twice — for corpus-sized intermediates on this
        # operator, recomputation beats build-once-read-twice (the
        # opposite call from quantile_normalize's STRUCTURE-sized
        # partials, which are checkpointed).
    )
    dup = (
        grams.groupBy("h")
        .agg(F.countDistinct(id_col).alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
        .select("h")
        # EAGER materialization of the duplicated-gram census (bounded by
        # spans that actually repeat). Two things pay for it: the fallback
        # join reads these rows instead of re-running the census gram
        # pass, and — decisively — the materialized ROW COUNT is a real
        # measurement the probe join strategy can be picked with. Catalyst
        # cannot make this call: the census sits above an aggregate whose
        # size estimate is input-scaled garbage, and AQE only learns real
        # sizes after the probe side's 34M-row exchange has already been
        # written (both join-input stages materialize together), so the
        # pre-change plan stayed a sort-merge join even with a 3.6 MB
        # build side.
        .localCheckpoint()
    )
    probe = F.broadcast(dup) if dup.count() <= _SPAN_DUP_BROADCAST_MAX else dup
    marked = grams.join(probe, "h").select(id_col, "__pos0")
    w = Window.partitionBy(id_col).orderBy("__pos0")
    # pos - prev > n starts a new extent (prev NULL -> first extent);
    # pos - prev == n is ADJACENT grams (token ranges touch end-to-end)
    # (__pos0 differences equal pos differences — the +1 shift cancels)
    brk = (
        F.when(F.col("__pos0") - F.lag("__pos0").over(w) <= n, F.lit(0))
        .otherwise(F.lit(1))
    )
    ext = marked.withColumn("brk", brk).withColumn(
        "eid",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        ext.groupBy(id_col, "eid")
        .agg(
            (F.min("__pos0") + 1).alias("span_start"),
            (F.max("__pos0") + F.lit(n)).alias("span_end"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .select(id_col, "span_start", "span_end", "n_grams")
    )


def span_coverage(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_docs: int = 2,
    gram_hash: str = "xxhash64",
    extents: DataFrame | None = None,
) -> DataFrame:
    """Per-document duplicated-span coverage — the drop-vs-trim decision
    input: what FRACTION of each document's tokens sits inside
    cross-document duplicated extents (:func:`duplicate_span_extents`).
    Pipelines drop documents above a coverage threshold and substring-trim
    the rest; this is the column that threshold reads.

    Returns (doc_id, n_tokens, dup_tokens, dup_fraction) for EVERY input
    document — documents with no duplicated extent report 0/0.0, since
    they are precisely the ones a coverage gate keeps. Stitched extents
    are disjoint by construction (consecutive extents are > n gram
    positions apart), so summing their token lengths is exact coverage,
    never double-counted.

    Scale shape: the extents pipeline (see duplicate_span_extents) plus
    one document-keyed aggregate of the extent rows and a left join back
    to a map-only token-count projection of the input. Callers that
    already built (and pinned) the extents — e.g. to emit both the
    extent rows and the coverage — pass them via ``extents`` so the
    pipeline does not run twice.

    Token-count edge cases (deliberately mirroring the DuckDB oracle's
    ``len(string_split(...))`` semantics for cross-engine parity):
    NULL-text documents report n_tokens = 0 and a NULL fraction;
    EMPTY-STRING text reports n_tokens = 1 — split('', ' +') returns
    [''], so an empty doc counts one phantom token and gets
    dup_fraction 0.0 rather than NULL.
    """
    ext = (
        extents
        if extents is not None
        else duplicate_span_extents(
            df, text=text, id_col=id_col, n=n, min_docs=min_docs,
            gram_hash=gram_hash,
        )
    )
    per_doc = ext.groupBy(id_col).agg(
        F.sum(F.col("span_end") - F.col("span_start") + 1).alias(
            "dup_tokens"
        )
    )
    toks = F.split(F.lower(F.trim(F.col(text))), " +")
    # greatest(, 0) guards NULL text (size() yields -1/NULL there)
    counts = df.select(
        F.col(id_col),
        F.greatest(F.size(toks), F.lit(0)).alias("n_tokens"),
    )
    return (
        counts.join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.coalesce(F.col("dup_tokens"), F.lit(0))
            .cast("long")
            .alias("dup_tokens"),
            F.when(
                F.col("n_tokens") > 0,
                F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("double")
                / F.col("n_tokens"),
            ).alias("dup_fraction"),
        )
    )


def _let(col: Column, body) -> Column:
    """Evaluate ``col`` ONCE and bind it as a lambda variable inside
    ``body`` — Spark SQL's missing let-binding, via ``transform`` over a
    singleton array. Without it, Catalyst's CollapseProject inlines a
    referenced expression into EVERY use site, and higher-order-function
    lambdas are interpreted with no common-subexpression elimination —
    referencing a MinHash signature 16 times re-evaluated the whole
    shingle+md5 tree 16 times (measured: the round-10 streaming near-dup
    gate dropped from ~400 s to seconds at sf0.001 with this binding)."""
    return F.element_at(F.transform(F.array(col), body), 1)


def minhash_signature(text: Column, num_hashes: int = 16, ngram: int = 2) -> Column:
    """MinHash signature as array<string> of length ``num_hashes``.

    Hash family: permutation *i* orders shingles by ``md5(i || '|' || s)``;
    the signature element is the minimum digest — deterministic everywhere,
    identical to :func:`minhash_signatures_df`'s groupBy form.

    Evaluation shape: the shingle array is let-bound (built once per row),
    each shingle's ``num_hashes`` seeded digests are computed exactly once,
    and the signature is their running elementwise minimum
    (``aggregate`` + ``zip_with`` — 'g' sorts after every md5 hex char, so
    it is a safe fold identity). Per-row md5 count = shingles x hashes,
    the same arithmetic floor as the corpus-scan
    :func:`minhash_signatures_df`; use that one when a shuffle-side
    partial aggregate is worth it (corpus scans), this one when the
    signature must be a map-only per-row column (streaming ingest).
    """
    seeds = F.array(*[F.lit(f"{i}|") for i in range(num_hashes)])
    null_sig = F.array_repeat(F.lit(None).cast("string"), num_hashes)

    def build(sh: Column) -> Column:
        folded = F.aggregate(
            sh,
            F.array_repeat(F.lit("g"), num_hashes),
            lambda acc, s: F.zip_with(
                acc,
                F.transform(seeds, lambda p: F.md5(F.concat(p, s))),
                lambda a, b: F.least(a, b),
            ),
        )
        # empty shingle set -> all-NULL signature (array_min-over-empty
        # semantics of the historical per-element form)
        return F.when(F.size(sh) > 0, folded).otherwise(null_sig)

    return _let(word_ngrams(text, ngram), build)


def minhash_band_structs(
    text: Column, num_hashes: int = 16, bands: int = 4, ngram: int = 2
) -> Column:
    """Map-only per-row LSH banding: array of ``bands`` (band_id,
    band_hash) structs straight from a text column — the signature is
    let-bound so its shingle+md5 tree is evaluated ONCE, not once per
    band element (see :func:`_let`). This is the per-row form of the
    batch ``minhash_signatures_df`` + :func:`band_hash_structs` pipeline
    (same hashes, same banding), for streams and other contexts where no
    pre-state aggregation is possible."""
    sig = minhash_signature(text, num_hashes=num_hashes, ngram=ngram)
    return _let(sig, lambda sg: band_hash_structs(sg, num_hashes, bands))


def minhash_signatures_df(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    ngram: int = 2,
) -> DataFrame:
    """(id, sig array<string>) via explode + hash-aggregate — the scale path.

    One md5 per (shingle, seed); ``groupBy(id).agg(min...)`` partially
    aggregates map-side, so the shuffle carries only per-doc signatures
    (num_hashes digests), never the shingles.
    """
    sh = df.select(
        F.col(id_col).alias("id"),
        F.explode(word_ngrams(F.col(text), ngram)).alias("s"),
    )
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("s")))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    sig = sh.groupBy("id").agg(*aggs)
    return sig.select(
        "id", F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig")
    )


def band_hash_structs(sig: Column, num_hashes: int, bands: int) -> Column:
    """Array of ``bands`` (band_id, band_hash) structs from a MinHash
    signature column — band_hash = md5 of the band's signature slice
    joined by '|'. The single banding formula shared by the batch LSH
    pipeline (:func:`lsh_candidate_pairs`) and the streaming ingest gate
    (:func:`..streaming.streaming_neardup_lsh`), so a streaming front-end
    and a batch dedup pass agree on what a band collision is."""
    rows_per_band = num_hashes // bands
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.md5(
                    F.concat_ws(
                        "|",
                        *[
                            F.element_at(sig, b * rows_per_band + j + 1)
                            for j in range(rows_per_band)
                        ],
                    )
                ).alias("band_hash"),
            )
            for b in range(bands)
        ]
    )


def lsh_candidate_pairs(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    ngram: int = 2,
    max_bucket: int = 1000,
) -> DataFrame:
    """Candidate near-dup pairs via LSH banding of MinHash signatures.

    rows→(band_id, band_hash, id) [shuffle: ~bands rows/doc of a few bytes]
    →bucket collect (size-capped against skew) →intra-bucket pairs →distinct.
    Returns (id_a, id_b), id_a < id_b.
    """
    if num_hashes % bands != 0:
        raise ValueError(
            f"bands={bands} must divide num_hashes={num_hashes}: the"
            f" trailing {num_hashes % bands} signature hashes would be"
            " computed but silently never banded, shifting the LSH"
            " threshold curve away from what was requested"
        )
    sigs = minhash_signatures_df(df, text, id_col, num_hashes, ngram)
    banded = sigs.select(
        "id",
        F.explode(
            band_hash_structs(F.col("sig"), num_hashes, bands)
        ).alias("band"),
    ).select("id", "band.band_id", "band.band_hash")
    buckets = banded.groupBy("band_id", "band_hash").agg(
        F.sort_array(F.collect_list("id")).alias("ids")
    )
    buckets = buckets.where(
        (F.size("ids") > 1) & (F.size("ids") <= max_bucket)
    )
    pairs = buckets.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("ids"),
                    lambda a, i: F.transform(
                        F.slice(F.col("ids"), i + 2, F.size("ids")),
                        lambda b: F.struct(a.alias("id_a"), b.alias("id_b")),
                    ),
                )
            )
        ).alias("p")
    ).select("p.id_a", "p.id_b").distinct()
    return pairs


def jaccard_pairs(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    ngram: int = 2,
    threshold: float = 0.5,
    max_df: int | None = None,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over pairs sharing >= 1 shingle.

    Distributed shape: explode distinct shingles → (optional) drop shingles
    with document frequency > ``max_df`` (skew + signal) → self-equi-join on
    the shingle → count shared per pair → Jaccard from per-doc set sizes.
    If ``candidates`` (id_a, id_b) is given, only those pairs are scored —
    the LSH-verify path.
    """
    sh = df.select(
        F.col(id_col).alias("id"),
        F.explode(word_ngrams(F.col(text), ngram)).alias("s"),
    )
    if max_df is not None:
        keep = sh.groupBy("s").agg(F.countDistinct("id").alias("df_cnt")).where(
            F.col("df_cnt") <= max_df
        )
        sh = sh.join(keep.select("s"), "s")
    if candidates is not None:
        # Restrict the shingle sides to candidate documents BEFORE the
        # self-join: Catalyst cannot push the post-aggregate candidates
        # join below the groupBy, so without this a single hot shingle
        # (boilerplate footer in 100k docs) still exploded quadratically
        # on the LSH-verify path despite max_bucket capping the buckets.
        # Applied AFTER the max_df document-frequency filter so df_cnt
        # keeps counting over the WHOLE corpus (same shingle universe,
        # same Jaccard values — only non-candidate rows are pruned).
        cand_ids = (
            candidates.select(F.col("id_a").alias("id"))
            .unionByName(candidates.select(F.col("id_b").alias("id")))
            .distinct()
        )
        sh = sh.join(cand_ids, "id", "left_semi")
    # Sizes must come from the SAME shingle universe as the intersection
    # counts (i.e. after the max_df filter), or Jaccard is underestimated
    # whenever max_df drops shingles.
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    shared = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("inter"))
    )
    if candidates is not None:
        shared = shared.join(candidates, ["id_a", "id_b"])
    out = (
        shared.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("inter").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return out


def lsh_candidate_probability(s: float, bands: int, rows_per_band: int) -> float:
    """P[a pair with Jaccard ``s`` becomes an LSH candidate] under banding:
    ``1 - (1 - s^r)^b`` — all r rows of at least one band must agree."""
    return 1.0 - (1.0 - s**rows_per_band) ** bands


def lsh_plan(
    threshold: float,
    num_hashes: int | None = None,
    max_hashes: int = 64,
    fn_weight: float = 3.0,
) -> dict:
    """Choose LSH banding parameters for a target Jaccard ``threshold``.

    Searches (bands, rows_per_band) factorizations — of ``num_hashes`` when
    pinned, else of every signature width up to ``max_hashes`` — and scores
    each by the banding S-curve's total mis-selection mass against the ideal
    step at ``threshold``: FP mass = ∫[0,t] P(s) ds (pairs below the
    threshold that still become candidates, i.e. wasted verify work) and FN
    mass = ∫[t,1] (1 - P(s)) ds (qualifying pairs LSH never surfaces —
    permanent recall loss, since only candidates reach the exact-Jaccard
    verify). ``fn_weight`` prices that asymmetry (default 3: a missed
    duplicate is unfixable downstream; a false candidate just costs one
    verify row). Pure driver-side arithmetic — nothing here touches data.

    Returns ``{num_hashes, bands, rows_per_band, threshold_est, fp_mass,
    fn_mass, kwargs}`` where ``kwargs`` is the splat-safe subset
    (``num_hashes``/``bands`` only) accepted by
    :func:`lsh_candidate_pairs` / :func:`minhash_lsh_dedup` — the top-level
    dict carries diagnostics (``threshold_est = (1/b)^(1/r)``, the S-curve
    midpoint actually realized; the two mis-selection masses) that those
    functions do not take, so splat ``**plan["kwargs"]``, not ``**plan``.

    Wider signatures always score >= as well (the S-curve steepens), so with
    ``num_hashes=None`` the chosen width is typically ``max_hashes`` —
    budget-constrained callers pin ``num_hashes`` to what they can afford
    (signature cost is one md5 per (shingle, seed)).
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    if fn_weight <= 0:
        raise ValueError(f"fn_weight must be > 0, got {fn_weight}")
    # width < 2 leaves no (bands>1 or rows>1) factorization: n=1 forces
    # b=r=1 (threshold_est degenerates to 1.0) and n<=0 empties the search
    if num_hashes is not None and num_hashes < 2:
        raise ValueError(f"num_hashes must be >= 2, got {num_hashes}")
    if num_hashes is None and max_hashes < 2:
        raise ValueError(f"max_hashes must be >= 2, got {max_hashes}")
    widths = [num_hashes] if num_hashes is not None else list(range(2, max_hashes + 1))
    grid = 2048
    best = None
    for n in widths:
        for r in range(1, n + 1):
            if n % r != 0:
                continue
            b = n // r
            fp = fn = 0.0
            # midpoint quadrature of the two mis-selection masses
            for i in range(grid):
                s = (i + 0.5) / grid
                p = lsh_candidate_probability(s, b, r)
                if s < threshold:
                    fp += p
                else:
                    fn += 1.0 - p
            fp /= grid
            fn /= grid
            cost = fp + fn_weight * fn
            # strict < : among ties prefer the first (smaller r ⇒ fewer
            # hashes recomputed per band hash, cheaper banding)
            if best is None or cost < best[0]:
                best = (cost, n, b, r, fp, fn)
    _, n, b, r, fp, fn = best
    return {
        "num_hashes": n,
        "bands": b,
        "rows_per_band": r,
        "threshold_est": (1.0 / b) ** (1.0 / r),
        "fp_mass": fp,
        "fn_mass": fn,
        "kwargs": {"num_hashes": n, "bands": b},
    }


def minhash_lsh_dedup(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    ngram: int = 2,
    threshold: float = 0.5,
    max_bucket: int = 1000,
) -> DataFrame:
    """LSH candidates verified by exact Jaccard — the full near-dup pipeline.

    Returns (id_a, id_b, jaccard) for verified near-duplicates.
    ``max_bucket`` passes through to :func:`lsh_candidate_pairs` (band
    buckets larger than it are skipped — the skew guard); callers that
    need cross-engine parity must mirror the same cap on the other side
    (the declared q22 oracle does).
    """
    cands = lsh_candidate_pairs(
        df, text, id_col, num_hashes, bands, ngram, max_bucket
    )
    return jaccard_pairs(
        df, text, id_col, ngram, threshold, candidates=cands
    )


def simhash(text: Column, bits: int = 60, ngram: int = 1) -> Column:
    """SimHash signature as a BIGINT (60 bits so it stays in int64 range).

    Per bit j: sum over shingles of ±1 according to bit j of the shingle's
    md5 (taken from the first 15 hex chars = 60 bits); bit j of the result
    is 1 when the sum is positive. Pure per-row expressions.
    """
    shingles = (
        word_ngrams(text, ngram) if ngram > 1 else F.array_distinct(tokens(text))
    )
    hashes = F.transform(
        shingles, lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")
    )
    bit_cols = []
    for j in range(bits):
        vote = F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc
            + F.when(h.bitwiseAND(F.lit(1 << j)) != 0, F.lit(1)).otherwise(F.lit(-1)),
        )
        bit_cols.append(F.when(vote > 0, F.lit(1 << j)).otherwise(F.lit(0)))
    out = F.lit(0).cast("long")
    for c in bit_cols:
        out = out + c
    return out


def _star_contraction(edges: DataFrame, max_rounds: int) -> tuple:
    """Alternating large-star / small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) — the
    log-diameter form of connected components.

    ``edges`` is canonically oriented (``a`` > ``b``, no self-loops,
    distinct). Each round applies large-star (every node points its
    strictly-larger neighbors at the minimum of its closed neighborhood)
    then small-star (every node and its smaller neighbors point at the
    minimum of the smaller neighborhood). Distances to the component
    minimum roughly halve per round, so a path-graph cluster of diameter D
    — the shape real boilerplate dup chains take (templated pages,
    mirrored docs) — converges in O(log D) rounds instead of the O(D)
    rounds min-label propagation needs. At a fixed point the edge set is a
    star forest centered on component minima, which IS the label map.

    Returns ``(star_edges, rounds_used)``; raises :class:`ValueError` if
    the edge set is still changing after ``max_rounds`` rounds (with the
    default cap of 20 that means diameter beyond ~2^20 — structurally a
    bug, so it must be loud, never silently partial).
    """
    cur = edges.localCheckpoint(eager=True)
    rounds = 0
    for rounds in range(1, max_rounds + 1):
        # large-star: per node a over the BIDIRECTIONAL neighborhood,
        # m = min(N(a) ∪ {a}); emit (v, m) for every neighbor v > a.
        # v > a ≥ m, so the output is already canonically oriented and
        # self-loop free.
        bidir = cur.union(cur.select(F.col("b").alias("a"), F.col("a").alias("b")))
        mins = (
            bidir.groupBy("a")
            .agg(F.min("b").alias("mn"))
            .select("a", F.least(F.col("a"), F.col("mn")).alias("m"))
        )
        ls = (
            bidir.join(mins, "a")
            .where(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .distinct()
        )
        # small-star: input is oriented a > b; per node a, m = min of the
        # smaller neighborhood; point a and every smaller neighbor at m.
        mins2 = ls.groupBy("a").agg(F.min("b").alias("m"))
        joined = ls.join(mins2, "a")
        ss = (
            joined.select(F.col("b").alias("a"), F.col("m").alias("b"))
            .union(joined.select(F.col("a").alias("a"), F.col("m").alias("b")))
            .where(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        converged = (
            ss.count() == cur.count()
            and ss.subtract(cur).limit(1).count() == 0
        )
        cur = ss
        if converged:
            return cur, rounds
    raise ValueError(
        f"duplicate_clusters(method='star') did not converge within "
        f"max_iters={max_rounds} contraction rounds — structurally "
        f"impossible for any graph of diameter < 2^{max_rounds}; raise "
        f"max_iters or report a bug"
    )


def duplicate_clusters(
    pairs: DataFrame, max_iters: int = 24, method: str = "auto"
) -> DataFrame:
    """Resolve near-dup pairs into clusters: (id, cluster_id = component min).

    ``method``:

    - ``"auto"`` (default) / ``"star"`` — alternating large-star /
      small-star contraction (:func:`_star_contraction`): O(log diameter)
      rounds, so 100 TB-scale boilerplate dup chains (templated pages,
      mirrored docs routinely form long-path clusters) converge in a
      handful of rounds where label propagation needs one round per hop.
      ``max_iters`` caps contraction ROUNDS (the default 24 covers
      diameter ~2^23, i.e. an 8-million-hop chain, plus the one
      zero-change observation round). Measured (SCALING.md §Round-12): a
      100k-node path graph —
      diameter 100,000, which would need a 100,000-iteration propagation
      cap — converges in 18 rounds (≈ log2(diameter) + 1), 29.7 s on
      local[8].
    - ``"propagation"`` — min-label propagation, one join+groupBy per
      round, O(component diameter) rounds with ``max_iters`` as the
      diameter cap. Slightly fewer shuffles per round, so it can edge out
      star contraction when the diameter is KNOWN to be tiny.

    Both methods produce identical output and fail loudly on
    non-convergence rather than returning silently-partial clusters. At
    scale: edges are (id, id) longs only, every round is structure-sized
    (candidate pairs, never the corpus), and ``localCheckpoint`` truncates
    the growing lineage so the loop stays plannable. The canonical
    document of a cluster is its min id — filter ``id == cluster_id`` to
    dedup.
    """
    if method not in ("auto", "star", "propagation"):
        raise ValueError(f"unknown duplicate_clusters method: {method!r}")
    edges = (
        pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
        .union(pairs.select(F.col("id_b").alias("a"), F.col("id_a").alias("b")))
        .distinct()
    )
    if method in ("auto", "star"):
        nodes = edges.select(F.col("a").alias("id")).distinct()
        canonical = edges.where(F.col("a") > F.col("b"))
        stars, _rounds = _star_contraction(canonical, max_rounds=max_iters)
        # at the fixed point every non-center node has exactly one edge
        # (v, component_min); centers never appear on the a side. min() is
        # a no-op safety net on top of the converged star forest.
        label_map = stars.groupBy(F.col("a").alias("id")).agg(
            F.min("b").alias("label")
        )
        labels = nodes.join(label_map, "id", "left").select(
            "id", F.coalesce(F.col("label"), F.col("id")).alias("label")
        )
        # absolute output guarantee, independent of the fixed-point
        # theorem: no original edge may straddle two labels
        la = labels.select(F.col("id").alias("a"), F.col("label").alias("lab_a"))
        lb = labels.select(F.col("id").alias("b"), F.col("label").alias("lab_b"))
        bad = (
            edges.join(la, "a")
            .join(lb, "b")
            .where(F.col("lab_a") != F.col("lab_b"))
            .limit(1)
            .count()
        )
        if bad:
            raise ValueError(
                "duplicate_clusters(method='star') internal error: an edge "
                "straddles two cluster labels after convergence"
            )
        return labels.select("id", F.col("label").alias("cluster_id"))
    labels = edges.select(F.col("a").alias("id")).distinct().select(
        "id", F.col("id").alias("label")
    )
    # max_iters + 1 passes: a graph whose last label change lands exactly
    # on pass max_iters is already converged but needs one extra
    # zero-change pass to OBSERVE it — without the +1, capacity would be
    # max_iters-1 hops and a complete, correct result would be discarded
    for _ in range(max_iters + 1):
        nbr = (
            edges.join(labels, edges["b"] == labels["id"])
            .groupBy(F.col("a").alias("id"))
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(nbr, "id", "left")
            .select(
                "id",
                F.least(F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))).alias(
                    "label"
                ),
            )
        )
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .where(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # genuinely unconverged: labels still changing after max_iters
        # productive passes. A silent partial result would differ from an
        # exact oracle the moment a component's diameter exceeds the cap
        # (the q88 knob-audit rule: caps must fail loudly or be mirrored,
        # never silently change results past a data threshold)
        raise ValueError(
            f"duplicate_clusters did not converge within max_iters="
            f"{max_iters}; a component's diameter exceeds it — raise "
            f"max_iters (each extra iteration is one join+groupBy round)"
        )
    return labels.select("id", F.col("label").alias("cluster_id"))


def cluster_representatives(
    labels: DataFrame,
    scored: DataFrame,
    score_col: str,
    id_col: str = "id",
    cluster_col: str = "cluster_id",
    higher_is_better: bool = True,
) -> DataFrame:
    """Pick the member to KEEP from each duplicate cluster — the standard
    step after :func:`duplicate_clusters`: instead of "keep the min id",
    keep the highest-quality copy (longest, best classifier score, most
    recent crawl) and drop the rest.

    ``labels`` is (id, cluster_id) as returned by
    :func:`duplicate_clusters`; ``scored`` carries ``id_col`` plus
    ``score_col`` (any orderable column — quality_score, n_chars, a
    timestamp). Returns one row per cluster:
    (cluster_id, rep_id, rep_score, n_members), rep = argmax (argmin when
    ``higher_is_better=False``) of the score with min-id tie-break, so
    the choice is deterministic across engines and partitionings.

    Members missing from ``scored`` (or with NULL scores) still COUNT in
    ``n_members`` but always LOSE the representative race (nulls sort
    last in either direction): a quality table that covers only part of
    a cluster must not shrink the cluster or crown an unscored copy, and
    a cluster with no scored member at all still returns its min-id row
    (rep_score NULL) rather than vanishing — a downstream
    "drop everything but reps" filter would otherwise delete every copy.

    Scale shape: ``labels`` is bounded by CLUSTERED docs (orders of
    magnitude below the corpus — only near-dup members carry labels);
    one equi-join on the id attaches scores, one per-cluster window picks
    the representative. Dup clusters are small by construction, so the
    window partitions are tiny; the heavy lifting already happened in
    pair mining.
    """
    direction = (
        F.col(score_col).desc_nulls_last()
        if higher_is_better
        else F.col(score_col).asc_nulls_last()
    )
    joined = labels.join(
        scored.select(F.col(id_col), F.col(score_col)), id_col, "left"
    )
    w = Window.partitionBy(cluster_col).orderBy(
        direction, F.col(id_col).asc()
    )
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .withColumn(
            "__nm", F.count(F.lit(1)).over(Window.partitionBy(cluster_col))
        )
        .where(F.col("__rn") == 1)
        .select(
            F.col(cluster_col),
            F.col(id_col).alias("rep_id"),
            F.col(score_col).alias("rep_score"),
            F.col("__nm").cast("long").alias("n_members"),
        )
    )


def simhash_df(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    bits: int = 60,
    ngram: int = 1,
) -> DataFrame:
    """(id, sh BIGINT) SimHash via explode + hash-aggregate — the scale path.

    One md5 per shingle; the 60 per-bit votes are conditional sums in a
    single partially-aggregated groupBy, so the shuffle carries 60 ints per
    doc per map task.
    """
    shingles = (
        word_ngrams(F.col(text), ngram)
        if ngram > 1
        else F.array_distinct(tokens(F.col(text)))
    )
    sh = df.select(F.col(id_col).alias("id"), F.explode(shingles).alias("s"))
    h = F.conv(F.substring(F.md5(F.col("s")), 1, 15), 16, 10).cast("long")
    rows = sh.select("id", h.alias("h"))
    aggs = [
        F.sum(
            F.when(F.col("h").bitwiseAND(F.lit(1 << j)) != 0, F.lit(1)).otherwise(
                F.lit(-1)
            )
        ).alias(f"b{j}")
        for j in range(bits)
    ]
    grouped = rows.groupBy("id").agg(*aggs)
    sig = F.lit(0).cast("long")
    for j in range(bits):
        sig = sig + F.when(F.col(f"b{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return grouped.select("id", sig.alias("sh"))


def simhash_pairs(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = 60,
    blocks: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= ``max_hamming``.

    Pigeonhole banding: split the signature into ``blocks`` bit-blocks (with
    blocks > max_hamming, any pair within the bound shares an exact block) →
    bucket-join per block → verify with bit_count(xor). Same shuffle shape
    as MinHash-LSH: tiny keyed rows, never the text.
    """
    if blocks <= max_hamming:
        raise ValueError(
            f"blocks={blocks} must exceed max_hamming={max_hamming}: the"
            " pigeonhole guarantee needs more blocks than differing bits,"
            " else pairs inside the bound can differ in every block and"
            " silently vanish from the result"
        )
    block_bits = bits // blocks
    base = simhash_df(df, text, id_col, bits).withColumnRenamed("sh", "sig")
    banded = base.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("block_id"),
                        F.shiftrightunsigned(F.col("sig"), b * block_bits)
                        .bitwiseAND(F.lit((1 << block_bits) - 1))
                        .alias("block_val"),
                    )
                    for b in range(blocks)
                ]
            )
        ).alias("blk"),
    ).select("id", "sig", "blk.block_id", "blk.block_val")
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.block_id") == F.col("b.block_id"))
            & (F.col("a.block_val") == F.col("b.block_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(
                F.col("a.sig").bitwiseXOR(F.col("b.sig"))
            ).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )
    return pairs


def ngram_contamination(
    df: DataFrame,
    benchmark: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    ngram: int = 3,
) -> DataFrame:
    """Benchmark-contamination check: per document, the fraction of its
    distinct word n-grams that appear anywhere in the benchmark corpus.

    The standard decontamination pass for training data (n-gram overlap
    against eval sets). Distributed shape: the benchmark's distinct n-gram
    set is small by construction (eval sets are thousands of docs, not
    billions), so it broadcasts; corpus n-grams stream past it with a
    broadcast LEFT SEMI-style join — no shuffle of corpus text, partial
    aggregation on (doc, matched) counts. Returns
    (id, n_grams, n_matched, overlap); docs with fewer than ``ngram``
    tokens have zero n-grams and report overlap 0.0.
    """
    bench_grams = (
        benchmark.select(F.explode(word_ngrams(F.col(text), ngram)).alias("g"))
        .where(F.col("g") != "")
        .distinct()
    )
    corpus = df.select(
        F.col(id_col).alias("id"),
        F.explode_outer(word_ngrams(F.col(text), ngram)).alias("g"),
    )
    marked = corpus.join(
        F.broadcast(bench_grams.withColumn("__hit", F.lit(1))), "g", "left"
    )
    return marked.groupBy("id").agg(
        F.expr("CAST(count(g) AS BIGINT) AS n_grams"),
        F.expr("CAST(count(__hit) AS BIGINT) AS n_matched"),
        F.expr(
            "CASE WHEN count(g) > 0 THEN count(__hit) / CAST(count(g) AS DOUBLE)"
            " ELSE 0.0D END AS overlap"
        ),
    )


def incremental_dedup(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental-ingest dedup: which rows of ``new_df`` are genuinely new?

    Two-level check, the standard shape for appending a batch to a corpus:
    (1) within-batch exact dedup (min id is canonical), and (2) an anti
    join of normalized-text hashes against the existing corpus. The corpus
    side reduces to DISTINCT hashes first (partial aggregation; one 16-byte
    digest per distinct text crosses the wire — never the text itself).
    Adds ``in_corpus`` and ``is_new_unique`` flags.
    """
    h = F.md5(normalize_text(F.col(text)))
    w = Window.partitionBy("__h")
    tagged = new_df.withColumn("__h", h).withColumn(
        "__canon", F.col(id_col) == F.min(id_col).over(w)
    )
    corpus_hashes = (
        corpus_df.select(h.alias("__h")).distinct().withColumn("__hit", F.lit(1))
    )
    joined = tagged.join(corpus_hashes, "__h", "left")
    return (
        joined.withColumn("in_corpus", F.col("__hit").isNotNull())
        .withColumn(
            "is_new_unique", F.col("__canon") & F.col("__hit").isNull()
        )
        .drop("__h", "__canon", "__hit")
    )
