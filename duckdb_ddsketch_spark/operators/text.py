"""Text-analysis operators for large-scale training-data pipelines.

All computations are pure Catalyst expressions (no UDFs): tokenization via
``split``, n-gram shingles via ``transform``/``sequence`` over the token
array, hashes via ``md5``. Every operator is therefore whole-stage-codegen'd
and partially aggregated — per-row work is embarrassingly parallel and the
only shuffles are the final (small) per-group aggregations, so the designs
hold at 100 TB: scans prune columns to ``text`` + keys, and no driver-side
collection happens anywhere — with ONE bounded exception:
:func:`bm25_scores` collects at most ``_BM25_PREFILTER_MAX + 1`` distinct
query terms (a model-sized-by-contract table, never the corpus) at call
time to build its pre-explode term filter.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

__all__ = [
    "tokens",
    "word_ngrams",
    "token_stats",
    "stopword_ratio",
    "quality_score",
    "language_id",
    "fingerprint",
    "top_k_tokens",
    "tfidf_top_terms",
    "bm25_scores",
    "DEFAULT_STOPWORDS",
    "LANG_MARKERS",
    "REDACTION_PATTERNS",
    "redact",
    "redaction_stats",
    "gopher_flags",
    "repetition_stats",
    "unigram_logfreq_stats",
    "chunk_spans",
    "chunk_text",
    "hashed_ngram_features",
    "linear_quality_score",
    "dsir_logratio_weights",
    "rrf_fuse",
    "vocab_token_counts",
    "vocab_token_stats",
    "BPE_SUBWORD_VOCAB",
    "BPE_SUBWORD_VOCAB_2K",
]

DEFAULT_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")

# tiny per-language marker lexicons for the n-gram/stopword language-ID
# heuristic (a real pipeline would plug a model here; the *operator shape* —
# per-row scoring + argmax, no shuffle — is what matters at scale)
LANG_MARKERS = {
    "en": ("the", "and", "of", "is"),
    "de": ("der", "die", "und", "ist"),
    "fr": ("le", "la", "et", "est"),
    "es": ("el", "la", "y", "es"),
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization (collapsing runs of spaces)."""
    return F.split(F.trim(text), " +")


def word_ngrams(text: Column, n: int = 2) -> Column:
    """Distinct word n-gram shingles as an array<string>.

    ``transform(sequence(1, ntok-n+1), i -> tokens[i-1..i+n-2] joined)`` —
    native, per-row, no shuffle.
    """
    toks = tokens(text)
    ntok = F.size(toks)
    idx = F.sequence(F.lit(1), ntok - (n - 1))
    gram = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, (i + j).cast("int")) for j in range(n)]
        ),
    )
    # guard short texts: sequence(1, 0) is DESCENDING in Spark ([1, 0]),
    # which would index token 0 and (under ANSI) error out
    return F.when(ntok >= n, F.array_distinct(gram)).otherwise(
        F.array().cast("array<string>")
    )


def token_stats(df: DataFrame, text: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document token counts and lengths (BPE-ish proxy included:
    ceil(chars/4) is the standard rough token estimate)."""
    t = tokens(F.col(text))
    nchars = F.length(F.col(text))
    return df.select(
        id_col,
        F.size(t).alias("n_tokens"),
        F.size(F.array_distinct(t)).alias("n_distinct_tokens"),
        nchars.alias("n_chars"),
        F.ceil(nchars / F.lit(4)).cast("int").alias("est_bpe_tokens"),
        (nchars.cast("double") / F.size(t)).alias("avg_token_len"),
    )


# Fixed BPE-style subword vocab for vocab_token_stats: the 26 letters as
# the fallback alphabet plus high-frequency English merges up to length 4
# (classic bigram/trigram frequency lists). Deliberately SMALL and literal:
# a vocab is a model artifact like a PQ codebook or an int8 scale — the
# operator takes any list; this default makes counts deterministic and
# oracle-checkable out of the box.
BPE_SUBWORD_VOCAB = tuple(
    [chr(c) for c in range(ord("a"), ord("z") + 1)]
    + [
        "th", "he", "in", "er", "an", "re", "on", "at", "en", "nd",
        "ti", "es", "or", "te", "of", "ed", "is", "it", "al", "ar",
        "st", "to", "nt", "ng", "se", "ha", "as", "ou", "io", "le",
        "ve", "co", "me", "de", "hi", "ri", "ro", "ic", "ne", "ea",
        "the", "ing", "and", "ion", "tio", "ent", "ati", "for", "her",
        "ter", "hat", "tha", "ere", "ate", "his", "con", "res", "ver",
        "all", "ons",
        "tion", "atio", "that", "ther", "with", "ment", "ions", "this",
    ]
)


# Deterministic ~2k-entry vocab (26 letters + all 676 bigrams + every
# 13th trigram = 2,054 entries) — a PRODUCTION-SHAPED merge table past
# VOCAB_EXPR_MAX, where vocab_token_stats' auto routing MUST take the
# Arrow bulk kernel (the expression fold refuses it loudly). Exists so
# the driver gate exercises the hash-dict path in the regime that is its
# reason to exist (q104 / q45 'tokx'), not just below the boundary where
# the expression form could gate anyway. Lowercase ASCII letters only —
# quote-free by construction (the DuckDB oracle inlines entries into SQL
# IN-lists) and outside the non-ASCII lower() divergence documented on
# vocab_token_stats.
BPE_SUBWORD_VOCAB_2K = tuple(
    [chr(c) for c in range(ord("a"), ord("z") + 1)]
    + [chr(i) + chr(j) for i in range(97, 123) for j in range(97, 123)]
    + [
        chr(i) + chr(j) + chr(k)
        for i in range(97, 123)
        for j in range(97, 123)
        for k in range(97, 123)
        if ((i - 97) * 676 + (j - 97) * 26 + (k - 97)) % 13 == 0
    ]
)


def _vocab_by_len(vocab: Sequence[str]) -> dict:
    by_len: dict = {}
    for v in vocab:
        if not v:
            raise ValueError("vocab entries must be non-empty strings")
        by_len.setdefault(len(v), set()).add(v)
    return {l: sorted(vs) for l, vs in by_len.items()}


# Above this vocab size vocab_token_stats routes to the Arrow bulk form
# and the pure-expression Column form refuses loudly. Measured round 11:
# EVERY native probe container is a linear scan per lookup — literal
# arrays (array_contains over the length class) and even a
# constant-folded literal map (Spark map literals are ArrayBasedMapData;
# element_at/GetMapValue scans keys) — so at 32k entries a probe costs
# ~16k string compares and a single small doc takes ~0.1 core-seconds in
# the (interpreted) fold. A vocab is a model artifact, and model-sized
# lookup tables belong in an Arrow-batched kernel with a real hash dict
# — the same call the PQ codebooks make with their BLAS forms.
VOCAB_EXPR_MAX = 512

# bm25_scores prunes corpus tokens against the distinct query-term set
# BEFORE exploding them when the set is at most this many terms
# (Catalyst folds the literal IN to an INSET hash set above
# inSetConversionThreshold, so per-token probe cost is ~flat in set
# size; what the prune buys is rows never materialized by the explode).
# Round-12 measurements: 13.4 -> 7.5 s at 9 terms, 22.7 -> 12.4 s at
# 128 mostly-missing terms (OPTIMIZATION_r12.md §3). Round-13
# crossover sweep with MOSTLY-EXISTING terms — the adversarial case,
# where high hit rates shrink the saving — still shows no crossover
# through 512: join-branch vs prefilter mins 22.1/16.4 s at 128 terms,
# 31.1/19.7 at 256, 78.2/58.0 at 512 (15M docs / 120M tokens,
# interleaved reps, OPTIMIZATION_r13.md §5; branch equality
# pinned per set size). Cap set at the largest measured point — past
# it the explode + broadcast semi-join prune applies unchanged, and the
# bounded limit-collect never pulls more than cap+1 rows either way.
_BM25_PREFILTER_MAX = 512


def vocab_token_counts(
    text: Column, vocab: Sequence[str] = BPE_SUBWORD_VOCAB
) -> Column:
    """Greedy longest-match subword token accounting against a LITERAL
    vocab — the WordPiece/BPE inference rule (at each position take the
    longest vocab entry that prefixes the remaining word; fall back to
    one character, counting it unknown if even the single character is
    out-of-vocab). Returns a struct (n_words, n_bpe_tokens, n_unk);
    NULL text counts as zeros.

    This replaces the chars/4 BPE proxy wherever a pipeline needs REAL
    vocab-driven token counts (pack budgets, token manifests): feed
    ``vocab_token_counts(col).getField("n_bpe_tokens")`` as the token
    column of ``sampling.materialize_sequences`` / ``pack_sequences``.

    Shape: pure per-row expression — a fold over each word's character
    positions with the vocab baked in as per-length literal arrays,
    nested in a fold over the words. Map-only, no shuffle, no UDF,
    whole-row parallel at any scale; the greedy step is
    O(word_len x #lengths) small-array probes. Both folds and the
    per-word state are let-bound so nothing re-evaluates (see
    dedup._let). Tokenization is per-word (words split on whitespace,
    lowercased), so counts are exact for any vocab whose merges never
    cross spaces — the WordPiece convention.

    Vocabs larger than VOCAB_EXPR_MAX are REFUSED loudly: every native
    probe container Spark offers is a per-lookup linear scan (literal
    arrays, and even constant-folded map literals — ArrayBasedMapData),
    so a 32k merge table in expression form is a measured scale cliff
    (~0.1 core-s per small doc). :func:`vocab_token_stats` carries the
    same semantics past the threshold via its Arrow bulk kernel.
    """
    from .dedup import _let  # runtime import: dedup imports this module

    by_len = _vocab_by_len(vocab)
    if len(vocab) > VOCAB_EXPR_MAX:
        raise ValueError(
            f"vocab has {len(vocab)} entries > VOCAB_EXPR_MAX"
            f" ({VOCAB_EXPR_MAX}): every native probe container is a"
            " per-lookup LINEAR scan (literal arrays and map literals"
            " alike), so a production-sized merge table in a pure"
            " expression is a scale cliff — use vocab_token_stats(df,"
            " vocab) which routes to the Arrow bulk kernel"
        )
    lengths_desc = sorted(by_len, reverse=True)
    arrs = {l: F.array(*[F.lit(t) for t in by_len[l]]) for l in lengths_desc}

    def matched(pos: Column, w: Column) -> Column:
        return F.coalesce(
            *[
                F.when(
                    F.array_contains(arrs[l], w.substr(pos + 1, F.lit(l))),
                    F.lit(l),
                )
                for l in lengths_desc
            ]
        )

    def word_fold(w: Column) -> Column:

        def merge(acc: Column, i: Column) -> Column:
            m = matched(acc["pos"], w)
            return F.when(
                i == acc["pos"] + 1,  # at a segment boundary
                F.struct(
                    (acc["pos"] + F.coalesce(m, F.lit(1))).alias("pos"),
                    (acc["n"] + 1).alias("n"),
                    (acc["unk"] + F.when(m.isNull(), 1).otherwise(0)).alias(
                        "unk"
                    ),
                ),
            ).otherwise(acc)

        init = F.struct(
            F.lit(0).alias("pos"), F.lit(0).alias("n"), F.lit(0).alias("unk")
        )
        return F.aggregate(F.sequence(F.lit(1), F.length(w)), init, merge)

    zero = F.struct(
        F.lit(0).cast("long").alias("n_words"),
        F.lit(0).cast("long").alias("n_bpe_tokens"),
        F.lit(0).cast("long").alias("n_unk"),
    )

    def outer(acc: Column, w: Column) -> Column:
        def build(s: Column) -> Column:
            return F.struct(
                (acc["n_words"] + 1).alias("n_words"),
                (acc["n_bpe_tokens"] + s["n"]).alias("n_bpe_tokens"),
                (acc["n_unk"] + s["unk"]).alias("n_unk"),
            )

        return F.when(
            F.length(w) > 0, _let(word_fold(w), build)
        ).otherwise(acc)

    words = F.split(F.lower(F.trim(text)), " +")
    return F.when(text.isNotNull(), F.aggregate(words, zero, outer)).otherwise(
        zero
    )


def vocab_token_stats(
    df: DataFrame,
    vocab: Sequence[str] = BPE_SUBWORD_VOCAB,
    text: str = "text",
    id_col: str = "doc_id",
    form: str = "auto",
) -> DataFrame:
    """Per-document greedy-vocab token accounting:
    (id, n_words, n_bpe_tokens, n_unk) — see :func:`vocab_token_counts`.
    Map-only; one row per input document (NULL text reports zeros).

    The three fields come out of ONE evaluation of the fold: ``inline``
    is a generator, and Generate nodes are never collapsed into the
    projection — three plain getField output columns would each inline
    their own copy of the whole fold (the CollapseProject hazard
    dedup._let documents, in multi-column form).

    ``form`` picks the evaluation kernel (same greedy rule, same output,
    pinned equal by test_vocab_bulk_form_matches_array_form):

    - ``"expr"`` — the pure-expression fold above: zero Python anywhere,
      the form the q101 DuckDB oracle mirrors. HOF folds are interpreted
      (no codegen) and every probe linear-scans its literal length-class
      array, so its throughput is modest: measured 41.7 s / 1M docs even
      at the default 94-entry vocab (SCALING.md round 11). Refuses
      vocabs over VOCAB_EXPR_MAX.
    - ``"bulk"`` — the Arrow kernel (:func:`_vocab_token_stats_bulk`):
      real hash-dict probes + per-task word memoization; measured
      0.9-1.0 s / 1M docs at BOTH 94 and 32k vocab entries, linear to
      4M docs. The production path at any vocab size.
    - ``"auto"`` (default) — ``expr`` up to VOCAB_EXPR_MAX (keeps the
      oracle-gated zero-Python plan for the vocabs that gate), ``bulk``
      above (where the expression form is a measured cliff).

    Non-ASCII caveat on ``"auto"``: the two kernels lowercase with
    different engines — ``expr`` uses Spark's ``lower`` (JVM Unicode
    tables), ``bulk`` uses Python ``str.lower()`` (unicodedata) — whose
    case tables are maintained independently and diverge on
    recently-added codepoints (measured on this JVM/Python pair: 5 BMP
    codepoints, e.g. U+A7CB LATIN CAPITAL LETTER RAMS HORN lowercases
    in Spark but not in Python; a full-BMP sweep is pinned in
    test_vocab_bulk_nonascii_lower_divergence). So the same non-ASCII
    corpus can change counts purely because the vocab grew past
    VOCAB_EXPR_MAX and auto switched kernels. ASCII text is exact on
    both forms (pinned identical by
    test_vocab_bulk_form_matches_array_form); for non-ASCII corpora
    whose counts must be stable across vocab growth, pass
    ``form="bulk"`` explicitly so the kernel never switches."""
    if form not in ("auto", "expr", "bulk"):
        raise ValueError(f"form must be auto|expr|bulk, got {form!r}")
    if form == "bulk" or (form == "auto" and len(vocab) > VOCAB_EXPR_MAX):
        return _vocab_token_stats_bulk(df, vocab, text, id_col)
    st = vocab_token_counts(F.col(text), vocab)
    return df.select(F.col(id_col), F.inline(F.array(st)))


def _vocab_token_stats_bulk(
    df: DataFrame,
    vocab: Sequence[str],
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Production-vocab form of :func:`vocab_token_stats`: the greedy
    longest-match rule over a REAL hash dict in an Arrow-batched kernel
    (``mapInPandas``) with per-task word memoization (the memo
    dict outlives each Arrow batch and is shared by every batch the
    task processes, bounded at 1M entries — strictly better than
    per-batch).

    Why not the expression form: every native probe container is a
    per-lookup LINEAR scan — ``array_contains`` over a length class, and
    even a constant-folded literal map (Spark map literals are
    ArrayBasedMapData; GetMapValue scans its keys) — so a 32k merge
    table costs ~16k string compares per probe and ~0.1 core-seconds per
    small document (measured, SCALING.md round 11). Here a probe is one
    O(1) dict lookup, and the per-task memo collapses repeated words
    (Zipf: most of a real batch), the shuffle-free version of the
    dictionary-encode-then-process trick.

    Scale shape: map-only over the corpus, no shuffle, Arrow-batched
    both ways; the vocab ships once per worker in the closure (a model
    artifact, exactly like the PQ codebooks in the BLAS forms). Output
    and semantics identical to the expression form, including the
    space-only split/trim and truncated-probe conventions (exact for
    ASCII text; both engines' ``lower`` agree there)."""
    by_len = _vocab_by_len(vocab)
    sets = {l: frozenset(vs) for l, vs in by_len.items()}
    lengths = sorted(sets, reverse=True)
    id_type = df.schema[id_col].dataType.simpleString()

    def batches(it):
        import re

        import pandas as pd

        cache: dict = {}

        def word_counts(w: str):
            r = cache.get(w)
            if r is None:
                pos = n = unk = 0
                L = len(w)
                while pos < L:
                    step = None
                    for l in lengths:
                        seg = w[pos : pos + l]
                        if len(seg) == l and seg in sets[l]:
                            step = l
                            break
                    if step is None:
                        step = 1
                        unk += 1
                    pos += step
                    n += 1
                r = (n, unk)
                if len(cache) < 1_000_000:  # bound the memo, keep the hits
                    cache[w] = r
            return r

        split = re.compile(" +").split
        for pdf in it:
            nw_col, nt_col, nu_col = [], [], []
            for t in pdf[text]:
                if t is None or (isinstance(t, float) and pd.isna(t)):
                    nw_col.append(0), nt_col.append(0), nu_col.append(0)
                    continue
                # mirror F.split(F.lower(F.trim(text)), " +"): SPACE-only
                # trim and split (tabs/newlines stay inside "words")
                nw = nt = nu = 0
                for w in split(str(t).strip(" ").lower()):
                    if not w:
                        continue
                    n, unk = word_counts(w)
                    nw += 1
                    nt += n
                    nu += unk
                nw_col.append(nw), nt_col.append(nt), nu_col.append(nu)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_words": pd.Series(nw_col, dtype="int64"),
                    "n_bpe_tokens": pd.Series(nt_col, dtype="int64"),
                    "n_unk": pd.Series(nu_col, dtype="int64"),
                }
            )

    return df.select(id_col, text).mapInPandas(
        batches,
        f"{id_col} {id_type}, n_words long, n_bpe_tokens long, n_unk long",
    )


def stopword_ratio(
    text: Column, stopwords: Sequence[str] = DEFAULT_STOPWORDS
) -> Column:
    toks = tokens(F.lower(text))
    hits = F.size(F.filter(toks, lambda w: w.isin(list(stopwords))))
    return hits.cast("double") / F.size(toks)


def quality_score(text: Column, stopwords: Sequence[str] = DEFAULT_STOPWORDS) -> Column:
    """Composite [0,1] quality heuristic: length band + lexical diversity +
    stopword presence (the standard cheap pre-filter for web corpora)."""
    toks = tokens(F.lower(text))
    n = F.size(toks)
    diversity = F.size(F.array_distinct(toks)).cast("double") / n
    sw = F.size(F.filter(toks, lambda w: w.isin(list(stopwords)))).cast("double") / n
    length_ok = F.when((n >= 10) & (n <= 1000), F.lit(1.0)).otherwise(F.lit(0.5))
    return (length_ok + diversity + F.least(sw * F.lit(5.0), F.lit(1.0))) / F.lit(3.0)


def language_id(text: Column) -> Column:
    """Marker-lexicon language guess: score per language = fraction of
    marker hits; argmax with deterministic tie-break by language code."""
    toks = tokens(F.lower(text))
    n = F.size(toks)
    scored = F.array(
        *[
            F.struct(
                (
                    F.size(F.filter(toks, lambda w: w.isin(list(markers)))).cast(
                        "double"
                    )
                    / n
                ).alias("score"),
                F.lit(lang).alias("lang"),
            )
            for lang, markers in sorted(LANG_MARKERS.items())
        ]
    )
    # max over (score, lang): ties resolve to the lexicographically larger
    # language code; callers wanting 'unknown' can threshold on the score.
    best = F.array_max(scored)
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("unknown"))


def top_k_tokens(
    df: DataFrame,
    group: Sequence[str],
    text: str = "text",
    k: int = 10,
    lowercase: bool = True,
) -> DataFrame:
    """Exact heavy hitters: the k most frequent tokens per group with their
    counts, rank ties broken by token (deterministic).

    Scale shape: explode -> groupBy(group, token).count runs with map-side
    partial aggregation, so the shuffle carries one row per distinct
    (group, token) per map task — vocabulary-bounded, not corpus-bounded.
    The row_number window then only sees the distinct-token counts.
    """
    group = list(group)
    t = F.col(text)
    toks = tokens(F.lower(t) if lowercase else t)
    counts = (
        df.select(*group, F.explode(toks).alias("token"))
        .where(F.col("token") != "")
        .groupBy(*group, "token")
        .agg(F.count("*").alias("token_count"))
    )
    w = Window.partitionBy(*group).orderBy(
        F.col("token_count").desc(), F.col("token").asc()
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(*group, "token", "token_count", "rank")
    )


def tfidf_top_terms(
    df: DataFrame,
    group: Sequence[str],
    text: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """Top-k terms per group by corpus-wide tf-idf.

    score(group, term) = total_tf(group, term) * ln((N + 1) / (df + 1))
    with N = corpus doc count and df = docs containing the term. The score
    factors into (integer total tf) x (one idf double), so it is
    reproducible across engines; ranking happens on the float32-rounded
    score with a term tie-break, which absorbs libm ulp differences in ln.

    Shape: ONE linear chain — explode → per-(doc, term) hash aggregate →
    per-(group, term) hash aggregate (both partially aggregated) →
    document-frequency window keyed on the term over the GROUP×VOCAB
    frame — plus a skinny 1-row corpus-count scan. The earlier branch
    form computed tf and df as two independent aggregates over the same
    per-doc subtree and joined them back: Catalyst prunes each branch's
    columns differently, so the "shared" exchange is never actually
    reused (verified on the executed plan: the corpus was scanned and
    pre-aggregated once per branch, plus a vocabulary-sized join). A
    per-term window over the PER-DOC rows would be the skew trap — a
    stopword-class term concentrates ~all docs into one window
    partition; here the window runs after the second aggregate, so a
    term's partition is at most #groups rows (a doc belongs to exactly
    one group, so summing the per-group distinct-doc counts IS the
    corpus document frequency). No Python anywhere.
    """
    group = list(group)
    toks = df.select(
        *group, F.col(id_col).alias("__doc"), F.explode(tokens(F.lower(F.col(text)))).alias("term")
    ).where(F.col("term") != "")
    per_doc = toks.groupBy(*group, "__doc", "term").agg(
        F.count("*").alias("tf_doc")
    )
    # per_doc rows are unique per (doc, term): count(*) per (group, term)
    # counts the group's docs containing the term
    tf = per_doc.groupBy(*group, "term").agg(
        F.sum("tf_doc").alias("tf"), F.count(F.lit(1)).alias("__dg")
    )
    tf = tf.withColumn(
        "df_docs", F.sum("__dg").over(Window.partitionBy("term"))
    )
    n_docs = df.select(
        F.countDistinct(F.col(id_col)).alias("n_docs")
    )
    scored = (
        tf.crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            (
                F.col("tf")
                * F.log((F.col("n_docs") + 1.0) / (F.col("df_docs") + 1.0))
            ).cast("float"),
        )
    )
    w = Window.partitionBy(*group).orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(*group, "term", "tf", "tfidf", "rank")
    )


def fingerprint(text: Column) -> Column:
    """Order-insensitive bag-of-words fingerprint: md5 of the sorted distinct
    token list — the classic cheap canonicalization for shuffle-dup detection.
    """
    toks = F.array_sort(F.array_distinct(tokens(F.lower(text))))
    return F.md5(F.concat_ws(" ", toks))


# PII-shaped scrub patterns. Kept to the regex subset with identical
# semantics in Java regex (Spark) and RE2 (DuckDB/Go tooling) so redaction
# is reproducible across engines: no backrefs, no lookaround.
REDACTION_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+?[0-9][0-9()\- ]{6,}[0-9]",
    "number": r"[0-9]+",
    "ipv4": r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
}


def redact(
    text: Column, patterns: Sequence[str] = ("email", "phone"), mask: str = "#"
) -> Column:
    """Mask every occurrence of the named ``REDACTION_PATTERNS`` (or raw
    regexes) with ``mask``. Pure per-row expression — map-only, pushes past
    projections, no Python."""
    out = text
    for p in patterns:
        out = F.regexp_replace(out, REDACTION_PATTERNS.get(p, p), mask)
    return out


def redaction_stats(
    df: DataFrame,
    text_col: str,
    keys: Sequence[str] = (),
    patterns: Sequence[str] = ("email", "phone"),
) -> DataFrame:
    """Per-``keys`` scrub report: rows touched, total masked runs, and
    distinct surviving texts — the audit table a PII pass must emit.

    The masked-run count is derived from the length delta of stripping the
    mask character (integers only, engine-portable).
    """
    mask = "\x01"  # unlikely in real text; keeps run-counting exact
    masked = redact(F.col(text_col), patterns, mask)
    per_row = df.select(
        *keys,
        F.col(text_col).alias("_t"),
        masked.alias("_m"),
    ).select(
        *keys,
        (F.length("_m") - F.length(F.regexp_replace("_m", mask, ""))).alias(
            "_runs"
        ),
        F.md5(F.col("_m")).alias("_mh"),
    )
    return per_row.groupBy(*keys).agg(
        F.count("*").alias("n_rows"),
        F.sum((F.col("_runs") > 0).cast("long")).alias("n_redacted_rows"),
        F.sum(F.col("_runs").cast("long")).alias("n_masked_runs"),
        F.countDistinct("_mh").alias("n_distinct_masked"),
    )


def gopher_flags(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    extra_cols: Sequence[str] = (),
) -> DataFrame:
    """Gopher-style quality rule flags per document (Rae et al. 2021's
    repetition/format filters, the standard web-corpus gate).

    Every rule is an INTEGER comparison (ratio thresholds cross-multiplied:
    ``mean_word_len >= 3`` becomes ``sum_len >= 3 * n_words``), so the
    flags are exactly reproducible on any engine — no float thresholds.

    Rules: word count in [50, 100000]; mean word length in [3, 10];
    >= 80% of words contain an alphabetic character; >= 2 stopword hits.
    """
    toks = tokens(F.lower(F.col(text_col)))
    n = F.size(toks)
    sum_len = F.aggregate(
        F.transform(toks, F.length), F.lit(0), lambda a, x: a + x
    )
    alpha_words = F.size(F.filter(toks, lambda w: w.rlike("[a-z]")))
    sw_hits = F.size(F.filter(toks, lambda w: w.isin(list(DEFAULT_STOPWORDS))))
    return df.select(
        id_col,
        *extra_cols,
        n.alias("n_words"),
        ((n >= 50) & (n <= 100000)).alias("pass_length"),
        ((sum_len >= n * 3) & (sum_len <= n * 10)).alias("pass_word_len"),
        (alpha_words * 5 >= n * 4).alias("pass_alpha"),
        (sw_hits >= 2).alias("pass_stopwords"),
    ).withColumn(
        "pass_all",
        F.col("pass_length")
        & F.col("pass_word_len")
        & F.col("pass_alpha")
        & F.col("pass_stopwords"),
    )


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    keys: Sequence[str] = (),
    separator: str = ". ",
) -> DataFrame:
    """Within-document repetition audit (the Gopher/C4 duplicate-segment
    filter): split each document into segments on ``separator``, count
    duplicated segments, and aggregate per ``keys``.

    All outputs are exact integers (segment counts, not float ratios), so
    the audit is engine-reproducible; downstream filters derive ratios as
    needed (``dup_seg_sum / seg_sum``). Map-only per document + one
    partial-agged groupBy — no shuffle of text.
    """
    import re as _re

    keys = list(keys)
    # F.split takes a REGEX; the separator is meant literally (mirrors
    # DuckDB's literal string_split in the oracle), so escape it
    segs = F.split(F.col(text_col), _re.escape(separator))
    n_seg = F.size(segs)
    n_dist = F.size(F.array_distinct(segs))
    per = df.select(
        *keys,
        n_seg.alias("__n"),
        (n_seg - n_dist).alias("__dup"),
    )
    return per.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("__dup") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_docs_with_dups"),
        F.sum(F.col("__n").cast("long")).alias("seg_sum"),
        F.sum(F.col("__dup").cast("long")).alias("dup_seg_sum"),
    )


def unigram_logfreq_stats(
    df: DataFrame,
    text_col: str = "text",
    keys: Sequence[str] = (),
    id_col: str = "doc_id",
    vocab_size: int = 50000,
    unknown_count: float = 0.5,
    low_threshold: float = -8.0,
) -> DataFrame:
    """Perplexity-proxy quality scoring: the corpus' own unigram
    distribution is the language model, each document scores the mean
    log-probability of its tokens (the standard cheap LM filter — docs of
    rare/gibberish tokens score low).

    Two passes over tokens, both scale-shaped: (1) vocabulary = top
    ``vocab_size`` tokens by count (vocab-bounded partial aggregate,
    deterministic ``count DESC, token ASC`` tie-break), kept small enough
    to broadcast; (2) per-token log-prob via a broadcast join, averaged per
    document, then summarized per ``keys``: n_docs, mean score, and the
    count of docs below ``low_threshold`` (compared after the float32
    round, so the flag is engine-reproducible).
    """
    keys = list(keys)
    toks = df.select(
        id_col,
        *keys,
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), " ")).alias("w"),
    ).where(F.col("w") != "")
    counts = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    # two-stage top-k: every member of the global top-vocab_size is in its
    # hash-bucket's top-vocab_size, so the single-partition total-order sort
    # only ever sees <= n_buckets * vocab_size candidate rows — bounded by
    # structure, not by the corpus' distinct-token cardinality (which an
    # unpartitioned row_number would funnel through one partition).
    n_buckets = 64
    bucket_w = Window.partitionBy(F.pmod(F.hash("w"), F.lit(n_buckets))).orderBy(
        F.col("c").desc(), F.col("w").asc()
    )
    cand = (
        counts.withColumn("brn", F.row_number().over(bucket_w))
        .where(F.col("brn") <= vocab_size)
        .drop("brn")
    )
    wv = Window.orderBy(F.col("c").desc(), F.col("w").asc())
    vocab = (
        cand.withColumn("rn", F.row_number().over(wv))
        .where(F.col("rn") <= vocab_size)
        .select("w", "c")
    )
    total = vocab.agg(F.sum("c").cast("double").alias("t"))
    scored = (
        toks.join(F.broadcast(vocab), "w", "left")
        .crossJoin(F.broadcast(total))
        .select(
            id_col,
            *keys,
            F.log(
                F.coalesce(F.col("c").cast("double"), F.lit(unknown_count))
                / F.col("t")
            ).alias("lp"),
        )
    )
    per_doc = scored.groupBy(id_col, *keys).agg(
        F.avg("lp").cast("float").alias("score")
    )
    return per_doc.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.col("score").cast("double")).cast("float").alias("avg_logfreq"),
        F.sum(F.when(F.col("score") < low_threshold, 1).otherwise(0))
        .cast("long")
        .alias("n_low"),
    )


def chunk_spans(
    df: DataFrame,
    n_tokens: str = "n_tokens",
    size: int = 2048,
    overlap: int = 0,
) -> DataFrame:
    """Context-window chunking: one row per sliding-window chunk of a
    document — ``(input cols…, chunk_id, start_token, end_token)`` — the
    layout an LLM training/RAG pipeline hands its tokenizer-side writer.

    Chunks start at multiples of ``stride = size - overlap``; a document
    of ``n`` tokens yields ``1 + ceil((n - size) / stride)`` chunks when
    ``n > size`` and exactly one otherwise, so every token is covered and
    no chunk is fully contained in its predecessor. ``end_token`` is
    exclusive and clamped to ``n`` (the final chunk may be short).

    Scale shape: map-only ``sequence`` + ``explode`` — no shuffle, no
    Python; the output is ~``n/stride`` rows per input row. Rows with a
    NULL or non-positive token count emit ZERO chunks (one malformed row
    must never fail the job). Per-document counts sit far below 2^53, so
    the ceil-division is exact.
    """
    if size < 1:
        raise ValueError(f"size must be >= 1, got {size}")
    if not 0 <= overlap < size:
        raise ValueError(f"overlap must be in [0, size), got {overlap}")
    stride = size - overlap
    n = F.col(n_tokens).cast("long")
    extra = F.ceil((n - F.lit(size)).cast("double") / F.lit(float(stride))).cast(
        "long"
    )
    n_chunks = F.when(n <= size, F.lit(1)).otherwise(F.lit(1) + extra)
    out = df.where(n.isNotNull() & (n >= 1)).withColumn(
        "chunk_id", F.explode(F.sequence(F.lit(0).cast("long"), n_chunks - 1))
    )
    start = F.col("chunk_id") * F.lit(stride)
    return out.withColumn("start_token", start).withColumn(
        "end_token", F.least(start + F.lit(size), F.col(n_tokens).cast("long"))
    )


def chunk_text(
    df: DataFrame,
    text_col: str = "text",
    size: int = 2048,
    overlap: int = 0,
) -> DataFrame:
    """:func:`chunk_spans` plus the materialized chunk text: tokenizes
    ``text_col`` (whitespace, matching :func:`tokens`), emits one row per
    chunk with ``chunk_id``/``start_token``/``end_token`` and
    ``chunk_text`` = the chunk's tokens re-joined with single spaces.

    Still map-only — tokenize, sequence/explode, ``slice`` +
    ``concat_ws`` are all native expressions; the token array is built
    once per row and sliced per chunk. Documents whose text is NULL drop
    out (zero chunks), mirroring :func:`chunk_spans`.
    """
    toks_col = "__chunk_toks"
    n_col = "__chunk_n_tokens"
    with_toks = df.withColumn(toks_col, tokens(F.col(text_col))).withColumn(
        n_col, F.size(F.col(toks_col))
    )
    spans = chunk_spans(with_toks, n_tokens=n_col, size=size, overlap=overlap)
    chunk = F.concat_ws(
        " ",
        F.slice(
            F.col(toks_col),
            (F.col("start_token") + 1).cast("int"),
            (F.col("end_token") - F.col("start_token")).cast("int"),
        ),
    )
    return spans.withColumn("chunk_text", chunk).drop(toks_col, n_col)


def hashed_ngram_features(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    buckets: int = 1 << 18,
    ngram: int = 1,
) -> DataFrame:
    """Hashed bag-of-n-grams features: (id, bucket, cnt) — the
    fastText-style feature extractor behind linear quality/domain
    classifiers (the hashing trick: no vocabulary table, collisions are
    the standard trade-off priced into training).

    ``bucket = md5(gram)[:8 hex] % buckets`` — deterministic on every
    engine/layout; counts are NON-distinct occurrences (a bag, not a
    set — :func:`word_ngrams` is the distinct-shingle form for Jaccard).

    Scale shape: map-only tokenize/explode, then ONE partial-agged
    groupBy on (id, bucket) — shuffle bounded by corpus tokens, output
    by distinct (doc, bucket) pairs. No reference counterpart
    (beyond-reference operator).
    """
    if buckets < 1:
        raise ValueError(f"buckets must be >= 1, got {buckets}")
    if ngram < 1:
        raise ValueError(f"ngram must be >= 1, got {ngram}")
    toks = tokens(F.col(text))
    if ngram == 1:
        grams = toks
    else:
        ntok = F.size(toks)
        idx = F.sequence(F.lit(1), ntok - (ngram - 1))
        raw = F.transform(
            idx,
            lambda i: F.concat_ws(
                " ",
                *[F.element_at(toks, (i + j).cast("int")) for j in range(ngram)],
            ),
        )
        # sequence(1, 0) is DESCENDING in Spark — guard short documents
        grams = F.when(ntok >= ngram, raw).otherwise(
            F.array().cast("array<string>")
        )
    g = df.select(F.col(id_col), F.explode(grams).alias("__g"))
    bucket = (
        F.conv(F.substring(F.md5(F.col("__g")), 1, 8), 16, 10).cast("long")
        % buckets
    )
    return (
        g.select(F.col(id_col), bucket.alias("bucket"))
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def linear_quality_score(
    df: DataFrame,
    weights,
    text: str = "text",
    id_col: str = "doc_id",
    buckets: int = 1 << 18,
    ngram: int = 1,
    bias: float = 0.0,
    out_col: str = "clf_score",
) -> DataFrame:
    """Linear text-classifier score per document:
    ``bias + Σ_buckets cnt · w(bucket)`` over
    :func:`hashed_ngram_features` — the quality/domain filter shape
    (CCNet/LLaMA-style fastText gate) re-expressed Spark-first.

    ``weights`` is either
      * a (bucket, weight) DataFrame — broadcast onto the feature
        stream (the trained-model path; buckets absent from the table
        weigh 0, exactly a sparse model's semantics), or
      * a callable Column→Column mapping the bucket id to its weight
        EXPRESSION — fully map-side after the feature groupBy (the
        procedural/derived-weights path, and the driver-gate form:
        dyadic weight arithmetic keeps every partial sum exact in
        double, so the score is bit-reproducible and oracle-matchable).

    Returns (id_col, out_col, n_features, n_grams); documents with NO
    features (empty/NULL text) are KEPT at exactly ``bias`` with zero
    counts — a quality gate must see empty documents, they are usually
    precisely what it rejects.

    At 100 TB: features are token-bounded, the weights table is
    model-sized (broadcastable by construction — 2^18 doubles ≈ 2 MB),
    and the only non-map stages are the feature groupBy and the
    keep-empty-docs left join on the id.
    """
    feats = hashed_ngram_features(
        df, text=text, id_col=id_col, buckets=buckets, ngram=ngram
    )
    if callable(weights):
        weighted = feats.withColumn("__w", weights(F.col("bucket")))
    else:
        wdf = weights.select(
            F.col("bucket").cast("long").alias("__wb"),
            F.col("weight").cast("double").alias("__w"),
        )
        weighted = feats.join(
            F.broadcast(wdf), feats["bucket"] == F.col("__wb"), "left"
        ).withColumn("__w", F.coalesce(F.col("__w"), F.lit(0.0)))
    scores = weighted.groupBy(id_col).agg(
        F.sum(F.col("cnt") * F.col("__w")).alias("__s"),
        F.count(F.lit(1)).alias("n_features"),
        F.sum("cnt").alias("n_grams"),
    )
    ids = df.select(F.col(id_col)).distinct()
    return (
        ids.join(scores, id_col, "left")
        .select(
            F.col(id_col),
            (F.coalesce(F.col("__s"), F.lit(0.0)) + F.lit(float(bias))).alias(
                out_col
            ),
            F.coalesce(F.col("n_features"), F.lit(0)).cast("long").alias(
                "n_features"
            ),
            F.coalesce(F.col("n_grams"), F.lit(0)).cast("long").alias(
                "n_grams"
            ),
        )
    )


def bm25_scores(
    df: DataFrame,
    queries: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    query_id: str = "query_id",
    query_text: str = "query_text",
    k1: float = 1.5,
    b: float = 0.75,
    k: int = 10,
) -> DataFrame:
    """BM25 relevance of every document against a small query set — the
    retrieval / data-selection scorer (rank a 100 TB corpus against a
    handful of "what good data looks like" probes, DSIR/contriever-style,
    or serve as the lexical half of a hybrid ANN+BM25 selector).

    score(q, d) = Σ_{t ∈ distinct terms(q)}
        ln(1 + (N - df_t + 0.5)/(df_t + 0.5))          # Robertson/Lucene idf
        · tf_td·(k1+1) / (tf_td + k1·(1 - b + b·dl_d/avgdl))

    Returns (query_id, doc_id, bm25 REAL, n_terms, rank) — top ``k`` docs
    per query, ranked by the float32-rounded score with doc-id tie-break
    (same cross-engine determinism recipe as :func:`tfidf_top_terms`).
    Per-term contributions are accumulated in fixed-point (floor(x·2¹⁶
    + ½) as BIGINT): integer addition is order-free, so the sum is
    bit-identical no matter how engines/partitions order the terms; only
    the per-term double (one ln, one rational) must agree cross-engine,
    and a libm ulp wiggle crosses a 2⁻¹⁶ rounding boundary with
    probability ~1e-11 per term.

    Scale shape — ONE heavy corpus pass (never a doc×query cross
    product, never a repeated subtree):
      1. ONE heavy pass: tokenize+explode with the document length dl —
         a map-side size() of the token array, no window, no second
         branch — carried on every token row, then the query-term
         prune drops the RAW token stream BEFORE any shuffle; the
         per-(doc, term) tf hash-aggregate shuffles only query-term
         hits (tf over pruned rows equals tf over the corpus — pruning
         drops whole terms, never occurrences of a kept term). Measured
         on the 15M-doc bench family: aggregate-then-prune 35.0 s →
         prune-then-aggregate 17.2 s. The prune itself has two forms:
         for ≤ ``_BM25_PREFILTER_MAX`` distinct query terms (one
         bounded limit-collect of the model-sized term set) the token
         ARRAY is filtered against a literal IN-list before the explode,
         so only hits are ever materialized as rows — at the bench's
         ~1.4% hit rate that is a 75× smaller generate output, measured
         13.4 → 7.5 s (min over interleaved reps; the IN-list is a
         per-token linear scan — round-11 lesson — but its fast-fail
         string compares are cheaper than materializing + hash-probing
         a row per token, still winning at 128 terms: 22.7 → 12.4 s).
         Beyond the cap the original explode + broadcast semi-join
         prune applies unchanged. (A driver-collected literal-terms
         variant computing tf map-side via per-term
         size(filter(tokens == t)) — no explode at all — measured
         20.4 s: k array passes per document lose to one pruned
         explode; rejected.);
      2. df_t comes from a ≤-#terms-row groupBy('term') aggregate over
         the CHECKPOINTED per-(doc, term) candidate table, broadcast
         back onto it — deliberately NOT a per-term count window, whose
         hot partition for a frequent query term would hold ~every
         matching doc in one task. Every doc containing the term has a
         candidate row, so the count is the exact corpus df. The lazy
         checkpoint is what makes the two consumers (df aggregate +
         scoring join) read one computation — ReuseExchange would not
         deduplicate them; the earlier branch form's executed plan
         re-scanned the corpus once per branch (measured: 5 scans; this
         chain: 2);
      3. the query side is model-sized → broadcast fan-out on the term;
      4. (N, total_tokens) come from one skinny separate scan (id + a
         token-count expression, no explode — empty docs must count in N);
      5. final agg keyed (query, doc); top-k via per-query window over
         candidates only.
    Note the call is NOT fully lazy: building the prune fires one bounded
    Spark job over the model-sized query-term table (same class as a
    broadcast-threshold probe), and that term table is materialized
    (localCheckpoint) so the collected prefilter list and the scoring
    join always see the SAME term set even if ``queries`` is built from
    non-deterministic expressions.
    Beyond-reference operator (no counterpart in /root/reference).
    """
    if k1 < 0 or not (0.0 <= b <= 1.0):
        raise ValueError(f"need k1 >= 0 and 0 <= b <= 1, got k1={k1}, b={b}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    # dl = number of non-empty tokens. regexp_count over the space-trimmed
    # text counts the maximal non-space runs WITHOUT materializing a token
    # array + a filtered copy per document (round 12, guide §1.2 per-task
    # work: the counting-only scan measured 2.00 -> 1.45 s at the 15M-doc
    # bench shape, full family min 19.8 -> 15.6 s in-session). Provably
    # equal to size(filter(split(trim(s), ' +'), t != '')) for every
    # string: after the space-trim both count the non-empty
    # space-separated segments (tabs/newlines are non-space bytes to both
    # the split and the character class); NULL text maps to 0 via
    # coalesce, exactly like the old greatest(size, 0) guard.
    tok_n = F.coalesce(
        F.regexp_count(F.trim(F.col(text)), F.lit("[^ ]+")), F.lit(0)
    )
    qterms = (
        queries.select(
            F.col(query_id).alias("__q"),
            F.explode(tokens(F.lower(F.col(query_text)))).alias("term"),
        )
        .where(F.col("term") != "")
        .distinct()
        # one materialization feeds BOTH the collected prefilter term
        # list and the execution-time scoring join: without it a
        # non-deterministically evaluated `queries` input could yield
        # execution-time terms absent from the collected snapshot, whose
        # corpus rows the prefilter would already have dropped. The
        # checkpointed table is model-sized by contract (distinct
        # (query, term) pairs), so pinning it costs ~nothing.
        .localCheckpoint(eager=False)
    )
    uterms = qterms.select("term").distinct()
    # prune-before-explode when the distinct term set is small: the
    # limit-collect is bounded (at most _BM25_PREFILTER_MAX + 1 rows of
    # a model-sized-by-contract table), and overflow falls back to the
    # broadcast semi-join prune without ever collecting the full set.
    term_rows = uterms.limit(_BM25_PREFILTER_MAX + 1).collect()
    if 0 < len(term_rows) <= _BM25_PREFILTER_MAX:
        term_list = sorted(r[0] for r in term_rows)
        tok_arr = F.filter(
            tokens(F.lower(F.col(text))), lambda t: t.isin(term_list)
        )
        hits = df.select(
            F.col(id_col).alias("__doc"),
            tok_n.alias("dl"),
            F.explode(tok_arr).alias("term"),
        )
    else:
        toks = df.select(
            F.col(id_col).alias("__doc"),
            tok_n.alias("dl"),
            F.explode(tokens(F.lower(F.col(text)))).alias("term"),
        ).where(F.col("term") != "")
        hits = toks.join(F.broadcast(uterms), "term")
    # pin the candidate aggregate (bounded by docs containing a query
    # term): df_t then comes from a PARTIALLY-AGGREGATED ≤-#terms-row
    # aggregate broadcast back on — never a per-term window, whose hot
    # partition for a frequent query term would hold ~every matching doc
    # in one task. The checkpoint is what makes the two consumers read
    # one computation (ReuseExchange would not).
    per_doc_term = (
        hits.groupBy("__doc", "term")
        .agg(F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl"))
        .localCheckpoint(eager=False)
    )
    dfreq = per_doc_term.groupBy("term").agg(
        F.count(F.lit(1)).alias("df_docs")
    )
    cand = per_doc_term.join(F.broadcast(dfreq), "term")
    stats = df.select(
        F.countDistinct(F.col(id_col)).alias("n_docs"),
        F.sum(tok_n).alias("total_tokens"),
    )
    matched = cand.join(F.broadcast(qterms), "term").crossJoin(
        F.broadcast(stats)
    )
    idf = F.log(
        1.0
        + (F.col("n_docs") - F.col("df_docs") + 0.5)
        / (F.col("df_docs") + 0.5)
    )
    avgdl = F.col("total_tokens") / F.col("n_docs")
    contrib = idf * (
        F.col("tf")
        * (k1 + 1.0)
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / avgdl))
    )
    fixed = F.floor(contrib * 65536.0 + 0.5).cast("long")
    scored = (
        matched.select(F.col("__q"), F.col("__doc"), fixed.alias("__c"))
        .groupBy("__q", "__doc")
        .agg(
            F.sum("__c").alias("__s"),
            F.count(F.lit(1)).alias("n_terms"),
        )
        .withColumn("bm25", (F.col("__s") / 65536.0).cast("float"))
    )
    w = Window.partitionBy("__q").orderBy(
        F.col("bm25").desc(), F.col("__doc").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("__q").alias(query_id),
            F.col("__doc").alias(id_col),
            "bm25",
            F.col("n_terms").cast("long").alias("n_terms"),
            "rank",
        )
    )


def dsir_logratio_weights(
    raw: DataFrame,
    target: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    buckets: int = 1 << 18,
    ngram: int = 2,
    smoothing: float = 0.5,
    quantize: bool = True,
) -> DataFrame:
    """DSIR-style importance weights: per-bucket log-ratio of hashed
    n-gram frequencies between a small ``target`` ("what good data looks
    like") corpus and the ``raw`` corpus (Xie et al. 2023, Data Selection
    for LMs via Importance Resampling — the hashed-n-gram variant).

    weight(b) = ln((t_b + a) / (T + a·B)) − ln((r_b + a) / (R + a·B))
    with t/r = bucket counts, T/R = total gram counts, B = ``buckets``,
    a = ``smoothing`` (add-a). Returns a (bucket, weight) DataFrame ready
    to feed :func:`linear_quality_score` — per-document DSIR scores are
    then ``Σ cnt·weight(b)``, the estimated log importance ratio of the
    document, and resampling = :mod:`sampling` over that score.

    The table covers every bucket OBSERVED IN RAW — exactly the buckets a
    raw document's features can hit, so the downstream
    absent-bucket-weighs-0 semantics of the sparse join never drops a
    smoothed weight (target-only buckets matter only to the totals, which
    are computed before the join).

    ``quantize=True`` snaps each weight to the 2⁻¹⁶ grid
    (floor(w·65536 + ½)/65536): cnt·weight and their per-document sums
    become EXACT dyadic rationals in double (denominator 2¹⁶, numerators
    far under 2⁵³), so scores are order-independent and
    engine-reproducible — the same fixed-point recipe as
    :func:`bm25_scores`, priced at ≤ 2⁻¹⁷ absolute weight error, far
    below the smoothing noise floor.

    Scale shape: two feature extractions (map-only explode + one
    partial-agged groupBy each — the target side is small by definition),
    two structure-bounded bucket aggregates (≤ B rows), a broadcast-sized
    1-row totals frame, one join keyed on the bucket. The weight table
    itself is model-sized (≤ B rows), broadcastable downstream.
    Beyond-reference operator.
    """
    if smoothing <= 0:
        raise ValueError(f"smoothing must be > 0, got {smoothing}")
    # both bucket tables are consumed twice (totals + the weight join);
    # ReuseExchange does not deduplicate differently-pruned consumers, so
    # pin the ≤-buckets-row aggregates with lazy checkpoints — the
    # structure-sized case of the checkpoint-vs-recompute rule (see
    # quantile_normalize; the corpus is n-gram-exploded exactly once per
    # side)
    fr = (
        hashed_ngram_features(raw, text=text, id_col=id_col,
                              buckets=buckets, ngram=ngram)
        .groupBy("bucket")
        .agg(F.sum("cnt").alias("c_raw"))
        .localCheckpoint(eager=False)
    )
    ft = (
        hashed_ngram_features(target, text=text, id_col=id_col,
                              buckets=buckets, ngram=ngram)
        .groupBy("bucket")
        .agg(F.sum("cnt").alias("c_tgt"))
        .localCheckpoint(eager=False)
    )
    # SUM over an empty side is NULL, which would silently NULL every
    # weight — coalesce to 0 so a gram-less side degrades to the smoothed
    # semantics (numerator a / denominator a·B) instead of propagating
    # NULLs downstream
    totals = fr.select(
        F.coalesce(F.sum("c_raw"), F.lit(0)).alias("t_raw")
    ).crossJoin(
        F.broadcast(
            ft.select(F.coalesce(F.sum("c_tgt"), F.lit(0)).alias("t_tgt"))
        )
    )
    a = float(smoothing)
    a_b = a * buckets  # folded literal, mirrored verbatim in oracles
    j = (
        fr.join(ft, "bucket", "left")
        .withColumn("c_tgt", F.coalesce(F.col("c_tgt"), F.lit(0)))
        .crossJoin(F.broadcast(totals))
    )
    w = F.log((F.col("c_tgt") + a) / (F.col("t_tgt") + a_b)) - F.log(
        (F.col("c_raw") + a) / (F.col("t_raw") + a_b)
    )
    if quantize:
        w = F.floor(w * 65536.0 + 0.5).cast("long") / 65536.0
    return j.select(F.col("bucket"), w.alias("weight"))


def rrf_fuse(
    a: DataFrame,
    b: DataFrame,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k0: int = 60,
    k: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion of two per-query rankings — the standard
    hybrid-retrieval combiner (lexical BM25 ⊕ embedding ANN, or any
    ranking ⊕ a quality prior): documents are re-ranked by
    ``Σ_lists 1/(k0 + rank)``, which rewards agreement between lists
    without comparing their incomparable raw scores (Cormack et al.'s
    RRF, the fusion most hybrid search stacks ship).

    Scores are computed in INTEGER fixed-point — each list contributes
    ``floor(2²⁴ / (k0 + rank))`` — so the fusion involves no float
    arithmetic at all: bit-identical across engines, partitionings, and
    join orders, with ties broken by doc id. Returns
    (query_col, id_col, rrf_score BIGINT, in_a, in_b, rank).

    Scale shape: the inputs are already top-k-per-query (bounded, usually
    broadcastable); one full-outer join on (query, doc) + one per-query
    window. The heavy retrieval happened upstream.

    Precondition: each input has AT MOST ONE row per (query, doc) — the
    contract every ranked top-k list satisfies by construction (bm25_scores
    and the ANN top-k operators here both emit one row per pair). Duplicate
    pairs would multiply through the full-outer join and inflate rrf_score
    silently; dedupe upstream (e.g. min-rank per pair) before fusing if a
    source can repeat.
    """
    if k0 < 1:
        raise ValueError(f"k0 must be >= 1, got {k0}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")

    def _side(df: DataFrame, tag: str) -> DataFrame:
        return df.select(
            F.col(query_col).alias("__q"),
            F.col(id_col).alias("__d"),
            F.floor(
                F.lit(1 << 24) / (F.lit(k0) + F.col(rank_col))
            ).cast("long").alias(f"__c_{tag}"),
        )

    joined = _side(a, "a").join(_side(b, "b"), ["__q", "__d"], "full_outer")
    scored = joined.select(
        F.col("__q"),
        F.col("__d"),
        (
            F.coalesce(F.col("__c_a"), F.lit(0))
            + F.coalesce(F.col("__c_b"), F.lit(0))
        ).alias("rrf_score"),
        F.col("__c_a").isNotNull().alias("in_a"),
        F.col("__c_b").isNotNull().alias("in_b"),
    )
    w = Window.partitionBy("__q").orderBy(
        F.col("rrf_score").desc(), F.col("__d").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("__q").alias(query_col),
            F.col("__d").alias(id_col),
            "rrf_score",
            "in_a",
            "in_b",
            "rank",
        )
    )
