"""Unit tests for the training-data pipeline operators (dedup, similarity,
text, multimodal) on controlled synthetic inputs where ground truth is known.
"""

import math

import pytest
from pyspark.sql import functions as F

from duckdb_ddsketch_spark.operators import (
    dedup,
    multimodal,
    sampling,
    similarity,
    text,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox leaps over the lazy dog"),  # near dup of 1
        (4, "completely different content about spark engines"),
        (5, "THE  Quick   Brown Fox Jumps Over The Lazy Dog"),  # normalized dup
        (6, "spark engines process completely different content"),  # bag-of-words anagram of 4
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(spark, docs):
    out = dedup.exact_dedup(docs)
    canon = {r.doc_id: r.is_canonical for r in out.collect()}
    assert canon[1] is True
    assert canon[2] is False  # exact dup
    assert canon[5] is False  # case/whitespace-normalized dup
    assert canon[3] is True and canon[4] is True and canon[6] is True


def test_exact_dedup_summary(spark, docs):
    out = dedup.exact_dedup_summary(docs.withColumn("g", F.lit("x")), ["g"]).first()
    assert out.n_docs == 6
    assert out.n_distinct == 4
    assert out.n_dups == 2


def test_exact_dedup_summary_binary_digest_matches_hex(spark, docs):
    # round 12: the summary shuffles unhex(md5) (16-byte binary) instead
    # of the 32-char hex string; unhex is injective on hex digests, so
    # every count must equal the hex-keyed reference aggregate
    from duckdb_ddsketch_spark.operators.dedup import normalize_text

    df = docs.withColumn("g", (F.col("doc_id") % 2).cast("string"))
    got = {
        tuple(r)
        for r in dedup.exact_dedup_summary(df, ["g"]).collect()
    }
    h = F.md5(normalize_text(F.col("text")))
    ref = {
        tuple(r)
        for r in df.select("g", h.alias("h"))
        .groupBy("g")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("h").alias("n_distinct"),
            (F.count("*") - F.countDistinct("h")).cast("long").alias("n_dups"),
        )
        .collect()
    }
    assert got == ref


def test_jaccard_pairs_finds_near_dup(spark, docs):
    out = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert (1, 2) in out and out[(1, 2)] == 1.0
    assert (1, 3) in out and 0.5 < out[(1, 3)] < 1.0
    assert (2, 3) in out
    assert not any({4, 6} & {a, b} for a, b in out if (a, b) != (4, 6))


def test_minhash_lsh_dedup_pipeline(spark, docs):
    out = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.minhash_lsh_dedup(docs, threshold=0.5).collect()
    }
    # exact dup pair must always collide in every band
    assert (1, 2) in out and out[(1, 2)] == 1.0
    # near-dup (1,3) collides with high probability (7/8 shingles shared);
    # if LSH missed it, that's a recall property, but verified pairs must be
    # a subset of true Jaccard>=0.5 pairs:
    truth = {
        (r.id_a, r.id_b)
        for r in dedup.jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert set(out).issubset(truth)


def test_minhash_signature_df_deterministic(spark, docs):
    s1 = {r.id: r.sig for r in dedup.minhash_signatures_df(docs).collect()}
    s2 = {r.id: r.sig for r in dedup.minhash_signatures_df(docs).collect()}
    assert s1 == s2
    assert s1[1] == s1[2]  # identical docs, identical signatures
    assert len(s1[1]) == 16


def test_minhash_per_row_forms_match_batch(spark, docs):
    """The let-bound per-row minhash_signature / minhash_band_structs
    (streaming ingest forms) produce exactly the batch pipeline's hashes:
    signatures equal minhash_signatures_df, band structs equal
    band_hash_structs over those signatures. A short doc (no complete
    shingle) gets the historical all-NULL signature."""
    per_row = {
        r.doc_id: r.sig
        for r in docs.select(
            "doc_id", dedup.minhash_signature(F.col("text")).alias("sig")
        ).collect()
    }
    batch = {r.id: r.sig for r in dedup.minhash_signatures_df(docs).collect()}
    assert per_row == batch

    banded_row = {
        (r.doc_id, r.b.band_id): r.b.band_hash
        for r in docs.select(
            "doc_id",
            F.explode(dedup.minhash_band_structs(F.col("text"))).alias("b"),
        ).collect()
    }
    sigs = dedup.minhash_signatures_df(docs)
    banded_batch = {
        (r.id, r.b.band_id): r.b.band_hash
        for r in sigs.select(
            "id",
            F.explode(dedup.band_hash_structs(F.col("sig"), 16, 4)).alias("b"),
        ).collect()
    }
    assert banded_row == banded_batch

    short = spark.createDataFrame([(1, "solo")], "doc_id long, text string")
    [row] = short.select(
        dedup.minhash_signature(F.col("text")).alias("sig")
    ).collect()
    assert row.sig == [None] * 16


def test_simhash_near_for_near_dups(spark, docs):
    out = {r.id: r.sh for r in dedup.simhash_df(docs).collect()}
    assert out[1] == out[2]  # identical token sets
    ham13 = bin(out[1] ^ out[3]).count("1")
    ham14 = bin(out[1] ^ out[4]).count("1")
    assert ham13 < ham14  # near-dup closer than unrelated


def test_simhash_pairs_banding(spark, docs):
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup.simhash_pairs(docs, max_hamming=10, blocks=12).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 0
    # r8 review: blocks <= max_hamming silently lost the pigeonhole
    # recall guarantee (a qualifying pair can differ in every block) —
    # the old max_hamming=10 / blocks=4 call must now fail loudly
    with pytest.raises(ValueError, match="pigeonhole"):
        dedup.simhash_pairs(docs, max_hamming=10)
    # likewise LSH bands that do not divide num_hashes dropped trailing
    # signature hashes silently
    with pytest.raises(ValueError, match="divide"):
        dedup.lsh_candidate_pairs(docs, num_hashes=16, bands=5)


def test_jaccard_candidates_prune_before_self_join(spark, docs):
    """r8 review: the candidates restriction must reach the shingle sides
    BEFORE the self-join (Catalyst cannot push a join below the pair
    aggregate), or a hot boilerplate shingle still explodes
    quadratically on the LSH-verify path. Plan-pinned: the aggregate's
    subtree must contain the semi-join."""
    cands = spark.createDataFrame([(1, 3)], "id_a long, id_b long")
    out = dedup.jaccard_pairs(docs, threshold=0.0, candidates=cands)
    got = {(r.id_a, r.id_b) for r in out.collect()}
    assert got == {(1, 3)}
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    agg_at = plan.find("Aggregate")
    semi_at = plan.find("LeftSemi")
    assert semi_at != -1 and agg_at != -1 and semi_at > agg_at, plan[:2000]
    # (plan strings print top-down: the semi-join appearing BELOW the
    # first Aggregate line means it executes before the pair count)


def test_brute_force_topk(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, [-1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.brute_force_topk(df, df.where(F.col("vec_id") == 1), k=2)
    got = [(r.neighbor_id, r.rank) for r in out.orderBy("rank").collect()]
    assert got == [(2, 1), (3, 2)]


def test_lsh_topk_schema_and_subset(spark):
    import random

    rng = random.Random(11)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(100)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.where(F.col("vec_id") < 5)
    exact = similarity.brute_force_topk(df, q, k=3)
    approx = similarity.lsh_topk(df, q, k=3, planes=4, dims=16)
    assert approx.columns == exact.columns
    # every approx neighbor must share the query's bucket ⇒ is a real vector
    ids = {r.neighbor_id for r in approx.collect()}
    assert ids.issubset(set(range(100)))


def test_hyperplane_code_deterministic(spark):
    rows = [(1, [0.5] * 8), (2, [0.5] * 8), (3, [-0.5] * 8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        r.vec_id: r.code
        for r in df.select(
            "vec_id",
            similarity.hyperplane_code(F.col("embedding"), planes=6, dims=8).alias(
                "code"
            ),
        ).collect()
    }
    assert out[1] == out[2]
    assert out[1] != out[3]


def test_text_language_id(spark):
    rows = [
        (1, "the cat and the dog is here"),
        (2, "der Hund und die Katze ist da"),
        (3, "le chat et la maison est grande"),
        (4, "el perro y la casa es grande"),
        (5, "xyzzy plugh"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r.lang
        for r in df.select(
            "doc_id", text.language_id(F.col("text")).alias("lang")
        ).collect()
    }
    assert out[1] == "en"
    assert out[2] == "de"
    assert out[3] == "fr"
    assert out[4] == "es"
    assert out[5] == "unknown"


def test_text_fingerprint_order_insensitive(spark):
    rows = [(1, "alpha beta gamma"), (2, "gamma alpha beta"), (3, "alpha beta delta")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r.f
        for r in df.select("doc_id", text.fingerprint(F.col("text")).alias("f")).collect()
    }
    assert out[1] == out[2]
    assert out[1] != out[3]


def test_multimodal_extract_features(spark):
    rows = [(i, bytes([i % 251] * (100 + i))) for i in range(20)]
    df = spark.createDataFrame(rows, "id long, payload binary")
    media = multimodal.as_media(df, "id", "payload")
    feats = multimodal.extract_features(
        media, decoder=multimodal.fake_image_decoder
    ).collect()
    assert len(feats) == 20
    by_id = {r.media_id: r for r in feats}
    assert by_id[0].n_bytes == 100
    assert len(by_id[0].feature) == 8
    assert abs(sum(by_id[0].feature) - 1.0) < 1e-6
    # deterministic fake decode: same payload → same feature
    expected = multimodal.fake_image_decoder(bytes([5] * 105))
    assert by_id[5].width == expected["width"]
    assert list(by_id[5].feature) == pytest.approx(expected["feature"])


def test_multimodal_frame_sampling(spark):
    rows = [(1, bytes(range(256)) * 20)]  # 5120 bytes → 5 frames @1024
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    frames = multimodal.sample_frames(df, every_n_bytes=1024, max_frames=8).collect()
    assert len(frames) == 5
    assert sorted(r.frame_no for r in frames) == [0, 1, 2, 3, 4]
    assert all(len(r.frame_payload) == 1024 for r in frames)
    # r8 review: NULL/empty media yields ZERO frames (previously one
    # fabricated empty frame via max(1, ...)); a short payload still
    # yields its single partial frame
    edge = spark.createDataFrame(
        [(2, None), (3, b""), (4, b"abc")], "media_id long, payload binary"
    )
    got = multimodal.sample_frames(edge, every_n_bytes=1024, max_frames=8).collect()
    assert [(r.media_id, bytes(r.frame_payload)) for r in got] == [(4, b"abc")]


def test_multimodal_real_decoder_capability_gated():
    """With a codec installed the real decoder decodes an actual image and
    default_image_decoder selects it; without one it raises and the
    default falls back to the deterministic fake."""
    if multimodal._image_codec() is None:
        with pytest.raises(NotImplementedError):
            multimodal.real_image_decoder(b"\x89PNG")
        assert multimodal.default_image_decoder() is multimodal.fake_image_decoder
        return
    assert multimodal.default_image_decoder() is multimodal.real_image_decoder
    # 3x2 black PNG, generated with the installed codec so the test is
    # self-contained
    kind, mod = multimodal._image_codec()
    import io

    if kind == "pil":
        buf = io.BytesIO()
        mod.new("L", (3, 2)).save(buf, format="PNG")
        payload = buf.getvalue()
    else:
        import numpy as np

        ok, enc = mod.imencode(".png", np.zeros((2, 3), dtype=np.uint8))
        assert ok
        payload = enc.tobytes()
    d = multimodal.real_image_decoder(payload)
    assert (d["width"], d["height"]) == (3, 2)
    assert len(d["feature"]) == 8
    assert d["feature"][0] == pytest.approx(1.0)  # all-black histogram


def test_duplicate_clusters_known_graph(spark):
    # two components: chain 1-2-3 and pair 10-11; singleton 99 has no edges
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    out = {r.id: r.cluster_id for r in dedup.duplicate_clusters(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_duplicate_clusters_long_chain_converges(spark):
    n = 40
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    out = {r.id: r.cluster_id for r in dedup.duplicate_clusters(pairs, max_iters=50).collect()}
    assert set(out.values()) == {0}
    assert len(out) == n + 1


def test_duplicate_clusters_converges_exactly_at_max_iters(spark):
    # path 0-1-...-9: label 0 reaches node 9 on exactly the 9th
    # propagation pass. The loop must still succeed — detection needs one
    # extra zero-change pass beyond the last productive one (regression:
    # a complete, correct labeling used to be discarded with a spurious
    # 'did not converge')
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "id_a long, id_b long"
    )
    out = {
        r.id: r.cluster_id
        for r in dedup.duplicate_clusters(
            pairs, max_iters=9, method="propagation"
        ).collect()
    }
    assert set(out.values()) == {0}
    assert len(out) == 10
    # and a genuinely-too-small cap still fails loudly
    with pytest.raises(ValueError, match="did not converge"):
        dedup.duplicate_clusters(pairs, max_iters=3, method="propagation").collect()


def test_duplicate_clusters_star_beats_propagation_cap(spark):
    """The round-12 scale fix: a planted path-graph cluster whose diameter
    (120) exceeds the default propagation iteration cap (24) — the shape
    real boilerplate dup chains take — must pass through the default
    (star-contraction) form in O(log diameter) rounds."""
    n = 120
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    # propagation at the default cap trips, by design
    with pytest.raises(ValueError, match="did not converge"):
        dedup.duplicate_clusters(pairs, method="propagation").collect()
    # the default form sails through with the SAME default cap
    out = {r.id: r.cluster_id for r in dedup.duplicate_clusters(pairs).collect()}
    assert set(out.values()) == {0}
    assert len(out) == n + 1


def test_duplicate_clusters_star_matches_propagation(spark):
    """Both methods must produce the identical (id, cluster_id) map on a
    multi-component graph with merges, singleton-by-self-loop, and
    out-of-order ids."""
    pairs = spark.createDataFrame(
        [(5, 3), (3, 8), (21, 20), (20, 22), (40, 40), (7, 8)],
        "id_a long, id_b long",
    )
    star = {r.id: r.cluster_id for r in dedup.duplicate_clusters(pairs).collect()}
    prop = {
        r.id: r.cluster_id
        for r in dedup.duplicate_clusters(pairs, method="propagation").collect()
    }
    assert star == prop
    assert star[5] == star[3] == star[8] == star[7] == 3
    assert star[21] == star[20] == star[22] == 20
    assert star[40] == 40


def test_duplicate_clusters_star_matches_union_find_on_random_graphs(spark):
    """Three-way equivalence on seeded random graphs: the star-contraction
    default, the propagation form, and a pure-Python union-find ground
    truth must all produce the identical (id -> component-min) map. The
    shapes mix sparse Erdős–Rényi edges, a random tree (long-ish
    diameter), a dense clique, duplicate edges, self-loops, and both
    orientations — the structures the fixed-graph tests don't cover."""
    import random

    for seed in (7, 23, 91):
        rng = random.Random(seed)
        n = 300
        edges = []
        # sparse random edges
        for _ in range(200):
            edges.append((rng.randrange(n), rng.randrange(n)))
        # a random tree over a 60-node id range (parent < child)
        base = rng.randrange(n - 80)
        for v in range(base + 1, base + 60):
            edges.append((v, rng.randrange(base, v)))
        # a clique over 8 random nodes
        clique = rng.sample(range(n), 8)
        edges.extend(
            (a, b) for i, a in enumerate(clique) for b in clique[i + 1:]
        )
        # self-loops, duplicates, reversed orientations
        edges.append((5, 5))
        edges.extend(rng.sample(edges, 30))
        edges.extend((b, a) for a, b in rng.sample(edges, 30))

        # ground truth: union-find, labels = component min
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        touched = {v for e in edges for v in e}
        truth = {v: find(v) for v in touched}

        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        star = {
            r.id: r.cluster_id for r in dedup.duplicate_clusters(pairs).collect()
        }
        prop = {
            r.id: r.cluster_id
            for r in dedup.duplicate_clusters(
                pairs, max_iters=200, method="propagation"
            ).collect()
        }
        assert star == truth, f"star != union-find at seed {seed}"
        assert prop == truth, f"propagation != union-find at seed {seed}"


def test_star_contraction_round_count_is_logarithmic(spark):
    """Pin the O(log diameter) claim on a real path graph: 1,000 hops of
    diameter must converge in ≤ 12 contraction rounds (measured: ~8)."""
    n = 1000
    edges = spark.createDataFrame(
        [(i + 1, i) for i in range(n)], "a long, b long"
    )
    stars, rounds = dedup._star_contraction(edges, max_rounds=20)
    assert rounds <= 12
    assert {r.b for r in stars.collect()} == {0}
    assert stars.count() == n


def test_duplicate_clusters_end_to_end(spark, docs):
    pairs = dedup.jaccard_pairs(docs, threshold=0.5)
    clusters = {r.id: r.cluster_id for r in dedup.duplicate_clusters(pairs).collect()}
    # docs 1,2,3 are one near-dup cluster (canonical = 1); doc 5 differs in
    # case (jaccard is not normalized — exact_dedup's normalization is the
    # path that catches it), and 4/6 have no near-dup edges
    assert clusters[1] == 1 and clusters[2] == 1 and clusters[3] == 1
    assert 4 not in clusters and 6 not in clusters and 5 not in clusters


def test_blas_topk_guards_oversized_query_collect(spark):
    """The driver-side query collect must fail fast past max_query_rows
    instead of OOMing the driver."""
    import pytest as _pytest

    rows = [(i, [float(i), 1.0]) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with _pytest.raises(ValueError, match="max_query_rows"):
        similarity.brute_force_topk(df, df, k=2, max_query_rows=5)
    # within the bound it still works
    out = similarity.brute_force_topk(df, df.limit(3), k=2, max_query_rows=5)
    assert out.count() > 0


def _cos(a, b):
    """Cosine as a left-to-right Python fold; None for a zero norm."""
    den = math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
    return sum(x * y for x, y in zip(a, b)) / den if den else None


def _idot(a, b):
    return sum(int(x) * int(y) for x, y in zip(a, b))


def _ref_topk(rows, queries, k, score):
    """Python reference for the collected-query top-k operators: every
    (query, corpus) pair of ``(id, vector)`` rows scored by ``score``
    (None drops the pair), self pairs excluded, ranked score DESC then
    neighbor id ASC; sorted (query_id, neighbor_id, score, rank) rows."""
    out = []
    for qid, qv in queries:
        scored = sorted(
            ((s, nid) for nid, v in rows
             if nid != qid and (s := score(qv, v)) is not None),
            key=lambda t: (-t[0], t[1]),
        )
        out += [(qid, nid, s, r + 1) for r, (s, nid) in enumerate(scored[:k])]
    return sorted(out)


def test_blas_topk_matches_fold_topk(spark):
    """brute_force_topk's matmul equals a per-pair cosine fold (up to
    summation-order ulps, rounded away) on the same small frame."""
    import random

    rng = random.Random(5)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(32)]) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>").repartition(4)
    q = df.where(F.col("vec_id") % 60 == 0)
    blas = similarity.brute_force_topk(df, q, k=4)
    vecs = [(r.vec_id, r.embedding) for r in df.collect()]
    qs = [(i, v) for i, v in vecs if i % 60 == 0]
    a = {(qi, rk): (n, round(c, 9)) for qi, n, c, rk in _ref_topk(vecs, qs, 4, _cos)}
    b = {(r.query_id, r.rank): (r.neighbor_id, round(r.cos, 9)) for r in blas.collect()}
    assert a == b


def test_jaccard_max_df_uses_filtered_universe(spark):
    """With max_df set, per-doc sizes must be computed AFTER the shingle
    filter so intersection and union share one universe (ADVICE r1)."""
    from duckdb_ddsketch_spark.operators import dedup as dd

    rows = [
        (1, "x a b c"),
        (2, "x a b d"),
        (3, "x p q"),
        (4, "x r s"),
        (5, "x t u"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # 'x' appears in all 5 docs; max_df=3 drops it. Filtered sets:
    # doc1={a,b,c}, doc2={a,b,d} -> J = 2/4 = 0.5 (the old bug computed
    # 2/(4+4-2) = 1/3 and missed the pair at threshold 0.5).
    out = {
        (r.id_a, r.id_b): r.jaccard
        for r in dd.jaccard_pairs(
            docs, ngram=1, threshold=0.5, max_df=3
        ).collect()
    }
    assert (1, 2) in out
    assert abs(out[(1, 2)] - 0.5) < 1e-12


def test_hash_sample_deterministic_and_consistent(spark):
    from duckdb_ddsketch_spark.operators import sampling

    df = spark.range(0, 2000).withColumnRenamed("id", "k")
    a = {r.k for r in sampling.hash_sample(df, 0.2, "k").collect()}
    b = {r.k for r in sampling.hash_sample(df, 0.2, "k").collect()}
    assert a == b
    # roughly the right size
    assert 0.15 * 2000 < len(a) < 0.25 * 2000
    # nested property: a 10% sample is a subset of the 20% sample
    c = {r.k for r in sampling.hash_sample(df, 0.1, "k").collect()}
    assert c <= a
    # different seed -> different (mostly) subset
    d = {r.k for r in sampling.hash_sample(df, 0.2, "k", seed="s2").collect()}
    assert d != a


def test_stratified_hash_topn_exact_n(spark):
    from duckdb_ddsketch_spark.operators import sampling

    df = spark.range(0, 300).selectExpr("id AS k", "CAST(id % 3 AS STRING) AS g")
    out = sampling.stratified_hash_topn(df, ["g"], 7, "k")
    counts = {r.g: r.n for r in out.groupBy("g").agg(F.count("*").alias("n")).collect()}
    assert counts == {"0": 7, "1": 7, "2": 7}
    again = sampling.stratified_hash_topn(df, ["g"], 7, "k")
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_top_k_tokens_ties_and_rank(spark):
    from duckdb_ddsketch_spark.operators import text as tx

    docs = spark.createDataFrame(
        [(1, "b a a c b z", "s")], "doc_id long, text string, source string"
    )
    rows = tx.top_k_tokens(docs, ["source"], k=3).collect()
    got = [(r.token, r.token_count, r.rank) for r in sorted(rows, key=lambda r: r.rank)]
    # a and b tie at 2 -> 'a' first (token asc); then c/z tie at 1 -> 'c'
    assert got == [("a", 2, 1), ("b", 2, 2), ("c", 1, 3)]


def test_tfidf_common_term_scores_zeroish(spark):
    from duckdb_ddsketch_spark.operators import text as tx

    docs = spark.createDataFrame(
        [
            (1, "shared rare1", "s1"),
            (2, "shared rare2", "s1"),
            (3, "shared rare3", "s2"),
        ],
        "doc_id long, text string, source string",
    )
    rows = tx.tfidf_top_terms(docs, ["source"], k=10).collect()
    scores = {(r.source, r.term): r.tfidf for r in rows}
    # a term present in every doc has idf = ln(4/4) = 0
    assert abs(scores[("s1", "shared")]) < 1e-9
    assert scores[("s1", "rare1")] > 0


def test_ngram_contamination_overlap(spark):
    from duckdb_ddsketch_spark.operators import dedup as dd

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox sleeps"),  # 3-grams: 3 total, 2 in bench
            (2, "completely different text here now"),
            (3, "ab cd"),  # too short for 3-grams -> overlap 0
        ],
        "doc_id long, text string",
    )
    out = {
        r.id: (r.n_grams, r.n_matched, r.overlap)
        for r in dd.ngram_contamination(corpus, bench, ngram=3).collect()
    }
    assert out[1] == (3, 2, 2 / 3)
    assert out[2][1] == 0 and out[2][2] == 0.0
    assert out[3] == (0, 0, 0.0)


def test_sketch_range_bucket_respects_boundaries(spark):
    from duckdb_ddsketch_spark import DDSketch
    from duckdb_ddsketch_spark.operators import native

    vals = [float(i) for i in range(1, 101)]
    df = spark.createDataFrame([("k", v) for v in vals], "k string, v double")
    out = native.sketch_range_bucket(df, ["k"], "v", 0.01, (0.25, 0.5, 0.75))
    kernel = DDSketch(0.01).extend(vals)
    bounds = [kernel.quantile(q) for q in (0.25, 0.5, 0.75)]
    for r in out.collect():
        expect = next(
            (i for i, b in enumerate(bounds) if r.v <= b), len(bounds)
        )
        assert r.bucket == expect, (r.v, r.bucket, expect, bounds)
    # buckets are roughly quartile-sized
    sizes = {r.bucket: r.n for r in out.groupBy("bucket").agg(F.expr("count(*) AS n")).collect()}
    assert all(15 <= sizes[b] <= 35 for b in range(4)), sizes


def test_word_ngrams_short_text_empty(spark):
    from duckdb_ddsketch_spark.operators.text import word_ngrams

    df = spark.createDataFrame([("one",), ("one two",)], "text string")
    rows = df.select(word_ngrams(F.col("text"), 3).alias("g")).collect()
    assert rows[0].g == [] and rows[1].g == []


def test_incremental_dedup_flags(spark):
    from duckdb_ddsketch_spark.operators import dedup as dd

    corpus = spark.createDataFrame(
        [(1, "existing text"), (2, "other text")], "doc_id long, text string"
    )
    newb = spark.createDataFrame(
        [
            (10, "Existing   Text"),   # normalizes to a corpus dup
            (11, "brand new text"),
            (12, "brand new text"),    # within-batch dup of 11
            (13, "another new one"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.in_corpus, r.is_new_unique) for r in dd.incremental_dedup(newb, corpus).collect()}
    assert out[10] == (True, False)
    assert out[11] == (False, True)
    assert out[12] == (False, False)  # canonical is 11
    assert out[13] == (False, True)


# ---------------------------------------------------------------------------
# deterministic HLL distinct count (operators/approx.py)
# ---------------------------------------------------------------------------


def test_hll_distinct_error_within_bounds(spark):
    from pyspark.sql import functions as F

    from duckdb_ddsketch_spark.operators import approx

    # three groups spanning the linear-counting and raw-estimator regimes
    df = spark.range(120000).select(
        (F.col("id") % 3).alias("g"),
        F.when(F.col("id") % 3 == 0, F.col("id") % 300)
        .when(F.col("id") % 3 == 1, F.col("id") % 4000)
        .otherwise(F.col("id") % 30000)
        .alias("v"),
    )
    est = {r.g: r.approx_distinct for r in approx.hll_distinct(df, ["g"], "v").collect()}
    # group g only sees ids ≡ g (mod 3), so the residue count interacts
    # with gcd(3, modulus): 300/3=100, 4000 (coprime), 30000/3=10000
    truth = {0: 100, 1: 4000, 2: 10000}
    for g, exact in truth.items():
        rel = abs(est[g] - exact) / exact
        # m=256 -> sigma ~ 6.5%; allow 3 sigma
        assert rel < 0.20, (g, est[g], exact)


def test_hll_distinct_deterministic_under_repartition(spark):
    from pyspark.sql import functions as F

    from duckdb_ddsketch_spark.operators import approx

    df = spark.range(50000).select(
        F.lit("k").alias("g"), (F.col("id") % 7919).alias("v")
    )
    a = approx.hll_distinct(df, ["g"], "v").collect()[0].approx_distinct
    b = (
        approx.hll_distinct(df.repartition(13, "v"), ["g"], "v")
        .collect()[0]
        .approx_distinct
    )
    # fixed-point register fold => bit-identical regardless of layout
    assert a == b


def test_hll_distinct_ignores_nulls_and_validates_p(spark):
    from pyspark.sql import functions as F

    import pytest as _pytest

    from duckdb_ddsketch_spark.operators import approx

    df = spark.range(100).select(
        F.lit("k").alias("g"),
        F.when(F.col("id") % 2 == 0, F.col("id")).alias("v"),
    )
    est = approx.hll_distinct(df, ["g"], "v").collect()[0].approx_distinct
    # 50 distinct non-null values; linear counting is tight at this size
    assert abs(est - 50) / 50 < 0.25
    with _pytest.raises(ValueError):
        approx.hll_distinct(df, ["g"], "v", p=7)


def test_bloom_no_false_negatives_and_low_fp(spark):
    from pyspark.sql import functions as F

    from duckdb_ddsketch_spark.operators import approx

    members = spark.range(1000).select(F.lit("g").alias("k"), F.col("id").alias("v"))
    filt = approx.bloom_build(members, ["k"], "v", m_bits=16384, k=4)
    probes = spark.range(2000).select(F.lit("g").alias("k"), F.col("id").alias("v"))
    res = approx.bloom_probe(filt, probes, ["k"], "v", m_bits=16384, k=4)
    agg = res.agg(
        F.sum(F.when((F.col("v") < 1000) & (F.col("maybe_present") == 0), 1).otherwise(0)).alias("fn"),
        F.sum(F.when((F.col("v") >= 1000) & (F.col("maybe_present") == 1), 1).otherwise(0)).alias("fp"),
    ).collect()[0]
    assert agg.fn == 0  # Bloom invariant: no false negatives
    # m=16k, n=1k, k=4 -> theoretical fp ~0.24%; allow 10x headroom
    assert agg.fp <= 25


def test_bloom_deterministic_under_repartition(spark):
    from pyspark.sql import functions as F

    from duckdb_ddsketch_spark.operators import approx

    df = spark.range(500).select(F.lit("g").alias("k"), F.col("id").alias("v"))
    a = sorted(map(tuple, approx.bloom_build(df, ["k"], "v").collect()))
    b = sorted(
        map(tuple, approx.bloom_build(df.repartition(17, "v"), ["k"], "v").collect())
    )
    assert a == b


def test_count_min_upper_bound_and_exactness(spark):
    from pyspark.sql import functions as F

    from duckdb_ddsketch_spark.operators import approx

    # zipf-ish: value v appears (100 - v) times for v in 0..99
    base = spark.range(100).select(
        F.col("id").alias("v"), (100 - F.col("id")).cast("int").alias("n")
    )
    facts = base.select(F.explode(F.expr("sequence(1, n)")).alias("_"), "v")
    sk = approx.cm_build(facts, [], "v", width=1024, depth=4)
    pr = spark.range(100).select(F.col("id").alias("v"))
    est = {
        r.v: r.est_count
        for r in approx.cm_estimate(sk, pr, [], "v", width=1024, depth=4).collect()
    }
    for v in range(100):
        true = 100 - v
        assert est[v] >= true  # CM never undercounts
        assert est[v] <= true + 60  # 4 rows x 1024 wide on 5050 items


def test_funnel_step_ordering_and_stalls(spark):
    from pyspark.sql import functions as F

    from duckdb_ddsketch_spark.operators import analytics

    rows = [
        # u1 completes in order
        (1, "a", 10), (1, "b", 20), (1, "c", 30),
        # u2: step b happens BEFORE a -> funnel stalls at step 1
        (2, "b", 5), (2, "a", 10),
        # u3: completes a,b; c missing
        (3, "a", 1), (3, "b", 2),
        # u4: never does a -> not in output
        (4, "b", 1), (4, "c", 2),
        # u5: same-ts b as a -> strict gate rejects it
        (5, "a", 7), (5, "b", 7),
    ]
    df = spark.createDataFrame(rows, "u long, t string, ts long")
    out = {
        r.u: (r.step_1, r.step_2, r.step_3)
        for r in analytics.funnel(
            df, "u", "ts",
            [F.col("t") == "a", F.col("t") == "b", F.col("t") == "c"],
        ).collect()
    }
    assert set(out) == {1, 2, 3, 5}
    assert out[1] == (10, 20, 30)
    assert out[2] == (10, None, None)
    assert out[3] == (1, 2, None)
    assert out[5] == (7, None, None)
    # non-strict: equal timestamps advance the funnel
    loose = {
        r.u: r.step_2
        for r in analytics.funnel(
            df, "u", "ts", [F.col("t") == "a", F.col("t") == "b"], strict=False
        ).collect()
    }
    assert loose[5] == 7


def test_cohort_retention_known_matrix(spark):
    from pyspark.sql import functions as F

    from duckdb_ddsketch_spark.operators import analytics

    rows = [
        (1, 100), (1, 101), (1, 103),
        (2, 100), (2, 101),
        (3, 101), (3, 103),
    ]
    df = spark.createDataFrame(rows, "u long, day long")
    out = {
        (r.cohort, r.offset): r.n_users
        for r in analytics.cohort_retention(df, "u", "day").collect()
    }
    assert out[(100, 0)] == 2  # users 1,2
    assert out[(100, 1)] == 2
    assert out[(100, 3)] == 1  # only user 1
    assert out[(101, 0)] == 1  # user 3
    assert out[(101, 2)] == 1


def test_kmeans_recovers_separable_clusters(spark):
    from pyspark.sql import functions as F

    from duckdb_ddsketch_spark.operators import clustering

    # three tight blobs on a line; seeds (3 smallest ids) land one per blob
    df = spark.range(90).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.col("id") % 3).cast("float") * 10.0
            + (F.col("id") % 5).cast("float") * 0.01,
            F.lit(0.0).cast("float"),
        ).alias("embedding"),
        (F.col("id") % 3).cast("int").alias("label"),
    )
    out = clustering.kmeans_summary(
        df, "embedding", "vec_id", k=3, iters=2, label_col="label"
    ).collect()
    assert len(out) == 3
    for r in out:
        assert r.n_vecs == 30
        # every member shares one label -> mean_label is exactly it
        assert float(r.mean_label) in (0.0, 1.0, 2.0)
        assert abs(r.c0 - float(r.mean_label) * 10.0) < 0.1


def test_kmeans_summary_fused_blas_matches_assign_agg(spark):
    """Round 8: kmeans_summary's wide route fuses assignment + summary
    sums into one partition-collapsed Arrow pass (no full-corpus
    passthrough). It must be BIT-identical to the assign-then-aggregate
    form on the same centroids — including NaN/inf components, interior
    NULLs, ragged rows, and NULL labels — and partition-invariant."""
    from pyspark.sql import functions as F

    from duckdb_ddsketch_spark.operators import clustering

    d = 20  # k*dims = 4*20 = 80 > 64 -> auto routes blas
    rows = []
    import math

    for i in range(300):
        vec = [math.sin(i * 0.1 + j) for j in range(d)]
        rows.append((i, vec, i % 5))
    rows.append((300, [float("nan")] * d, 2))          # NaN row: argmin -> cid 0
    rows.append((301, [0.75] * d, None))                # NULL label: skipped in lsum
    rows.append((302, None, 1))                         # NULL vec: excluded
    rows.append((303, [1.0] * (d - 3), 1))              # ragged: excluded
    rows.append((304, [0.5] * (d - 1) + [None], 4))     # interior NULL: NaN row
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    centroids = clustering.kmeans_centroids(df, k=4, iters=2)
    assert clustering._choose_method(len(centroids), d, "auto") == "blas"

    def ref(frame):
        assigned = clustering.kmeans_assign(frame, centroids, "embedding", "blas")
        q = clustering._quantize_expr("embedding")
        return sorted(
            assigned.groupBy("cluster_id")
            .agg(
                F.count("*").alias("n_vecs"),
                F.sum(F.expr(f"try_element_at({q}, 1)")).alias("q0"),
                F.sum(F.expr(f"try_element_at({q}, 2)")).alias("q1"),
                F.sum(F.col("label").cast("long")).alias("lsum"),
            )
            .collect(),
            key=lambda r: r.cluster_id,
        )

    expect = ref(df)
    for frame in (df, df.repartition(7)):
        got = sorted(
            clustering.kmeans_summary(
                frame, k=4, iters=2, label_col="label"
            ).collect(),
            key=lambda r: r.cluster_id,
        )
        assert [r.cluster_id for r in got] == [r.cluster_id for r in expect]
        for g, e in zip(got, expect):
            assert g.n_vecs == e.n_vecs
            import numpy as np

            assert g.c0 == np.float32(
                float(e.q0) / (float(e.n_vecs) * clustering._SCALE)
            )
            assert g.c1 == np.float32(
                float(e.q1) / (float(e.n_vecs) * clustering._SCALE)
            )
            assert abs(
                g.mean_label - float(e.lsum) / float(e.n_vecs)
            ) < 1e-6
    # float labels fall back to the assign+agg path (CAST truncation
    # semantics are not replicated in numpy) and still work
    fdf = df.withColumn("flabel", F.col("label").cast("double") + 0.4)
    out = clustering.kmeans_summary(fdf, k=4, iters=2, label_col="flabel")
    assert out.count() == len(expect)
    # a saturated component (|x| beyond the int64 quantization clamp)
    # raises LOUDLY in the numpy accumulation — the SQL twin raises
    # ARITHMETIC_OVERFLOW under ANSI; silent int64 wraparound is the one
    # forbidden outcome
    bad = df.unionByName(
        spark.createDataFrame(
            [(999, [float("inf")] + [0.0] * (d - 1), 0)],
            "vec_id long, embedding array<double>, label int",
        )
    )
    with pytest.raises(Exception, match="saturation"):
        clustering.kmeans_summary(bad, k=4, iters=2, label_col="label").collect()


def test_kmeans_fused_summary_null_semantics_and_aliases(spark):
    """Code-review r8: (1) a cluster whose every member has a NULL
    element 0 / NULL label must report NULL (SQL sum-over-NULL
    semantics), not a fabricated 0, through the fused kernel; (2) a
    vector column literally named 'd' must not collide with the probe's
    width alias; (3) float query ids on the BLAS routes raise."""
    from pyspark.sql import functions as F

    from duckdb_ddsketch_spark.operators import clustering

    # (1) direct kernel drive: all rows -> one centroid; elem0/labels NULL
    df = spark.createDataFrame(
        [(None, 2.0, None), (None, 4.0, None), (None, 6.0, None)],
        "e0 double, e1 double, label int",
    ).select(F.array("e0", "e1").alias("embedding"), "label")
    part = clustering._summary_partials_blas(
        df, [(7, [0.0, 0.0])], "embedding", "label"
    )
    agg = part.groupBy("cid").agg(
        F.sum("n").alias("n"), F.sum("q0").alias("q0"),
        F.sum("q1").alias("q1"), F.sum("lsum").alias("lsum"),
    ).collect()
    assert len(agg) == 1 and agg[0].n == 3
    assert agg[0].q0 is None and agg[0].lsum is None
    # floor(2*S) + floor(4*S) + floor(6*S) = 12*S exactly
    assert agg[0].q1 == 12 * int(clustering._SCALE)

    # (2) vec_col named 'd' (and id named 'c') — the probe aliases must
    # not shadow user columns
    dd = spark.range(30).select(
        F.col("id").alias("c"),
        F.array((F.col("id") % 3).cast("double"), F.lit(1.0)).alias("d"),
    )
    cents = clustering.kmeans_centroids(dd, vec_col="d", id_col="c", k=3, iters=1)
    assert len(cents) == 3

    # (3) float query ids raise on every BLAS route
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    fq = spark.createDataFrame(
        [(1.7, [1.0, 0.0])], "vec_id double, embedding array<double>"
    )
    qc = spark.createDataFrame(
        [(1.7, [1, 0])], "vec_id double, qcodes array<int>"
    )
    for fn in (
        lambda: similarity.brute_force_topk(corpus, fq, k=1),
        lambda: similarity.ivf_topk(corpus, fq, k=1),
        lambda: similarity.quantized_topk(
            corpus.select("vec_id", F.transform("embedding", lambda x: x.cast("int")).alias("qcodes")),
            qc, k=1,
        ),
    ):
        with pytest.raises(TypeError, match="bigint"):
            fn()
    # a missing id column names the real problem, not float truncation
    with pytest.raises(TypeError, match="does not exist"):
        similarity.brute_force_topk(corpus, fq.withColumnRenamed("vec_id", "x"), k=1)


def test_blas_null_query_ids_drop_instead_of_crashing(spark):
    """Code-review r8 pass 2: a NULL query id crashed the np.int64
    staging on all three BLAS routes with an opaque TypeError while the
    corpus side drops NULL ids via _i64_ids — queries must get the same
    drop semantics, and an all-NULL query set returns empty."""
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.9, 0.1])],
        "vec_id long, embedding array<double>",
    )
    q = spark.createDataFrame(
        [(None, [1.0, 0.0]), (9, [1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    got = similarity.brute_force_topk(corpus, q, k=2).collect()
    assert {r.query_id for r in got} == {9}
    lcorp = corpus.withColumn("label", (F.col("vec_id") % 2).cast("int"))
    got = similarity.ivf_topk(lcorp, q, k=2, nprobe=2).collect()
    assert {r.query_id for r in got} == {9}
    qcorp = corpus.select(
        "vec_id", F.transform("embedding", lambda x: (x * 10).cast("int")).alias("qcodes")
    )
    qq = q.select(
        "vec_id", F.transform("embedding", lambda x: (x * 10).cast("int")).alias("qcodes")
    )
    got = similarity.quantized_topk(qcorp, qq, k=2).collect()
    assert {r.query_id for r in got} == {9}
    # all-NULL query ids -> empty result with the right schema, no crash
    zq = q.where(F.col("vec_id").isNull())
    assert similarity.brute_force_topk(corpus, zq, k=2).count() == 0
    assert similarity.ivf_topk(lcorp, zq, k=2).count() == 0
    assert similarity.quantized_topk(
        qcorp, zq.select("vec_id", F.transform("embedding", lambda x: (x * 10).cast("int")).alias("qcodes")), k=2
    ).count() == 0


def test_elem01_present_sliced_and_null_slot_alignment():
    """Code-review r8 pass 2: _elem01_present must read validity from
    col.values with ABSOLUTE offsets — col.flatten() compacts the
    slicing offset away and misaligns the lookup on sliced batches."""
    import numpy as np
    import pyarrow as pa

    from duckdb_ddsketch_spark.operators.clustering import _elem01_present

    a = pa.array(
        [[1.0, None], [3.0, 4.0], [5.0, 6.0], [None, 8.0]],
        pa.list_(pa.float64()),
    )
    s = a.slice(1, 3)  # rows [3,4], [5,6], [None,8]
    out = _elem01_present(s, None)
    assert out.tolist() == [[1, 1], [1, 1], [0, 1]]
    # keep-mask path: drop the middle row
    keep = np.array([True, False, True])
    assert _elem01_present(s, keep).tolist() == [[1, 1], [0, 1]]
    # no element nulls anywhere -> fast-path None (caller credits counts)
    clean = pa.array([[1.0, 2.0], [3.0, 4.0]], pa.list_(pa.float64()))
    assert _elem01_present(clean, None) is None


def test_kmeans_deterministic_under_repartition(spark):
    from pyspark.sql import functions as F

    from duckdb_ddsketch_spark.operators import clustering

    df = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.array(
            F.sin(F.col("id").cast("double")).cast("float"),
            F.cos(F.col("id").cast("double") * 0.7).cast("float"),
            (F.col("id") % 11).cast("float") / 11.0,
        ).alias("embedding"),
    )
    a = clustering.kmeans_summary(df, k=4, iters=3).collect()
    b = clustering.kmeans_summary(df.repartition(7), k=4, iters=3).collect()
    key = lambda r: r.cluster_id
    assert sorted(a, key=key) == sorted(b, key=key)


def test_kmeans_assignment_is_map_only(spark):
    from pyspark.sql import functions as F

    from duckdb_ddsketch_spark.operators import clustering
    from duckdb_ddsketch_spark.plans import checks

    df = spark.range(50).select(
        F.col("id").alias("vec_id"),
        F.array(F.col("id").cast("float"), F.lit(1.0).cast("float")).alias(
            "embedding"
        ),
    )
    cents = [(0, [0.0, 1.0]), (1, [25.0, 1.0])]
    q = clustering.kmeans_assign(df, cents)
    assert checks.exchange_count(q) == 0
    assert checks.python_eval_nodes(q) == []


def test_kmeans_method_selector_envelope():
    from duckdb_ddsketch_spark.operators.clustering import (
        _EXPAND_TERM_BUDGET,
        _choose_method,
    )

    # the codegen envelope: flat expansion only while k*dims fits the
    # generated-method budget (measured cliff between 64 and 128 terms);
    # wider shapes auto-route to BLAS
    assert _EXPAND_TERM_BUDGET == 64  # measured boundary — see clustering.py
    assert _choose_method(8, 4) == "expand"  # the 60M family shape
    assert _choose_method(8, 8) == "expand"  # 64 terms: last expand shape
    assert _choose_method(8, 16) == "blas"  # 128 terms: over the cliff
    assert _choose_method(16, 8) == "blas"
    assert _choose_method(10, 64) == "blas"  # q73's shape under auto
    assert _choose_method(64, 256) == "blas"
    assert _choose_method(64, 768) == "blas"
    # explicit overrides always win
    assert _choose_method(64, 768, "fold") == "fold"
    assert _choose_method(2, 2, "blas") == "blas"
    import pytest as _pytest

    with _pytest.raises(ValueError):
        _choose_method(2, 2, "bogus")


def test_kmeans_methods_agree(spark):
    from pyspark.sql import functions as F

    from duckdb_ddsketch_spark.operators import clustering

    df = spark.range(300).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[
                (
                    F.sin(F.col("id").cast("double") * (0.31 + 0.07 * d))
                    + (F.col("id") % 3).cast("double") * 2.0
                ).cast("float")
                for d in range(6)
            ]
        ).alias("embedding"),
    )
    runs = {
        m: clustering.kmeans_summary(df, k=3, iters=2, method=m).collect()
        for m in ("expand", "fold", "blas")
    }
    key = lambda r: r.cluster_id
    # fold is bit-identical to expand by construction; blas agrees here
    # because no distance ties sit at the ulp boundary on this data
    assert sorted(runs["expand"], key=key) == sorted(runs["fold"], key=key)
    assert sorted(runs["expand"], key=key) == sorted(runs["blas"], key=key)


def test_kmeans_blas_assign_matches_sql_and_keeps_schema(spark):
    from pyspark.sql import functions as F

    from duckdb_ddsketch_spark.operators import clustering

    df = spark.range(80).select(
        F.col("id").alias("vec_id"),
        F.array(
            F.col("id").cast("float"), (F.col("id") % 7).cast("float")
        ).alias("embedding"),
        F.lit("payload").alias("extra"),
    )
    cents = [(0, [0.0, 3.0]), (2, [40.0, 3.0]), (5, [79.0, 3.0])]
    sql_rows = {
        r.vec_id: r.cluster_id
        for r in clustering.kmeans_assign(df, cents, method="expand").collect()
    }
    blas = clustering.kmeans_assign(df, cents, method="blas")
    assert blas.columns == ["vec_id", "embedding", "extra", "cluster_id"]
    blas_rows = {r.vec_id: r.cluster_id for r in blas.collect()}
    assert blas_rows == sql_rows
    # non-contiguous cids survive the argmin index mapping
    assert set(blas_rows.values()) <= {0, 2, 5}


def test_hash_shard_deterministic_uniform_and_map_only(spark):
    from pyspark.sql import functions as F

    from duckdb_ddsketch_spark.operators import sampling
    from duckdb_ddsketch_spark.plans import checks

    df = spark.range(4000).select(F.col("id").alias("k"))
    q = sampling.hash_shard(df, 8, "k")
    assert checks.exchange_count(q) == 0
    counts = {r.shard_id: r.c for r in q.groupBy("shard_id").agg(F.count("*").alias("c")).collect()}
    assert set(counts) == set(range(8))
    # uniform-ish: every shard within 3x sqrt deviation of 500
    assert all(abs(c - 500) < 120 for c in counts.values()), counts
    # same rows land on the same shards regardless of layout
    a = sorted((r.k, r.shard_id) for r in q.collect())
    b = sorted(
        (r.k, r.shard_id)
        for r in sampling.hash_shard(df.repartition(13), 8, "k").collect()
    )
    assert a == b
    # a different seed reshards
    c = sorted(
        (r.k, r.shard_id)
        for r in sampling.hash_shard(df, 8, "k", seed="v2").collect()
    )
    assert a != c


def test_redact_masks_pii_patterns(spark):
    from pyspark.sql import functions as F

    from duckdb_ddsketch_spark.operators import text as text_ops
    from duckdb_ddsketch_spark.plans import checks

    df = spark.createDataFrame(
        [
            (0, "mail bob.smith+x@corp.example.org now"),
            (1, "call +1 (555) 123-4567 today"),
            (2, "host 10.0.255.7 down"),
            (3, "clean text stays clean"),
            (4, None),
        ],
        "id INT, t STRING",
    )
    out = {
        r.id: r.m
        for r in df.select(
            "id",
            text_ops.redact(
                F.col("t"), ("email", "phone", "ipv4"), "#"
            ).alias("m"),
        ).collect()
    }
    assert out[0] == "mail # now"
    assert out[1] == "call # today"
    assert out[2] == "host # down"
    assert out[3] == "clean text stays clean"
    assert out[4] is None

    stats = text_ops.redaction_stats(df, "t", patterns=("email", "phone", "ipv4"))
    assert checks.python_eval_nodes(stats) == []
    r = stats.collect()[0]
    assert r.n_rows == 5
    assert r.n_redacted_rows == 3
    assert r.n_masked_runs == 3
    assert r.n_distinct_masked == 4  # three masked + one clean; NULL excluded


def test_kmv_estimate_exact_below_k_and_bounded_error_above(spark):
    from pyspark.sql import functions as F

    from duckdb_ddsketch_spark.operators import approx

    df = spark.range(30000).select(
        (F.col("id") % 2).alias("g"),
        F.when(F.col("id") % 2 == 0, F.col("id") % 100)
        .otherwise(F.col("id") % 12000)
        .alias("v"),  # g=0 sees even residues (50), g=1 odd residues (6000)
    )
    sk = approx.kmv_sketch(df, ["g"], "v", k=256)
    est = {
        r.g: r.est
        for r in sk.selectExpr(
            "g", approx.kmv_estimate_expr("kmv", 256) + " AS est"
        ).collect()
    }
    assert est[0] == 50.0  # even ids -> 50 even residues; below k -> exact
    assert abs(est[1] - 6000) / 6000 < 0.25  # ~1/sqrt(254) sigma


def test_kmv_merge_equals_direct_sketch(spark):
    from pyspark.sql import functions as F

    from duckdb_ddsketch_spark.operators import approx

    df = spark.range(5000).select(
        F.lit("all").alias("g"),
        (F.col("id") % 1777).alias("v"),
        (F.col("id") % 3).alias("part"),
    )
    direct = approx.kmv_sketch(df, ["g"], "v", k=128).collect()[0]
    parts = approx.kmv_sketch(df, ["g", "part"], "v", k=128)
    merged = approx.kmv_merge(parts, ["g"], k=128).collect()[0]
    # k smallest of the union == k smallest of the per-part k-smallest sets
    assert list(direct.kmv) == list(merged.kmv)
    assert direct.n_kept == merged.n_kept


def test_kmv_deterministic_under_repartition(spark):
    from pyspark.sql import functions as F

    from duckdb_ddsketch_spark.operators import approx

    df = spark.range(4000).select(F.lit(1).alias("g"), (F.col("id") % 999).alias("v"))
    a = approx.kmv_sketch(df, ["g"], "v", k=64).collect()[0]
    b = approx.kmv_sketch(df.repartition(11), ["g"], "v", k=64).collect()[0]
    assert list(a.kmv) == list(b.kmv)


def test_gopher_flags_rules(spark):
    from pyspark.sql import functions as F

    from duckdb_ddsketch_spark.operators import text as text_ops
    from duckdb_ddsketch_spark.plans import checks

    long_good = " ".join(["the", "and", "quick"] * 20)  # 60 words, stopwords
    short = "too short to pass the length rule"
    symbols = " ".join(["@@@@"] * 60)  # no alpha words, no stopwords
    longwords = " ".join(["the", "a"] + ["abcdefghijklmnop"] * 58)  # mean>10
    df = spark.createDataFrame(
        [(0, long_good), (1, short), (2, symbols), (3, longwords)],
        "doc_id INT, text STRING",
    )
    q = text_ops.gopher_flags(df)
    assert checks.python_eval_nodes(q) == []
    rows = {r.doc_id: r for r in q.collect()}
    assert rows[0].pass_all
    assert not rows[1].pass_length and rows[1].pass_alpha
    assert not rows[2].pass_alpha and not rows[2].pass_stopwords
    assert not rows[3].pass_word_len and rows[3].pass_length


def test_activity_bitmap_words_and_merge(spark):
    from pyspark.sql import functions as F

    from duckdb_ddsketch_spark.operators import bitmap

    # user 1 active days 0, 5, 63 (straddles the word boundary)
    df = spark.createDataFrame(
        [(1, 0), (1, 5), (1, 5), (1, 63), (2, 62)], "u LONG, d INT"
    )
    rows = {
        (r.user, r.word_idx): r.bits
        for r in bitmap.activity_bitmap(df, "u", "d").collect()
    }
    assert rows[(1, 0)] == (1 << 0) | (1 << 5)  # dup day collapses
    assert rows[(1, 1)] == 1 << 0
    assert rows[(2, 0)] == 1 << 62
    # masks merge with another bit_or (store A ∪ store B == full build)
    a = bitmap.activity_bitmap(df.where(F.col("d") < 6), "u", "d")
    b = bitmap.activity_bitmap(df.where(F.col("d") >= 6), "u", "d")
    merged = {
        (r.user, r.word_idx): r.bits
        for r in a.unionByName(b)
        .groupBy("user", "word_idx")
        .agg(F.bit_or("bits").alias("bits"))
        .collect()
    }
    assert merged == rows


def test_retention_report_known_pattern(spark):
    from duckdb_ddsketch_spark.operators import bitmap

    # u1: active 0 and 7 (d7-retained at day 0); u2: active 0 only
    df = spark.createDataFrame(
        [(1, 0), (1, 7), (2, 0), (3, 7), (3, 14)], "u LONG, d INT"
    )
    masks = bitmap.activity_bitmap(df, "u", "d")
    rows = {
        r.day_idx: r for r in bitmap.retention_report(masks, 20, (7,)).collect()
    }
    assert rows[0].n_active == 2 and rows[0].n_ret7 == 1
    assert rows[7].n_active == 2 and rows[7].n_ret7 == 1  # u3: 7 -> 14
    assert rows[14].n_active == 1 and rows[14].n_ret7 == 0


def test_retention_report_review_r8_hardening(spark):
    """Code-review r8 pass 3: (a) an offset >= n_days previously built
    sequence(0, negative) — Spark generates it DESCENDING, so negative
    day indices hit mod-64-masked shifts and reported garbage; it must
    report exact zeros. (b) offsets < 1 raise. (c) a multi-word index's
    later words must not alias days >= 63 onto the grid or double-count
    users. (d) a keyed index raises instead of double-counting."""
    from duckdb_ddsketch_spark.operators import bitmap

    df = spark.createDataFrame(
        [(1, 0), (1, 7), (2, 0), (3, 70)], "u LONG, d INT"
    )
    masks = bitmap.activity_bitmap(df, "u", "d")
    # u3 is active only on day 70 (word 1): within a 20-day horizon it
    # appears nowhere — previously its word-1 row aliased onto day 7
    rows = {
        r.day_idx: r
        for r in bitmap.retention_report(masks, 20, (7, 25)).collect()
    }
    assert rows[0].n_active == 2 and rows[0].n_ret7 == 1
    assert 7 in rows and rows[7].n_active == 1
    assert all(r.n_ret25 == 0 for r in rows.values())  # horizon-exceeding
    with pytest.raises(ValueError, match=">= 1"):
        bitmap.retention_report(masks, 20, (0,))
    keyed = bitmap.activity_bitmap(
        df.withColumn("grp", F.col("u") % 2), "u", "d", keys=["grp"]
    )
    with pytest.raises(ValueError, match="double-count"):
        bitmap.retention_report(keyed, 20, (7,))


def test_hash_sample_fraction_one_keeps_everything(spark):
    """Code-review r8 pass 3: fraction=1.0 formatted to a 16-char
    threshold ('015x' is a MINIMUM width), and the 15-char hash compared
    below it only when starting with '0' — ~94% of rows silently dropped
    at the 'disable sampling' setting."""
    from duckdb_ddsketch_spark.operators import sampling

    df = spark.range(400).withColumnRenamed("id", "k")
    assert sampling.hash_sample(df, 1.0, "k").count() == 400
    assert sampling.hash_sample(df, 0.0, "k").count() == 0
    mid = sampling.hash_sample(df, 0.5, "k").count()
    assert 120 <= mid <= 280  # unchanged behavior for interior fractions


def test_priority_sample_nan_weight_never_wins(spark):
    """Code-review r8 pass 3: NaN > 0 is TRUE in Spark and NaN sorts
    above every number, so a NaN weight (0.0/0.0 upstream) won a slot in
    every stratum ahead of all legitimate rows."""
    from duckdb_ddsketch_spark.operators import sampling

    rows = [(i, "s", 1.0) for i in range(20)] + [(99, "s", float("nan"))]
    df = spark.createDataFrame(rows, "id long, g string, w double")
    out = sampling.priority_sample(df, 5, F.col("w"), "id", strata=["g"])
    assert 99 not in {r.id for r in out.collect()}
    assert out.count() == 5


def test_pack_sequences_budget_and_reconciliation(spark):
    """Greedy packing: seq assignment is by cumulative-tokens-before;
    manifest token totals reconcile exactly with the corpus."""
    from duckdb_ddsketch_spark.operators import sampling

    rows = [(d, d % 16, 100 + (d * 37) % 400) for d in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, shard_id int, n_tokens int")
    man = sampling.pack_manifest(
        df, "n_tokens", budget=1000, keys=["shard_id"]
    ).collect()
    assert sum(r.n_docs for r in man) == 500
    assert sum(r.token_sum for r in man) == sum(r[2] for r in rows)
    # every non-final sequence of a shard holds >= budget tokens only via
    # its final straddler: token_sum >= budget - (max doc - 1) is too weak;
    # the exact invariant is cumulative: per shard, seq ids are contiguous
    # from 0 and each doc's seq = floor(tokens_before / budget)
    import collections

    per_shard = collections.defaultdict(list)
    for r in sorted(rows, key=lambda t: t[0]):
        per_shard[r[1]].append(r)
    expect = collections.Counter()
    for shard, docs in per_shard.items():
        cum = 0
        for d, _, t in docs:
            expect[(shard, cum // 1000)] += 1
            cum += t
    got = {(r.shard_id, r.seq_id): r.n_docs for r in man}
    assert got == dict(expect)


def test_pack_sequences_doc_larger_than_budget(spark):
    """A single document larger than the budget — routine in web corpora —
    straddles MULTIPLE sequences: it is assigned to the sequence its first
    token lands in, later docs resume at the correct cumulative offset,
    and the wholly-interior sequences (middle chunks of the giant doc)
    legitimately have no manifest row (no document STARTS there; the
    tokenizer-side writer derives them from the straddler). Token totals
    still reconcile exactly."""
    from duckdb_ddsketch_spark.operators import sampling

    # budget 1000: docs at 400, 3500 (giant), 300, 200
    rows = [(0, 400), (1, 3500), (2, 300), (3, 200)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens int")
    seqs = {
        r.doc_id: r.seq_id
        for r in sampling.pack_sequences(df, "n_tokens", 1000).collect()
    }
    # cumulative-before: 0, 400, 3900, 4200 -> floor/1000 = 0, 0, 3, 4
    assert seqs == {0: 0, 1: 0, 2: 3, 3: 4}
    man = sampling.pack_manifest(df, "n_tokens", budget=1000).collect()
    got = {r.seq_id: (r.n_docs, r.token_sum) for r in man}
    # seqs 1 and 2 are wholly inside the giant doc: no rows for them
    assert got == {0: (2, 3900), 3: (1, 300), 4: (1, 200)}
    assert sum(r.token_sum for r in man) == sum(t for _, t in rows)


def test_pack_sequences_integer_div_path(spark):
    """Integral token columns route through exact integer DIV (the plan
    must carry no double cast for seq_id); non-integral columns keep the
    double floor. Both agree wherever doubles are exact."""
    from duckdb_ddsketch_spark.operators import sampling

    rows = [(d, 50 + d % 97) for d in range(300)]
    di = spark.createDataFrame(rows, "doc_id long, n_tokens int")
    dd = spark.createDataFrame(
        [(d, float(t)) for d, t in rows], "doc_id long, n_tokens double"
    )
    pi = sampling.pack_sequences(di, "n_tokens", 500)
    pd_ = sampling.pack_sequences(dd, "n_tokens", 500)
    plan_i = pi._jdf.queryExecution().executedPlan().toString()
    plan_d = pd_._jdf.queryExecution().executedPlan().toString()
    assert " div " in plan_i and "FLOOR" not in plan_i
    assert "FLOOR" in plan_d and " div " not in plan_d
    a = sorted((r.doc_id, r.seq_id) for r in pi.collect())
    b = sorted((r.doc_id, r.seq_id) for r in pd_.collect())
    assert a == b


def test_pack_sequences_repartition_invariant(spark):
    from duckdb_ddsketch_spark.operators import sampling

    rows = [(d, 50 + d % 97) for d in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens int")
    a = sorted(
        (r.doc_id, r.seq_id)
        for r in sampling.pack_sequences(df, "n_tokens", 500).collect()
    )
    b = sorted(
        (r.doc_id, r.seq_id)
        for r in sampling.pack_sequences(
            df.repartition(7), "n_tokens", 500
        ).collect()
    )
    assert a == b


def test_quantize_roundtrip_against_python_oracle(spark):
    """Symmetric int8 quantization: calibration scale, clamped codes, and
    the scale/2 reconstruction bound all match direct python arithmetic;
    NULL embeddings pass through as NULL codes."""
    import math

    from duckdb_ddsketch_spark.operators import similarity as sim

    vecs = [
        (0, [1.0, -2.5, 0.0, 3.75]),
        (1, [-5.0, 0.25, 2.0, -0.125]),
        (2, [0.5, 0.5, 0.5, 0.5]),
        (3, None),
    ]
    df = spark.createDataFrame(vecs, "vec_id int, embedding array<double>")
    scale = sim.quantize_calibration(df, bits=8)
    assert scale == 5.0 / 127
    qc = sim.quantize_embeddings(df, scale, bits=8)
    deq = sim.dequantize_embeddings(qc, scale)
    rows = {r.vec_id: r for r in deq.collect()}
    for vid, v in vecs:
        if v is None:
            assert rows[vid].qcodes is None
            continue
        exp = [
            max(-127, min(127, math.floor(x / scale + 0.5))) for x in v
        ]
        assert list(rows[vid].qcodes) == exp
        for x, d in zip(v, rows[vid].embedding_deq):
            assert abs(x - d) <= scale / 2 + 1e-12
    import pytest

    with pytest.raises(ValueError):
        sim.quantize_embeddings(df, 0.0)
    with pytest.raises(ValueError):
        sim.quantize_calibration(
            df.where(F.col("embedding").isNull()), bits=8
        )


def test_quantized_topk_integer_ranking(spark):
    """quantized_topk ranks by exact integer dot product with neighbor-id
    tie-break, excludes self, and drops NULL-code rows."""
    from duckdb_ddsketch_spark.operators import similarity as sim

    vecs = [
        (0, [1.0, 0.0]),
        (1, [2.0, 0.0]),
        (2, [0.0, 3.0]),
        (3, [1.0, 1.0]),
        (4, None),
    ]
    df = spark.createDataFrame(vecs, "vec_id int, embedding array<double>")
    scale = sim.quantize_calibration(df, bits=8)
    qc = sim.quantize_embeddings(df, scale, bits=8)
    out = sim.quantized_topk(qc, qc.where(F.col("vec_id") == 0), k=2)
    got = [(r.neighbor_id, r.qdot, r.rank) for r in
           sorted(out.collect(), key=lambda r: r.rank)]
    codes = {r.vec_id: r.qcodes for r in qc.collect() if r.qcodes}
    dots = sorted(
        ((sum(a * b for a, b in zip(codes[0], codes[n])), n) for n in codes
         if n != 0),
        key=lambda t: (-t[0], t[1]),
    )
    assert got == [(n, d, i + 1) for i, (d, n) in enumerate(dots[:2])]
    assert all(isinstance(r.qdot, int) for r in out.collect())


def test_quantized_topk_blas_tie_break_partition_invariant(spark):
    """Round-6 review regression: with pervasive integer-dot ties
    (duplicate vectors), the BLAS path's local top-k must order
    (qdot DESC, id ASC) — plain argpartition keeps an arbitrary tied
    subset and the output then depends on batch boundaries."""
    from duckdb_ddsketch_spark.operators import similarity as sim

    # 40 distinct code classes, each duplicated 8 times -> every dot ties
    vecs = [
        (i, [float(((i % 40) * p) % 23 - 11) for p in (3, 5, 7, 11)])
        for i in range(320)
    ]
    df = spark.createDataFrame(vecs, "vec_id int, embedding array<double>")
    scale = sim.quantize_calibration(df, bits=8)
    base = None
    for nparts in (1, 3, 17):
        qc = sim.quantize_embeddings(
            df.repartition(nparts), scale, bits=8
        )
        queries = qc.where(F.col("vec_id") < 3)
        got = sorted(
            map(tuple, sim.quantized_topk(qc, queries, k=5).collect())
        )
        codes = [(r.vec_id, r.qcodes) for r in qc.collect()]
        ref = _ref_topk(codes, [c for c in codes if c[0] < 3], 5, _idot)
        assert got == ref, f"nparts={nparts}"
        if base is None:
            base = got
        assert got == base, f"nparts={nparts} diverged"


def test_brute_force_blas_tie_break_partition_invariant(spark):
    """Duplicate vectors produce EXACT float cos ties too — the float
    BLAS path needs the same deterministic (cos DESC, id ASC) local
    ordering as the window that follows."""
    from duckdb_ddsketch_spark.operators import similarity as sim

    vecs = [
        (i, [float((i % 10) + 1), float((i % 10) * 2 + 1)])
        for i in range(100)
    ]
    df = spark.createDataFrame(vecs, "vec_id int, embedding array<double>")
    queries = df.where(F.col("vec_id") < 2)
    base = None
    for nparts in (1, 7):
        out = sorted(
            map(
                tuple,
                sim.brute_force_topk(
                    df.repartition(nparts), queries, k=4
                ).collect(),
            )
        )
        if base is None:
            base = out
        assert out == base, f"nparts={nparts} diverged"
        # ties resolve to the smallest neighbor ids
        ref = _ref_topk(vecs, vecs[:2], 4, _cos)
        assert [(r[0], r[1]) for r in out] == [(r[0], r[1]) for r in ref]


_ANN_OPS = (
    "brute_force_topk", "ivf_topk", "quantized_topk", "pq_encode", "pq_adc_topk",
)
# m=2 subspaces of 2 dims over 4-dim vectors
_ANN_BOOKS = [[[0.5, 0.5], [-0.5, 0.5], [1.0, -1.0]]] * 2


def _ann_run(op, corpus, queries, k=3):
    """Run one surviving ANN operator; returns (frame, score column)."""
    if op == "brute_force_topk":
        return similarity.brute_force_topk(corpus, queries, k=k), "cos"
    if op == "ivf_topk":
        return similarity.ivf_topk(corpus, queries, k=k, nprobe=2), "cos"
    if op == "quantized_topk":
        qc = similarity.quantize_embeddings(corpus, 0.05, bits=8)
        qq = similarity.quantize_embeddings(queries, 0.05, bits=8)
        return similarity.quantized_topk(qc, qq, k=k), "qdot"
    coded = similarity.pq_encode(corpus, _ANN_BOOKS)
    if op == "pq_encode":
        return coded, "pq_codes"
    return similarity.pq_adc_topk(coded, queries, _ANN_BOOKS, k=k), "adc"


@pytest.mark.parametrize("op", _ANN_OPS)
def test_ann_operators_drop_nonfinite_and_zero_vectors(spark, op):
    """NaN, +inf and -inf components and an all-zero vector, in the corpus
    and in the queries, in one small batch (a NaN score reaching the
    k-th-score threshold would drop every finite candidate): the job
    completes, no output score is non-finite, the healthy queries keep
    their k neighbors, and pq_encode gives those rows NULL codes."""
    nan, inf = float("nan"), float("inf")
    good = [
        (i, [1.0 + i % 5, 0.5 * (i % 3) + 0.1, 2.0 - i % 4, 0.25 * i], i % 2)
        for i in range(24)
    ]
    bad = [
        (100, [nan, 1.0, 1.0, 1.0], 0),
        (101, [1.0, inf, 1.0, 1.0], 1),
        (102, [1.0, 1.0, -inf, 1.0], 0),
        (103, [0.0, 0.0, 0.0, 0.0], 1),
    ]
    df = spark.createDataFrame(
        good + bad, "vec_id long, embedding array<double>, label int"
    ).coalesce(1)
    queries = df.where(F.col("vec_id").isin(0, 7, 100, 101, 102, 103))
    out, score = _ann_run(op, df, queries)
    rows = out.collect()
    if op == "pq_encode":
        codes = {r.vec_id: r.pq_codes for r in rows}
        assert len(rows) == len(good) + len(bad)
        assert all(codes[i] is None for i in (100, 101, 102))
        assert all(codes[i] is not None for i in range(24)) and codes[103]
        return
    assert all(math.isfinite(r[score]) for r in rows), rows
    per_query = {}
    for r in rows:
        per_query.setdefault(r.query_id, []).append(r.neighbor_id)
    assert len(per_query[0]) == 3 and len(per_query[7]) == 3, per_query
    if op != "quantized_topk":  # quantizing clamps non-finite components
        assert not {100, 101, 102} & set(per_query)
        assert not {100, 101, 102} & {r.neighbor_id for r in rows}
    if op == "brute_force_topk":  # a zero vector has no cosine
        assert 103 not in per_query
        assert 103 not in {r.neighbor_id for r in rows}
        vecs = [(i, v) for i, v, _ in good]
        want = _ref_topk(vecs, [vecs[0], vecs[7]], 3, _cos)
        assert [r[:2] for r in sorted(map(tuple, rows))] == [w[:2] for w in want]


@pytest.mark.parametrize("op", _ANN_OPS)
def test_ann_operators_empty_and_null_inputs(spark, op):
    """An empty query set, or one whose vectors are all NULL, yields an
    empty frame with the full output schema instead of a numpy shape
    error; pq_encode keeps every row and column, NULL vectors coding to
    NULL."""
    df = spark.createDataFrame(
        [(i, [1.0 + i, 2.0, 1.0, 0.5], i % 2) for i in range(6)]
        + [(50, None, 0)],
        "vec_id long, embedding array<double>, label int",
    )
    empty = df.where(F.lit(False))
    nulls = spark.createDataFrame(
        [(1, None, 0), (2, None, 1)],
        "vec_id long, embedding array<double>, label int",
    )
    if op == "pq_encode":
        out, _ = _ann_run(op, nulls, None)
        assert out.columns == ["vec_id", "embedding", "label", "pq_codes"]
        assert [r.pq_codes for r in out.collect()] == [None, None]
        assert _ann_run(op, empty, None)[0].count() == 0
        return
    for q in (empty, nulls):
        out, score = _ann_run(op, df, q)
        assert out.columns == ["query_id", "neighbor_id", score, "rank"]
        assert out.count() == 0


def test_quantize_clamps_nonfinite_components(spark):
    """Clamp happens in the double domain BEFORE the int cast: ±inf
    clamps to ±qmax instead of wrapping through the cast or failing the
    job under ANSI."""
    from duckdb_ddsketch_spark.operators import similarity as sim

    df = spark.createDataFrame(
        [(0, [1.0, float("inf"), float("-inf"), -2.0])],
        "vec_id int, embedding array<double>",
    )
    out = sim.quantize_embeddings(df, scale=0.1, bits=8).collect()[0]
    assert list(out.qcodes)[1] == 127 and list(out.qcodes)[2] == -127
    assert list(out.qcodes)[0] == 10 and list(out.qcodes)[3] == -20


def test_kmeans_handles_all_malformed_probe_rows(spark):
    """Round-6 review regression: when the k smallest-id rows all carry
    empty arrays, the width probe must still find the valid corpus
    (previously it skipped the width filter entirely); an entirely
    malformed corpus yields no clusters rather than an error."""
    from duckdb_ddsketch_spark.operators import clustering

    bad = [(i, []) for i in range(4)]
    good = [(10 + i, [float(i % 3), float(i % 5)]) for i in range(30)]
    df = spark.createDataFrame(
        bad + good, "vec_id int, embedding array<double>"
    )
    cents = clustering.kmeans_centroids(df, k=3, iters=1)
    assert len(cents) >= 1
    assert all(len(c) == 2 for _, c in cents)
    empty = spark.createDataFrame(bad, "vec_id int, embedding array<double>")
    assert clustering.kmeans_centroids(empty, k=3, iters=1) == []


def test_kmeans_assign_blas_tie_break_matches_expand(spark):
    """Unsorted centroid input: BLAS argmin must still break exact
    distance ties toward the SMALLEST cluster id like expand/fold."""
    from duckdb_ddsketch_spark.operators import clustering

    cents = [(5, [2.0, 0.0]), (0, [0.0, 0.0])]  # deliberately unsorted
    df = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id int, embedding array<double>"
    )  # equidistant from both centroids
    for method in ("expand", "fold", "blas"):
        got = clustering.kmeans_assign(
            df, cents, method=method
        ).collect()[0]
        assert got.cluster_id == 0, method


def test_quantized_topk_blas_bit_identical_to_fold(spark):
    """The BLAS form must return EXACTLY the fold form's rows — integer
    dots make the equivalence exact, not ulp-close — including with a
    NULL-codes row and a ragged-width row in the corpus."""
    from duckdb_ddsketch_spark.operators import similarity as sim

    vecs = [
        (i, [float(((i * p) % 17) - 8) for p in (3, 5, 7, 11, 13, 19)])
        for i in range(60)
    ] + [(60, None), (61, [1.0, 2.0])]
    df = spark.createDataFrame(vecs, "vec_id int, embedding array<double>")
    scale = sim.quantize_calibration(df, bits=8)
    qc = sim.quantize_embeddings(df, scale, bits=8)
    queries = qc.where(F.col("vec_id") % 9 == 0)
    a = sorted(map(tuple, sim.quantized_topk(qc, queries, k=4).collect()))
    # the reference folds exact integer dots over the well-formed rows:
    # NULL codes and the ragged row 61 never score
    codes = [(r.vec_id, r.qcodes) for r in qc.collect()
             if r.qcodes is not None and len(r.qcodes) == 6]
    b = _ref_topk(codes, [c for c in codes if c[0] % 9 == 0], 4, _idot)
    assert a == b and len(a) > 0
    assert not any(r[1] == 61 for r in a)


def test_chunk_spans_grid_sweep(spark):
    """Exhaustive boundary sweep: for several (size, overlap) shapes, every
    token count n in [0, 3*size+2] matches the python oracle — one Spark
    job per shape, the whole n-range as rows."""
    import math

    from duckdb_ddsketch_spark.operators import text as text_ops

    for size, overlap in ((1, 0), (7, 0), (8, 3), (16, 15)):
        stride = size - overlap
        ns = list(range(0, 3 * size + 3))
        df = spark.createDataFrame(
            [(n, n) for n in ns], "doc_id int, n_tokens int"
        )
        got = sorted(
            (r.doc_id, r.chunk_id, r.start_token, r.end_token)
            for r in text_ops.chunk_spans(
                df, "n_tokens", size=size, overlap=overlap
            ).collect()
        )
        expect = sorted(
            (n, c, c * stride, min(c * stride + size, n))
            for n in ns
            if n >= 1
            for c in range(
                1 if n <= size else 1 + math.ceil((n - size) / stride)
            )
        )
        assert got == expect, f"size={size} overlap={overlap}"


def test_quantize_grid_sweep(spark):
    """Round-trip bound and clamping across bit widths on a deterministic
    pseudo-random batch: codes match python exactly at bits 4/8/12, and
    |x - deq| <= scale/2 wherever |x| <= max|x| (clamp region excepted
    by construction since scale derives from the same batch)."""
    import math

    from duckdb_ddsketch_spark.operators import similarity as sim

    vals = [
        [((i * p + j * 31) % 2029 - 1014) / 97.0 for j, p in
         enumerate((13, 101, 977, 8191, 131))]
        for i in range(200)
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)],
        "vec_id int, embedding array<double>",
    )
    m = max(abs(x) for v in vals for x in v)
    for bits in (4, 8, 12):
        qmax = (1 << (bits - 1)) - 1
        scale = sim.quantize_calibration(df, bits=bits)
        assert scale == m / qmax
        deq = sim.dequantize_embeddings(
            sim.quantize_embeddings(df, scale, bits=bits), scale
        )
        for r in deq.collect():
            v = vals[r.vec_id]
            exp = [
                max(-qmax, min(qmax, math.floor(x / scale + 0.5))) for x in v
            ]
            assert list(r.qcodes) == exp, f"bits={bits} vec={r.vec_id}"
            for x, d in zip(v, r.embedding_deq):
                assert abs(x - d) <= scale / 2 + 1e-9, f"bits={bits}"


def test_chunk_spans_against_python_oracle(spark):
    """Sliding-window chunk boundaries match a direct python computation
    across edge cases: n < size, n == size, n == size+1, exact multiple,
    overlap, and NULL/zero counts emitting no chunks."""
    from duckdb_ddsketch_spark.operators import text as text_ops

    size, overlap = 8, 3
    stride = size - overlap
    counts = [1, 5, 8, 9, 13, 14, 40, None, 0]
    rows = [(i, n) for i, n in enumerate(counts)]
    df = spark.createDataFrame(rows, "doc_id int, n_tokens int")
    got = sorted(
        (r.doc_id, r.chunk_id, r.start_token, r.end_token)
        for r in text_ops.chunk_spans(
            df, "n_tokens", size=size, overlap=overlap
        ).collect()
    )
    expect = []
    for i, n in enumerate(counts):
        if not n:
            continue
        import math

        nc = 1 if n <= size else 1 + math.ceil((n - size) / stride)
        for c in range(nc):
            expect.append((i, c, c * stride, min(c * stride + size, n)))
    assert got == sorted(expect)
    # every token covered; last chunk ends exactly at n
    for i, n in enumerate(counts):
        if not n:
            continue
        spans = [(s, e) for d, _, s, e in expect if d == i]
        assert spans[0][0] == 0 and spans[-1][1] == n
        for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
            assert s2 <= e1  # no gap
            assert s2 > s1  # no chunk contained in its predecessor
    import pytest

    with pytest.raises(ValueError):
        text_ops.chunk_spans(df, "n_tokens", size=4, overlap=4)
    with pytest.raises(ValueError):
        text_ops.chunk_spans(df, "n_tokens", size=0)


def test_chunk_text_slices_tokens(spark):
    from duckdb_ddsketch_spark.operators import text as text_ops

    words = " ".join(f"w{i}" for i in range(11))
    df = spark.createDataFrame(
        [(1, words), (2, "solo"), (3, None)], "doc_id int, text string"
    )
    out = sorted(
        (r.doc_id, r.chunk_id, r.chunk_text)
        for r in text_ops.chunk_text(df, "text", size=5, overlap=2).collect()
    )
    # doc 1: 11 tokens, stride 3 -> chunks at 0,3,6 (and 6+5=11 covers all)
    assert out == [
        (1, 0, "w0 w1 w2 w3 w4"),
        (1, 1, "w3 w4 w5 w6 w7"),
        (1, 2, "w6 w7 w8 w9 w10"),
        (2, 0, "solo"),
    ]
    # helper columns must not leak into the output schema
    cols = text_ops.chunk_text(df, "text", size=5, overlap=2).columns
    assert not any(c.startswith("__chunk") for c in cols)


def test_repetition_stats_counts_duplicate_segments(spark):
    rows = [
        (1, "s", "alpha beta. gamma delta. alpha beta"),   # 1 dup of 3 segs
        (2, "s", "unique one. unique two"),                 # no dups
        (3, "t", "x. x. x"),                                # 2 dups of 3 segs
    ]
    df = spark.createDataFrame(rows, "doc_id long, src string, text string")
    out = {
        r.src: r
        for r in text.repetition_stats(df, "text", ["src"]).collect()
    }
    assert out["s"].n_docs == 2
    assert out["s"].n_docs_with_dups == 1
    assert out["s"].seg_sum == 5 and out["s"].dup_seg_sum == 1
    assert out["t"].n_docs_with_dups == 1
    assert out["t"].seg_sum == 3 and out["t"].dup_seg_sum == 2


def test_weighted_mixture_rates_and_nesting(spark):
    from duckdb_ddsketch_spark.operators import sampling

    rows = [(d, "a" if d % 2 == 0 else "bb") for d in range(20000)]
    df = spark.createDataFrame(rows, "doc_id long, src string")
    frac = F.when(F.col("src") == "a", 0.2).otherwise(0.6)
    kept = sampling.weighted_mixture(df, frac, "doc_id")
    got = {r.src: r.n for r in kept.groupBy("src").agg(F.count("*").alias("n")).collect()}
    assert abs(got["a"] / 10000 - 0.2) < 0.03
    assert abs(got["bb"] / 10000 - 0.6) < 0.03
    # same seed => smaller fraction is a subset of the larger one
    small = {r.doc_id for r in sampling.weighted_mixture(df, F.lit(0.2), "doc_id").collect()}
    big = {r.doc_id for r in sampling.weighted_mixture(df, F.lit(0.5), "doc_id").collect()}
    assert small.issubset(big)
    # deterministic under repartition
    again = {r.doc_id for r in sampling.weighted_mixture(df.repartition(7), F.lit(0.2), "doc_id").collect()}
    assert small == again


def test_unigram_logfreq_scores_gibberish_low(spark):
    rows = (
        [(i, "s", "the cat and the dog sat on the mat") for i in range(20)]
        + [(100, "s", "qzx vbnk wrtp zzyq plmo qqqe rrty uuio")]
    )
    df = spark.createDataFrame(rows, "doc_id long, src string, text string")
    per = text.unigram_logfreq_stats(df, "text", ["src"], low_threshold=-4.0)
    r = per.collect()[0]
    assert r.n_docs == 21
    # the gibberish doc's tokens are singletons -> far below the common-doc
    # scores; with threshold -4.0 exactly one doc flags low
    assert r.n_low == 1
    # determinism under repartition
    r2 = text.unigram_logfreq_stats(
        df.repartition(5), "text", ["src"], low_threshold=-4.0
    ).collect()[0]
    assert (r.n_docs, r.n_low, r.avg_logfreq) == (r2.n_docs, r2.n_low, r2.avg_logfreq)


def test_repeated_spans_cross_doc_and_within_doc(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h i"),        # grams: [a..h], [b..i]
            (2, "x a b c d e f g h"),        # shares [a..h] with doc 1
            (3, "short text"),               # < n tokens: no grams
            (4, "p q r s t u v w p q r s t u v w"),  # [p..w] twice, one doc
        ],
        "doc_id long, text string",
    )
    out = {
        r.span_hash: (r.n_docs, r.n_occurrences, r.canonical_id)
        for r in dedup.repeated_spans(df, n=8, min_docs=2).collect()
    }
    import hashlib

    shared = hashlib.md5(b"a b c d e f g h").hexdigest()
    # only the cross-document span survives min_docs=2
    assert out == {shared: (2, 2, 1)}

    # min_docs=1 exposes within-doc boilerplate multiplicity
    all_spans = {
        r.span_hash: (r.n_docs, r.n_occurrences)
        for r in dedup.repeated_spans(df, n=8, min_docs=1).collect()
    }
    pqrs = hashlib.md5(b"p q r s t u v w").hexdigest()
    assert all_spans[pqrs] == (1, 2)
    assert all_spans[shared] == (2, 2)
    # doc 3 contributes nothing
    assert all(v[0] <= 2 for v in all_spans.values())


def test_embedding_neardup_lsh_subset_and_recall(spark):
    """Bucketed corpus near-dup: output is a subset of the exact all-pairs
    baseline (same threshold, exact verify), recall is high on clustered
    vectors, and results are deterministic across repartitioning."""
    import random

    rng = random.Random(17)
    dims = 16
    rows = []
    # 12 tight clusters of 4 near-identical vectors + 50 scattered vectors
    for c in range(12):
        base = [rng.uniform(-1, 1) for _ in range(dims)]
        for j in range(4):
            rows.append(
                (c * 4 + j, [v + rng.uniform(-0.02, 0.02) for v in base])
            )
    for i in range(50):
        rows.append((1000 + i, [rng.uniform(-1, 1) for _ in range(dims)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    exact = {
        (r.id_a, r.id_b)
        for r in similarity.cosine_near_pairs(df, 0.98).collect()
    }
    approx_df = similarity.embedding_neardup_lsh(
        df, 0.98, planes=6, dims=dims, tables=4
    )
    approx = {(r.id_a, r.id_b) for r in approx_df.collect()}
    assert approx <= exact
    assert len(exact) > 0
    # OR-construction over 4 independent tables recovers nearly all
    # in-cluster pairs at cos >= 0.98
    assert len(approx) >= 0.8 * len(exact), (len(approx), len(exact))

    again = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_neardup_lsh(
            df.repartition(7), 0.98, planes=6, dims=dims, tables=4
        ).collect()
    }
    assert again == approx

    # degenerate corpus: every vector identical -> one bucket holds all
    # rows; the bucket cap drops it instead of exploding to all-pairs
    same = spark.createDataFrame(
        [(i, [1.0] * dims) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    capped = similarity.embedding_neardup_lsh(
        same, 0.5, planes=6, dims=dims, tables=2, max_bucket=10
    )
    assert capped.count() == 0


def test_lsh_auto_plane_law():
    from duckdb_ddsketch_spark.operators.similarity import _auto_planes

    # the law: ceil(log2(n / target_occupancy)), clamp [4, 30] — pinned
    # to the round-5 probe's occupancy-held plane counts
    assert _auto_planes(100_000) == 16
    assert _auto_planes(400_000) == 18  # 4x corpus -> +2 planes
    assert _auto_planes(1_600_000) == 20
    assert _auto_planes(0) == 4
    assert _auto_planes(1) == 4
    assert _auto_planes(10) == 4  # floor
    assert _auto_planes(10**12) == 30  # ceiling
    assert _auto_planes(100_000, target_occupancy=8.0) == 14


def test_neardup_lsh_default_planes_and_semantic_subplanes(spark):
    from pyspark.sql import functions as F

    from duckdb_ddsketch_spark.operators import similarity

    df = spark.range(60).select(
        F.col("id").alias("vec_id"),
        F.array(
            F.sin(F.col("id").cast("double")).cast("float"),
            F.cos(F.col("id").cast("double")).cast("float"),
            (F.col("id") % 5).cast("float"),
        ).alias("embedding"),
    )
    # planes=None derives from the corpus count (60 -> ceil(log2(30)) = 5)
    # and must agree with the same explicit setting
    from duckdb_ddsketch_spark.operators.similarity import _auto_planes

    assert _auto_planes(60) == 5
    auto = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_neardup_lsh(df, 0.9).collect()
    }
    explicit = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_neardup_lsh(df, 0.9, planes=5).collect()
    }
    assert auto == explicit

    # subplanes=None: no oversized cell -> 0 (bit-identical to exact
    # within-cell pairing); a tiny max_cell forces the computed law
    base = {
        tuple(r)
        for r in similarity.semantic_dedup(df, 0.9, k=2, iters=1).collect()
    }
    explicit0 = {
        tuple(r)
        for r in similarity.semantic_dedup(
            df, 0.9, k=2, iters=1, subplanes=0
        ).collect()
    }
    assert base == explicit0
    # max_cell=8 with ~30-row cells -> ceil(log2(cell/8)) + 2 planes;
    # computed default must equal the explicitly-passed equivalent
    import math

    cell_sizes = (
        similarity.semantic_dedup(df, 0.9, k=2, iters=1)
        .groupBy("cluster_id")
        .count()
        .collect()
    )
    max_cn = max(r["count"] for r in cell_sizes)
    want = max(1, min(30, math.ceil(math.log2(max_cn / 8)) + 2))
    got_auto = {
        tuple(r)
        for r in similarity.semantic_dedup(
            df, 0.9, k=2, iters=1, max_cell=8
        ).collect()
    }
    got_explicit = {
        tuple(r)
        for r in similarity.semantic_dedup(
            df, 0.9, k=2, iters=1, max_cell=8, subplanes=want
        ).collect()
    }
    assert got_auto == got_explicit


def test_priority_sample_weighted_exact_n(spark):
    """Efraimidis-Spirakis priority sampling with md5 keys: exactly n per
    stratum, deterministic under repartitioning, heavier weights win more
    often, nonpositive/NULL weights never win, and the two-stage global
    path equals a direct single-window ranking."""
    rows = [
        (i, "s%d" % (i % 3), 10.0 if i % 10 == 0 else 1.0) for i in range(600)
    ]
    df = spark.createDataFrame(rows, "doc_id long, src string, w double")

    out = sampling.priority_sample(
        df, 20, F.col("w"), "doc_id", strata=["src"], seed="a"
    )
    got = out.collect()
    per = {}
    for r in got:
        per.setdefault(r.src, []).append(r.doc_id)
    assert {len(v) for v in per.values()} == {20}

    # deterministic across layout
    again = sampling.priority_sample(
        df.repartition(13), 20, F.col("w"), "doc_id", strata=["src"], seed="a"
    ).collect()
    assert sorted(r.doc_id for r in again) == sorted(r.doc_id for r in got)

    # weight-10 docs are 10% of the corpus but should take well over 10%
    # of the sample (E-S inclusion rises with weight)
    heavy = sum(1 for r in got if r.doc_id % 10 == 0)
    assert heavy >= 0.25 * len(got), heavy

    # nonpositive/NULL weights never win even when n exceeds the rest
    small = spark.createDataFrame(
        [(1, 1.0), (2, 0.0), (3, -5.0), (4, None), (5, 2.0)],
        "doc_id long, w double",
    )
    picked = sampling.priority_sample(small, 10, F.col("w"), "doc_id")
    assert sorted(r.doc_id for r in picked.collect()) == [1, 5]

    # global two-stage path == the strata path on a constant stratum
    # (i.e. a direct single-window ranking)
    one = df.withColumn("__s", F.lit(1))
    ref = sampling.priority_sample(
        one, 25, F.col("w"), "doc_id", strata=["__s"], seed="g"
    ).drop("__s")
    glob = sampling.priority_sample(df, 25, F.col("w"), "doc_id", seed="g")
    assert sorted(r.doc_id for r in glob.collect()) == sorted(
        r.doc_id for r in ref.collect()
    )


def test_embedding_neardup_feeds_duplicate_clusters(spark):
    """Composition: embedding near-dup pairs resolve into clusters with
    the same min-label operator the text pipeline uses — each tight
    vector cluster collapses to one canonical id."""
    import random

    rng = random.Random(23)
    dims = 16
    rows = []
    for c in range(6):
        base = [rng.uniform(-1, 1) for _ in range(dims)]
        for j in range(4):
            rows.append(
                (c * 100 + j, [v + rng.uniform(-0.01, 0.01) for v in base])
            )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = similarity.embedding_neardup_lsh(df, 0.99, planes=5, tables=4)
    clusters = dedup.duplicate_clusters(pairs)
    got = {r.id: r.cluster_id for r in clusters.collect()}
    # every clustered member maps to its group's min id; with recall < 1
    # some pairs may be missed, but no cluster may MIX two vector groups
    for vid, cid in got.items():
        assert vid // 100 == cid // 100, (vid, cid)
    # at cos >= 0.99 with 4 tables, most of the 6 groups fully collapse
    full = sum(
        1
        for c in range(6)
        if all(got.get(c * 100 + j) == c * 100 for j in range(4))
    )
    assert full >= 4, (full, got)


def test_materialize_sequences_orders_and_reconciles(spark):
    """Packed-sequence materialization: member texts concatenate in
    doc_id order, every doc lands in exactly one sequence, token totals
    reconcile, and the output is layout-invariant."""
    rows = [
        (i, "s%d" % (i % 2), "doc%02d" % i, 30 + (i % 3) * 10)
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, "doc_id long, shard string, text string, n_tok int")

    out = sampling.materialize_sequences(
        df, "text", "n_tok", budget=100, keys=["shard"], sep="|"
    ).collect()
    # every doc appears exactly once across all sequences
    all_docs = [t for r in out for t in r.text.split("|")]
    assert sorted(all_docs) == sorted("doc%02d" % i for i in range(20))
    # concatenation order inside a sequence == doc_id order
    for r in out:
        members = r.text.split("|")
        assert members == sorted(members)
        assert r.n_docs == len(members)
    # token totals reconcile with the corpus
    assert sum(r.token_sum for r in out) == sum(x[3] for x in rows)

    again = sampling.materialize_sequences(
        df.repartition(7), "text", "n_tok", budget=100, keys=["shard"], sep="|"
    ).collect()
    assert sorted((r.shard, r.seq_id, r.text) for r in again) == sorted(
        (r.shard, r.seq_id, r.text) for r in out
    )


def test_zero_norm_vectors_never_fail_or_match(spark):
    """A single zero embedding in a 100 TB corpus must not kill the job:
    every cosine path uses try_divide (NULL, filtered) — under ANSI mode
    a plain `/` raises DIVIDE_BY_ZERO (how the round-5 probe found this).
    The BLAS path scores zero-norm rows -inf so they never enter top-k."""
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 0.0, 0.0]),  # degenerate: zero norm
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    pairs = {
        (r.id_a, r.id_b)
        for r in similarity.cosine_near_pairs(df, 0.5).collect()
    }
    assert pairs == {(1, 2)}  # no crash; zero vector matches nothing

    near = similarity.embedding_neardup_lsh(df, 0.5, planes=4, dims=3)
    assert {(r.id_a, r.id_b) for r in near.collect()} <= {(1, 2)}

    q = df.where(F.col("vec_id") == 1)
    got = {r.neighbor_id for r in similarity.brute_force_topk(df, q, k=3).collect()}
    assert 3 not in got and 2 in got

    # a zero-norm QUERY likewise returns no neighbors rather than raising
    zq = df.where(F.col("vec_id") == 3)
    assert similarity.brute_force_topk(df, zq, k=2).count() == 0


def test_i64_ids_rejects_float_id_columns():
    """ADVICE r7: a double id column silently truncated through
    astype(int64) (id 1.7 -> neighbor_id 1) despite the documented
    'non-integral id types raise' contract — the guard must name the
    offending type and keep the zero-copy path for integer types."""
    import numpy as np
    import pyarrow as pa
    import pytest as _pytest

    with _pytest.raises(TypeError, match="float|double"):
        similarity._i64_ids(pa.array([1.7, 2.0], pa.float64()))
    with _pytest.raises(TypeError):
        similarity._i64_ids(pa.array([1.5], pa.float32()))
    ids, ok = similarity._i64_ids(pa.array([5, 6], pa.int32()))
    assert ok is None and ids.dtype == np.int64 and list(ids) == [5, 6]


def test_local_topk_batch_degenerate_band_bounded():
    """Round-7 verdict item 6: a query with fewer than ``take`` finite
    rows has a -inf k-th partitioned score, and ``>= -inf`` widened the
    candidate set to EVERY zero-norm row — batch x queries index pairs
    on a mostly-degenerate corpus. The widen itself must be
    finite-gated: candidates stay bounded and the emitted pairs are
    unchanged."""
    import numpy as np

    n, nq, take = 400, 7, 3
    ids = np.arange(n, dtype=np.int64) + 100
    q_ids = np.arange(nq, dtype=np.int64)  # disjoint from corpus ids
    scores = np.full((n, nq), -np.inf)
    scores[0] = 0.5  # only 2 finite rows (< take): -inf threshold band
    scores[1] = 0.9
    orig_nonzero = np.nonzero
    widened = []

    def spy(a):
        widened.append(int(a.sum()))
        return orig_nonzero(a)

    np.nonzero = spy
    try:
        qi, ri = similarity._local_topk_batch(
            ids, q_ids, scores, take, require_finite=True
        )
    finally:
        np.nonzero = orig_nonzero
    # candidate set bounded by the finite entries (2/query), not n x nq
    assert widened == [2 * nq]
    # emitted pairs unchanged: both finite rows/query, score DESC, id ASC
    assert list(q_ids[qi]) == [q for q in range(nq) for _ in range(2)]
    assert list(ids[ri]) == [101, 100] * nq
    # an all-degenerate batch emits nothing (and allocates ~nothing)
    qi2, ri2 = similarity._local_topk_batch(
        ids, q_ids, np.full((n, nq), -np.inf), take, require_finite=True
    )
    assert len(qi2) == 0 and len(ri2) == 0


def test_semantic_dedup_keep_policy(spark):
    """SemDeDup dominance: within a k-means cell, a vector is dropped iff
    a smaller-id same-cell neighbor sits at cos >= threshold; near-dups in
    DIFFERENT cells are both kept (the published trade-off)."""
    # seeds are the k smallest ids (deterministic init), so ids 1 and 2
    # anchor the two cells and the near-dups arrive at higher ids
    rows = [
        (1, [1.0, 0.0, 0.0]),      # seed, x-cell -> kept
        (2, [0.0, 1.0, 0.0]),      # seed, y-cell -> kept
        (3, [0.999, 0.01, 0.0]),   # near-dup of 1, same cell -> dropped
        (4, [0.0, 0.98, 0.05]),    # near-dup of 2, same cell -> dropped
        (5, [-1.0, 0.0, 0.0]),     # no near neighbor -> kept
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.semantic_dedup(df, threshold=0.95, k=2, iters=2)
    kept = {r.vec_id: r.is_kept for r in out.collect()}
    assert kept[1] and kept[2] and kept[5]
    assert not kept[3] and not kept[4]
    # deterministic: same inputs, same flags
    kept2 = {
        r.vec_id: r.is_kept
        for r in similarity.semantic_dedup(
            df, threshold=0.95, k=2, iters=2
        ).collect()
    }
    assert kept == kept2


def test_semantic_dedup_oversized_cell_subbuckets(spark):
    """With max_cell forced to 1, every cell is 'oversized' so pairing is
    LSH-sub-bucketed: still no crash, output covers every row exactly
    once, and any dropped row has a genuine smaller-id near neighbor."""
    import random

    rng = random.Random(7)
    rows = []
    for i in range(40):
        base = [rng.uniform(-1, 1) for _ in range(8)]
        rows.append((2 * i, base))
        rows.append((2 * i + 1, [v * 1.001 for v in base]))  # exact-direction dup
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.semantic_dedup(
        df, threshold=0.999, k=4, iters=1, max_cell=1, subplanes=4
    )
    got = out.collect()
    assert len(got) == len(rows)
    kept = {r.vec_id: r.is_kept for r in got}
    # scaled copies have cos == 1 with their base; when the pair lands in
    # one sub-bucket the odd id must drop — and every even id must survive
    # (nothing has a smaller-id neighbor at cos >= .999 except the copies)
    assert all(kept[2 * i] for i in range(40))
    assert any(not kept[2 * i + 1] for i in range(40))


def test_kmeans_and_semantic_dedup_empty_input(spark):
    """An empty table flows through k-means assignment and semantic_dedup
    as zero rows (the oracle's behavior) instead of building a malformed
    array_min(array()) expression or a TypeError — the q86 lesson applied
    to the clustering family."""
    from duckdb_ddsketch_spark.operators import clustering

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert clustering.kmeans_centroids(empty, "embedding", "vec_id", k=3) == []
    assigned = clustering.kmeans_assign(empty, [], "embedding")
    assert assigned.columns == ["vec_id", "embedding", "cluster_id"]
    assert assigned.count() == 0
    assert clustering.kmeans_summary(empty, "embedding", "vec_id", k=3).count() == 0
    out = similarity.semantic_dedup(empty, threshold=0.9, k=3)
    assert out.columns == ["vec_id", "cluster_id", "is_kept"]
    assert out.count() == 0


@pytest.mark.parametrize("seed", [3, 17])
def test_semantic_dedup_policy_exhaustive(spark, seed):
    """Randomized exhaustive contract check: a row is dropped IFF a
    smaller-id same-(cell, sub-bucket) neighbor sits at cos >= threshold.
    The expected set is recomputed in pure Python from the operator's own
    bucketing primitives (centroids + assignment + hyperplane codes are
    tested separately), so this pins the join/dominance/anti-join logic —
    including the forced sub-bucket path — against an independent oracle."""
    import math
    import random

    from duckdb_ddsketch_spark.operators import clustering

    rng = random.Random(seed)
    dims, thr, k, max_cell, subplanes = 8, 0.8, 4, 30, 3
    rows = []
    for i in range(150):
        base = [rng.uniform(-1, 1) for _ in range(dims)]
        rows.append((2 * i, base))
        if i % 3 == 0:  # planted near-dup at a higher id
            rows.append(
                (2 * i + 1, [v + rng.uniform(-0.05, 0.05) for v in base])
            )
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    centroids = clustering.kmeans_centroids(df, "embedding", "vec_id", k, 1)
    assigned = clustering.kmeans_assign(df, centroids, "embedding")
    sizes = {
        r["cluster_id"]: r["n"]
        for r in assigned.groupBy("cluster_id").agg(
            F.count("*").alias("n")
        ).collect()
    }
    coded = assigned.withColumn(
        "subcode",
        similarity.hyperplane_code(F.col("embedding"), planes=subplanes, dims=dims),
    ).collect()
    info = {
        r.vec_id: (
            r.cluster_id,
            r.subcode if sizes[r.cluster_id] > max_cell else 0,
            [float(x) for x in r.embedding],
        )
        for r in coded
    }
    assert any(sizes[c] > max_cell for c in sizes), "sub-bucket path unused"

    def cos(u, v):
        d = sum(a * b for a, b in zip(u, v))
        nu = math.sqrt(sum(a * a for a in u))
        nv = math.sqrt(sum(b * b for b in v))
        return d / (nu * nv) if nu > 0 and nv > 0 else None

    expected_dropped = set()
    ids = sorted(info)
    for j, b in enumerate(ids):
        cb, sb, vb = info[b]
        for a in ids[:j]:
            ca, sa, va = info[a]
            if ca == cb and sa == sb:
                c = cos(va, vb)
                if c is not None and c >= thr:
                    expected_dropped.add(b)
                    break

    out = similarity.semantic_dedup(
        df, threshold=thr, k=k, iters=1,
        max_cell=max_cell, subplanes=subplanes,
    )
    got_dropped = {r.vec_id for r in out.collect() if not r.is_kept}
    assert got_dropped == expected_dropped


def test_similarity_null_and_empty_embeddings_tolerated(spark):
    """NULL embeddings and zero-length arrays flow through every
    similarity path as non-matches — never an error, never a bogus
    neighbor (the 100 TB rule: one malformed row must not fail the job)."""
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, None),           # NULL embedding
        (4, []),             # zero-length array
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    pairs = {(r.id_a, r.id_b) for r in similarity.cosine_near_pairs(df, 0.5).collect()}
    assert pairs == {(1, 2)}

    near = similarity.embedding_neardup_lsh(df, 0.5, planes=4, dims=3)
    assert {(r.id_a, r.id_b) for r in near.collect()} <= {(1, 2)}

    q = df.where(F.col("vec_id") == 1)
    got = {r.neighbor_id for r in similarity.brute_force_topk(df, q, k=4).collect()}
    assert got == {2}

    # k=1: one cell, so the near-dup pair is subject to dominance; the
    # NULL and empty-array rows are excluded from clustering entirely
    out = similarity.semantic_dedup(df, threshold=0.5, k=1, iters=1)
    kept = {r.vec_id: r.is_kept for r in out.collect()}
    assert set(kept) == {1, 2}
    assert kept[1] and not kept[2]


def test_blas_kmeans_quantize_nonfinite_matches_sql_cast():
    """ADVICE r6: the BLAS update's int64 quantization must follow the
    SQL path's saturating CAST on non-finite components (NaN -> 0,
    +/-inf -> Long.MAX/MIN) instead of numpy's undefined astype (silent
    INT64_MIN) silently corrupting the centroid sums."""
    import numpy as np

    from duckdb_ddsketch_spark.operators.clustering import (
        _SCALE,
        _quantize_i64,
    )

    X = np.array([[np.nan, np.inf, -np.inf, 1.5, -2.25, 1e300, -1e300]])
    q = _quantize_i64(X)[0]
    i64 = np.iinfo(np.int64)
    assert q[0] == 0                      # NaN -> 0, like CAST(NaN AS BIGINT)
    assert q[1] == i64.max                # +inf saturates
    assert q[2] == i64.min                # -inf saturates
    assert q[3] == int(np.floor(1.5 * _SCALE))   # finite values exact
    assert q[4] == int(np.floor(-2.25 * _SCALE))
    # finite overflow clamps inside the int64 range (never wraps)
    assert 0 < q[5] <= i64.max and i64.min <= q[6] < 0


def test_semantic_dedup_validates_knobs_before_any_job():
    """ADVICE r6: a checkpoint/method typo must fail BEFORE the
    clustering job runs — proven by passing no DataFrame at all (entry
    validation raises before the argument is ever touched)."""
    with pytest.raises(ValueError, match="checkpoint"):
        similarity.semantic_dedup(None, 0.9, checkpoint="durable")
    from duckdb_ddsketch_spark.operators import clustering

    with pytest.raises(ValueError, match="method"):
        clustering.kmeans_centroids(None, method="blass")


def test_lsh_auto_planes_counts_only_bucketable_rows(spark, monkeypatch):
    """ADVICE r6: the auto-planes count must mirror the bucketing's own
    filters — NULL-vector and wrong-width rows never produce a code, so
    counting them inflates the plane count (lower recall) on dirty
    corpora."""
    seen = {}
    orig = similarity._auto_planes

    def spy(n, target_occupancy=2.0):
        seen["n"] = n
        return orig(n, target_occupancy)

    monkeypatch.setattr(similarity, "_auto_planes", spy)
    rows = [
        (1, [1.0, 0.0]),
        (2, [0.9, 0.1]),
        (3, None),              # NULL: never bucketed
        (4, [1.0, 0.0, 0.0]),   # ragged width: never bucketed
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    similarity.embedding_neardup_lsh(df, 0.8)
    assert seen["n"] == 2


def test_semantic_dedup_reliable_checkpoint_bit_identical(spark, tmp_path):
    """checkpoint='reliable' (durable-storage lineage cut for cluster
    runs) must produce bit-identical flags to the default local path."""
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.999, 0.01, 0.0]),
        (4, [0.0, 0.98, 0.05]),
        (5, [-1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    local = {
        tuple(r)
        for r in similarity.semantic_dedup(
            df, threshold=0.95, k=2, iters=2
        ).collect()
    }
    reliable = {
        tuple(r)
        for r in similarity.semantic_dedup(
            df, threshold=0.95, k=2, iters=2, checkpoint="reliable"
        ).collect()
    }
    assert reliable == local


def test_lsh_topk_quantized_route(spark):
    """codes_col routes lsh_topk through int8 codes (VERDICT r6 #4): same
    schema, high recall vs the float route (hyperplane signs are
    scale-invariant under symmetric quantization, cosine is scale-free),
    and output invariant to input partitioning — the integer-exact cos
    (exact BIGINT dot/norms + correctly-rounded sqrt/divide) leaves no
    float drift for partition order to perturb."""
    import random

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    scale = similarity.quantize_calibration(df, bits=8)
    qdf = similarity.quantize_embeddings(df, scale, bits=8)
    q_f = df.where(F.col("vec_id") < 10)
    q_q = qdf.where(F.col("vec_id") < 10)
    fl = similarity.lsh_topk(df, q_f, k=3, planes=4, dims=16)
    qz = similarity.lsh_topk(qdf, q_q, k=3, planes=4, dims=16, codes_col="qcodes")
    assert qz.columns == fl.columns
    a = {(r.query_id, r.neighbor_id) for r in fl.collect()}
    b = {(r.query_id, r.neighbor_id) for r in qz.collect()}
    assert a, "float route returned no pairs — test corpus too sparse"
    assert len(a & b) / len(a) >= 0.8, (a, b)
    base = sorted(tuple(r) for r in qz.collect())
    for nparts in (1, 7):
        again = similarity.lsh_topk(
            qdf.repartition(nparts), q_q, k=3, planes=4, dims=16,
            codes_col="qcodes",
        )
        assert sorted(tuple(r) for r in again.collect()) == base


def test_ivf_topk_blas_matches_fold_form(spark):
    """ivf_topk must return the same (query, neighbor, rank) rows as a
    Python fold of the IVF rule on well-separated cells (per-cell mean
    centroids, the nprobe nearest by cosine, exact cosine inside them),
    be partition-invariant, and drop NULL/ragged/zero-norm rows."""
    import random

    rng = random.Random(29)
    rows = []
    for i in range(240):
        cell = i % 4
        # orthogonal cell directions (5 * e_{2*cell} + noise): centroid
        # cosines are well separated, so probe selection can't flip on
        # summation-order ulp differences (colinear offsets would tie)
        base = [rng.uniform(-1, 1) for _ in range(8)]
        base[2 * cell] += 5.0
        rows.append((i, base, cell))
    rows.append((900, None, 0))  # NULL vector
    rows.append((901, [1.0, 2.0], 1))  # ragged
    rows.append((902, [0.0] * 8, 2))  # zero norm
    rows.append((903, [1.0] * 8, None))  # unlabeled
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    ).repartition(5)
    q = df.where((F.col("vec_id") % 30 == 0) & F.col("embedding").isNotNull())

    out = similarity.ivf_topk(df, q, k=4, nprobe=2)
    assert out.columns == ["query_id", "neighbor_id", "cos", "rank"]
    got = sorted((r.query_id, r.neighbor_id, r.rank) for r in out.collect())

    # centroids average every labeled row per position, as the aggregate does
    sums = {}
    for _, v, c in rows:
        for p, x in enumerate(v or []):
            if c is not None:
                s_, n_ = sums.get((c, p), (0.0, 0))
                sums[(c, p)] = (s_ + x, n_ + 1)
    cent = {c: [sums[(c, p)][0] / sums[(c, p)][1] for p in range(8)] for c in range(4)}
    good = [(i, v, c) for i, v, c in rows
            if v is not None and len(v) == 8 and c is not None]
    want = []
    for qi, qv, _ in good:
        if qi % 30 == 0:
            probe = sorted(cent, key=lambda c: (-_cos(qv, cent[c]), c))[:2]
            cand = [(i, v) for i, v, c in good if c in probe]
            want += [(a, b, rk) for a, b, _, rk in _ref_topk(cand, [(qi, qv)], 4, _cos)]
    assert got == sorted(want)
    assert not {r[1] for r in got} & {900, 901, 902, 903}
    again = similarity.ivf_topk(df.repartition(2), q, k=4, nprobe=2)
    assert sorted((r.query_id, r.neighbor_id, r.rank) for r in again.collect()) == got

    with pytest.raises(ValueError, match="max_query_rows"):
        similarity.ivf_topk(df, q, k=4, max_query_rows=2)


def test_ivf_topk_blas_degenerate_inputs(spark):
    """Over-long corpus rows must degrade (their cell is never probed),
    not crash with numpy shape errors; ragged queries are dropped at the
    modal width. Empty and all-NULL query sets are covered for every
    operator by test_ann_operators_empty_and_null_inputs."""
    rows = [
        (i, [1.0 + i, 2.0, 1.0, 0.5], i % 2) for i in range(20)
    ]
    rows.append((800, [1.0] * 5, 0))  # over-long row inflates cell 0's centroid
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    ).repartition(3)

    # over-long corpus row: cell 0's centroid is width 5 -> never probed;
    # cell 1 still searchable, job doesn't crash
    q = spark.createDataFrame(
        [(500, [2.0, 2.0, 1.0, 0.5])], "vec_id long, embedding array<double>"
    )
    got = similarity.ivf_topk(df, q, k=3, nprobe=2).collect()
    assert got, "healthy cell must still return neighbors"
    assert all(r.neighbor_id % 2 == 1 for r in got)  # only cell 1 rows

    # ragged queries: modal width wins (ties -> smaller), others dropped
    q_mixed = spark.createDataFrame(
        [(500, [2.0, 2.0, 1.0, 0.5]), (501, [1.0, 1.0]), (502, [3.0, 1.0, 1.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    got2 = similarity.ivf_topk(df, q_mixed, k=2, nprobe=2).collect()
    qids = {r.query_id for r in got2}
    assert 501 not in qids and {500, 502} <= qids


def test_kmeans_blas_degraded_batches_match_expand(spark):
    """The Arrow BLAS kernels' degraded paths: an interior-NULL element
    becomes NaN and stays update-identical to the SQL expand route
    (argmin -> smallest cid, quantize -> 0 contribution); NULL-row and
    ragged rows assign NULL; ragged rows whose lengths sum to a clean
    multiple must not reshape across row boundaries."""
    from duckdb_ddsketch_spark.operators import clustering

    rows = [
        (0, [0.0, 0.0]),
        (1, [10.0, 10.0]),
        (2, [1.0, None]),       # interior NULL -> NaN row, kept
        (3, [9.0, 9.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = clustering.kmeans_centroids(
        df, "embedding", "vec_id", k=2, iters=1, method="expand"
    )
    cents_b = clustering.kmeans_centroids(
        df, "embedding", "vec_id", k=2, iters=1, method="blas"
    )
    assert cents == cents_b  # bit-identical update incl. the NaN row
    a = {
        r.vec_id: r.cluster_id
        for r in clustering.kmeans_assign(
            df, cents, "embedding", method="expand"
        ).collect()
    }
    b = {
        r.vec_id: r.cluster_id
        for r in clustering.kmeans_assign(
            df, cents, "embedding", method="blas"
        ).collect()
    }
    assert a == b and a[2] == 0  # NaN distances -> smallest cid, both routes

    # ragged rows: lengths 1 + 3 sum to 2*2 — the offsets check must
    # stop the zero-copy reshape from silently crossing row boundaries
    ragged = spark.createDataFrame(
        [(0, [5.0]), (1, [0.1, 0.2, 9.9, 9.8])],
        "vec_id long, embedding array<double>",
    ).coalesce(1)
    got = {
        r.vec_id: r.cluster_id
        for r in clustering._assign_blas(
            ragged, cents, "embedding"
        ).collect()
    }
    assert got == {0: None, 1: None}  # masked, not desynced


def test_duplicate_span_extents_stitching(spark):
    """Overlapping + adjacent duplicated n-grams stitch into one maximal
    extent; independent repeats produce separate extents; docs without a
    cross-doc repeat emit nothing ("dedup the span, not the doc")."""
    # 12-token shared passage inside two otherwise-different docs:
    # with n=4 that is 9 overlapping duplicated grams -> ONE extent each
    shared = "s1 s2 s3 s4 s5 s6 s7 s8 s9 s10 s11 s12"
    df = spark.createDataFrame(
        [
            (1, f"u1 u2 {shared} u3 u4"),
            (2, f"{shared} w1 w2 w3 w4 w5"),
            # doc 3: two DISJOINT copies of a 4-token span also in doc 4,
            # separated by unique filler wider than n -> two extents
            (3, "m1 m2 m3 m4 f1 f2 f3 f4 f5 m1 m2 m3 m4"),
            (4, "z9 m1 m2 m3 m4 z8 z7 z6"),
            (5, "only unique tokens here none repeat q r"),
        ],
        "doc_id long, text string",
    )
    rows = dedup.duplicate_span_extents(df, n=4, min_docs=2).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(
            (r.span_start, r.span_end, r.n_grams)
        )
        # extent width always >= n, gram count == width - n + 1 for a
        # contiguous all-duplicated run
        assert r.span_end - r.span_start + 1 >= 4
    # doc 1: shared passage at tokens 3..14 -> one stitched extent
    assert by_doc[1] == [(3, 14, 9)]
    # doc 2: same passage at tokens 1..12
    assert by_doc[2] == [(1, 12, 9)]
    # doc 3: two disjoint extents (positions 1..4 and 10..13)
    assert sorted(by_doc[3]) == [(1, 4, 1), (10, 13, 1)]
    # doc 4: the span at tokens 2..5
    assert by_doc[4] == [(2, 5, 1)]
    # doc 5: nothing to cut
    assert 5 not in by_doc


def test_duplicate_span_extents_adjacent_grams_merge(spark):
    """Two duplicated grams whose token ranges touch end-to-end
    (pos diff == n) must merge into one extent — the boundary case of
    the stitcher's gap rule."""
    # docs share grams [a1..a4] and [b1..b4]; in doc 1 they are adjacent
    # (positions 1 and 5, ranges 1-4 / 5-8); doc 2 and 3 carry them FAR
    # apart so only the doc-1 placement tests adjacency
    df = spark.createDataFrame(
        [
            (1, "a1 a2 a3 a4 b1 b2 b3 b4"),
            (2, "a1 a2 a3 a4 x1 x2 x3 x4 x5 y1 y2 y3 y4 y5"),
            (3, "c1 c2 c3 c4 c5 c6 c7 c8 c9 b1 b2 b3 b4"),
        ],
        "doc_id long, text string",
    )
    rows = dedup.duplicate_span_extents(df, n=4, min_docs=2).collect()
    doc1 = sorted(
        (r.span_start, r.span_end, r.n_grams)
        for r in rows
        if r.doc_id == 1
    )
    # grams at pos 1 and pos 5: pos diff == n == 4 -> ONE extent 1..8
    assert doc1 == [(1, 8, 2)]


def test_duplicate_span_extents_fallback_join_matches_broadcast(
    spark, monkeypatch
):
    """The census-size gate picks between a broadcast probe join (small
    census) and the plain equi-join fallback (census above
    _SPAN_DUP_BROADCAST_MAX). Both branches must produce identical
    extents — forced here by pinning the cap to 0 (fallback) vs the
    default (broadcast), on data covering overlap-stitching, adjacency,
    disjoint extents, ragged whitespace, short and NULL docs."""
    from duckdb_ddsketch_spark.operators import dedup as dd

    shared = "s1 s2 s3 s4 s5 s6 s7 s8 s9 s10 s11 s12"
    df = spark.createDataFrame(
        [
            (1, f"u1 u2 {shared} u3 u4"),
            (2, f"{shared} w1 w2 w3 w4 w5"),
            (3, "m1 m2 m3 m4 f1 f2 f3 f4 f5 m1 m2 m3 m4"),
            (4, "z9  m1   m2 m3 m4  z8 z7 z6"),
            (5, "short doc"),
            (6, None),
            (7, ""),
        ],
        "doc_id long, text string",
    )
    outs = {}
    for label, cap in (("broadcast", dd._SPAN_DUP_BROADCAST_MAX), ("fallback", 0)):
        monkeypatch.setattr(dd, "_SPAN_DUP_BROADCAST_MAX", cap)
        for n, md in ((4, 2), (1, 2), (4, 3)):
            outs[(label, n, md)] = sorted(
                map(
                    tuple,
                    dd.duplicate_span_extents(
                        df, n=n, min_docs=md
                    ).collect(),
                )
            )
    for n, md in ((4, 2), (1, 2), (4, 3)):
        assert outs[("broadcast", n, md)] == outs[("fallback", n, md)]
    # and the broadcast branch still matches the pinned stitching shape
    by_doc = {}
    for doc_id, s, e, g in outs[("broadcast", 4, 2)]:
        by_doc.setdefault(doc_id, []).append((s, e, g))
    assert by_doc[1] == [(3, 14, 9)]
    assert by_doc[2] == [(1, 12, 9)]
    assert sorted(by_doc[3]) == [(1, 4, 1), (10, 13, 1)]
    assert by_doc[4] == [(2, 5, 1)]


def test_duplicate_span_extents_broadcast_plan_shape(spark):
    """Pin the plan properties the round-13 rewrite bought, so they
    cannot silently rot back (the round-9 'AQE picks broadcast' claim
    did exactly that): under the default cap the probe join must be a
    BroadcastHashJoin, never a SortMergeJoin, and on an input whose
    partitioning already clusters doc_id (spark.range) the stitch
    windows and final aggregate must run with NO shuffle — the executed
    main-query plan contains no hash-partitioning Exchange at all (the
    census aggregate's exchange lives in the eager checkpoint job)."""
    from duckdb_ddsketch_spark.operators import dedup as dd

    docs = spark.range(200).selectExpr(
        "id AS doc_id",
        # 8-token shared boilerplate per 10-doc pool + 2 unique tokens
        "concat('u', id, ' v', id * 3, "
        " ' b0_', id % 20, ' b1_', id % 20, ' b2_', id % 20,"
        " ' b3_', id % 20, ' b4_', id % 20, ' b5_', id % 20,"
        " ' b6_', id % 20, ' b7_', id % 20) AS text",
    )
    ext = dd.duplicate_span_extents(docs, n=4, min_docs=2)
    rows = ext.collect()
    assert len(rows) == 200  # every doc carries its pool's extent
    plan = ext._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:1500]
    assert "SortMergeJoin" not in plan, plan[:1500]
    assert "Exchange hashpartitioning" not in plan, plan[:1500]


def test_duplicate_span_extents_short_docs_and_determinism(spark):
    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, None)], "doc_id long, text string"
    )
    # all docs shorter than n -> no grams, no extents, no crash
    assert dedup.duplicate_span_extents(df, n=8).count() == 0
    # determinism under repartition on a corpus with repeats
    big = spark.createDataFrame(
        [
            (i, "h1 h2 h3 h4 h5 h6 h7 h8 " + " ".join(f"t{i}_{j}" for j in range(6)))
            for i in range(20)
        ],
        "doc_id long, text string",
    )
    a = sorted(
        map(tuple, dedup.duplicate_span_extents(big, n=8).collect())
    )
    b = sorted(
        map(tuple, dedup.duplicate_span_extents(big.repartition(7), n=8).collect())
    )
    assert a == b and len(a) == 20


def test_centroid_shift_pure():
    from duckdb_ddsketch_spark.operators.clustering import _centroid_shift

    a = [(0, [0.0, 0.0]), (1, [1.0, 1.0])]
    b = [(0, [0.0, 0.0]), (1, [1.0, 1.0])]
    assert _centroid_shift(a, b) == 0.0
    c = [(0, [3.0, 4.0]), (1, [1.0, 1.0])]
    assert _centroid_shift(a, c) == 5.0  # 3-4-5 triangle on cluster 0
    # a dropped cluster is structural change, never convergence
    assert _centroid_shift(a, [(0, [0.0, 0.0])]) == float("inf")
    assert _centroid_shift(a, [(0, [0.0, 0.0]), (2, [1.0, 1.0])]) == float("inf")


def test_kmeans_tol_early_exit_and_identity(spark, monkeypatch):
    """tol-converged runs must (1) stop issuing iteration jobs and
    (2) return bit-identical centroids to the fixed-iteration run —
    the early exit only fires at a fixed point, where further
    iterations are provably no-ops."""
    from duckdb_ddsketch_spark.operators import clustering

    # corpus = k distinct repeated vectors; the k smallest ids cover all
    # k vectors, so the seeds are already the exact cluster means and
    # iteration 1 lands on the fixed point
    k, reps = 4, 50
    rows = [
        (i, [float((i % k) * 8 + d) for d in range(16)])
        for i in range(k * reps)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    calls = {"n": 0}
    real = clustering._iterate_blas

    def counting(dfx, cents, vc):
        calls["n"] += 1
        return real(dfx, cents, vc)

    monkeypatch.setattr(clustering, "_iterate_blas", counting)
    got = clustering.kmeans_centroids(
        df, k=k, iters=25, method="blas", tol=1e-12
    )
    early_calls = calls["n"]
    assert early_calls <= 3  # fixed point by iter ~1-2, far below 25
    calls["n"] = 0
    ref = clustering.kmeans_centroids(df, k=k, iters=early_calls, method="blas")
    assert got == ref  # bit-identical to the run of exactly that length
    # default tol=0.0 also exits at the bit-exact fixed point
    calls["n"] = 0
    same = clustering.kmeans_centroids(df, k=k, iters=25, method="blas")
    assert same == ref and calls["n"] <= early_calls + 1


def test_duplicate_span_extents_validates_params(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    import pytest as _pt

    with _pt.raises(ValueError):
        dedup.duplicate_span_extents(df, n=0)
    with _pt.raises(ValueError):
        dedup.duplicate_span_extents(df, min_docs=0)


def test_hashed_ngram_features_and_linear_score(spark):
    """fastText-style hashed features + linear scorer: the weights-TABLE
    (broadcast join, sparse-model semantics) and weights-EXPRESSION
    (map-only) paths must agree wherever the table covers every bucket;
    a sparse table weighs missing buckets 0; empty/NULL docs are KEPT at
    exactly bias with zero counts."""
    from duckdb_ddsketch_spark.operators import text as text_ops

    B = 64
    df = spark.createDataFrame(
        [
            (1, "aa bb aa cc"),
            (2, "bb bb bb"),
            (3, ""),
            (4, None),
        ],
        "doc_id long, text string",
    )
    feats = {
        (r.doc_id, r.bucket): r.cnt
        for r in text_ops.hashed_ngram_features(df, buckets=B).collect()
    }
    # doc 1: aa x2 + bb + cc -> counts per hashed bucket sum to 4
    assert sum(c for (d, _), c in feats.items() if d == 1) == 4
    assert sum(c for (d, _), c in feats.items() if d == 2) == 3
    # empty doc 3: split("") yields one "" token -> one feature; NULL -> none
    assert sum(c for (d, _), c in feats.items() if d == 3) == 1
    assert not any(d == 4 for (d, _) in feats)

    w_expr = lambda b: (b % 7 - 3).cast("double") / F.lit(4.0)
    via_expr = {
        r.doc_id: (r.clf_score, r.n_features, r.n_grams)
        for r in text_ops.linear_quality_score(
            df, w_expr, buckets=B, bias=0.5
        ).collect()
    }
    wdf = spark.createDataFrame(
        [(b, (b % 7 - 3) / 4.0) for b in range(B)], "bucket long, weight double"
    )
    via_table = {
        r.doc_id: (r.clf_score, r.n_features, r.n_grams)
        for r in text_ops.linear_quality_score(
            df, wdf, buckets=B, bias=0.5
        ).collect()
    }
    assert via_expr == via_table  # dyadic weights -> bit-identical
    # NULL-text doc kept at exactly bias with zero counts
    assert via_expr[4] == (0.5, 0, 0)
    # sparse table: only doc 2's buckets weighted, everyone else = bias
    d2_buckets = [b for (d, b) in feats if d == 2]
    sparse = spark.createDataFrame(
        [(b, 1.0) for b in d2_buckets], "bucket long, weight double"
    )
    got = {
        r.doc_id: r.clf_score
        for r in text_ops.linear_quality_score(
            df, sparse, buckets=B, bias=0.0
        ).collect()
    }
    assert got[2] == 3.0  # 3 occurrences x weight 1
    # docs 1/3 score 0 unless they happen to share doc-2's bucket (bb!)
    shared = feats.get((1, d2_buckets[0]), 0)
    assert got[1] == float(shared)
    import pytest as _pt

    with _pt.raises(ValueError):
        text_ops.hashed_ngram_features(df, buckets=0)
    with _pt.raises(ValueError):
        text_ops.hashed_ngram_features(df, ngram=0)
    # bigram features: doc 1 has 3 bigrams, short docs none
    bg = text_ops.hashed_ngram_features(df, buckets=B, ngram=2)
    per_doc = {
        r.doc_id: r.total
        for r in bg.groupBy("doc_id").agg(F.sum("cnt").alias("total")).collect()
    }
    assert per_doc.get(1) == 3 and per_doc.get(2) == 2


def test_bm25_scores_reference_values(spark):
    """BM25 against hand-computed values on a 3-doc corpus (k1=1.5, b=0.75,
    Robertson/Lucene idf), plus ranking and multi-query independence."""
    import math

    from duckdb_ddsketch_spark.operators import text as tx

    docs = spark.createDataFrame(
        [
            (1, "apple banana apple"),       # dl=3, tf(apple)=2
            (2, "apple cherry"),             # dl=2
            (3, "banana banana banana durian"),  # dl=4
        ],
        "doc_id long, text string",
    )
    qs = spark.createDataFrame(
        [(1, "apple"), (2, "banana durian")],
        "query_id int, query_text string",
    )
    rows = tx.bm25_scores(docs, qs, k=10).collect()
    got = {(r.query_id, r.doc_id): r for r in rows}

    def ref(tf, dl, df, n=3, avgdl=3.0, k1=1.5, b=0.75, *terms_more):
        idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
        c = idf * (tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl)))
        return math.floor(c * 65536.0 + 0.5)

    # query 1 = 'apple': docs 1 (tf=2, dl=3) and 2 (tf=1, dl=2); df=2
    assert set(k for k in got if k[0] == 1) == {(1, 1), (1, 2)}
    assert got[(1, 1)].bm25 == pytest.approx(ref(2, 3, 2) / 65536.0)
    assert got[(1, 2)].bm25 == pytest.approx(ref(1, 2, 2) / 65536.0)
    assert got[(1, 1)].bm25 > got[(1, 2)].bm25
    assert (got[(1, 1)].rank, got[(1, 2)].rank) == (1, 2)
    assert (got[(1, 1)].n_terms, got[(1, 2)].n_terms) == (1, 1)

    # query 2 = 'banana durian': doc 3 matches both terms, doc 1 one
    assert set(k for k in got if k[0] == 2) == {(2, 3), (2, 1)}
    exp3 = (ref(3, 4, 2) + ref(1, 4, 1)) / 65536.0
    assert got[(2, 3)].bm25 == pytest.approx(exp3)
    assert got[(2, 3)].n_terms == 2
    assert got[(2, 3)].rank == 1


def test_bm25_dl_regexp_count_matches_split_form(spark):
    """Round 12: bm25's dl/total_tokens count via regexp_count(trim(s),
    '[^ ]+') must equal the old size(filter(split(trim(lower(s)), ' +'),
    != '')) for every string shape (the rewrite avoids materializing a
    token array + a filtered copy just to count)."""
    from duckdb_ddsketch_spark.operators.text import tokens

    adv = spark.createDataFrame(
        [(s,) for s in [
            "", " ", "   ", "a", " a ", "a b", "a  b", "\ta b\n", "a\tb",
            "\t a", "a \t b", " \t ", "x" * 64, ("w1 " * 20).strip(),
            "Ünïcode  wörds", None,
        ]],
        "text string",
    )
    old = F.greatest(
        F.size(F.filter(tokens(F.lower(F.col("text"))), lambda t: t != F.lit(""))),
        F.lit(0),
    )
    # NULL text never produces token rows in bm25 (explode of NULL), so
    # only the non-NULL rows must agree with the old arithmetic; the new
    # form maps NULL to 0 where the old greatest(size(NULL), 0) did too
    new = F.coalesce(F.regexp_count(F.trim(F.col("text")), F.lit("[^ ]+")), F.lit(0))
    bad = adv.select("text", old.alias("o"), new.alias("n")).where(
        F.col("o") != F.col("n")
    ).collect()
    assert not bad, bad


def test_bm25_prefilter_branch_matches_join_branch(spark, monkeypatch):
    """Round 12: bm25's prune-before-explode form (<= _BM25_PREFILTER_MAX
    distinct query terms -> token array filtered against a literal
    IN-list before the explode) must produce identical rows to the
    explode + broadcast semi-join prune; the cap is monkeypatched to 0
    to force the join branch on the same input."""
    from duckdb_ddsketch_spark.operators import text as tx

    docs = spark.createDataFrame(
        [
            (1, "apple banana apple"),
            (2, "apple  cherry"),          # double space
            (3, "banana banana banana durian"),
            (4, ""),                        # empty text
            (5, None),                      # NULL text
            (6, "   "),                     # whitespace only
            (7, "kiwi melon"),              # no query term at all
            (8, "APPLE Banana"),            # case folding
        ],
        "doc_id long, text string",
    )
    qs = spark.createDataFrame(
        [(1, "apple"), (2, "banana durian"), (3, "apple banana")],
        "query_id int, query_text string",
    )
    pre = sorted(map(tuple, tx.bm25_scores(docs, qs, k=10).collect()))
    monkeypatch.setattr(tx, "_BM25_PREFILTER_MAX", 0)
    join = sorted(map(tuple, tx.bm25_scores(docs, qs, k=10).collect()))
    assert pre == join
    assert pre  # non-degenerate: the corpus has matches


def test_bm25_scores_topk_and_validation(spark):
    from duckdb_ddsketch_spark.operators import text as tx

    docs = spark.createDataFrame(
        [(i, "common filler" + " pad" * (i % 3)) for i in range(1, 8)],
        "doc_id long, text string",
    )
    qs = spark.createDataFrame(
        [(7, "common")], "query_id int, query_text string"
    )
    out = tx.bm25_scores(docs, qs, k=3)
    rows = out.collect()
    assert len(rows) == 3 and [r.rank for r in sorted(rows, key=lambda r: r.rank)] == [1, 2, 3]
    # equal tf -> shorter docs score higher: dl=2 docs (ids 3, 6) take
    # ranks 1-2 via the doc-id tie-break on their exact score tie, and
    # rank 3 falls to the lowest id of the dl=3 tie group (1, 4, 7)
    assert {r.rank: r.doc_id for r in rows} == {1: 3, 2: 6, 3: 1}
    det = tx.bm25_scores(docs.repartition(5), qs, k=3).collect()
    assert sorted(map(tuple, det)) == sorted(map(tuple, rows))
    with pytest.raises(ValueError):
        tx.bm25_scores(docs, qs, k=0)
    with pytest.raises(ValueError):
        tx.bm25_scores(docs, qs, b=1.5)


def test_cluster_representatives_argmax_and_ties(spark):
    from duckdb_ddsketch_spark.operators import dedup as dd

    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7), (9, 7)], "id long, cluster_id long"
    )
    scored = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (7, 5), (9, 2)], "id long, q long"
    )
    reps = dd.cluster_representatives(labels, scored, "q").collect()
    got = {r.cluster_id: (r.rep_id, r.rep_score, r.n_members) for r in reps}
    # cluster 1: docs 2 and 3 tie at 30 -> min id 2 wins; 3 members
    assert got == {1: (2, 30, 3), 7: (7, 5, 2)}
    # lower-is-better flips the pick (cluster 7 -> doc 9 at score 2)
    low = dd.cluster_representatives(
        labels, scored, "q", higher_is_better=False
    ).collect()
    assert {r.cluster_id: r.rep_id for r in low} == {1: (1), 7: 9}
    # deterministic under repartitioning
    again = dd.cluster_representatives(
        labels.repartition(4), scored.repartition(3), "q"
    ).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, reps))


def test_duplicate_span_extents_md5_path_matches_xxhash64(spark):
    from duckdb_ddsketch_spark.operators import dedup as dd

    docs = spark.createDataFrame(
        [
            (i, f"u{i} " + "shared boiler plate text spans here ok " + f"t{i}")
            for i in range(40)
        ]
        + [(99, "nothing in common with anything at all")],
        "doc_id long, text string",
    )
    xx = sorted(
        map(tuple, dd.duplicate_span_extents(docs, n=4, min_docs=2).collect())
    )
    md = sorted(
        map(
            tuple,
            dd.duplicate_span_extents(
                docs, n=4, min_docs=2, gram_hash="md5"
            ).collect(),
        )
    )
    assert xx == md and len(xx) == 40
    with pytest.raises(ValueError):
        dd.duplicate_span_extents(docs, gram_hash="sha1")


def test_cluster_representatives_unscored_members(spark):
    """Members missing from the score table still count in n_members and
    never win; all-unscored clusters survive with a NULL rep_score."""
    from duckdb_ddsketch_spark.operators import dedup as dd

    labels = spark.createDataFrame(
        [(10, 10), (11, 10), (12, 10), (20, 20), (21, 20)],
        "id long, cluster_id long",
    )
    scored = spark.createDataFrame([(10, 1), (11, 5)], "id long, q long")
    reps = {
        r.cluster_id: (r.rep_id, r.rep_score, r.n_members)
        for r in dd.cluster_representatives(labels, scored, "q").collect()
    }
    assert reps == {10: (11, 5, 3), 20: (20, None, 2)}
    # lower-is-better must also keep NULLs last (not NULLS FIRST asc)
    low = {
        r.cluster_id: r.rep_id
        for r in dd.cluster_representatives(
            labels, scored, "q", higher_is_better=False
        ).collect()
    }
    assert low == {10: 10, 20: 20}


def test_retention_report_validates_n_days(spark):
    from duckdb_ddsketch_spark.operators import bitmap

    df = spark.createDataFrame([(1, 0)], "user long, day long")
    bm = bitmap.activity_bitmap(df, "user", "day")
    with pytest.raises(ValueError):
        bitmap.retention_report(bm, 0)
    with pytest.raises(ValueError):
        bitmap.retention_report(bm, 64)


def test_dsir_logratio_weights_semantics(spark):
    """Buckets overrepresented in the target get positive weights (and
    vice versa); scoring via linear_quality_score ranks target-like docs
    above raw-like ones; weights cover exactly the raw-corpus buckets."""
    import math

    from duckdb_ddsketch_spark.operators import text as tx

    raw = spark.createDataFrame(
        [(i, "good tokens here" if i % 2 == 0 else "bad noise junk")
         for i in range(20)],
        "doc_id long, text string",
    )
    target = raw.where("doc_id % 2 = 0")  # target = the 'good' half
    wdf = tx.dsir_logratio_weights(
        raw, target, buckets=256, ngram=1, quantize=False
    )
    feats = tx.hashed_ngram_features(target, buckets=256, ngram=1)
    good_buckets = {r.bucket for r in feats.select("bucket").distinct().collect()}
    rows = {r.bucket: r.weight for r in wdf.collect()}
    for b, w in rows.items():
        if b in good_buckets:
            assert w > 0, (b, w)
        else:
            assert w < 0, (b, w)
    # hand-check one 'good' bucket: t=10,T=30 vs r=10,R=60, a=0.5, B=256
    some_good = next(b for b in rows if b in good_buckets)
    exp = math.log(10.5 / (30 + 128.0)) - math.log(10.5 / (60 + 128.0))
    assert rows[some_good] == pytest.approx(exp, rel=1e-12)
    # quantized weights stay within 2^-17 of the exact value
    wq = {r.bucket: r.weight for r in tx.dsir_logratio_weights(
        raw, target, buckets=256, ngram=1).collect()}
    assert all(abs(wq[b] - rows[b]) <= 2 ** -17 + 1e-15 for b in rows)
    # end-to-end: target-like docs outscore raw-only docs
    scores = {r.doc_id: r.dsir_score for r in tx.linear_quality_score(
        raw, tx.dsir_logratio_weights(raw, target, buckets=256, ngram=1),
        buckets=256, ngram=1, out_col="dsir_score").collect()}
    assert min(scores[i] for i in range(0, 20, 2)) > max(
        scores[i] for i in range(1, 20, 2)
    )
    with pytest.raises(ValueError):
        tx.dsir_logratio_weights(raw, target, smoothing=0.0)


def test_dsir_logratio_weights_empty_target(spark):
    """An empty (or gram-less) target must NOT NULL the weights: t_tgt
    coalesces to 0 and every raw bucket gets the smoothed pure-penalty
    weight log(a / aB) - log((c_raw+a)/(t_raw+aB)) — finite, non-NULL."""
    import math

    from duckdb_ddsketch_spark.operators import text as tx

    raw = spark.createDataFrame(
        [(0, "alpha beta"), (1, "alpha gamma")], "doc_id long, text string"
    )
    empty = raw.where("doc_id < 0")
    rows = tx.dsir_logratio_weights(
        raw, empty, buckets=64, ngram=1, quantize=False
    ).collect()
    assert len(rows) > 0
    assert all(r.weight is not None for r in rows)
    # 4 unigram occurrences over the raw corpus; the 'alpha' bucket has
    # c_raw=2, every weight = log(0.5/32) - log((c+0.5)/(4+32))
    by_w = sorted(r.weight for r in rows)
    exp_c2 = math.log(0.5 / 32.0) - math.log(2.5 / 36.0)
    assert by_w[0] == pytest.approx(exp_c2, rel=1e-12)


def test_span_coverage_fraction_and_zero_docs(spark):
    from duckdb_ddsketch_spark.operators import dedup as dd

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),   # 10 tokens, extent 1..8
            (2, "x a b c d e f g h z"),   # 10 tokens, extent 2..9
            (3, "q r s t u v w"),         # 7 tokens, no duplication
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in dd.span_coverage(docs, n=4, min_docs=2).collect()}
    assert set(rows) == {1, 2, 3}
    assert (rows[1].n_tokens, rows[1].dup_tokens) == (10, 8)
    assert rows[1].dup_fraction == pytest.approx(0.8)
    assert (rows[2].n_tokens, rows[2].dup_tokens) == (10, 8)
    assert (rows[3].n_tokens, rows[3].dup_tokens, rows[3].dup_fraction) == (7, 0, 0.0)
    # two disjoint extents in one doc sum without double-counting
    both = spark.createDataFrame(
        [
            (1, "a b c d X X X X X e f g h"),
            (2, "a b c d Y Y Y Y Y e f g h"),
        ],
        "doc_id long, text string",
    )
    r = {x.doc_id: x for x in dd.span_coverage(both, n=4, min_docs=2).collect()}
    assert r[1].dup_tokens == 8 and r[1].n_tokens == 13


def test_rrf_fuse_agreement_and_fixed_point(spark):
    from duckdb_ddsketch_spark.operators import text as tx

    a = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3)],
        "query_id int, doc_id long, rank int",
    )
    b = spark.createDataFrame(
        [(1, 11, 1), (1, 13, 2)],
        "query_id int, doc_id long, rank int",
    )
    rows = {r.doc_id: r for r in tx.rrf_fuse(a, b, k0=60, k=10).collect()}
    c = lambda r: (1 << 24) // (60 + r)  # noqa: E731
    # doc 11 appears in both lists -> top fused score
    assert rows[11].rrf_score == c(2) + c(1)
    assert rows[11].rank == 1 and rows[11].in_a and rows[11].in_b
    assert rows[10].rrf_score == c(1) and rows[10].in_a and not rows[10].in_b
    assert rows[13].rrf_score == c(2) and not rows[13].in_a and rows[13].in_b
    # rank 1 agreement beats single-list rank 1: c(1)+c(2) > c(1)
    assert rows[11].rrf_score > rows[10].rrf_score
    # exact-tie doc-id tie-break: docs 10 (a rank 1) and 13+noise? build a tie
    t1 = spark.createDataFrame([(1, 5, 1)], "query_id int, doc_id long, rank int")
    t2 = spark.createDataFrame([(1, 3, 1)], "query_id int, doc_id long, rank int")
    tie = sorted(
        (r.doc_id, r.rank) for r in tx.rrf_fuse(t1, t2, k0=60).collect()
    )
    assert tie == [(3, 1), (5, 2)]  # same score -> lower id first
    with pytest.raises(ValueError):
        tx.rrf_fuse(a, b, k0=0)


def test_pq_train_encode_adc_recall_vs_int8(spark):
    """The full PQ ladder on clustered synthetic data: pq_train learns
    per-subspace codebooks deterministically, pq_encode compresses
    map-only, and ADC top-10 recall against the exact float ranking is
    high — and at this geometry at least matches the int8 symmetric
    quantizer's recall (the ladder's previous rung), pinning that the
    compressed-domain scorer is not a regression. Also pins NULL/ragged
    encode semantics and codebook validation."""
    import numpy as np

    from duckdb_ddsketch_spark.operators import similarity as sim

    # geometry chosen so the exact top-k IS the query's cluster: k = one
    # less than the cluster size, clusters well separated vs the 0.05
    # noise. PQ cannot resolve differences below its codebook resolution
    # (within-cluster ordering), so the meaningful recall pin is "does
    # the compressed scorer rank the right CLUSTER on top" — the job PQ
    # does in a real ANN stack, where it prunes candidates for an exact
    # re-rank.
    rng = np.random.RandomState(7)
    d, n_clusters, per = 16, 5, 10
    centers = rng.uniform(-1.0, 1.0, size=(n_clusters, d))
    pts = np.concatenate(
        [c + rng.normal(0, 0.05, size=(per, d)) for c in centers]
    )
    df = spark.createDataFrame(
        [(i, [float(x) for x in pts[i]]) for i in range(len(pts))],
        "vec_id long, embedding array<double>",
    ).cache()
    queries = df.where(F.col("vec_id") % 10 == 0)
    k = per - 1

    def topk_sets(out, score_col):
        sets = {}
        for r in out.collect():
            sets.setdefault(r.query_id, set()).add(r.neighbor_id)
        return sets

    # exact INNER-PRODUCT ranking (the metric both the int8 qdot scorer
    # and PQ's ADC approximate), straight from numpy
    q_ids = list(range(0, len(pts), 10))
    dots = pts @ pts.T
    exact = {}
    for qi in q_ids:
        order = sorted(
            (i for i in range(len(pts)) if i != qi),
            key=lambda i: (-dots[qi, i], i),
        )
        exact[qi] = set(order[:k])

    books = sim.pq_train(df, m=4, ksub=8, iters=6)
    assert len(books) == 4 and all(1 <= len(b) <= 8 for b in books)
    assert all(len(cw) == 4 for b in books for cw in b)
    coded = sim.pq_encode(df, books)
    pq = topk_sets(sim.pq_adc_topk(coded, queries, books, k=k), "adc")

    scale = sim.quantize_calibration(df, bits=8)
    qc = sim.quantize_embeddings(df, scale, bits=8)
    int8 = topk_sets(sim.quantized_topk(qc, qc.where(F.col("vec_id") % 10 == 0), k=k), "qdot")

    def recall(approx):
        rs = [len(approx.get(q, set()) & exact[q]) / k for q in exact]
        return sum(rs) / len(rs)

    r_pq, r_int8 = recall(pq), recall(int8)
    # int8 is ~lossless at this scale (recall ~1); PQ must put the right
    # cluster on top — at this geometry that means matching int8
    assert r_int8 >= 0.95, r_int8
    assert r_pq >= 0.9, (r_pq, r_int8)

    # NULL and ragged vectors encode as NULL codes
    bad = spark.createDataFrame(
        [(1000, None), (1001, [0.0] * 7)],
        "vec_id long, embedding array<double>",
    )
    rows = {r.vec_id: r.pq_codes for r in sim.pq_encode(bad, books).collect()}
    assert rows[1000] is None and rows[1001] is None

    # validation
    with pytest.raises(ValueError, match="must divide"):
        sim.pq_train(df, m=5)
    with pytest.raises(ValueError, match="non-empty"):
        sim.pq_encode(df, [])
    with pytest.raises(ValueError, match="codeword width"):
        sim.pq_encode(df, [[[0.0, 1.0], [1.0]]])
    with pytest.raises(ValueError, match="k must be"):
        sim.pq_adc_topk(coded, queries, books, k=0)


def test_pq_encode_first_index_tie_break_and_determinism(spark):
    """Equal-distance codewords resolve to the FIRST index (the
    list_position semantics mirrored by the DuckDB oracle), and encoding
    is partition-invariant."""
    from duckdb_ddsketch_spark.operators import similarity as sim

    # two identical codewords: argmin must pick index 0, never 1
    books = [[[0.5, 0.5], [0.5, 0.5], [-0.5, -0.5]]]
    df = spark.createDataFrame(
        [(i, [0.4 + 0.01 * (i % 3), 0.6]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    codes = {r.vec_id: list(r.pq_codes) for r in sim.pq_encode(df, books).collect()}
    assert all(c == [0] for c in codes.values())
    codes7 = {
        r.vec_id: list(r.pq_codes)
        for r in sim.pq_encode(df.repartition(7), books).collect()
    }
    assert codes == codes7


def test_vocab_token_stats_greedy_semantics(spark):
    """Greedy longest-match segmentation against a tiny explicit vocab:
    longest wins at each position, fallback is one character, characters
    outside the vocab count as unknown; NULL/empty/whitespace texts
    report zeros; and the counts feed pack_sequences as real token
    budgets (the chars/4-proxy replacement)."""
    from duckdb_ddsketch_spark.operators import sampling
    from duckdb_ddsketch_spark.operators import text as tx

    voc = ["a", "b", "c", "ab", "abc", "bc"]
    rows = [
        (0, "abcab"),     # abc + ab -> 2 tokens
        (1, "ababc"),     # ab + abc -> 2
        (2, "ba"),        # b + a -> 2
        (3, "axc"),       # a + x(unk) + c -> 3 tokens, 1 unk
        (4, "xyz"),       # 3 unk
        (5, None),
        (6, ""),
        (7, "   "),
        (8, "ABC ab"),    # lowercased: abc + ab -> 2 words, 2 tokens
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_words, r.n_bpe_tokens, r.n_unk)
        for r in tx.vocab_token_stats(df, vocab=voc).collect()
    }
    assert got == {
        0: (1, 2, 0),
        1: (1, 2, 0),
        2: (1, 2, 0),
        3: (1, 3, 1),
        4: (1, 3, 3),
        5: (0, 0, 0),
        6: (0, 0, 0),
        7: (0, 0, 0),
        8: (2, 2, 0),
    }, got

    # pack pipeline consuming REAL vocab token counts
    packed = sampling.pack_sequences(
        df.withColumn("n_tok", tx.vocab_token_counts(F.col("text"), voc)
                      .getField("n_bpe_tokens")),
        "n_tok", budget=4, order_col="doc_id",
    )
    seqs = {r.doc_id: r.seq_id for r in packed.collect()}
    # cumulative tokens before each doc: 0,2,4,6,9,12,12,12,12
    assert seqs[0] == 0 and seqs[1] == 0 and seqs[2] == 1 and seqs[3] == 1
    assert seqs[4] == 2

    with pytest.raises(ValueError, match="non-empty"):
        tx.vocab_token_stats(df, vocab=["a", ""])


def test_vocab_bulk_form_matches_array_form(spark):
    """The >VOCAB_EXPR_MAX Arrow bulk kernel is output-identical to the
    expression form (round 11 scale path — measured in SCALING.md:
    every native probe container is a per-lookup linear scan, so a 32k
    merge table needs a real hash dict). Pinned by padding the SAME
    semantic vocab over the threshold with inert entries (digits-only
    tokens that never match the letter-only words), which must not
    change a single count; a padding entry that DOES match must change
    counts identically in both forms."""
    from duckdb_ddsketch_spark.operators import text as tx

    base = list(tx.BPE_SUBWORD_VOCAB)
    assert len(base) <= tx.VOCAB_EXPR_MAX
    padded = base + [str(10_000 + i) for i in range(tx.VOCAB_EXPR_MAX + 10)]
    assert len(padded) > tx.VOCAB_EXPR_MAX

    rows = [
        (0, "The nation of information stations mentions this"),
        (1, "Quartz 99 glyphs! vex'd zombies?"),
        (2, "internationalization antidisestablishmentarianism"),
        (3, None),
        (4, ""),
        (5, "the THE tHe theth thethe"),
        (6, "tab\there newline\nthere   spaced"),  # space-only split
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    arr = {
        r.doc_id: (r.n_words, r.n_bpe_tokens, r.n_unk)
        for r in tx.vocab_token_stats(df, vocab=base).collect()
    }
    blk = {
        r.doc_id: (r.n_words, r.n_bpe_tokens, r.n_unk)
        for r in tx.vocab_token_stats(df, vocab=padded).collect()
    }
    assert arr == blk, (arr, blk)
    # a matching padding entry shifts counts the same way in both forms
    # (prove the bulk dict is actually consulted)
    arr2 = {
        r.doc_id: r.n_bpe_tokens
        for r in tx.vocab_token_stats(df, vocab=base + ["theth"]).collect()
    }
    blk2 = {
        r.doc_id: r.n_bpe_tokens
        for r in tx.vocab_token_stats(df, vocab=padded + ["theth"]).collect()
    }
    assert arr2 == blk2, (arr2, blk2)
    assert blk2[5] < blk[5][1]  # 'theth' one token now; 'thethe' = theth+e

    # the pure-expression Column form refuses production vocabs loudly
    with pytest.raises(ValueError, match="VOCAB_EXPR_MAX"):
        tx.vocab_token_counts(F.lit("x"), padded)


def test_vocab_bulk_nonascii_lower_divergence(spark):
    """Document the form='auto' caveat with a concrete pinned row: the
    expr kernel lowercases with the JVM's Unicode tables, the bulk
    kernel with Python's, and the tables are maintained independently —
    on this JVM/Python pair a full-BMP sweep found 5 diverging
    codepoints (e.g. U+A7CB LATIN CAPITAL LETTER RAMS HORN lowers to
    U+0264 in Spark but is untouched by Python). With a vocab
    containing the lowercase form, the SAME document therefore counts
    differently in the two kernels — which is exactly why auto's
    kernel switch at VOCAB_EXPR_MAX is documented as ASCII-exact only,
    and non-ASCII corpora should pin form='bulk'."""
    from duckdb_ddsketch_spark.operators import text as tx

    cap, low = "Ɤ", "ɤ"  # RAMS HORN capital / small rams horn
    jvm_lower = spark.createDataFrame([(cap,)], "t string").select(
        F.lower("t")
    ).first()[0]
    py_lower = cap.lower()
    if jvm_lower == py_lower:  # future JVM/Python pair caught up: caveat gone
        pytest.skip("case tables agree on U+A7CB on this JVM/Python pair")
    assert jvm_lower == low and py_lower == cap
    df = spark.createDataFrame([(0, cap)], "doc_id long, text string")
    vocab = [low]
    ex = tx.vocab_token_stats(df, vocab=vocab, form="expr").first()
    bk = tx.vocab_token_stats(df, vocab=vocab, form="bulk").first()
    # expr: JVM lower maps the char INTO the vocab; bulk: Python lower
    # leaves it out-of-vocab — one word either way, unk differs
    assert (ex.n_words, ex.n_unk) == (1, 0)
    assert (bk.n_words, bk.n_unk) == (1, 1)
    # and for pure-ASCII text the two kernels are identical on the same
    # vocab (the regime the auto switch is exact in)
    adf = spark.createDataFrame([(0, "The RAMS horn")], "doc_id long, text string")
    aex = tx.vocab_token_stats(adf, form="expr").first()
    abk = tx.vocab_token_stats(adf, form="bulk").first()
    assert tuple(aex) == tuple(abk)


def test_vocab_auto_routes_bulk_past_threshold(spark):
    """BPE_SUBWORD_VOCAB_2K (2,054 entries) is past VOCAB_EXPR_MAX, so
    form='auto' must route to the Arrow bulk kernel (the expr fold
    refuses loudly) — the q104/q45-'tokx' driver slot depends on this
    routing, and the vocab must stay quote-free because the DuckDB
    oracle inlines it into SQL IN-lists."""
    from duckdb_ddsketch_spark.operators import text as tx

    v2k = tx.BPE_SUBWORD_VOCAB_2K
    assert len(v2k) == 26 + 676 + 1352 == 2054
    assert len(v2k) > tx.VOCAB_EXPR_MAX
    assert all(("'" not in t) and t.isascii() and t.islower() for t in v2k)
    df = spark.createDataFrame(
        [(0, "the quick brown fox"), (1, None)], "doc_id long, text string"
    )
    auto = tx.vocab_token_stats(df, vocab=v2k)  # form="auto"
    plan = auto._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan, plan[:500]
    got = {r.doc_id: (r.n_words, r.n_bpe_tokens, r.n_unk) for r in auto.collect()}
    blk = {
        r.doc_id: (r.n_words, r.n_bpe_tokens, r.n_unk)
        for r in tx.vocab_token_stats(df, vocab=v2k, form="bulk").collect()
    }
    assert got == blk
    with pytest.raises(ValueError, match="VOCAB_EXPR_MAX"):
        tx.vocab_token_stats(df, vocab=v2k, form="expr").collect()


def test_vocab_token_stats_default_vocab_matches_python(spark):
    """The default BPE_SUBWORD_VOCAB path agrees with a direct python
    implementation of the greedy rule on real-ish text, and is
    partition-invariant (pure map-only expression)."""
    from duckdb_ddsketch_spark.operators import text as tx

    by_len = {}
    for v in tx.BPE_SUBWORD_VOCAB:
        by_len.setdefault(len(v), set()).add(v)
    lens = sorted(by_len, reverse=True)

    def pydoc(t):
        if t is None:
            return (0, 0, 0)
        words = [w for w in t.strip().lower().split() if w]
        n = unk = 0
        for w in words:
            pos = 0
            while pos < len(w):
                step = next(
                    (l for l in lens
                     if len(w[pos:pos + l]) == l and w[pos:pos + l] in by_len[l]),
                    None,
                )
                if step is None:
                    step, unk = 1, unk + 1
                pos += step
                n += 1
        return (len(words), n, unk)

    rows = [
        (0, "The nation of information stations mentions this"),
        (1, "Quartz 99 glyphs! vex'd zombies?"),
        (2, "internationalization antidisestablishmentarianism"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_words, r.n_bpe_tokens, r.n_unk)
        for r in tx.vocab_token_stats(df).collect()
    }
    assert got == {i: pydoc(t) for i, t in rows}, got
    got7 = {
        r.doc_id: (r.n_words, r.n_bpe_tokens, r.n_unk)
        for r in tx.vocab_token_stats(df.repartition(7)).collect()
    }
    assert got == got7


def test_ivf_pq_recall_monotone_in_nprobe(spark):
    """The IVF-PQ posture's recall/nprobe trade-off, measured (round 11,
    VERDICT r10 item 4): on OVERLAPPING clusters (noise comparable to
    center spacing, so a query's exact inner-product top-k crosses cell
    boundaries) recall@k against the exact float ranking is monotone
    non-decreasing in nprobe, reaches the int8 pin's floor (0.9) by
    nprobe=4, and at nprobe=cells equals the full-scan ADC scorer's
    recall exactly — probing every cell IS pq_adc_topk, pinning that the
    composition loses nothing beyond the probe choice."""
    import numpy as np

    from duckdb_ddsketch_spark.operators import similarity as sim

    rng = np.random.RandomState(13)
    d, n_clusters, per = 16, 8, 10
    centers = rng.uniform(-1.0, 1.0, size=(n_clusters, d))
    # noise 0.35 vs typical center spacing ~2.3: clusters overlap enough
    # that nprobe=1 misses real neighbors but the signal survives
    pts = np.concatenate(
        [c + rng.normal(0, 0.35, size=(per, d)) for c in centers]
    )
    df = spark.createDataFrame(
        [
            (i, int(i // per), [float(x) for x in pts[i]])
            for i in range(len(pts))
        ],
        "vec_id long, label int, embedding array<double>",
    ).cache()
    queries = df.where(F.col("vec_id") % 10 == 0)
    k = per - 1

    q_ids = list(range(0, len(pts), 10))
    dots = pts @ pts.T
    exact = {}
    for qi in q_ids:
        order = sorted(
            (i for i in range(len(pts)) if i != qi),
            key=lambda i: (-dots[qi, i], i),
        )
        exact[qi] = set(order[:k])

    books = sim.pq_train(df, m=4, ksub=16, iters=6)
    coded = sim.pq_encode(df, books)

    def topk_sets(out):
        sets = {}
        for r in out.collect():
            sets.setdefault(r.query_id, set()).add(r.neighbor_id)
        return sets

    def recall(approx):
        rs = [len(approx.get(q, set()) & exact[q]) / k for q in exact]
        return sum(rs) / len(rs)

    curve = {
        nprobe: recall(
            topk_sets(sim.ivf_pq_topk(coded, queries, books, k=k, nprobe=nprobe))
        )
        for nprobe in (1, 2, 4, 8)
    }
    assert curve[1] <= curve[2] <= curve[4] <= curve[8], curve
    assert curve[4] >= 0.9, curve  # the int8 pin's floor, by nprobe=4
    # probing all cells = the full-scan ADC scorer, identically
    full = recall(topk_sets(sim.pq_adc_topk(coded, queries, books, k=k)))
    assert curve[8] == full, (curve, full)


def test_pq_blas_forms_bit_identical_to_expression_forms(spark):
    """pq_encode / pq_adc_topk accumulate distances, LUTs, and ADC sums in
    the SAME left-to-right order as the DuckDB mirror's expressions, so
    codes AND float scores equal a plain Python fold over the same frame
    bit for bit — not ulp-close. Also pins the guards: NULL/ragged
    vectors encode as NULL codes and drop out; oversized query sets
    raise."""
    import numpy as np

    from duckdb_ddsketch_spark.operators import similarity as sim

    rng = np.random.RandomState(11)
    pts = rng.uniform(-1.0, 1.0, size=(120, 12))
    rows = [(i, [float(x) for x in pts[i]]) for i in range(len(pts))]
    rows += [(500, None), (501, [0.0] * 5)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = [
        [[float(((j * 5 + c * 3 + t * 7) % 9) - 4) * 0.25 for t in range(4)]
         for c in range(6)]
        for j in range(3)
    ]

    def fold_code(v):
        out = []
        for j, book in enumerate(books):
            ds = []
            for cw in book:
                acc = 0.0
                for t in range(4):
                    d = v[j * 4 + t] - cw[t]
                    acc = acc + d * d
                ds.append(acc)
            out.append(ds.index(min(ds)))  # first minimum
        return out

    def fold_adc(qv, codes):
        score = 0.0
        for j, book in enumerate(books):
            lut = 0.0
            for t in range(4):
                lut = lut + qv[j * 4 + t] * book[codes[j]][t]
            score = score + lut
        return score

    coded = sim.pq_encode(df, books)
    got_codes = {
        r.vec_id: (list(r.pq_codes) if r.pq_codes is not None else None)
        for r in coded.collect()
    }
    assert got_codes[500] is None and got_codes[501] is None
    assert all(got_codes[i] == fold_code(v) for i, v in rows[:120])

    queries = df.where(F.col("vec_id") % 30 == 0)
    got = sorted(
        (r.query_id, r.neighbor_id, float(r.adc), r.rank)
        for r in sim.pq_adc_topk(coded, queries, books, k=5).collect()
    )
    codes = [(i, fold_code(v)) for i, v in rows[:120]]
    want = _ref_topk(codes, [r for r in rows[:120] if r[0] % 30 == 0], 5, fold_adc)
    assert got == want and len(got) == 5 * 4  # bit-exact doubles, 4 queries

    with pytest.raises(ValueError, match="max_query_rows"):
        sim.pq_adc_topk(coded, df, books, k=5, max_query_rows=3)


def test_ivf_pq_topk_composition(spark):
    """IVF-PQ = ivf_topk's probe pruning + pq_adc_topk's scoring: with
    ONE cell (nprobe=1) it returns exactly pq_adc_topk's rows over the
    same codes; with well-separated cells each query's candidates come
    only from its probed cell."""
    import numpy as np

    from duckdb_ddsketch_spark.operators import similarity as sim

    rng = np.random.RandomState(3)
    books = [
        [[float(((j * 5 + c * 3 + t * 7) % 9) - 4) * 0.25 for t in range(4)]
         for c in range(6)]
        for j in range(2)
    ]

    # one cell: identical to the unpruned ADC ranking
    pts = rng.uniform(-1.0, 1.0, size=(60, 8))
    one = spark.createDataFrame(
        [(i, [float(x) for x in pts[i]], 0) for i in range(len(pts))],
        "vec_id long, embedding array<double>, label int",
    )
    coded = sim.pq_encode(one, books)
    queries = one.where(F.col("vec_id") % 20 == 0)
    a = sorted(
        (r.query_id, r.neighbor_id, float(r.adc), r.rank)
        for r in sim.ivf_pq_topk(coded, queries, books, k=5, nprobe=1).collect()
    )
    b = sorted(
        (r.query_id, r.neighbor_id, float(r.adc), r.rank)
        for r in sim.pq_adc_topk(coded, queries, books, k=5).collect()
    )
    assert a == b and len(a) == 5 * 3

    # two separated cells: candidates only from the query's own cell
    far = np.concatenate([pts[:30] + 10.0, pts[30:] - 10.0])
    two = spark.createDataFrame(
        [(i, [float(x) for x in far[i]], int(i >= 30)) for i in range(60)],
        "vec_id long, embedding array<double>, label int",
    )
    coded2 = sim.pq_encode(two, books)
    out = sim.ivf_pq_topk(
        coded2, two.where(F.col("vec_id").isin(0, 35)), books, k=5, nprobe=1
    ).collect()
    for r in out:
        if r.query_id == 0:
            assert r.neighbor_id < 30, r
        else:
            assert r.neighbor_id >= 30, r

    with pytest.raises(ValueError, match="nprobe"):
        sim.ivf_pq_topk(coded, queries, books, nprobe=0)
