"""Tests for the LLM-data-pipeline extension functions: text stats,
dedup (exact / jaccard / minhash / simhash), similarity search."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from yelp_etl_spark.functions import dedup as D
from yelp_etl_spark.functions import similarity as S
from yelp_etl_spark.functions import text as TX


def test_tokens_and_counts(spark):
    df = spark.createDataFrame([("Hello, World! foo_bar 42",)], "text string")
    row = df.select(
        TX.token_count(F.col("text")).alias("n"),
        TX.tokens(F.col("text")).alias("toks"),
    ).collect()[0]
    assert row.toks == ["hello", "world", "foo", "bar", "42"]
    assert row.n == 5


def test_fingerprint_normalization_invariance(spark):
    df = spark.createDataFrame(
        [("The  Quick Brown Fox!!",), ("the quick brown fox",)], "text string"
    )
    fps = [r.fp for r in df.select(TX.fingerprint(F.col("text")).alias("fp")).collect()]
    assert fps[0] == fps[1]


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(3, "same text"), (1, "same text"), (2, "other")], "doc_id long, text string"
    )
    out = {r.keeper_id: r.n_copies for r in D.exact_dedup(df).collect()}
    assert out == {1: 2, 2: 1}


def test_shingles(spark):
    df = spark.createDataFrame([("a b c d",), ("a b",)], "text string")
    rows = df.select(D.shingles(F.col("text"), 3).alias("sh")).collect()
    assert rows[0].sh == ["a b c", "b c d"]
    assert rows[1].sh == []  # too short for 3-grams


def test_ngram_jaccard_identical_docs(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f"), (3, "z y x w v u")],
        "doc_id long, text string",
    )
    pairs = D.ngram_jaccard_pairs(df, n=3, threshold=0.5).collect()
    assert len(pairs) == 1
    assert (pairs[0].id_a, pairs[0].id_b, pairs[0].jaccard) == (1, 2, 1.0)


def test_jaccard_prefix_join_matches_brute_force(spark, sf_dir):
    """Exactness: prefix filtering must reproduce the naive all-pairs
    join verbatim at every threshold (no false negatives is the entire
    contract; false positives are removed by the verify stage)."""
    from yelp_etl_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").limit(120)
    for t in (0.3, 0.6, 0.9):
        brute = sorted(
            map(tuple, D.ngram_jaccard_pairs(docs, n=3, threshold=t).collect())
        )
        pref = sorted(
            map(tuple, D.jaccard_prefix_join(docs, threshold=t, n=3).collect())
        )
        assert pref == brute, f"threshold {t}"


def test_jaccard_prefix_join_prunes_hot_tokens(spark):
    """A token shared by every document must not create candidates when
    it sorts into the suffix: docs sharing ONLY the universal filler
    never reach verification, and output is exactly the true pair."""
    filler = " ".join(f"common{i}" for i in range(10))
    df = spark.createDataFrame(
        [
            (1, f"alpha beta gamma delta epsilon zeta {filler}"),
            (2, f"alpha beta gamma delta epsilon zeta {filler}"),
            (3, f"one two three four five six seven {filler}"),
            (4, f"red green blue cyan magenta yellow {filler}"),
        ],
        "doc_id long, text string",
    )
    pairs = D.jaccard_prefix_join(df, threshold=0.9, n=3).collect()
    assert [(p.id_a, p.id_b, p.jaccard) for p in pairs] == [(1, 2, 1.0)]


def test_minhash_finds_near_duplicates(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    near = base.replace("today", "tomorrow")
    other = "completely different words in this document about spark and parquet files"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], "doc_id long, text string"
    )
    pairs = D.minhash_candidate_pairs(df, n=3, num_hashes=64, bands=16).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in found
    assert (1, 3) not in found and (2, 3) not in found
    est = {(r.id_a, r.id_b): r.est_jaccard for r in pairs}[(1, 2)]
    assert est > 0.5


def test_minhash_deterministic_across_partitioning(spark):
    df = spark.createDataFrame(
        [(i, f"doc {i} shared prefix words here plus suffix {i % 3}") for i in range(12)],
        "doc_id long, text string",
    )
    a = sorted(map(tuple, D.minhash_candidate_pairs(df, 3, 32, 8).collect()))
    b = sorted(map(tuple, D.minhash_candidate_pairs(df.repartition(7), 3, 32, 8).collect()))
    assert a == b


def test_simhash_near_duplicates_close(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = base + " lambda"
    other = "one two three four five six seven eight nine ten eleven twelve"
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], "doc_id long, text string"
    )
    rows = {
        r.doc_id: (r.simhash_hi, r.simhash_lo) for r in D.simhash_sketches(df).collect()
    }

    def ham(a, b):
        return bin(a[0] ^ b[0]).count("1") + bin(a[1] ^ b[1]).count("1")

    assert ham(rows[1], rows[2]) < ham(rows[1], rows[3])


def test_cosine_topk_self_similarity(spark):
    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.9, 0.1, 0.0]),
            (2, [0.0, 1.0, 0.0]),
            (3, [1.0, 0.01, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    out = S.brute_force_topk(df, df.filter(F.col("vec_id") == 0), k=2)
    rows = sorted(out.collect(), key=lambda r: r.rank)
    assert [r.neighbor_id for r in rows] == [3, 1]
    assert rows[0].cosine_sim > 0.99


def test_lsh_topk_recall_on_clustered_vectors(spark):
    # two tight clusters: LSH must retrieve same-cluster neighbors
    import random

    rng = random.Random(7)
    rows = []
    for i in range(30):
        base = [1.0, 0.0, 0.0, 0.0] if i % 2 == 0 else [0.0, 0.0, 0.0, 1.0]
        rows.append((i, [v + rng.gauss(0, 0.05) for v in base]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = S.lsh_topk(df, df.filter(F.col("vec_id") < 2), dim=4, k=3, n_planes=4)
    got = {(r.query_id, r.neighbor_id) for r in out.collect()}
    # every retrieved neighbor shares the query's cluster parity
    assert got and all((q % 2) == (n % 2) for q, n in got)


def test_ivf_topk_recall_on_clustered_vectors(spark):
    """IVF with enough probes must recover brute-force neighbors for
    well-separated clusters."""
    import random

    rng = random.Random(11)
    rows = []
    for i in range(40):
        base = [0.0] * 8
        base[i % 4] = 1.0  # four orthogonal clusters
        rows.append((i, [v + rng.gauss(0, 0.03) for v in base]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = df.filter(F.col("vec_id") < 4)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.brute_force_topk(df, queries, k=3).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in S.ivf_topk(df, queries, k=3, n_centroids=8, n_probe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8


def test_embedding_neardup_symmetry_free_and_thresholded(spark):
    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [1.0, 0.01]),
            (2, [0.0, 1.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    pairs = S.embedding_neardup_pairs(df, threshold=0.9).collect()
    assert {(p.id_a, p.id_b) for p in pairs} == {(0, 1)}  # one direction only
    assert pairs[0].cosine_sim >= 0.99


def test_quality_score_orders_good_above_garbage(spark):
    good = "the cat sat on the mat and it was a good day for everyone in the town"
    garbage = "@@!! ## $$%% ^^&&(( ))__ ++=="
    df = spark.createDataFrame([(1, good), (2, garbage)], "doc_id long, text string")
    scores = {r.doc_id: r.q for r in df.select("doc_id", TX.quality_score(F.col("text")).alias("q")).collect()}
    assert scores[1] > scores[2]


def test_language_scores_prefers_english(spark):
    df = spark.createDataFrame(
        [("the cat and the dog went to the park in the morning",)], "text string"
    )
    row = df.select(TX.language_scores(F.col("text")).alias("m")).collect()[0]
    assert row.m["en"] > row.m["de"] and row.m["en"] > row.m["fr"]


def _py_rolling(text: str, k: int = 8, base: int = 31, mod: int = 1_000_000_007):
    """Host-side reference for the Karp-Rabin rolling hashes."""
    import re

    norm = re.sub(r"\s+", " ", re.sub(r"[^a-z0-9\s]", "", text.lower())).strip()
    codes = [ord(c) for c in norm]
    out = []
    for i in range(len(codes) - k + 1):
        h = 0
        for c in codes[i : i + k]:
            h = (h * base + c) % mod
        out.append(h)
    return out


def test_rolling_hashes_match_python_reference(spark):
    texts = [
        "The quick brown fox jumps over the lazy dog!",
        "short",
        "",
        "  Multiple   spaces\tand\nnewlines  here  ",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, text string")
    got = {
        r.id: r.fps
        for r in df.select("id", TX.rolling_hashes(F.col("text")).alias("fps")).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == _py_rolling(t), f"text {i}"


def test_rolling_fingerprint_stats_matches_column_form(spark):
    texts = [
        "The quick brown fox jumps over the lazy dog, again and again and again.",
        "tiny",
        "Another document with enough characters to produce many windows.",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in TX.rolling_fingerprint_stats(df).collect()}
    for i, t in enumerate(texts):
        ref = _py_rolling(t)
        row = got[i]
        assert row.n_windows == len(ref)
        assert row.fp_min == (min(ref) if ref else None)
        assert row.fp_first == (ref[0] if ref else None)


def test_group_zscore_properties(spark):
    from yelp_etl_spark.functions.udfs import group_zscore

    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 10.0), ("b", 10.0)],
        "g string, v double",
    )
    rows = group_zscore(df, "g", "v").collect()
    a = sorted(r.zscore for r in rows if r.g == "a")
    assert a == [-1.0, 0.0, 1.0]  # mean 2, sample std 1
    b = [r.zscore for r in rows if r.g == "b"]
    # zero variance → NaN in pandas, surfaced as NULL through Arrow
    assert all(z is None or z != z for z in b)


def test_pandas_udf_weighted_mean(spark):
    from yelp_etl_spark.functions.udfs import row_count, weighted_mean

    df = spark.createDataFrame(
        [("x", 2.0, 1.0), ("x", 4.0, 3.0)], "g string, v double, w double"
    )
    row = (
        df.groupBy("g")
        .agg(weighted_mean("v", "w").alias("wm"), row_count("v").alias("n"))
        .collect()[0]
    )
    assert abs(row.wm - (2.0 * 1.0 + 4.0 * 3.0) / 4.0) < 1e-12
    assert row.n == 2


def _uf_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical: min node id per component
    comp = {}
    for x in parent:
        comp[x] = find(x)
    return comp


def test_connected_components_matches_union_find(spark):
    import random

    rng = random.Random(7)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(50)]
    edges = [(a, b) for a, b in edges if a != b]
    edges += [(100 + i, 101 + i) for i in range(10)]  # a diameter-10 chain
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.id: r.component for r in D.connected_components(df).collect()}
    ref = _uf_components(edges)
    # union-find parents must be re-canonicalized to min-of-component
    comp_min = {}
    for node, root in ref.items():
        comp_min.setdefault(root, root)
    groups = {}
    for node, root in ref.items():
        groups.setdefault(root, []).append(node)
    expect = {n: min(g) for root, g in groups.items() for n in g}
    assert got == expect


def test_dedup_keep_canonical(spark):
    df = spark.createDataFrame(
        [(i, f"doc{i}") for i in range(6)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (4, 5)], "id_a long, id_b long"
    )
    kept = sorted(r.doc_id for r in D.dedup_keep_canonical(df, pairs).collect())
    # component {0,1,2} keeps 0; {4,5} keeps 4; 3 untouched
    assert kept == [0, 3, 4]


# ---------------------------------------------------------------------------
# Deterministic hash sampling / train-test split
# ---------------------------------------------------------------------------


def test_deterministic_sample_stable_under_repartition(spark):
    from yelp_etl_spark.functions import sampling as SMP

    df = spark.range(0, 2000).withColumnRenamed("id", "key")
    kept1 = {r.key for r in SMP.deterministic_sample(df, "key", 0.25).collect()}
    kept2 = {
        r.key
        for r in SMP.deterministic_sample(df.repartition(7), "key", 0.25).collect()
    }
    assert kept1 == kept2  # partitioning-independent
    assert 0.18 < len(kept1) / 2000 < 0.32  # ~25%


def test_train_test_split_disjoint_exhaustive(spark):
    from yelp_etl_spark.functions import sampling as SMP

    df = spark.range(0, 1000).withColumnRenamed("id", "key")
    out = SMP.train_test_split(df, "key", 0.8).groupBy("split").count().collect()
    counts = {r.split: r["count"] for r in out}
    assert set(counts) == {"train", "test"}
    assert sum(counts.values()) == 1000  # exhaustive + disjoint
    assert 0.72 < counts["train"] / 1000 < 0.88


def test_fraction_threshold_edges():
    from yelp_etl_spark.functions.sampling import fraction_threshold

    assert fraction_threshold(0.0) == "0000"
    assert fraction_threshold(0.8) == "cccd"
    assert fraction_threshold(1.0) == "gggg"  # sorts after all hex
    assert fraction_threshold(0.9999999) == "gggg"


def test_tfidf_top_terms_small(spark):
    df = spark.createDataFrame(
        [
            (1, "apple banana apple"),
            (2, "banana cherry"),
            (3, "cherry dates dates dates"),
        ],
        "doc_id long, text string",
    )
    rows = TX.tfidf_top_terms(df, "doc_id", "text", k=1).collect()
    top = {r.doc_id: r.term for r in rows}
    # 'banana'/'cherry' appear in 2 docs, 'apple'/'dates' in 1 ->
    # higher idf wins where tf allows.
    assert top == {1: "apple", 2: "banana", 3: "dates"}
    # tf carried through correctly
    tf = {r.doc_id: r.tf for r in rows}
    assert tf == {1: 2, 2: 1, 3: 3}


def test_redact_pii(spark):
    df = spark.createDataFrame(
        [("mail a.b+c@d-e.org ip 10.0.0.1 ssn 123-45-6789 keep 1.5",)],
        "text string",
    )
    out = df.select(TX.redact_pii(F.col("text")).alias("t")).collect()[0].t
    assert out == "mail <EMAIL> ip <IP> ssn <SSN> keep 1.5"


def test_build_vocabulary_ranks_by_freq_then_term(spark):
    df = spark.createDataFrame(
        [("b a a",), ("c b a",)], "text string"
    )
    rows = {r.term: (r.freq, r.term_id) for r in
            TX.build_vocabulary(df).collect()}
    assert rows == {"a": (3, 1), "b": (2, 2), "c": (1, 3)}


def test_hll_mergeable_close_to_exact(spark, sf_dir):
    from yelp_etl_spark.plans.catalog import QUERIES, _t
    import pyspark.sql.functions as SF

    approx = {
        r.n_regionkey: r.approx_customers
        for r in QUERIES["hll_mergeable"].fn(spark, sf_dir).collect()
    }
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    exact = {
        r.n_regionkey: r.n
        for r in customer.join(
            nation, SF.col("c_nationkey") == SF.col("n_nationkey")
        )
        .groupBy("n_regionkey")
        .agg(SF.count_distinct("c_custkey").alias("n"))
        .collect()
    }
    assert set(approx) == set(exact)
    for k, est in approx.items():
        assert abs(est - exact[k]) / exact[k] < 0.05  # HLL error bound


def test_simhash_portable_similarity_property(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "entirely different words about spark engines here"),
        ],
        "doc_id long, text string",
    )
    sk = {r.doc_id: r.simhash16 for r in
          D.simhash_portable(df, n_bits=16).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")
    # near-identical docs are closer than unrelated ones
    assert ham(sk[1], sk[2]) < ham(sk[1], sk[3])
    # deterministic across repartitioning
    sk2 = {r.doc_id: r.simhash16 for r in
           D.simhash_portable(df.repartition(5), n_bits=16).collect()}
    assert sk == sk2


def test_minhash_portable_jaccard_property(spark):
    """Signature agreement rate estimates token-set Jaccard; identical
    docs agree on every signature, disjoint docs on (almost) none."""
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma delta"),
            (3, "epsilon zeta eta theta"),
        ],
        "doc_id long, text string",
    )
    sigs = {r.doc_id: [r[f"sig{i}"] for i in range(8)] for r in
            D.minhash_portable(df).collect()}
    agree = lambda a, b: sum(x == y for x, y in zip(sigs[a], sigs[b]))
    assert agree(1, 2) == 8        # identical sets -> identical signature
    assert agree(1, 3) <= 1        # disjoint sets -> chance agreement only


def test_chunk_documents_windows(spark):
    df = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(1, 51))), (2, "a b")],
        "doc_id long, text string",
    )
    rows = TX.chunk_documents(df, chunk_tokens=30, overlap=10).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 1: 50 tokens, stride 20 -> starts 1, 21, 41
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_idx)
    assert [r.chunk_n_tokens for r in c1] == [30, 30, 10]
    assert c1[0].chunk_text.startswith("t1 ") and c1[1].chunk_text.startswith("t21 ")
    assert c1[2].chunk_text == " ".join(f"t{i}" for i in range(41, 51))
    # short doc: one whole-doc chunk
    assert [(r.chunk_idx, r.chunk_text) for r in by_doc[2]] == [(1, "a b")]


def test_quantize_embeddings_roundtrip(spark):
    df = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25]), (2, [0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    rows = {r.vec_id: r for r in S.quantize_embeddings(df).collect()}
    assert rows[1].q_vec == [64, -127, 32]   # scale 127/1.0
    assert rows[2].q_vec == [0, 0, 0] and rows[2].scale == 0.0
    # reconstruction error bounded by half a quantization step
    for q, v in zip(rows[1].q_vec, [0.5, -1.0, 0.25]):
        assert abs(q / 127.0 - v) <= 0.5 / 127.0


def test_stratified_sample_rates(spark):
    from yelp_etl_spark.functions.sampling import stratified_sample
    from pyspark.sql import functions as SF

    df = spark.range(0, 3000).select(
        SF.col("id").alias("key"),
        (SF.col("id") % 3).cast("string").alias("cls"),
    )
    kept = stratified_sample(df, "key", "cls", {"0": 1.0, "1": 0.2})
    counts = {r.cls: r["count"] for r in kept.groupBy("cls").count().collect()}
    assert counts["0"] == 1000            # fraction 1.0 keeps everything
    assert 120 < counts["1"] < 280        # ~20%
    assert "2" not in counts              # default fraction 0.0


def test_balanced_downsample_caps_groups(spark):
    from yelp_etl_spark.functions.sampling import balanced_downsample
    from pyspark.sql import functions as SF

    df = spark.range(0, 1000).select(
        SF.col("id").alias("key"), (SF.col("id") % 4).alias("grp")
    )
    out = balanced_downsample(df, "key", "grp", per_group=7)
    counts = [r["count"] for r in out.groupBy("grp").count().collect()]
    assert counts == [7, 7, 7, 7]
    # deterministic under repartitioning
    again = balanced_downsample(df.repartition(9), "key", "grp", 7)
    assert {r.key for r in out.collect()} == {r.key for r in again.collect()}


def test_ewma_known_series(spark):
    from yelp_etl_spark.operators.temporal import ewma
    from pyspark.sql import functions as SF

    rows = [("a", i, v) for i, v in enumerate([10.0, 20.0, 30.0])]
    df = spark.createDataFrame(rows, "key string, seq int, value double")
    out = ewma(df, "key", ["seq"], "value", alpha=0.5, span=10)
    got = {r.seq: r.ewma for r in out.collect()}
    # adjust=True EWMA, decay 0.5: weights (0.25, 0.5, 1) at seq=2
    assert abs(got[0] - 10.0) < 1e-12
    assert abs(got[1] - (10 * 0.5 + 20) / 1.5) < 1e-12
    assert abs(got[2] - (10 * 0.25 + 20 * 0.5 + 30) / 1.75) < 1e-12


def test_ewma_span_truncates(spark):
    from yelp_etl_spark.operators.temporal import ewma

    rows = [("a", i, float(i)) for i in range(10)]
    df = spark.createDataFrame(rows, "key string, seq int, value double")
    out = ewma(df, "key", ["seq"], "value", alpha=0.5, span=2)
    got = {r.seq: r.ewma for r in out.collect()}
    # span=2: only the previous row contributes
    assert abs(got[9] - (8 * 0.5 + 9) / 1.5) < 1e-12


def test_pagerank_properties(spark):
    from yelp_etl_spark.functions.graph import pagerank

    # path graph a-b-c: middle node collects the most rank
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "src string, dst string"
    )
    ranks = {r.id: r.rank for r in pagerank(edges, iterations=20).collect()}
    assert abs(sum(ranks.values()) - 1.0) < 1e-9
    assert ranks["b"] > ranks["a"]
    assert abs(ranks["a"] - ranks["c"]) < 1e-9  # symmetry


def test_pagerank_broadcast_paths_equal(spark):
    """The forced-broadcast and shuffle-join (100 TB) iteration paths
    must produce identical ranks — broadcast_state only changes the
    physical join strategy, never the math."""
    from yelp_etl_spark.functions.graph import pagerank

    edges = spark.createDataFrame(
        [(f"n{i}", f"n{(i * 7 + 3) % 40}") for i in range(120)],
        "src string, dst string",
    )
    bcast = {r.id: round(r.rank, 12) for r in
             pagerank(edges, iterations=5, broadcast_state=True).collect()}
    shuf = {r.id: round(r.rank, 12) for r in
            pagerank(edges, iterations=5, broadcast_state=False).collect()}
    assert bcast == shuf
    # auto with a tiny threshold must route to the shuffle path and agree
    auto = {r.id: round(r.rank, 12) for r in
            pagerank(edges, iterations=5, broadcast_state="auto",
                     broadcast_max_state=1).collect()}
    assert auto == shuf


def test_bfs_broadcast_paths_equal(spark):
    from yelp_etl_spark.functions.graph import bfs_distances

    edges = spark.createDataFrame(
        [(f"n{i}", f"n{(i * 3 + 1) % 30}") for i in range(60)],
        "src string, dst string",
    )
    seeds = spark.createDataFrame([("n0",)], "id string")
    bcast = {r.id: r.dist for r in
             bfs_distances(edges, seeds, max_hops=4,
                           broadcast_state=True).collect()}
    shuf = {r.id: r.dist for r in
            bfs_distances(edges, seeds, max_hops=4,
                          broadcast_state=False).collect()}
    assert bcast == shuf


def test_count_min_never_undercounts(spark):
    from pyspark.sql import functions as SF

    from yelp_etl_spark.functions.sketches import (
        cms_estimate,
        cms_merge,
        count_min_sketch,
    )

    # zipf-ish: key k appears k times
    rows = [(k,) for k in range(1, 40) for _ in range(k)]
    df = spark.createDataFrame(rows, "key long")
    sketch = count_min_sketch(df, "key")
    keys = df.select("key").distinct()
    est = {r.key: r.est_count for r in cms_estimate(sketch, keys, "key").collect()}
    for k in range(1, 40):
        assert est[k] >= k  # CMS never undercounts
        assert est[k] <= k + 40  # and is near-exact at this tiny load

    # merging two disjoint halves == sketching the whole
    a = count_min_sketch(df.filter(SF.col("key") < 20), "key")
    b = count_min_sketch(df.filter(SF.col("key") >= 20), "key")
    merged = cms_merge(a, b)
    est2 = {r.key: r.est_count for r in cms_estimate(merged, keys, "key").collect()}
    assert est2 == est


def test_hll_portable_accuracy_and_mergeability(spark):
    """The portable HLL estimate lands within the standard
    1.04/√m ≈ 4.6% band (we allow 3σ) of the exact distinct count, and
    merging per-group sketches by bucket-max equals sketching the
    union directly — cell-for-cell."""
    from pyspark.sql import functions as SF

    from yelp_etl_spark.functions.sketches import (
        hll_portable_estimate,
        hll_portable_merge,
        hll_portable_sketch,
    )

    n = 20_000
    df = spark.range(n).select(
        SF.lit("g").alias("g"), (SF.col("id") % 2).alias("half"), "id"
    )
    regs = hll_portable_sketch(df, "id", ["g"])
    est = hll_portable_estimate(regs, ["g"]).collect()[0]
    assert abs(est.est_distinct - n) / n < 3 * 1.04 / (512 ** 0.5)
    # mergeability: per-half registers merged == whole-table registers
    halves = hll_portable_sketch(df, "id", ["g", "half"])
    merged = hll_portable_merge(halves, ["g"])
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, regs.collect())
    )
    # duplicates don't move the sketch: distinct-ness is structural
    regs_dup = hll_portable_sketch(df.union(df), "id", ["g"])
    assert sorted(map(tuple, regs_dup.collect())) == sorted(
        map(tuple, regs.collect())
    )


def test_interval_overlap_join_matches_naive(spark):
    import random

    from pyspark.sql import functions as SF

    from yelp_etl_spark.operators.temporal import interval_overlap_join

    rng = random.Random(7)
    base = 1_700_000_000
    mk = lambda n, p: spark.createDataFrame(
        [
            (
                rng.randrange(3),
                i,
                base + rng.randrange(0, 7200),
                rng.randrange(1, 3600),
            )
            for i in range(n)
        ],
        f"user_id long, {p}_id long, s long, dur long",
    ).select(
        "user_id",
        f"{p}_id",
        SF.timestamp_seconds(SF.col("s")).alias(f"{p}_start"),
        SF.timestamp_seconds(SF.col("s") + SF.col("dur")).alias(f"{p}_end"),
    )
    left, right = mk(60, "l"), mk(60, "r")
    got = {
        (r.l_id, r.r_id)
        for r in interval_overlap_join(left, right, "user_id", 600).collect()
    }
    naive = {
        (r.l_id, r.r_id)
        for r in left.join(right, "user_id")
        .filter(
            (SF.col("l_start") < SF.col("r_end"))
            & (SF.col("r_start") < SF.col("l_end"))
        )
        .collect()
    }
    assert got == naive
    assert len(naive) > 0


def test_split_chunks_udtf(spark):
    from yelp_etl_spark.functions.udfs import register_split_chunks_udtf

    register_split_chunks_udtf(spark)
    spark.createDataFrame(
        [(1, "abcdefghij"), (2, "xy"), (3, None)], "doc_id int, text string"
    ).createOrReplaceTempView("udtf_docs")
    rows = spark.sql(
        "SELECT d.doc_id, c.chunk_id, c.chunk "
        "FROM udtf_docs d, LATERAL split_chunks(d.text, 4) c"
    ).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append((r.chunk_id, r.chunk))
    assert [c for _, c in sorted(by_doc[1])] == ["abcd", "efgh", "ij"]
    assert [c for _, c in sorted(by_doc[2])] == ["xy"]
    assert 3 not in by_doc  # NULL text expands to zero rows


def test_bfs_distances_path_graph(spark):
    from yelp_etl_spark.functions.graph import bfs_distances

    # path 0-1-2-3-4-5 plus disconnected pair 10-11
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (10, 11)],
        "src long, dst long",
    )
    seeds = spark.createDataFrame([(0,)], "id long")
    got = {r.id: r.dist for r in bfs_distances(edges, seeds, max_hops=3).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}  # depth-bounded, 10/11 unreached


def test_bfs_distances_multi_seed_shortest(spark):
    from yelp_etl_spark.functions.graph import bfs_distances

    # cycle 0-1-2-3-0: from seeds {0}, node 2 is 2 hops either way;
    # with seeds {0, 2} everything is within 1 hop
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 0)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(0,), (2,)], "id long")
    got = {r.id: r.dist for r in bfs_distances(edges, seeds, max_hops=4).collect()}
    assert got == {0: 0, 2: 0, 1: 1, 3: 1}


def test_bfs_early_exit_on_exhausted_frontier(spark):
    from yelp_etl_spark.functions.graph import bfs_distances

    edges = spark.createDataFrame([(0, 1)], "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "id long")
    # max_hops far beyond the graph diameter must not loop or error
    got = {r.id: r.dist for r in bfs_distances(edges, seeds, max_hops=20).collect()}
    assert got == {0: 0, 1: 1}


def test_encode_node_ids_dense_bijective_structure_preserving(spark):
    from yelp_etl_spark.functions.graph import encode_node_ids

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("x", "y"), ("a", "c")],
        "src string, dst string",
    )
    encoded, mapping = encode_node_ids(edges, num_partitions=3)
    m = {r.node: r.node_idx for r in mapping.collect()}
    # dense [0, |V|) and bijective
    assert sorted(m.values()) == list(range(5))
    assert len(set(m.keys())) == 5
    # edges re-expressed exactly through the mapping (isomorphism)
    got = {(r.src, r.dst) for r in encoded.collect()}
    want = {
        (m[s], m[d])
        for s, d in [("a", "b"), ("b", "c"), ("c", "a"), ("x", "y"), ("a", "c")]
    }
    assert got == want
    assert dict(encoded.dtypes) == {"src": "bigint", "dst": "bigint"}


def test_weighted_sample_deterministic_and_weight_biased(spark):
    from yelp_etl_spark.functions.sampling import weighted_sample

    # 1000 heavy (w=10) + 1000 light (w=1) keys
    rows = [(f"h{i}", 10.0) for i in range(1000)] + [
        (f"l{i}", 1.0) for i in range(1000)
    ]
    df = spark.createDataFrame(rows, "key string, wt double")
    got = [r.key for r in weighted_sample(df, "key", "wt", 200).collect()]
    again = [
        r.key
        for r in weighted_sample(df.repartition(13), "key", "wt", 200).collect()
    ]
    assert sorted(got) == sorted(again)  # partitioning-invariant
    heavy = sum(k.startswith("h") for k in got)
    # E[heavy] ≈ 183 of 200 under w=10:1; far from the unweighted 100
    assert heavy > 150


def test_weighted_sample_excludes_nonpositive_and_plans_topk(spark):
    from yelp_etl_spark.functions.sampling import weighted_sample

    df = spark.createDataFrame(
        [("a", 1.0), ("b", 0.0), ("c", -2.0), ("d", 5.0)], "key string, wt double"
    )
    picked = {r.key for r in weighted_sample(df, "key", "wt", 10).collect()}
    assert picked == {"a", "d"}
    plan = weighted_sample(df, "key", "wt", 2)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_bitmap_distinct_bucket_identity(spark):
    """bit i of bucket 0 and bit i of bucket 1 are DIFFERENT ids: ids
    0 and 1 land on (bucket 0, pos 0) and (bucket 1, pos 0), so an
    or_agg across buckets would alias them (counts 1); grouping by
    bucket and summing counts them correctly."""
    wrong = spark.sql(
        """SELECT bitmap_count(bitmap_or_agg(bm)) nd FROM (
             SELECT bitmap_bucket_number(k) bkt,
                    bitmap_construct_agg(bitmap_bit_position(k)) bm
             FROM (VALUES (0),(1)) t(k) GROUP BY 1)"""
    ).first()[0]
    right = spark.sql(
        """SELECT SUM(bitmap_count(bm)) nd FROM (
             SELECT bitmap_bucket_number(k) bkt,
                    bitmap_construct_agg(bitmap_bit_position(k)) bm
             FROM (VALUES (0),(1)) t(k) GROUP BY 1)"""
    ).first()[0]
    assert wrong == 1 and right == 2


def test_bitmap_merge_split_equals_whole(spark):
    """Mergeability: per-half partial bitmaps OR-merged per bucket give
    the same distinct count as one pass over the whole."""
    whole = spark.sql(
        """SELECT SUM(bitmap_count(bm)) FROM (
             SELECT bitmap_bucket_number(k) bkt,
                    bitmap_construct_agg(bitmap_bit_position(k)) bm
             FROM (SELECT explode(sequence(0, 99999)) k) GROUP BY 1)"""
    ).first()[0]
    merged = spark.sql(
        """SELECT SUM(bitmap_count(bm)) FROM (
             SELECT bkt, bitmap_or_agg(bm) bm FROM (
               SELECT k % 2 half, bitmap_bucket_number(k) bkt,
                      bitmap_construct_agg(bitmap_bit_position(k)) bm
               FROM (SELECT explode(sequence(0, 99999)) k) GROUP BY 1, 2)
             GROUP BY 1)"""
    ).first()[0]
    assert whole == merged == 100000


def test_embedding_neardup_lsh_recall_and_precision(spark):
    """Banded-LSH near-dup: exact verification means NO false positives
    (every emitted pair is truly over threshold), and at a high
    threshold with 8x8 bands recall on planted near-dup pairs is high
    (analytic recall 1-(1-p^8)^8 ~= 0.97 at cosine 0.98)."""
    import random

    rng = random.Random(13)
    rows = []
    planted = set()
    for i in range(40):
        base = [rng.gauss(0, 1) for _ in range(16)]
        rows.append((2 * i, base))
        # near-duplicate twin: tiny perturbation, cosine ~0.99+
        rows.append((2 * i + 1, [v + rng.gauss(0, 0.02) for v in base]))
        planted.add((2 * i, 2 * i + 1))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    exact = {
        (r.id_a, r.id_b)
        for r in S.embedding_neardup_pairs(df, threshold=0.97).collect()
    }
    approx_rows = S.embedding_neardup_pairs_lsh(
        df, dim=16, threshold=0.97, n_bands=8, n_bits=8, seed=42
    ).collect()
    approx = {(r.id_a, r.id_b) for r in approx_rows}

    # precision 1.0: candidates are exactly verified
    assert approx <= exact
    # all emitted sims really meet the threshold
    assert all(r.cosine_sim >= 0.97 for r in approx_rows)
    # recall on the planted twins
    found = len(planted & approx) / len(planted)
    assert found >= 0.85, f"recall {found}"


def test_lsh_params_scale_with_corpus_size():
    from yelp_etl_spark.functions.similarity import lsh_params_for

    _, bits_small = lsh_params_for(1_000)
    _, bits_big = lsh_params_for(1_000_000)
    _, bits_huge = lsh_params_for(10_000_000_000)
    assert bits_small < bits_big < bits_huge
    assert bits_huge <= 30
    # bucket occupancy stays ~target: N / 2^bits in [target/2, target]
    for n in (10_000, 10_000_000, 1_000_000_000):
        _, bits = lsh_params_for(n, target_bucket_size=64)
        occ = n / 2**bits
        assert 32 <= occ <= 64.0001


def test_pq_topk_recall_on_clustered_vectors(spark):
    """Shortlist recall — the property PQ actually provides: vectors
    quantizing to the same codes score identically under ADC (the
    within-cluster order collapses by design), so exactness is judged
    on the SHORTLIST: brute-force top-3 must sit inside the PQ top-9,
    which is precisely the candidates the production re-rank
    (brute_force_topk over survivors) would then order exactly. Also:
    retrieved neighbors share the query's cluster, ranks contiguous."""
    import random

    rng = random.Random(13)
    rows = []
    for i in range(40):
        base = [0.0] * 8
        base[i % 4] = 1.0  # four orthogonal clusters
        rows.append((i, [v + rng.gauss(0, 0.03) for v in base]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = df.filter(F.col("vec_id") < 4)
    exact3 = {}
    for r in S.brute_force_topk(df, queries, k=3).collect():
        exact3.setdefault(r.query_id, set()).add(r.neighbor_id)
    got = S.pq_topk(df, queries, k=9, m=4, nbits=4).collect()
    shortlist = {}
    for r in got:
        shortlist.setdefault(r.query_id, set()).add(r.neighbor_id)
    for q, want in exact3.items():
        assert want <= shortlist[q], (q, want, shortlist[q])
    assert all((r.query_id % 4) == (r.neighbor_id % 4) for r in got)
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in by_q.values())


def test_pq_topk_deterministic_across_partitioning(spark):
    import random

    rng = random.Random(5)
    rows = [
        (i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter(F.col("vec_id") < 3)
    a = sorted(map(tuple, S.pq_topk(df, q, k=4, m=4).collect()))
    b = sorted(map(tuple, S.pq_topk(df.repartition(7), q, k=4, m=4).collect()))
    assert a == b


def test_pq_topk_query_cap_enforced(spark):
    """The driver-held ADC LUT design requires a bounded query side —
    exceeding max_query_rows must raise, never silently collect."""
    import pytest as _pytest

    rows = [(i, [float(i % 5), 1.0, 0.0, 2.0]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.filter(F.col("vec_id") < 10)
    with _pytest.raises(ValueError, match="max_query_rows"):
        S.pq_topk(df, q, k=3, m=2, max_query_rows=5)
    # at exactly the cap it runs
    assert S.pq_topk(df, q, k=3, m=2, max_query_rows=10).count() > 0


def test_histogram_quantiles_within_one_bin_width(spark, sf_dir):
    """The equi-width-histogram quantile estimator's error bound: every
    estimate lies within one bin width of the exact percentile; and the
    merge of two disjoint-half histograms equals the single-pass one."""
    from yelp_etl_spark.functions.sketches import (
        fixed_histogram,
        histogram_quantiles,
    )
    from yelp_etl_spark.sources.readers import load_table

    lo, hi, bins = 900.0, 105000.0, 64
    width = (hi - lo) / bins
    li = load_table(spark, sf_dir, "lineitem")
    whole = fixed_histogram(li, "l_extendedprice", lo, hi, bins)
    half_a = fixed_histogram(
        li.filter(F.col("l_orderkey") % 2 == 0), "l_extendedprice", lo, hi, bins
    )
    half_b = fixed_histogram(
        li.filter(F.col("l_orderkey") % 2 == 1), "l_extendedprice", lo, hi, bins
    )
    merged = (
        half_a.unionByName(half_b).groupBy("bin").agg(F.sum("cnt").alias("cnt"))
    )
    assert sorted(map(tuple, whole.collect())) == sorted(map(tuple, merged.collect()))

    qs = [0.5, 0.9, 0.99]
    est = {r.q: r.est for r in histogram_quantiles(whole, qs, lo, hi, bins).collect()}
    exact = li.agg(
        F.percentile("l_extendedprice", F.array(*[F.lit(q) for q in qs]))
    ).collect()[0][0]
    for q, ex in zip(qs, exact):
        assert abs(est[q] - ex) <= width, (q, est[q], ex)


def test_incremental_dedup_flags_cross_batch_duplicate(spark):
    """A new-batch doc identical to an index doc must be flagged with
    the index doc as match; a novel doc must pass clean. The index is
    probed by band equi-join only — no historical text re-read."""
    from yelp_etl_spark.functions.dedup import (
        incremental_dedup_against_index,
        minhash_band_index,
        minhash_portable,
    )

    existing = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "an entirely different historical document body"),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog"),  # dup of 1
            (11, "completely novel content never seen before zz"),
        ],
        "doc_id long, text string",
    )
    index = minhash_band_index(minhash_portable(existing))
    out = {
        r.doc_id: (r.is_dup, r.match_id)
        for r in incremental_dedup_against_index(
            index, minhash_portable(batch)
        ).collect()
    }
    assert out[10] == (1, 1)
    assert out[11] == (0, None)


def test_pmi_collocations_ranks_attracted_pairs(spark):
    """A pair that always co-occurs gets higher PMI than one whose
    components are frequent but independent; counts are exact."""
    from yelp_etl_spark.functions.text import pmi_collocations

    # "san francisco" always adjacent; "the cat" / "the dog" mix freely.
    rows = [(i, "san francisco " + ("the cat " if i % 2 else "the dog ") * 3)
            for i in range(1, 11)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = pmi_collocations(df, min_count=2, top_k=50).collect()
    by_pair = {(r.a, r.b): r for r in out}
    assert by_pair[("san", "francisco")].n_ab == 10
    # san→francisco is deterministic (PMI = ln(n_total/n_ab-ish) high);
    # the→cat splits "the" slot mass with the→dog → strictly lower PMI.
    assert by_pair[("san", "francisco")].pmi > by_pair[("the", "cat")].pmi
    # position-specific marginal consistency: sum over b of n_ab = n_a
    # implies PMI(the,cat)=ln(1/p(cat|second-slot-given-the))... check
    # determinism across partitionings instead (the engine contract).
    a = sorted(map(tuple, pmi_collocations(df.repartition(7), min_count=2, top_k=50).collect()))
    b = sorted(map(tuple, out))
    assert a == b


def test_bigram_nll_flags_atypical_transitions(spark):
    """Documents made of corpus-typical transitions score lower than a
    document whose bigrams are rare, even when unigram frequencies are
    identical — the signal unigram_nll cannot see."""
    from yelp_etl_spark.functions.text import bigram_nll

    # corpus dominated by the chain "a b a b ..."; doc 99 uses the
    # same tokens but reversed transitions ("b a") plus "a a" pairs
    rows = [(i, "a b " * 10) for i in range(10)] + [(99, "a a b b a a b b")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.avg_nll for r in bigram_nll(df).collect()}
    assert out[99] > out[0]
    a = sorted(map(tuple, bigram_nll(df.repartition(5)).collect()))
    b = sorted(map(tuple, bigram_nll(df).collect()))
    assert a == b


def test_sssp_weighted_prefers_cheap_two_hop_path(spark):
    """Bellman-Ford relaxation: a 2-edge path of total weight 3 beats
    the direct weight-10 edge; seeds at 0; rounds bound path length."""
    from yelp_etl_spark.functions.graph import sssp_weighted

    edges = spark.createDataFrame(
        [(1, 4, 10), (1, 2, 1), (2, 4, 2), (4, 5, 1)], "src long, dst long, w long"
    )
    seeds = spark.createDataFrame([(1,)], "id long")
    out = {r.id: r.dist for r in sssp_weighted(edges, seeds, rounds=3).collect()}
    assert out == {1: 0, 2: 1, 4: 3, 5: 4}
    # one round only: direct edge wins (path of <=1 edge)
    one = {r.id: r.dist for r in sssp_weighted(edges, seeds, rounds=1).collect()}
    assert one[4] == 10
    # partitioning-independent
    a = sorted(sssp_weighted(edges.repartition(3), seeds, rounds=3).collect())
    assert a == sorted(out.items())


def test_rrf_fuse_rewards_cross_list_consensus(spark):
    """A doc ranked mid in BOTH lists outfuses a doc that tops one
    list but misses the other (RRF's defining property at k=60), and
    component ranks survive into the output."""
    from yelp_etl_spark.functions.similarity import rrf_fuse

    l0 = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], "doc_id long, rank long")
    l1 = spark.createDataFrame([(9, 1), (2, 2), (3, 3)], "doc_id long, rank long")
    out = rrf_fuse([l0, l1], top_k=10).collect()
    by_id = {r.doc_id: r for r in out}
    # doc 2: 1/62 + 1/62 > doc 1: 1/61 + 0
    assert by_id[2].rrf > by_id[1].rrf > 0
    assert by_id[1].rank_1 is None and by_id[1].rank_0 == 1
    assert out[0].doc_id == 2
    a = sorted(map(tuple, rrf_fuse([l0.repartition(3), l1], top_k=10).collect()))
    assert a == sorted(map(tuple, out))


def test_contrastive_pairs_triplet_invariants(spark):
    """Positives are near-dups, negatives never are: the negative is
    deterministic, differs from both anchor and positive, and is not
    itself a near-dup of the anchor."""
    from yelp_etl_spark.functions.dedup import contrastive_pairs, ngram_jaccard_pairs

    import hashlib

    def bkt(doc_id: int, n_buckets: int) -> int:
        h = hashlib.md5(str(doc_id).encode()).hexdigest()
        return int(h[17:32], 16) % n_buckets

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, f"unrelated document number {i} about topic {i} entirely "
                f"distinct vocabulary item{i}") for i in range(3, 20)
            if i not in (5, 8)]
    # near-dup pair at ids (5, 8): bkt(5)=1 -> next bucket 2, whose min
    # is 9 (an unrelated doc) -> a valid negative by construction
    rows += [(5, base), (8, base + " extra")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    n_buckets = 4
    trip = contrastive_pairs(df, n=3, threshold=0.2, n_buckets=n_buckets).collect()
    pos_pairs = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(df, n=3, threshold=0.2).collect()
    }
    assert (5, 8) in pos_pairs
    # expected triplets computed independently in python
    mins: dict[int, int] = {}
    for i, _ in rows:
        b = bkt(i, n_buckets)
        mins[b] = min(mins.get(b, i), i)
    sym = pos_pairs | {(b, a) for a, b in pos_pairs}
    expected = set()
    for a_, p_ in pos_pairs:
        nb = (bkt(a_, n_buckets) + 1) % n_buckets
        neg = mins.get(nb)
        if neg is not None and neg not in (a_, p_) and (a_, neg) not in sym:
            expected.add((a_, p_, neg))
    got = {(r.anchor, r.positive, r.negative) for r in trip}
    assert got == expected and expected  # non-empty by construction
    a = sorted(map(tuple, contrastive_pairs(df.repartition(3), n=3, threshold=0.2, n_buckets=n_buckets).collect()))
    assert a == sorted(map(tuple, trip))


def test_personalized_pagerank_concentrates_near_seeds(spark):
    """With restart to a seed set, nodes adjacent to seeds outrank
    equally-connected nodes far from them; the uniform variant ranks
    the two symmetric halves identically."""
    from yelp_etl_spark.functions.graph import pagerank

    # two identical 3-node paths: 1-2-3 and 11-12-13; seed at node 1
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (11, 12), (12, 13)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,)], "id long")
    ppr = {r.id: r.rank for r in pagerank(edges, iterations=8, personalization=seeds).collect()}
    assert ppr[2] > ppr[12]  # neighbor of seed beats its mirror
    assert ppr[1] > ppr[11]
    # uniform pagerank treats the mirrors identically
    pr = {r.id: r.rank for r in pagerank(edges, iterations=8).collect()}
    assert round(pr[2], 9) == round(pr[12], 9)
    # determinism across partitionings
    a = sorted(pagerank(edges.repartition(3), iterations=8, personalization=seeds).collect())
    b = sorted(pagerank(edges, iterations=8, personalization=seeds).collect())
    assert [(i, round(r, 9)) for i, r in a] == [(i, round(r, 9)) for i, r in b]


def test_als_rank2_matches_numpy_reference(spark):
    """The distributed rank-2 ALS reproduces a literal numpy replay of
    the same quantized algebra (exact integer moments, double adjugate
    solve, floor to micro grid) — pinning the whole trajectory, and
    the factorization actually fits: round-2 reconstruction error is
    below round-0's."""
    import hashlib

    import numpy as np

    from yelp_etl_spark.functions.recommend import (
        LAM_SCALED,
        als_rank2,
    )

    ratings = [
        (u, i, 1 + ((u * 7 + i * 3) % 5))
        for u in range(40)
        for i in range(8)
        if (u + i) % 3 != 0
    ]
    df = spark.createDataFrame(ratings, "u long, i long, r long")

    def h60_slice(v, lo, n):
        return int(hashlib.md5(str(v).encode()).hexdigest()[lo : lo + n], 16)

    items = sorted({i for _, i, _ in ratings})
    users = sorted({u for u, _, _ in ratings})
    q = {
        i: (1_000_000, 100_000 + h60_slice(i, 17, 15) % 500_000) for i in items
    }

    def solve(fixed, by_key, get_pairs):
        out = {}
        for k in by_key:
            a = b = c = d1 = d2 = 0
            for other, r in get_pairs(k):
                q1, q2 = fixed[other]
                a += q1 * q1
                b += q1 * q2
                c += q2 * q2
                d1 += r * q1
                d2 += r * q2
            af, cf = float(a + LAM_SCALED), float(c + LAM_SCALED)
            bf, d1f, d2f = float(b), float(d1), float(d2)
            det = af * cf - bf * bf
            out[k] = (
                int(np.floor(1e12 * (cf * d1f - bf * d2f) / det)),
                int(np.floor(1e12 * (af * d2f - bf * d1f) / det)),
            )
        return out

    by_user = {u: [(i, r) for uu, i, r in ratings if uu == u] for u in users}
    by_item = {i: [(u, r) for u, ii, r in ratings if ii == i] for i in items}
    for _ in range(2):
        p = solve(q, users, lambda u: by_user[u])
        q = solve(p, items, lambda i: [(u, r) for u, r in by_item[i]])

    got = {
        r.item: (r.q1, r.q2)
        for r in als_rank2(df, "u", "i", "r", iterations=2).collect()
    }
    assert got == q

    # fit check: reconstruction improves over the init
    def err(qt, pt):
        s = 0.0
        for u, i, r in ratings:
            pred = (pt[u][0] * qt[i][0] + pt[u][1] * qt[i][1]) / 1e12
            s += (r - pred) ** 2
        return s

    q0 = {i: (1_000_000, 100_000 + h60_slice(i, 17, 15) % 500_000) for i in items}
    p0 = solve(q0, users, lambda u: by_user[u])
    assert err(q, solve(q, users, lambda u: by_user[u])) < err(q0, p0)


# ---------------------------------------------------------------------------
# label_propagation (community detection)
# ---------------------------------------------------------------------------


def test_label_propagation_two_cliques(spark):
    from yelp_etl_spark.functions.graph import label_propagation

    # two triangles bridged by one edge: LPA with smallest-label
    # tie-break labels each triangle by its minimum node id
    tri1 = [(1, 2), (2, 3), (1, 3)]
    tri2 = [(10, 11), (11, 12), (10, 12)]
    edges = spark.createDataFrame(tri1 + tri2, "src long, dst long")
    labels = {
        r["id"]: r["label"]
        for r in label_propagation(edges, iterations=4).collect()
    }
    assert {labels[1], labels[2], labels[3]} == {1}
    assert {labels[10], labels[11], labels[12]} == {10}


def test_label_propagation_deterministic_across_partitionings(spark):
    from yelp_etl_spark.functions.graph import label_propagation

    edges = spark.createDataFrame(
        [(i, (i * 7) % 23) for i in range(23) if i != (i * 7) % 23],
        "src long, dst long",
    )
    a = sorted(
        map(tuple, label_propagation(edges, iterations=3).collect())
    )
    b = sorted(
        map(
            tuple,
            label_propagation(edges.repartition(7), iterations=3).collect(),
        )
    )
    assert a == b


def test_label_propagation_multi_edges_do_not_weight_votes(spark):
    from yelp_etl_spark.functions.graph import label_propagation

    # node 3 has neighbors 1 (duplicated edge) and 2; dedup means the
    # vote is a tie and the SMALLEST label wins
    edges = spark.createDataFrame(
        [(1, 3), (1, 3), (1, 3), (2, 3)], "src long, dst long"
    )
    labels = {
        r["id"]: r["label"]
        for r in label_propagation(edges, iterations=1).collect()
    }
    assert labels[3] == 1  # smallest neighbor label, not multiplicity


# ---------------------------------------------------------------------------
# boosted_stumps (GBDT under squared loss)
# ---------------------------------------------------------------------------


def test_boosted_stumps_recovers_planted_step(spark):
    from yelp_etl_spark.functions.classify import boosted_stumps

    # y = 100 when f <= 10 else 500 (centi units): the stump must find
    # the planted threshold and the exact leaf means, with zero SSE
    rows = [(f, 100 if f <= 10 else 500) for f in range(1, 21)] * 5
    df = spark.createDataFrame(rows, "f long, y long")
    out = boosted_stumps(df, "y", [("f", [5, 10, 15])]).collect()
    assert len(out) == 1
    r = out[0]
    assert r["threshold"] == 10
    assert r["leaf_lo"] == 100 and r["leaf_hi"] == 500
    assert r["n_lo"] == 50 and r["n_hi"] == 50
    assert r["train_sse"] == 0


def test_boosted_stumps_second_round_fits_residuals(spark):
    from yelp_etl_spark.functions.classify import boosted_stumps

    # additive signal: y = 200·(f1 > 5) + 40·(f2 > 2); two rounds on
    # (f1, f2) must drive SSE to zero exactly
    rows = [
        (f1, f2, (200 if f1 > 5 else 0) + (40 if f2 > 2 else 0))
        for f1 in range(1, 11)
        for f2 in range(1, 6)
    ]
    df = spark.createDataFrame(rows, "f1 long, f2 long, y long")
    out = {
        r["round"]: r
        for r in boosted_stumps(
            df, "y", [("f1", [3, 5, 7]), ("f2", [1, 2, 3])]
        ).collect()
    }
    assert out[1]["threshold"] == 5
    assert out[2]["threshold"] == 2
    assert out[2]["train_sse"] == 0
    # SSE decreases monotonically across rounds
    assert out[2]["train_sse"] <= out[1]["train_sse"]


def test_boosted_stumps_negative_residual_floor_is_portable(spark):
    from yelp_etl_spark.functions.classify import boosted_stumps

    # leaf means that are negative and non-integral exercise the
    # floor-via-shift path: floor(-7/2) = -4, NOT the -3 a
    # truncate-toward-zero would give
    df = spark.createDataFrame(
        [(1, -7), (1, 0), (2, 5)], "f long, y long"
    )
    out = boosted_stumps(df, "y", [("f", [1])]).collect()[0]
    assert out["leaf_lo"] == -4  # floor(-7/2)
    assert out["leaf_hi"] == 5


def test_k_core_peels_tail_keeps_clique(spark):
    from yelp_etl_spark.functions.graph import k_core

    # K4 clique (1-4) with a pendant chain 4-5-6: the 3-core is the
    # clique alone; the chain peels off within two rounds
    clique = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    chain = [(4, 5), (5, 6)]
    edges = spark.createDataFrame(clique + chain, "src long, dst long")
    nodes, _ = k_core(edges, k=3, rounds=4)
    got = {r["id"]: r["degree"] for r in nodes.collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_k_core_cascading_peel_needs_multiple_rounds(spark):
    from yelp_etl_spark.functions.graph import k_core

    # path graph: 2-core of a path is empty, but only after the peel
    # cascades inward one layer per round
    path = [(i, i + 1) for i in range(1, 8)]
    edges = spark.createDataFrame(path, "src long, dst long")
    nodes, converged = k_core(edges, k=2, rounds=1)
    assert nodes.count() > 0 and converged is False  # not yet converged
    nodes, converged = k_core(edges, k=2, rounds=4)
    assert nodes.count() == 0  # fully peeled
    # the 4th peel empties the graph; the fixpoint is observed one round
    # later, when the surviving-edge count (0) repeats
    assert converged is False
    assert k_core(edges, k=2, rounds=5)[1] is True


def test_k_core_counts_each_undirected_edge_once(spark):
    from yelp_etl_spark.functions.graph import k_core

    # K4 listed in both directions plus a repeated edge, a pendant edge
    # 4-5 and a self-loop on 5: every undirected edge counts once, a
    # self-loop once
    clique = [(a, b) for a in range(1, 5) for b in range(1, 5) if a != b]
    edges = spark.createDataFrame(
        clique + [(1, 2), (4, 5), (5, 5)], "src long, dst long"
    )
    nodes, converged = k_core(edges, k=3, rounds=4)
    assert {r["id"]: r["degree"] for r in nodes.collect()} == {
        1: 3, 2: 3, 3: 3, 4: 3,
    }
    assert converged is True
    nodes, _ = k_core(edges, k=2, rounds=4)
    assert {r["id"]: r["degree"] for r in nodes.collect()} == {
        1: 3, 2: 3, 3: 3, 4: 4, 5: 2,
    }


def test_temporal_reachability_respects_time(spark):
    from yelp_etl_spark.functions.graph import temporal_reachability

    # 1 -(t5)-> 2 -(t3)-> 3 : static BFS reaches 3, but the 2->3 edge
    # (t3) predates the arrival at 2 (t5) — temporally unreachable.
    # 1 -(t5)-> 2 -(t7)-> 4 works.
    edges = spark.createDataFrame(
        [(1, 2, 5), (2, 3, 3), (2, 4, 7)], "src long, dst long, ts long"
    )
    seeds = spark.createDataFrame([(1, 0)], "id long, t0 long")
    got = {
        r["id"]: r["arrival"]
        for r in temporal_reachability(edges, seeds, rounds=3).collect()
    }
    assert got == {1: 0, 2: 5, 4: 7}


def test_temporal_reachability_earliest_arrival_wins(spark):
    from yelp_etl_spark.functions.graph import temporal_reachability

    # two paths to 3: late direct (t9) vs early two-hop (t1 then t2)
    edges = spark.createDataFrame(
        [(1, 3, 9), (1, 2, 1), (2, 3, 2)], "src long, dst long, ts long"
    )
    seeds = spark.createDataFrame([(1, 0)], "id long, t0 long")
    got = {
        r["id"]: r["arrival"]
        for r in temporal_reachability(edges, seeds, rounds=3).collect()
    }
    assert got[3] == 2  # earliest arrival, not first found


def test_markov_attribution_credits_the_converting_channel(spark):
    from yelp_etl_spark.functions.attribution import (
        markov_removal_attribution,
    )

    # user 1: view -> click -> purchase; user 2: error -> (no purchase)
    rows = [
        (1, 1, "2024-01-01 00:00:00", "view"),
        (2, 1, "2024-01-01 00:01:00", "click"),
        (3, 1, "2024-01-01 00:02:00", "purchase"),
        (4, 2, "2024-01-01 00:00:00", "error"),
    ]
    events = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = {
        r["channel"]: r
        for r in markov_removal_attribution(
            events, ["view", "click", "error"], steps=6
        ).collect()
    }
    # removing view or click severs the ONLY converting path
    assert out["view"]["removal_effect_ppm"] == 1_000_000
    assert out["click"]["removal_effect_ppm"] == 1_000_000
    # error never leads to conversion: zero removal effect
    assert out["error"]["removal_effect_ppm"] == 0
    assert out["view"]["p_full_ppm"] == 500_000  # 1 of 2 journeys convert


def test_random_walks_match_pure_python_replay(spark):
    """Every walk step must equal a sequential pure-Python replay of
    the hash-choice rule (H(start|node|t) mod deg over the dst-sorted
    adjacency), and be invariant to repartitioning."""
    import hashlib

    from yelp_etl_spark.functions.graph import random_walks

    raw = [(i, (i * 7 + 3) % 23) for i in range(40)] + [
        (i % 23, (i * 11 + 5) % 23) for i in range(40)
    ]
    edges_py = sorted({(s, d) for s, d in raw if s != d})
    adj = {}
    for s, d in edges_py:
        adj.setdefault(s, []).append(d)
    for s in adj:
        adj[s].sort()

    def h(start, node, t):
        m = hashlib.md5(f"{start}|{node}|{t}".encode()).hexdigest()
        return int(m[17:32], 16)

    def walk(start, steps):
        node, out = start, [(start, 0, start)]
        for t in range(1, steps + 1):
            nbrs = adj.get(node)
            if not nbrs:
                break
            node = nbrs[h(start, node, t) % len(nbrs)]
            out.append((start, t, node))
        return out

    seeds_py = [0, 5, 9, 14]
    want = sorted(r for s in seeds_py for r in walk(s, 4))

    edges = spark.createDataFrame(edges_py, "src long, dst long")
    seeds = spark.createDataFrame([(s,) for s in seeds_py], "id long")
    got = sorted(
        map(tuple, random_walks(edges, seeds, steps=4).collect())
    )
    assert got == want
    got2 = sorted(
        map(
            tuple,
            random_walks(edges.repartition(7), seeds, steps=4).collect(),
        )
    )
    assert got2 == want


def test_per_seed_bfs_equals_independent_bfs_runs(spark):
    """The labeled multi-seed frontier must give exactly the distances
    of k independent single-seed BFS runs."""
    from yelp_etl_spark.functions.graph import (
        bfs_distances,
        bfs_distances_per_seed,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (2, 6), (6, 7), (8, 9)],
        "src long, dst long",
    )
    seeds = spark.createDataFrame([(1,), (8,), (7,)], "id long")
    got = sorted(
        (r.seed, r.id, r.dist)
        for r in bfs_distances_per_seed(edges, seeds, max_hops=3).collect()
    )
    want = []
    for s in (1, 8, 7):
        one = spark.createDataFrame([(s,)], "id long")
        for r in bfs_distances(edges, one, max_hops=3).collect():
            want.append((s, r.id, r.dist))
    assert got == sorted(want)
    # disconnected component: seed 8 must never reach the 1..7 chain
    assert not [t for t in got if t[0] == 8 and t[1] not in (8, 9)]


def test_boruvka_mst_known_graph(spark):
    from yelp_etl_spark.functions.graph import boruvka_mst

    # square with diagonal (unique MST = the 3 cheapest edges) plus a
    # disjoint 3-node chain (forest: both chain edges survive)
    edges = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 2), (3, 4, 3), (1, 4, 4), (1, 3, 5),
         (10, 11, 1), (11, 12, 9)],
        "src long, dst long, w long",
    )
    got = {(r.src, r.dst, r.w) for r in boruvka_mst(edges).collect()}
    assert got == {(1, 2, 1), (2, 3, 2), (3, 4, 3), (10, 11, 1),
                   (11, 12, 9)}


def test_boruvka_hybrid_and_distributed_contraction_agree(spark):
    from yelp_etl_spark.functions.graph import boruvka_mst

    # adversarial hooking chains (path graph) + a cycle + a disjoint
    # pair: contraction via the driver union-find (default) and via the
    # distributed min-label fixpoint (guard=0) must pick the SAME forest
    rows = [(i, i + 1, 100 - i) for i in range(1, 12)]
    rows += [(1, 12, 1), (20, 21, 5)]
    edges = spark.createDataFrame(rows, "src long, dst long, w long")
    hybrid = {(r.src, r.dst, r.w) for r in boruvka_mst(edges).collect()}
    dist = {
        (r.src, r.dst, r.w)
        for r in boruvka_mst(
            edges, contraction_collect_max=0, driver_finish_max=0
        ).collect()
    }
    # middle config: distributed hooking rounds with the driver
    # union-find contraction (finish disabled, collect guard wide open)
    mid = {
        (r.src, r.dst, r.w)
        for r in boruvka_mst(edges, driver_finish_max=0).collect()
    }
    # 14 nodes in 2 components → forest has 12 edges
    assert hybrid == dist == mid and len(hybrid) == 12


def test_certify_spanning_forest(spark):
    from yelp_etl_spark.functions.graph import (
        boruvka_mst,
        certify_spanning_forest,
    )

    # square with diagonal + disjoint chain: 7 nodes, 2 components
    edges = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 2), (3, 4, 3), (1, 4, 4), (1, 3, 5),
         (10, 11, 1), (11, 12, 9)],
        "src long, dst long, w long",
    )
    forest = boruvka_mst(edges)
    n_mst = forest.count()
    assert certify_spanning_forest(edges, forest, 7, n_mst) == 2

    # a cyclic "forest" must be rejected
    cyclic = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 2), (1, 3, 5), (10, 11, 1), (11, 12, 9)],
        "src long, dst long, w long",
    )
    with pytest.raises(RuntimeError, match="cycle"):
        certify_spanning_forest(edges, cyclic, 7, 5)

    # a non-spanning forest (chain component dropped) must be rejected
    partial = spark.createDataFrame(
        [(1, 2, 1), (2, 3, 2), (3, 4, 3)], "src long, dst long, w long"
    )
    with pytest.raises(RuntimeError, match="crosses"):
        certify_spanning_forest(edges, partial, 7, 3)

    # past the collect cap the fallback label-prop path must agree
    assert (
        certify_spanning_forest(edges, forest, 7, n_mst, collect_max=0) == 2
    )


def test_boruvka_mst_chain_contraction(spark):
    from yelp_etl_spark.functions.graph import boruvka_mst

    # a path graph is the adversarial contraction case (hooking builds
    # one long chain): MST of a tree is the tree itself
    chain = spark.createDataFrame(
        [(i, i + 1, 1000 - i) for i in range(1, 30)],
        "src long, dst long, w long",
    )
    out = boruvka_mst(chain)
    assert out.count() == 29


def test_boruvka_matches_kruskal_random(spark):
    import random

    from yelp_etl_spark.functions.graph import boruvka_mst

    rng = random.Random(7)
    seen = set()
    rows = []
    w = 0
    for _ in range(120):
        a, b = rng.randrange(40), rng.randrange(40)
        if a == b:
            continue
        a, b = min(a, b), max(a, b)
        if (a, b) in seen:
            continue
        seen.add((a, b))
        w += 1
        rows.append((a, b, (w * 37) % 101 - 50))  # distinct-ish weights
    edges = spark.createDataFrame(rows, "src long, dst long, w long")
    got = {(r.src, r.dst, r.w) for r in boruvka_mst(edges).collect()}

    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    want = set()
    for a, b, wt in sorted(rows, key=lambda r: (r[2], r[0], r[1])):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
            want.add((a, b, wt))
    assert got == want


def test_boruvka_matches_kruskal_fixture(spark, sf_dir):
    """Edge-for-edge Kruskal cross-check of q_boruvka_mst's forest on
    the REAL fixture co-purchase graph — kept out of the bench-facing
    catalog query (an in-query collect+Kruskal would dominate the
    bench row) so the bench times the operator while this test keeps
    the exact-forest guarantee."""
    from yelp_etl_spark.functions.graph import boruvka_mst
    from yelp_etl_spark.plans.ext.ext_graph import copurchase_edges

    edges = copurchase_edges(spark, sf_dir)
    got = {(r.src, r.dst, r.w) for r in boruvka_mst(edges).collect()}

    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    want = set()
    for r in sorted(edges.collect(), key=lambda r: (r.w, r.src, r.dst)):
        ra, rb = find(r.src), find(r.dst)
        if ra != rb:
            parent[ra] = rb
            want.add((r.src, r.dst, r.w))
    assert got == want


def test_misra_gries_guarantee_skewed_stream(spark):
    from yelp_etl_spark.functions.sketches import misra_gries_candidates

    # 1000 occurrences of 'hot', 500 of 'warm', 1500 singletons: with
    # k=10, every item with freq > N/(k+1) ≈ 272 must survive with a
    # counter that never overcounts
    rows = (
        [("hot",)] * 1000
        + [("warm",)] * 500
        + [(f"cold{i}",) for i in range(1500)]
    )
    df = spark.createDataFrame(rows, "tok string").repartition(7)
    got = {r.tok: r.mg for r in misra_gries_candidates(df, "tok", 10).collect()}
    assert "hot" in got and "warm" in got
    assert got["hot"] <= 1000 and got["warm"] <= 500
