"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash.

Scale notes (the whole point of these designs):
- Exact dedup groups on a 128-bit content hash, NOT the raw text — the
  shuffle moves 16-byte keys instead of documents.
- N-gram Jaccard pairs is exact but O(pairs-sharing-a-shingle); it's the
  correctness oracle for the approximate paths.
- MinHash-LSH is the 100 TB path: signatures are fixed-size, banding
  turns all-pairs into an equi-join on (band, band-hash) buckets, and
  candidate verification is a second cheap pass. Hot buckets (boilerplate
  shingles) are the skew risk — cap bucket width or salt.
- SimHash gives a single 64-bit sketch; near-dups differ in few bits.

All hashing uses xxhash64 with integer seeds — deterministic across
runs, partitionings, and cluster sizes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from yelp_etl_spark.functions.checkpoint import iterate, truncate_lineage
from yelp_etl_spark.functions.text import fingerprint, tokens
from yelp_etl_spark.sources.readers import fan_out


def exact_dedup(
    df: DataFrame, content_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one deterministic representative (min id) per exact content.

    Dedup key = md5(normalized text) so the shuffle carries hashes, not
    documents. Output: one row per distinct content with its keeper id
    and duplicate count.
    """
    keyed = df.select(
        fingerprint(F.col(content_col)).alias("content_key"), F.col(id_col)
    )
    return keyed.groupBy("content_key").agg(
        F.min(id_col).alias("keeper_id"), F.count("*").alias("n_copies")
    )


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of ``text`` (array<string>).

    Built from n shifted slices zipped together — O(tokens) per row.
    (The obvious per-index ``slice(toks, i+1, n)`` transform is
    O(tokens²) per row because each slice copies; measured ~9× slower
    at 5k docs.)"""
    toks = tokens(text)
    count = F.size(toks) - (n - 1)
    shifted = [F.slice(toks, i + 1, F.greatest(count, F.lit(0))) for i in range(n)]
    grams = F.transform(
        F.arrays_zip(*shifted),
        lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(n)]),
    )
    return F.when(count > 0, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact Jaccard similarity over word n-gram shingles for every pair
    of documents sharing ≥1 shingle, filtered to ``similarity >=
    threshold``. Computed as explode → self-equi-join on shingle →
    per-pair intersection counts → |A∪B| = |A|+|B|−|A∩B|.

    This is the exact (oracle-able) formulation; MinHash-LSH below is
    the approximate scale path.
    """
    # Shingles are hashed to 64-bit before the self-join: the shuffle and
    # join carry 8-byte longs instead of multi-word strings (collision
    # probability over ~10^6 distinct shingles is ~10^-7 — negligible
    # against the exactness of the counts).
    # truncate_lineage, not persist: read by both self-join sides and
    # the size agg (compute once), but a persist here would pin the
    # cache for the session's lifetime — nobody downstream can
    # unpersist a node buried inside the returned plan. The
    # checkpointed RDD is instead released by the ContextCleaner when
    # the result goes out of scope.
    sh = truncate_lineage(
        fan_out(df, id_col).select(
            F.col(id_col).alias("id"),
            F.explode(
                F.transform(shingles(F.col(text_col), n), lambda s: F.xxhash64(s))
            ).alias("sh"),
        ),
        # eager: the stream feeds >=2 downstream consumers; with a
        # reliable checkpoint dir a NON-eager checkpoint caches nothing
        # until its own materialization job, so each consumer would
        # recompute the explode+hash scan first
        eager=True,
    )
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("n_common"))
    )
    # one row per document — corpus-proportional, so no broadcast
    # hint: AQE broadcasts when the size table is actually small
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
) -> DataFrame:
    """MinHash signature per document: sig[i] = min over shingles of
    xxhash64(shingle, seed=i).

    Shape: explode shingles once → ONE groupBy(id) with ``num_hashes``
    flat min-aggregates → pack into an array column. A naive per-row
    array-lambda formulation re-inlines (and re-computes) the shingle
    expression into every one of the 64 transforms — O(64×) wasted work
    measured as a >100× slowdown; this explode/agg shape hashes each
    shingle exactly 64 times, partial-aggregates map-side, and shuffles
    only (id, 64 longs). Documents with fewer than ``n`` tokens have no
    shingles and drop out (they cannot be near-duplicates)."""
    sh = fan_out(df, id_col).select(
        F.col(id_col).alias("id"), F.explode(shingles(F.col(text_col), n)).alias("sh")
    )
    aggs = [F.min(F.xxhash64("sh", F.lit(i))).alias(f"__mh{i}") for i in range(num_hashes)]
    agg = sh.groupBy("id").agg(*aggs)
    return agg.select(
        "id", F.array(*[F.col(f"__mh{i}") for i in range(num_hashes)]).alias("sig")
    )


def minhash_candidate_pairs(
    df: DataFrame,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """LSH banding: split the signature into ``bands`` rows-per-band
    groups, hash each band, equi-join on (band, band_hash). Returns
    candidate pairs with estimated Jaccard = fraction of matching
    signature positions."""
    rows_per_band = num_hashes // bands
    sig = minhash_signatures(df, id_col, text_col, n, num_hashes)
    banded = sig.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            F.concat_ws(
                                ",",
                                *[
                                    F.element_at("sig", b * rows_per_band + r + 1)
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "sig", "bb.band", "bb.bucket")
    # Both sides of the candidate self-join scan `banded`; without a
    # persist Spark recomputes the whole signature lineage twice. In a
    # production pipeline signatures would be a materialized table —
    # the cache is the in-query equivalent (5k docs × bands rows here).
    banded = banded.persist()
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    est = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda eq: eq
        )
    ) / F.lit(float(num_hashes))
    return pairs.select("id_a", "id_b", F.round(est, 6).alias("est_jaccard"))


def simhash_sketches(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 1,
    bits: int = 64,
) -> DataFrame:
    """SimHash sketch per document: bit j of the sketch = sign of the sum
    over features of ±1 depending on bit j of xxhash64(feature).
    Near-duplicate texts differ in few bits (Hamming distance:
    ``F.bit_count`` of the XOR).

    Shape: explode features → ONE groupBy(id) with ``bits`` flat
    conditional sums → assemble the sketch. One shuffle keyed on the
    document id; at 100 TB this is a standard partial-aggregated
    wide→narrow pass (and far cheaper than per-document array lambdas,
    which also blow up Catalyst's analyzer at 64 nested aggregates).
    """
    feats_arr = (
        shingles(F.col(text_col), n) if n > 1 else F.array_distinct(tokens(F.col(text_col)))
    )
    feats = fan_out(df, id_col).select(
        F.col(id_col), F.explode(feats_arr).alias("__feat")
    ).withColumn(
        "__h", F.xxhash64("__feat")
    )
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("__h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"__b{j}")
        for j in range(bits)
    ]
    agg = feats.groupBy(id_col).agg(*bit_sums)

    # Assemble flat (one concat + conv), not as a nested add chain — a
    # 64-deep expression tree exceeds Catalyst's analyzer iteration
    # limit. Emit two 32-bit halves so each fits a signed long; hamming
    # distance = popcount(xor(hi)) + popcount(xor(lo)).
    def half(lo_bit: int, n_bits: int) -> Column:
        s = F.concat(
            *[
                F.when(F.col(f"__b{j}") > 0, F.lit("1")).otherwise(F.lit("0"))
                for j in range(lo_bit, lo_bit + n_bits)
            ]
        )
        return F.conv(s, 2, 10).cast("long")

    hi_bits = bits // 2
    return agg.select(
        F.col(id_col),
        half(0, hi_bits).alias("simhash_hi"),
        half(hi_bits, bits - hi_bits).alias("simhash_lo"),
    )


def connected_components(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over an undirected edge list by iterative
    min-label propagation: every node starts labeled with its own id;
    each round every node takes the minimum label in its neighborhood
    (incl. itself); converged when no label changes. Returns
    ``(id, component)`` where component = min node id of the component.

    The dedup use: near-dup candidate PAIRS (from MinHash/SimHash/
    embedding paths) are transitive in practice — A~B, B~C usually
    means one boilerplate family — so dedup-keep-one must operate on
    components, not pairs. Each round is one join + one groupBy on the
    node id (both shuffle on id, co-partitioned); rounds needed =
    graph diameter, which for near-dup families is tiny (2-4).
    The rounds run through functions/checkpoint.iterate: each round
    ends in one lineage cut (reliable checkpoint when the session has a
    checkpoint dir, else localCheckpoint), and the convergence value
    rides that cut as an observed metric — the driver-side loop
    inspects one scalar per round, no data collected.
    """
    fwd = edges.select(F.col(src_col).alias("eid"), F.col(dst_col).alias("nbr"))
    rev = edges.select(F.col(dst_col).alias("eid"), F.col(src_col).alias("nbr"))
    adj = truncate_lineage(fwd.unionByName(rev).distinct(), eager=False)

    # Distinct column names on the label side (node vs eid/nbr) keep the
    # per-round self-derived join unambiguous to the analyzer.
    labels = (
        adj.select(F.col("eid").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    labels = truncate_lineage(labels, eager=False)

    # One join + one keyed min per round: the old label is UNIONed into
    # the neighborhood min, min(self, neighborhood). Labels only ever
    # DECREASE, so the label sum is strictly monotone and two equal
    # consecutive sums ⟺ a fixpoint; the sum accumulates exactly in
    # decimal(38,0) (1B nodes × 64-bit ids would overflow a long sum;
    # 38 digits cannot).
    def step(labels: DataFrame) -> DataFrame:
        return (
            adj.join(labels, adj["nbr"] == labels["node"], "inner")
            .select(F.col("eid").alias("node"), F.col("component"))
            .unionByName(labels)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )

    labels, _ = iterate(
        labels,
        step,
        max_iter,
        until=F.sum(F.col("component").cast("decimal(38,0)")),
    )
    return labels.select(F.col("node").alias("id"), "component")


def dedup_keep_canonical(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Keep one canonical row per near-dup component (the minimum id),
    plus every row that appears in no pair. The standard tail of a
    near-dedup pipeline: pairs → components → anti-join the losers."""
    comps = connected_components(pairs, src_col, dst_col)
    losers = comps.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def simhash_portable(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_bits: int = 16,
) -> DataFrame:
    """Engine-portable SimHash: bit-majority sketch over 60-bit md5
    token hashes (conv of md5 hex — reproducible in any SQL engine,
    unlike xxhash64), so the sketch is oracle-checkable value-for-value.

    The production path is simhash_sketches above (xxhash64, 64-bit,
    one JVM hash call per token); this twin trades per-token cost
    (md5 + base-16 conv) for cross-engine determinism and serves as its
    differential witness. Same plan shape: explode tokens → single
    keyed aggregation with one signed counter per bit (map-side
    partial), sketch assembled from the counters — one shuffle of
    (id, 60-bit hash) pairs regardless of n_bits.
    """
    toks = fan_out(df, id_col).select(
        id_col,
        F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("t"),
    ).filter(F.col("t") != "")
    h = F.conv(F.substring(F.md5(F.col("t").cast("binary")), 18, 15), 16, 10).cast(
        "long"
    )
    counters = toks.select(id_col, h.alias("hv")).groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("hv"), b).bitwiseAND(F.lit(1)) == 1, 1)
                .otherwise(-1)
            ).alias(f"s{b}")
            for b in range(n_bits)
        ]
    )
    sketch = None
    for b in range(n_bits):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sketch = term if sketch is None else sketch + term
    return counters.select(
        id_col, sketch.cast("long").alias(f"simhash{n_bits}")
    )


def jaccard_prefix_join(
    df: DataFrame,
    threshold: float = 0.6,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """EXACT threshold Jaccard similarity join over word n-gram shingle
    sets via prefix filtering (AllPairs / PPJoin family — Bayardo et
    al. WWW'07, Xiao et al. WWW'08). Returns every pair with
    ``J(A,B) >= threshold`` — identical output to the brute-force
    all-pairs join, but candidates are generated ONLY from each
    record's rare-token prefix.

    Why this is the 100 TB shape: the naive token self-join (see
    ngram_jaccard_pairs) explodes on hot tokens — a stopword shared by
    10^6 documents alone yields 10^12 candidate rows. Under a global
    rarest-first token order, a pair with J >= t must share a token in
    each side's first ``|A| - ceil(t*|A|) + 1`` tokens (prefix
    filtering principle: J(A,B) >= t implies overlap >= t*max(|A|,|B|)
    >= ceil(t*|A|)); hot tokens sort to the suffix and never enter the
    join. A size filter (t*|A| <= |B| <= |A|/t) prunes further inside
    the join condition. Verification touches only surviving candidates.

    Plan: shingle+distinct → global doc-frequency ranks (one agg,
    rarest first) → per-doc rank via window → prefix rows → self
    equi-join on shingle hash (+ size filter) → distinct candidates →
    verify with array_intersect over collected sorted shingle sets.
    The set elements are word ``n``-gram shingles (same featurization
    as ngram_jaccard_pairs — unigram token SETS converge on templated
    corpora and carry no dedup signal), hashed to 64-bit so every join
    and shuffle moves 8-byte longs.
    """
    # shingles() is already per-document distinct, so the exploded
    # (id, hash) rows need no extra distinct pass (saves a shuffle).
    tok = fan_out(df, id_col).select(
        F.col(id_col).alias("id"),
        F.explode(
            F.transform(shingles(F.col(text_col), n), lambda s: F.xxhash64(s))
        ).alias("t"),
    )
    # Global rarest-first order: (doc_freq, token) is a total order, so
    # every document sorts its tokens identically — required for the
    # prefix principle to hold.
    dfreq = tok.groupBy("t").agg(F.count("*").alias("df"))
    # No broadcast hint: dfreq is the full distinct-shingle vocabulary —
    # proportional to corpus size, not to a hot subset — so forcing a
    # broadcast would OOM long before the prefix filter pays off. A
    # shuffle equi-join on the 8-byte hash is the scale-safe default;
    # AQE still converts it to broadcast when dfreq happens to be small.
    ranked = tok.join(dfreq, "t").select(
        "id",
        "t",
        F.row_number()
        .over(Window.partitionBy("id").orderBy("df", "t"))
        .alias("r"),
        F.count("*").over(Window.partitionBy("id")).alias("s"),
    )
    prefix = ranked.filter(
        F.col("r") <= F.col("s") - F.ceil(F.lit(threshold) * F.col("s")) + 1
    )
    a = prefix.alias("a")
    b = prefix.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.id") < F.col("b.id"))
            # size filter: |B| in [t*|A|, |A|/t] (symmetric, so one side)
            & (F.col("b.s") >= F.lit(threshold) * F.col("a.s"))
            & (F.col("b.s") * F.lit(threshold) <= F.col("a.s")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    sets = tok.groupBy("id").agg(
        F.sort_array(F.collect_set("t")).alias("toks"),
        F.count("*").alias("n"),
    )
    sa = sets.select(
        F.col("id").alias("id_a"), F.col("toks").alias("toks_a"), F.col("n").alias("n_a")
    )
    sb = sets.select(
        F.col("id").alias("id_b"), F.col("toks").alias("toks_b"), F.col("n").alias("n_b")
    )
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    jac = inter / (F.col("n_a") + F.col("n_b") - inter)
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(jac >= threshold)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
    )


# Fixed permutation constants for the portable MinHash: (a, b) pairs
# under p = 2^31 - 1. a*h + b stays below 2^62, so the arithmetic is
# exact int64 in every engine — no overflow, no float, no engine hash.
_MINHASH_P = 2_147_483_647
_MINHASH_PERMS = [
    (1_203_793_541, 912_746_381),
    (1_838_467_907, 64_004_723),
    (727_113_679, 1_955_780_209),
    (1_651_341_139, 488_882_711),
    (293_480_683, 1_402_817_029),
    (2_005_330_163, 825_413_551),
    (578_216_929, 1_110_351_739),
    (1_444_902_419, 337_956_247),
]


def minhash_portable(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
) -> DataFrame:
    """Engine-portable MinHash signature over the DISTINCT token set:
    base hash is the 60-bit md5 integer masked to 31 bits, permuted by
    fixed (a*h + b) mod p maps — all exact int64 arithmetic, so the
    signature is value-identical in any SQL engine and oracle-checkable
    (the production LSH path, minhash_signatures, uses xxhash64 and is
    property-tested instead).

    Plan: explode tokens → distinct (the set semantics MinHash needs)
    → one keyed aggregation computing every permutation's min in a
    single pass. Two shuffles of (id, 31-bit hash) pairs; signature
    width never adds shuffles.
    """
    perms = _MINHASH_PERMS[:num_hashes]
    toks = (
        fan_out(df, id_col)
        .select(
            id_col,
            F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("t"),
        )
        .filter(F.col("t") != "")
        .distinct()
    )
    h31 = (
        F.conv(F.substring(F.md5(F.col("t").cast("binary")), 18, 15), 16, 10)
        .cast("long")
        .bitwiseAND(F.lit(_MINHASH_P))
    )
    hashed = toks.select(id_col, h31.alias("h"))
    return hashed.groupBy(id_col).agg(
        *[
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(_MINHASH_P)).alias(
                f"sig{i}"
            )
            for i, (a, b) in enumerate(perms)
        ]
    )


def minhash_band_index(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """Turn a MinHash signature table into the persisted LSH band index
    ``(id, band_id, band_key)`` — band_key packs the band's signature
    values into one string key.

    At 100 TB this table IS the dedup index: built once over the
    historical corpus, stored partitioned/bucketed on (band_id,
    band_key), and probed by every incremental batch — the historical
    *text* is never re-read or re-hashed. One map-only pass (inline of
    an array of band structs), no shuffle.
    """
    n_bands = num_hashes // band_size
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.concat_ws(
                    "_",
                    *[
                        F.col(f"sig{b * band_size + j}").cast("string")
                        for j in range(band_size)
                    ],
                ).alias("band_key"),
            )
            for b in range(n_bands)
        ]
    )
    return sigs.select(F.col(id_col).alias("id"), F.inline(bands))


def incremental_dedup_against_index(
    index: DataFrame,
    new_sigs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
) -> DataFrame:
    """Incremental (delta) near-dup detection — the daily-ingest shape
    of a training-data pipeline: signatures are computed for the NEW
    batch only, banded, and probed against the persisted corpus index
    via one equi-join on (band_id, band_key). A new document is flagged
    duplicate iff ANY band collides with an index entry (the standard
    MinHash-LSH candidate rule as the gate; production follows with an
    exact-Jaccard verify on the matched pairs — jaccard_prefix_join on
    the survivors).

    Returns one row per new document: (id, is_dup 0/1, match_id =
    smallest colliding index id, NULL if none). Cost is O(delta) map
    work + one keyed join against the index — independent of corpus
    text size, which is what makes day-N ingest affordable; hot
    band_keys (boilerplate bands) are the skew to watch, the same
    salting/cap treatment as every hot-key join (operators/skew.py).
    """
    new_bands = minhash_band_index(new_sigs, id_col, num_hashes, band_size)
    idx = index.select(
        F.col("id").alias("__match_id"), "band_id", "band_key"
    )
    joined = new_bands.join(idx, ["band_id", "band_key"], "left")
    return (
        joined.groupBy("id")
        .agg(F.min("__match_id").alias("match_id"))
        .select(
            F.col("id").alias(id_col),
            F.when(F.col("match_id").isNotNull(), 1)
            .otherwise(0)
            .cast("long")
            .alias("is_dup"),
            "match_id",
        )
    )


def duplicate_spans(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 25,
) -> DataFrame:
    """Exact duplicated-substring spans across documents, via k-gram
    rolling fingerprints + gaps-and-islands merging.

    The exact-substring form of training-data dedup (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better"): any
    substring of length >= k that occurs in more than one document is
    flagged, and overlapping flagged positions are merged into maximal
    character spans per document. Pipeline:

    1. every start position i in each doc emits md5(substring(text, i,
       k)) — a map-only gram stream (k-char window, stride 1);
    2. grams occurring in >1 distinct doc survive a partially
       aggregated count-distinct (one keyed shuffle on the gram hash);
    3. surviving positions join back on the hash (second keyed
       shuffle) and merge into spans with the standard gaps-and-islands
       window: a new island starts when the gap to the previous
       duplicated position exceeds k (i.e. the windows no longer
       overlap or touch).

    Returns one row per document that contains any duplicated span:
    (id, n_dup_spans, dup_chars, dup_frac). The fingerprint is the
    60-bit md5-suffix BIGINT (the engine's portable-hash convention,
    functions/sampling.py:134) so the two shuffles carry an 8-byte
    key instead of a 32-byte hex string; a 60-bit collision merging
    two distinct grams is ~|grams|²/2^61 — negligible, and identical
    in any engine using the same convention. The gram stream feeds
    both the distinct-count and the join-back, so its lineage is
    truncated once (triangle_count's pattern) rather than generating
    every gram twice.

    At 100 TB: stride-1 gram emission multiplies the scan by ~|doc|;
    the production variants are (a) stride s > 1 for candidate
    discovery followed by local span extension, or (b) partition-local
    suffix arrays with only cross-partition boundary grams shuffled.
    Both shuffles here are keyed (gram hash, then doc id) — no
    all-pairs stage exists at any size. Boilerplate grams are the
    hot-key risk; cap or salt them exactly like
    functions/curation.py's cross-doc gram treatment.
    """
    # Positions explode FIRST and the hash is computed on flat columns:
    # expressions inside a transform() lambda run on Spark's
    # interpreted evaluator per array element (~3 us/gram measured),
    # while the post-explode projection is whole-stage-codegen'd and
    # fuses with the generate — no materialized per-doc gram arrays,
    # no per-row text copies.
    grams = truncate_lineage(
        fan_out(docs.filter(F.length(text_col) >= k), id_col)
        .select(
            F.col(id_col),
            F.length(text_col).alias("__len"),
            F.col(text_col).alias("__t"),
        )
        .select(
            id_col,
            "__len",
            "__t",
            F.explode(
                F.sequence(F.lit(1), F.col("__len") - F.lit(k - 1))
            ).alias("pos"),
        )
        .select(
            id_col,
            "__len",
            "pos",
            F.conv(
                F.substring(F.md5(F.expr(f"substring(__t, pos, {k})")), 18, 15),
                16,
                10,
            )
            .cast("long")
            .alias("gh"),
        )
    )
    dup_hashes = (
        grams.groupBy("gh")
        .agg(F.count_distinct(id_col).alias("nd"))
        .filter(F.col("nd") > 1)
        .select("gh")
    )
    hits = grams.join(dup_hashes, "gh")
    by_doc = Window.partitionBy(id_col).orderBy("pos")
    run = by_doc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flagged = hits.withColumn(
        "new_island",
        F.when(F.col("pos") - F.lag("pos").over(by_doc) > k, 1).otherwise(0),
    ).withColumn("island", F.sum("new_island").over(run))
    spans = flagged.groupBy(id_col, "__len", "island").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + k - 1).alias("span_end"),
    )
    return (
        spans.groupBy(id_col, "__len")
        .agg(
            F.count("*").cast("long").alias("n_dup_spans"),
            F.sum(F.col("span_end") - F.col("span_start") + 1)
            .cast("long")
            .alias("dup_chars"),
        )
        .select(
            id_col,
            "n_dup_spans",
            "dup_chars",
            F.round(F.col("dup_chars") / F.col("__len"), 4).alias("dup_frac"),
        )
    )


def duplicate_spans_pruned(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 25,
    bucket_bits: int = 32,
) -> DataFrame:
    """Two-phase ``duplicate_spans`` — the candidate-discovery +
    restricted-exact-pass form stride-1's own docstring names — with
    EXACTLY the same output (equality-tested on fixtures at k=25).

    Phase 1 is a coarse Bloom-style prune: every position emits only a
    ``bucket_bits``-bit xxhash64 of its gram plus the doc id (no
    position, no portable 60-bit fingerprint — 12 bytes/record vs
    stride-1's ~24); buckets touched by >1 distinct document mark all
    their documents as candidates. Phase 2 reruns the exact stride-1
    span pipeline over candidate documents only.

    Why this is exact: a truly duplicated k-gram hashes to the SAME
    bucket in both documents, so its bucket has >=2 docs and both
    holders become candidates — no false negative is possible, for
    runs of ANY length >= k (a positional stride-s comb misaligns
    between occurrences whose offsets differ mod s, and hash-mod
    anchor SAMPLING misses minimal runs outright: measured on the
    fixture corpus, 112 of 208 flagged docs hold only 25-30-char runs,
    1-6 grams each, which 1/8 sampling drops with p ≈ 0.43-0.88).
    Hash collisions only ADD false candidates, and the exact phase 2
    silently clears them: a collision-candidate doc has no duplicated
    gram, so it produces no output row. Expected spurious-candidate
    mass at n distinct grams is ~n²/2^(bucket_bits+1) — at 10^10 grams
    use bucket_bits≈48 (still 14B records) to keep it negligible.

    Cost vs stride-1: the codegen'd map-side gram scan is unavoidable
    O(total chars) in both (xxhash64 here is also ~3× cheaper per gram
    than the portable md5-conv fingerprint, which phase 2 only pays
    for candidate docs); what shrinks is what breaks first at 100 TB —
    phase 1's shuffle records are half the width, position-free, and
    the expensive two-shuffle span machinery runs only over documents
    with at least one candidate hit, a small fraction of a
    mostly-clean corpus. Phase 1 is written as shared distinct
    (bucket, id) ``pairs`` feeding a per-bucket count and a candidate
    semi-join, and the optimizer turns that into a plan with NO
    materialized gram stream at all (verified in PLANS.md): on the
    build side the distinct collapses into the count's partial
    aggregation — only (bucket, partial-count) cells ever shuffle, so
    hot boilerplate buckets stay skew-neutral — and on the probe side
    the distinct is eliminated outright (redundant under LeftSemi +
    the trailing per-doc distinct), leaving scan → explode →
    broadcast-semi-probe with zero added shuffles; the fan_out
    repartition on the id doubles as the final distinct's
    partitioning. The price is that the codegen'd map-only text scan
    runs twice (once per side) — the measured-cheaper trade at sf0.1
    against materializing the O(grams) pair stream: an earlier form
    that eagerly checkpointed the full stream to force a single scan
    was slower than stride-1 itself (8.4 s vs 5.4 s warm), and a
    count-over-bucket window variant paid an O(pairs log pairs)
    per-bucket sort (5.2 s alone) while landing each hot bucket in
    one task. At 100 TB the two-scan trade is the standard
    semi-join-pushdown shape; if scan IO ever dominates, checkpoint
    ``pairs`` once and both consumers read it — the code already
    expresses that plan, it is one truncate_lineage call away.
    """
    mask = (1 << bucket_bits) - 1
    pairs = (
        fan_out(docs.filter(F.length(text_col) >= k), id_col)
        .select(
            F.col(id_col),
            F.col(text_col).alias("__t"),
            F.explode(
                F.sequence(F.lit(1), F.length(text_col) - F.lit(k - 1))
            ).alias("pos"),
        )
        .select(
            id_col,
            F.xxhash64(F.expr(f"substring(__t, pos, {k})"))
            .bitwiseAND(F.lit(mask))
            .alias("bkt"),
        )
        .distinct()
    )
    multi_doc_buckets = (
        pairs.groupBy("bkt").count().filter(F.col("count") > 1).select("bkt")
    )
    cand_ids = (
        pairs.join(multi_doc_buckets, "bkt", "left_semi")
        .select(id_col)
        .distinct()
    )
    return duplicate_spans(
        docs.join(cand_ids, id_col, "left_semi"), id_col, text_col, k=k
    )


def winnow_fingerprints(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 25,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al. 2003, the
    MOSS algorithm): per document, every window of ``w`` consecutive
    k-gram hashes contributes its MINIMUM hash; the distinct window
    minima are the document's fingerprint set.

    This is the DETERMINISTIC content-defined selection —
    duplicate_spans_pruned's docstring contrasts it with hash-mod
    anchor sampling: winnowing GUARANTEES any shared substring of
    length >= k + w - 1 contributes at least one common fingerprint
    (the two occurrences see the same hash sequence, so the same
    window minima), while keeping ~2/(w+1) of positions in
    expectation. The standard use is plagiarism/overlap candidate
    discovery where a hard guarantee matters more than exact span
    boundaries.

    Shape: explode grams (flat post-generate projection, codegen) →
    per-doc sliding-window MIN (one keyed shuffle on the doc id — the
    ordered pass is inherent to winnowing's window rule) → distinct.
    Gram hashes use the portable 60-bit md5 convention so the
    fingerprints are reproducible across engines. Returns (id,
    fingerprint) distinct rows. At 100 TB the fingerprint table is
    ~2/(w+1) of the gram stream and joins/aggregates downstream carry
    8-byte keys; the per-doc window sort is bounded by document
    length, not corpus size.
    """
    grams = (
        fan_out(docs.filter(F.length(text_col) >= k), id_col)
        .select(
            F.col(id_col),
            F.length(text_col).alias("__len"),
            F.col(text_col).alias("__t"),
        )
        .select(
            id_col,
            "__len",
            "__t",
            F.explode(
                F.sequence(F.lit(1), F.col("__len") - F.lit(k - 1))
            ).alias("pos"),
        )
        .select(
            id_col,
            "__len",
            "pos",
            F.conv(
                F.substring(F.md5(F.expr(f"substring(__t, pos, {k})")), 18, 15),
                16,
                10,
            )
            .cast("long")
            .alias("gh"),
        )
    )
    win = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    # only full windows select (window starts 1 .. m-w+1, m = #grams)
    n_grams = F.col("__len") - (k - 1)
    return (
        grams.withColumn("fp", F.min("gh").over(win))
        .filter(F.col("pos") <= n_grams - (w - 1))
        .select(F.col(id_col), "fp")
        .distinct()
    )


def containment_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Asymmetric shingle containment |A∩B| / min(|A|, |B|) — the
    excerpt/quote detector Jaccard misses: a short document wholly
    quoted inside a long one has low Jaccard (the union is large) but
    containment ~1.0. Standard companion to near-dup in corpus
    curation (drop-or-link contained excerpts).

    Same exact two-shuffle shape as ngram_jaccard_pairs: explode
    distinct shingles → self-equi-join on the 64-bit shingle hash →
    per-pair intersection counts → join sizes. Emits both directed
    containments plus the max; filtered on the max. The scale levers
    are identical (prefix filtering / df-capping the hot shingles
    before the self-join, as jaccard_prefix_join does)."""
    # truncate_lineage, not persist (same rationale as
    # ngram_jaccard_pairs: a persist inside a returned lazy plan leaks
    # cache for the session lifetime); sizes is one row per DOCUMENT —
    # corpus-proportional — so no broadcast hint either: AQE decides.
    sh = truncate_lineage(
        fan_out(df, id_col).select(
            F.col(id_col).alias("id"),
            F.explode(
                F.transform(shingles(F.col(text_col), n), lambda s: F.xxhash64(s))
            ).alias("sh"),
        ),
        # eager: the stream feeds >=2 downstream consumers; with a
        # reliable checkpoint dir a NON-eager checkpoint caches nothing
        # until its own materialization job, so each consumer would
        # recompute the explode+hash scan first
        eager=True,
    )
    sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(F.col("n_common") / F.col("n_a"), 6).alias("containment_a"),
            F.round(F.col("n_common") / F.col("n_b"), 6).alias("containment_b"),
            F.round(
                F.col("n_common") / F.least(F.col("n_a"), F.col("n_b")), 6
            ).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def contrastive_pairs(
    df: DataFrame,
    n: int = 3,
    threshold: float = 0.2,
    n_buckets: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(anchor, positive, negative) training triplets for contrastive
    embedding-model training, mined fully in-engine: positives are the
    exact n-gram-Jaccard near-dup pairs (``ngram_jaccard_pairs`` — the
    oracle-able formulation; swap in the MinHash path at scale), and
    each anchor's negative is picked DETERMINISTICALLY — the minimum
    doc id in the hash bucket after the anchor's (portable 60-bit md5
    buckets), rejected if it collides with the anchor/positive or is
    itself a near-dup of the anchor (anti-join on the symmetrized pair
    set). No randomness, no driver state: rerunning on any cluster
    yields the same triplets.

    Scale shape: the positive miner dominates (its cost profile is
    ngram_jaccard_pairs'); the negative assignment adds one broadcast
    of an n_buckets-row min table and one anti-join keyed on the
    (anchor, negative) pair. Rows whose bucket pick is rejected drop
    out (documented miss; a production variant probes successive
    buckets — the point pinned here is the deterministic selection).

    Returns (anchor, positive, negative, jaccard) with the miner's
    a < b orientation.
    """
    from yelp_etl_spark.functions.sampling import hash60

    pos = ngram_jaccard_pairs(
        df, n=n, threshold=threshold, id_col=id_col, text_col=text_col
    )
    mins = (
        df.select(
            F.col(id_col).alias("cand_id"),
            (hash60(F.col(id_col)) % n_buckets).alias("bkt"),
        )
        .groupBy("bkt")
        .agg(F.min("cand_id").alias("negative"))
    )
    anchors = pos.select(
        F.col("id_a").alias("anchor"),
        F.col("id_b").alias("positive"),
        "jaccard",
    ).withColumn("nb", (hash60(F.col("anchor")) + 1) % n_buckets)
    cand = (
        anchors.join(F.broadcast(mins), F.col("nb") == F.col("bkt"))
        .filter(
            (F.col("negative") != F.col("anchor"))
            & (F.col("negative") != F.col("positive"))
        )
        .select("anchor", "positive", "negative", "jaccard")
    )
    sym = pos.select(
        F.col("id_a").alias("s"), F.col("id_b").alias("t")
    ).union(pos.select(F.col("id_b").alias("s"), F.col("id_a").alias("t")))
    return cand.join(
        sym,
        (cand["anchor"] == sym["s"]) & (cand["negative"] == sym["t"]),
        "left_anti",
    )


def ngram_jaccard_sql_ctes(threshold: float, pos_name: str = "pos") -> str:
    """DuckDB CTE block rebuilding ``ngram_jaccard_pairs`` (3-gram
    shingles, rounded-THEN-thresholded jaccard — the filter must round
    exactly like the miner does, or borderline pairs diverge between
    engine and oracle). Lives HERE, next to the Spark implementation
    it mirrors, as the single source for every oracle that embeds the
    positive-pair miner (ngram_jaccard_pairs, jaccard_prefix_join's
    brute twin, neardup_components, dedup_aware_split,
    contrastive_pairs). Yields CTEs ``toks, sh, sizes, inter,
    {pos_name}(id_a, id_b, jaccard)``; the caller prepends
    ``WITH [RECURSIVE]`` and appends its own tail."""
    return f"""toks AS (
  SELECT doc_id AS id, regexp_extract_all(LOWER(text), '[a-z0-9]+') AS tok
  FROM documents
),
sh AS (
  SELECT id, DISTINCT_GRAM AS sh FROM (
    SELECT id, unnest(list_distinct(list_transform(
        range(1, GREATEST(LENGTH(tok) - 2, 0) + 1),
        i -> concat_ws(' ', tok[i], tok[i+1], tok[i+2])))) AS DISTINCT_GRAM
    FROM toks
    WHERE LENGTH(tok) >= 3
  )
),
sizes AS (SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_common
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
  GROUP BY 1, 2
),
{pos_name} AS (
  SELECT id_a, id_b,
         ROUND(CAST(n_common AS DOUBLE)
               / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
  FROM inter
  JOIN sizes sa ON sa.id = id_a
  JOIN sizes sb ON sb.id = id_b
  WHERE ROUND(CAST(n_common AS DOUBLE)
              / (sa.n_sh + sb.n_sh - n_common), 6) >= {threshold}
)"""
