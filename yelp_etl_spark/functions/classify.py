"""Distributed multinomial Naive Bayes text classification — the
classic fastText-shaped curation classifier (language / quality /
domain tagging) re-expressed as pure DataFrame algebra.

Why NB for the 100 TB curation path: training is ONE pass of
partial-aggregated counting (no iterations, no gradient state), the
model is a (vocab × classes) table that stays a DataFrame (never a
driver-side object), and scoring is a token-keyed join + one keyed
sum — every step shuffles on an 8-byte-hashable key and nothing ever
collects. That is exactly the shape that survives 1000 executors.

Cross-engine bit-parity trick (same family as clustering.py's rounded
centroids): log-likelihoods are QUANTIZED to integer micro-nats
(``round(ln(p)·1e6)`` as BIGINT) per (class, token) BEFORE any
accumulation, so per-document scores are exact BIGINT sums —
order-independent under any partitioning, any engine. A float
log-sum would differ in the last bits between partial-agg orders and
could flip an argmax; integer sums cannot.

Reference parity: the reference has no model layer (yelp-etl stops at
aggregates, run-all-pipelines.sh:239); this generalizes its gold-layer
direction to the supervised tagging step every curation pipeline runs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Integer micro-nat quantization of a probability's natural log.
MICRO = 1_000_000.0


def _qlog(p: Column) -> Column:
    """``round(ln(p)·1e6)`` as BIGINT — the quantized log-likelihood.
    One IEEE divide feeds one ``ln`` feeds one round: any engine
    reproduces the integer exactly (a last-ulp `ln` divergence lands
    on a different integer only within ~2e-9 of a rounding boundary)."""
    return F.round(F.log(p) * F.lit(MICRO)).cast("long")


# Public alias: the ONE micro-nat quantization every entropy/MI/WoE
# site must share (the l-diversity audit, mutual_info_terms) — a
# second inline copy of this expression is how the oracle-parity
# convention silently forks. (validate.profile_columns uses the
# decomposed count form q(ln cnt) — same 1e6 grid, log of an integer
# count rather than of a probability.)
qlog = _qlog


def _tokens(df: DataFrame, id_column: str, text_column: str) -> DataFrame:
    """Engine-portable literal-space tokens (shared convention —
    see text.portable_tokens)."""
    from yelp_etl_spark.functions.text import portable_tokens

    return portable_tokens(df, id_column, text_column)


def naive_bayes_train(
    df: DataFrame,
    label_column: str = "lang",
    text_column: str = "text",
    id_column: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Train multinomial NB with add-one smoothing on the full
    (vocab × classes) grid.

    Returns ``(priors, loglik)``:
      priors: (label, prior_q)           — quantized ln P(class)
      loglik: (tok, label, loglik_q)     — quantized ln P(tok | class)

    Plan: token counts are one partial-aggregated shuffle keyed
    (label, tok); the smoothing grid is vocab ⨯ classes (classes are
    few — the grid is a broadcast-joined cross of the distinct-token
    table against a tiny class table, linear in vocab). ``P(t|c) =
    (c(c,t)+1) / (total_c + V)`` — tokens absent from a class still
    get a (smoothed) cell, so scoring needs no OOV special case
    beyond dropping tokens outside the training vocabulary (the
    standard convention: an unseen token carries no class signal).
    """
    toks = _tokens(df, id_column, text_column)
    labeled = toks.join(
        df.select(id_column, label_column), id_column
    ).select(F.col(label_column).alias("label"), "tok")

    pair = labeled.groupBy("label", "tok").agg(F.count("*").alias("c"))
    totals = pair.groupBy("label").agg(F.sum("c").alias("total_c"))
    vocab = pair.select("tok").distinct()
    vsize = vocab.agg(F.count("*").alias("v"))

    grid = (
        vocab.crossJoin(F.broadcast(totals))
        .join(pair, ["label", "tok"], "left")
        .crossJoin(F.broadcast(vsize))
        .select(
            "tok",
            "label",
            _qlog(
                (F.coalesce("c", F.lit(0)) + F.lit(1)).cast("double")
                / (F.col("total_c") + F.col("v"))
            ).alias("loglik_q"),
        )
    )

    n_docs = df.groupBy(F.col(label_column).alias("label")).agg(
        F.count("*").alias("n_l")
    )
    n_total = df.agg(F.count("*").alias("n"))
    priors = n_docs.crossJoin(F.broadcast(n_total)).select(
        "label",
        _qlog(F.col("n_l").cast("double") / F.col("n")).alias("prior_q"),
    )
    return priors, grid


def naive_bayes_predict(
    df: DataFrame,
    priors: DataFrame,
    loglik: DataFrame,
    text_column: str = "text",
    id_column: str = "doc_id",
) -> DataFrame:
    """Score every document against every class and take the argmax
    (ties broken by label order — a total order, so the prediction is
    deterministic).

    Plan: doc tokens join the model keyed on ``tok`` (the model is
    vocab-sized — AQE broadcasts it when it fits, shuffles otherwise;
    either way never all-pairs), one keyed sum to (doc, label), then
    a left join back from the doc ⨯ class frame so a document with
    zero in-vocabulary tokens still gets prior-only scores. The
    argmax window is partitioned per document over ``n_classes``
    rows. Scores are exact BIGINT micro-nat sums.

    Returns (id, label = predicted class, score_q).
    """
    toks = _tokens(df, id_column, text_column)
    tok_scores = (
        toks.join(loglik, "tok")
        .groupBy(id_column, "label")
        .agg(F.sum("loglik_q").alias("tok_q"))
    )
    frame = df.select(id_column).crossJoin(F.broadcast(priors))
    scored = frame.join(tok_scores, [id_column, "label"], "left").select(
        id_column,
        "label",
        (F.col("prior_q") + F.coalesce("tok_q", F.lit(0))).alias("score_q"),
    )
    w = Window.partitionBy(id_column).orderBy(
        F.desc("score_q"), F.asc("label")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(id_column, "label", "score_q")
    )


def logistic_regression_train(
    df: DataFrame,
    labels: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "y",
    iterations: int = 4,
    lr: float = 1.0,
    round_decimals: int = 6,
) -> tuple[list[tuple[int, float]], float]:
    """Binary logistic regression by full-batch gradient descent —
    the discriminative sibling of the NB tagger, with the training
    loop distributed the same way clustering.py distributes k-means
    and power iteration: the DATA never leaves the cluster, the
    driver only ever holds the dim-sized model between rounds.

    Per round (two keyed partial-agg shuffles, the PCA matvec shape):
      z_i = Σ_p w_p·x_ip  (components join the broadcast weight
            vector, sum keyed on the row id)   — rounded
      p_i = σ(z_i)                              — rounded
      g_p = Σ_i x_ip·(p_i − y_i) / n            — rounded
      w'  = w − lr·g                            — rounded
    The bias is an augmented component (pos = −1, x = 1), so one code
    path trains it with the weights. Cross-engine determinism uses
    the module-wide discipline: fixed iteration count, every
    accumulated float rounded to ``round_decimals`` before it feeds
    the next expression, ``lr`` = 1 so the update w − lr·g stays ON
    the rounding grid (a fractional lr mints exact grid MIDPOINTS —
    half-even vs half-away rounders then disagree on ~half the
    coordinates; measured, not theoretical), zero init (first-round
    p_i is exactly 0.5). A
    DuckDB oracle replays the identical unrolled rounds.

    Returns ``(weights, accuracy)``: weights as [(pos, w)] with the
    bias at pos −1, and training accuracy of the final model (the
    decision p ≥ ½ ⇔ z ≥ 0 compares exactly — no float boundary).
    """
    from yelp_etl_spark.functions.checkpoint import truncate_lineage

    dim = len(df.select(vec_col).limit(1).collect()[0][0])
    # A round over the POSEXPLODED component table (65 rows/vector)
    # needs two keyed exchanges (z groupBy(id), gradient groupBy(pos))
    # plus a per-round createDataFrame+broadcast of the weight vector
    # — 39 scheduled jobs at sf0.1, scheduling-bound. With a fixed
    # small dim the whole round is expressible over the VECTOR rows
    # directly (aggregate before you shuffle — here the shuffle
    # disappears entirely):
    #   z_i  = one zip_with/aggregate fold per row (w as a LITERAL
    #          array — no broadcast build, no join),
    #   g    = ONE global aggregate with dim+1 partial-agg sums,
    # so each round is a single shuffle-free job collecting one row.
    # The labels join happens ONCE up front instead of once per round.
    # Float-sum order note: the per-row fold is sequential
    # (bias-seeded, p = 0..dim−1) where the old groupBy sum was
    # partial-agg ordered, and the per-position row sums remain
    # partial-agg ordered — the same order-robustness contract the
    # DuckDB oracle already relies on (its SUM order never matched
    # Spark's row order); outputs verified bit-identical at
    # sf0.001/0.01/0.1 against the pre-change code.
    base = truncate_lineage(
        df.select(F.col(id_col), F.col(vec_col)).join(
            labels.select(
                F.col(id_col), F.col(label_col).cast("double").alias("y")
            ),
            id_col,
        ).select(
            F.transform(F.col(vec_col), lambda v: v.cast("double")).alias(
                "x"
            ),
            "y",
        ),
        eager=True,
    )
    n = float(base.count())
    w = [(p, 0.0) for p in range(-1, dim)]

    def _z(wrows):
        wd = dict(wrows)
        warr = F.array(*[F.lit(float(wd[p])) for p in range(dim)])
        return F.round(
            F.aggregate(
                F.zip_with(F.col("x"), warr, lambda a, b: a * b),
                # the bias (pos −1, x = 1.0) seeds the fold
                F.lit(float(wd[-1])),
                lambda acc, v: acc + v,
            ),
            round_decimals,
        )

    def _r(wrows):
        return (
            F.round(
                F.lit(1.0) / (F.lit(1.0) + F.exp(-_z(wrows))),
                round_decimals,
            )
            - F.col("y")
        ).alias("r")

    for _ in range(iterations):
        # gradient: one posexplode + one 65-key partial-agg shuffle
        # (a dim-wide single-row aggregate was tried first — fewer
        # jobs but the 65-expression tree cost MORE driver
        # planning/codegen per round than it saved; measured slower)
        grad = (
            base.select(_r(w), "x")
            .select(
                "r",
                # a 1.0 prefix is the bias component (pos −1 after
                # the shift below) — same augmented-column trick as
                # the old exploded table
                F.posexplode(F.concat(F.array(F.lit(1.0)), F.col("x"))),
            )
            .groupBy((F.col("pos") - 1).alias("pos"))
            .agg(
                F.round(
                    F.sum(F.col("col") * F.col("r")) / F.lit(n),
                    round_decimals,
                ).alias("g")
            )
        )
        gmap = {r["pos"]: r["g"] for r in grad.collect()}
        w = [
            (p, round(val - lr * gmap.get(p, 0.0), round_decimals))
            for p, val in w
        ]

    correct = base.filter(((_z(w) >= 0).cast("double")) == F.col("y"))
    acc = round(correct.count() / n, round_decimals)
    return w, acc


def chi2_terms(
    df: DataFrame,
    label_column: str = "lang",
    text_column: str = "text",
    id_column: str = "doc_id",
    top_k: int = 20,
) -> DataFrame:
    """Chi-squared feature selection (Yang & Pedersen 1997): which
    terms are most dependent on the class label — the standard
    vocabulary-pruning step in front of a bag-of-words classifier
    (feed the survivors to ``naive_bayes_train`` / the hashing trick).

    Uses document PRESENCE (the conventional χ² contingency), so the
    first step collapses token occurrences to distinct (doc, term)
    pairs. For term t and class c the 2×2 table is
    a = |docs in c with t|, b = df_t − a, c' = n_c − a,
    d = N − df_t − n_c + a, and

        χ²(t, c) = N·(a·d − b·c')² / ((a+b)(c'+d)(a+c')(b+d))

    Every count is an exact BIGINT from keyed partial aggregates; the
    χ² value itself is ONE fixed double expression tree over five
    cast counts (products reach ~N⁴ — far past int64, so the math is
    double by construction, identically rounded in any engine).

    Plan: distinct (doc, term) → one shuffle keyed (term, label) for
    a; term document-frequencies reduce that same table; the grid is
    df_t ⨯ classes (broadcast — classes are few) left-joined with a,
    so terms absent from a class still score. Never all-pairs; the
    final ranking is over the vocab×classes grid.
    """
    labels = df.select(id_column, F.col(label_column).alias("label"))
    presence = (
        _tokens(df, id_column, text_column)
        .select(id_column, "tok")
        .distinct()
        .join(labels, id_column)
    )
    a_tbl = presence.groupBy("tok", "label").agg(F.count("*").alias("a"))
    dft = a_tbl.groupBy("tok").agg(F.sum("a").cast("long").alias("df_t"))
    n_c = df.groupBy(F.col(label_column).alias("label")).agg(
        F.count("*").alias("n_c")
    )
    n_tot = df.agg(F.count("*").alias("n"))
    grid = (
        dft.crossJoin(F.broadcast(n_c))
        .join(a_tbl, ["tok", "label"], "left")
        .crossJoin(F.broadcast(n_tot))
        .select(
            "tok",
            "label",
            F.coalesce("a", F.lit(0)).cast("long").alias("a"),
            "df_t",
            "n_c",
            "n",
        )
    )
    ad, bd = F.col("a").cast("double"), (F.col("df_t") - F.col("a")).cast("double")
    cd = (F.col("n_c") - F.col("a")).cast("double")
    dd = (F.col("n") - F.col("df_t") - F.col("n_c") + F.col("a")).cast("double")
    nd = F.col("n").cast("double")
    num = nd * (ad * dd - bd * cd) * (ad * dd - bd * cd)
    den = (ad + bd) * (cd + dd) * (ad + cd) * (bd + dd)
    # den = 0 iff the term is in EVERY doc (df_t = N) or the corpus is
    # single-class (n_c = N); both mean zero discriminative power, and
    # the guard keeps ANSI mode from raising divide-by-zero.
    degenerate = (F.col("df_t") == F.col("n")) | (F.col("n_c") == F.col("n"))
    scored = grid.select(
        "tok",
        "label",
        F.col("a").alias("n_docs_in_class"),
        F.when(degenerate, F.lit(0.0))
        .otherwise(F.round(num / den, 4))
        .alias("chi2"),
    )
    return scored.orderBy(F.desc("chi2"), "tok", "label").limit(top_k)


def boosted_stumps(
    df: DataFrame,
    target_centi: str,
    rounds: list[tuple[str, list[int]]],
) -> DataFrame:
    """Gradient-boosted regression stumps under squared loss — the
    simplest member of the GBDT family, trained fully in-engine with
    EXACT integer arithmetic so every round is oracle-checkable.

    ``df`` carries integer feature columns plus ``target_centi``, the
    target pre-quantized to integer centi-units (squared loss on a
    quantized target is the established cross-engine discipline —
    see kaplan_meier / logistic_regression_train). Each ``rounds``
    entry is ``(feature_column, candidate_thresholds)``; round i fits
    a depth-1 stump (split f ≤ t) to the current residuals and the
    residuals update by the stump's floor-quantized leaf means.

    Exactness: per-feature-value partials (n, Σr, Σr²) are BIGINT;
    the split score Σ_L²/n_L + Σ_R²/n_R uses two exact-product
    doubles (bit-identical on any engine while |Σr| < 2²⁶·⁵ ≈ 9.4e7,
    i.e. ~9e7 rows at centi scale — beyond that, re-quantize residuals
    coarser); leaves are FLOOR(Σr/n) via an explicit remainder
    correction (Spark's ``div`` and DuckDB's ``//`` BOTH truncate
    toward zero, so ``a div n − (a % n ≠ 0 AND a < 0)`` is the
    portable floor at ANY residual magnitude — no shift constant, no
    hidden range bound); post-round SSE is reconstructed exactly
    from the partials (Σr² − 2·leaf·Σr + n·leaf²), never re-scanned.

    Scale shape: each round is ONE keyed partial-agg over the
    feature's distinct values (bounded model table), a broadcast
    cross-join against the literal threshold grid, a bounded top-1
    sort over |grid| rows, and a broadcast 1-row residual update.
    The data table is scanned once per round; nothing collects.

    Returns one row per round:
    (round, threshold, n_lo, n_hi, leaf_lo, leaf_hi, train_sse).
    """
    from yelp_etl_spark.functions.checkpoint import cut, truncate_lineage

    spark = df.sparkSession
    feature_cols = [f for f, _ in rounds]
    cur = truncate_lineage(
        df.select(
            *[F.col(f).cast("long").alias(f) for f in feature_cols],
            F.col(target_centi).cast("long").alias("r"),
        ),
        eager=True,
    )
    out_rows = []
    for i, (feat, thresholds) in enumerate(rounds, start=1):
        partials = cur.groupBy(F.col(feat).alias("f")).agg(
            F.count("*").alias("n"),
            F.sum("r").alias("s"),
            F.sum(F.col("r") * F.col("r")).alias("ss"),
        )
        thr = spark.createDataFrame(
            [(int(t),) for t in thresholds], "t bigint"
        )
        lo = F.col("f") <= F.col("t")
        scored = (
            partials.crossJoin(F.broadcast(thr))
            .groupBy("t")
            .agg(
                F.sum(F.when(lo, F.col("n")).otherwise(0)).alias("nl"),
                F.sum(F.when(lo, F.col("s")).otherwise(0)).alias("sl"),
                F.sum(F.when(lo, F.col("ss")).otherwise(0)).alias("ssl"),
                F.sum(F.when(~lo, F.col("n")).otherwise(0)).alias("nh"),
                F.sum(F.when(~lo, F.col("s")).otherwise(0)).alias("sh"),
                F.sum(F.when(~lo, F.col("ss")).otherwise(0)).alias("ssh"),
            )
            .filter((F.col("nl") > 0) & (F.col("nh") > 0))
        )
        score = (
            F.col("sl").cast("double") * F.col("sl") / F.col("nl")
            + F.col("sh").cast("double") * F.col("sh") / F.col("nh")
        )
        # the row count rides the cut's job: no separate emptiness probe
        best, n_best = cut(
            scored.withColumn("score", score)
            .orderBy(F.desc("score"), F.asc("t"))
            .limit(1),
            F.count(F.lit(1)),
        )
        if n_best == 0:
            # every candidate left one side empty: silently returning
            # fewer rounds than promised (and emptying the residual
            # frame through the cross join) would corrupt the model
            raise ValueError(
                f"boosted_stumps round {i}: no threshold in "
                f"{list(thresholds)!r} splits column {feat!r} into two "
                "non-empty sides — widen the candidate grid"
            )
        best = best.select(
            "t",
            "nl",
            "nh",
            F.expr(
                "(sl div nl) - (CASE WHEN sl % nl != 0 AND sl < 0 "
                "THEN 1 ELSE 0 END)"
            ).alias("leaf_lo"),
            F.expr(
                "(sh div nh) - (CASE WHEN sh % nh != 0 AND sh < 0 "
                "THEN 1 ELSE 0 END)"
            ).alias("leaf_hi"),
            "sl",
            "ssl",
            "sh",
            "ssh",
        )
        round_row = best.select(
            F.lit(i).cast("long").alias("round"),
            F.col("t").alias("threshold"),
            F.col("nl").cast("long").alias("n_lo"),
            F.col("nh").cast("long").alias("n_hi"),
            F.col("leaf_lo").cast("long").alias("leaf_lo"),
            F.col("leaf_hi").cast("long").alias("leaf_hi"),
            (
                (
                    F.col("ssl")
                    - 2 * F.col("leaf_lo") * F.col("sl")
                    + F.col("nl") * F.col("leaf_lo") * F.col("leaf_lo")
                )
                + (
                    F.col("ssh")
                    - 2 * F.col("leaf_hi") * F.col("sh")
                    + F.col("nh") * F.col("leaf_hi") * F.col("leaf_hi")
                )
            )
            .cast("long")
            .alias("train_sse"),
        )
        out_rows.append(round_row)
        if i < len(rounds):
            upd = best.select("t", "leaf_lo", "leaf_hi")
            cur = truncate_lineage(
                cur.crossJoin(F.broadcast(upd)).select(
                    *feature_cols,
                    (
                        F.col("r")
                        - F.when(
                            F.col(feat) <= F.col("t"), F.col("leaf_lo")
                        ).otherwise(F.col("leaf_hi"))
                    ).alias("r"),
                ),
                eager=True,
            )
    result = out_rows[0]
    for extra in out_rows[1:]:
        result = result.unionByName(extra)
    return result.orderBy("round")


def woe_encode(
    df: DataFrame,
    cat_column: str,
    label_column: str,
) -> DataFrame:
    """Weight-of-evidence categorical encoding — the credit-scoring /
    feature-engineering standard for turning a categorical column into
    a monotone risk score: per category,
    ``WoE = ln(((pos+0.5)·(N+0.5)) / ((neg+0.5)·(P+0.5)))`` (Laplace
    0.5 smoothing so empty cells stay finite), plus each category's
    information-value contribution ``(pos/P − neg/N)·WoE``.

    Parity discipline: counts are exact BIGINT; the WoE is one fixed
    expression tree (exact-double products up to 2⁵¹, one divide, one
    ln) quantized to integer micro-nats (``_qlog`` convention); the IV
    term multiplies two single-division doubles by the ALREADY
    QUANTIZED woe_micro, so both engines agree to the last integer.

    One keyed agg over |categories| cells + a broadcast 1-row totals
    join — a 100 TB table pays one partial-aggregated scan.

    Returns (category, n, n_pos, woe_micro, iv_micro) ordered by
    category."""
    half = F.lit(0.5)
    cells = df.groupBy(F.col(cat_column).alias("category")).agg(
        F.count("*").alias("n"),
        F.sum(F.col(label_column).cast("long")).alias("n_pos"),
    )
    totals = cells.agg(
        F.sum("n_pos").alias("__P"),
        F.sum(F.col("n") - F.col("n_pos")).alias("__N"),
    )
    joined = cells.crossJoin(F.broadcast(totals))
    neg = F.col("n") - F.col("n_pos")
    woe_micro = F.round(
        F.log(
            ((F.col("n_pos") + half) * (F.col("__N") + half))
            / ((neg + half) * (F.col("__P") + half))
        )
        * F.lit(MICRO)
    ).cast("long")
    out = joined.withColumn("woe_micro", woe_micro)
    iv_micro = F.round(
        (
            F.col("n_pos") / F.col("__P")
            - neg / F.col("__N")
        )
        * F.col("woe_micro")
    ).cast("long")
    return out.select(
        "category",
        F.col("n").cast("long").alias("n"),
        F.col("n_pos").cast("long").alias("n_pos"),
        "woe_micro",
        iv_micro.alias("iv_micro"),
    ).orderBy("category")


def loo_target_encode(
    df: DataFrame,
    cat_column: str,
    label_column: str,
    out_column: str = "loo_enc_ppm",
) -> DataFrame:
    """Leave-one-out target encoding: each row gets its category's
    label mean EXCLUDING itself, ``(Σy − y_i)/(n − 1)`` — the standard
    leak-free way to feed a high-cardinality categorical to a model
    (plain target encoding leaks the row's own label; LOO removes it).
    Singleton categories (n = 1) fall back to the global prior.

    Values are FLOOR-ppm (the portable division convention): numerator
    and denominator are exact BIGINTs, one multiply + one divide +
    one floor per row, identical on any engine.

    Shape: one keyed agg to |categories| cells, one broadcast 1-row
    prior, one join back on the category — no window, no per-row
    Python; the join is broadcastable whenever the category table is
    (the usual case even at 100 TB: categories ≪ rows)."""
    y = F.col(label_column).cast("long")
    cells = df.groupBy(F.col(cat_column).alias("__cat")).agg(
        F.count("*").alias("__n"), F.sum(y).alias("__sy")
    )
    prior = df.agg(
        F.floor(
            F.lit(1_000_000) * F.sum(y) / F.count("*")
        ).alias("__prior_ppm")
    )
    enc = F.when(
        F.col("__n") > 1,
        F.floor(
            F.lit(1_000_000) * (F.col("__sy") - y) / (F.col("__n") - 1)
        ),
    ).otherwise(F.col("__prior_ppm"))
    return (
        df.join(
            # NULL-safe: a NULL category is a real group (groupBy keeps
            # it) — a plain equality join would silently DROP those
            # rows, and an encoder must never change the row count
            F.broadcast(cells),
            F.col(cat_column).eqNullSafe(F.col("__cat")),
        )
        .crossJoin(F.broadcast(prior))
        .withColumn(out_column, enc.cast("long"))
        .drop("__cat", "__n", "__sy", "__prior_ppm")
    )


def mutual_info_terms(
    df: DataFrame,
    label_column: str = "lang",
    text_column: str = "text",
    id_column: str = "doc_id",
    top_k: int = 20,
) -> DataFrame:
    """Mutual-information feature selection (Yang & Pedersen 1997, the
    information-theoretic sibling of ``chi2_terms``): I(T; C) over the
    term-presence indicator and the class label,

        I = Σ_{t∈{1,0}, c} (n_tc/N) · ln(N·n_tc / (n_t·n_c)),

    summed over classes AND the term's absence cells — absence carries
    signal too (a term missing from one class is informative).

    Parity discipline: every count is an exact BIGINT from the same
    presence/grid plumbing as chi2_terms; each cell's log-ratio is
    quantized to integer micro-nats BEFORE the Σ n_cell·q sum (exact
    BIGINT), and the final /N is one division. Zero cells contribute
    exactly 0 (lim x·ln x = 0), guarded before the log.

    Returns top_k (tok, df_t, mi_micro) by MI desc, token asc.
    """
    labels = df.select(id_column, F.col(label_column).alias("label"))
    presence = (
        _tokens(df, id_column, text_column)
        .select(id_column, "tok")
        .distinct()
        .join(labels, id_column)
    )
    a_tbl = presence.groupBy("tok", "label").agg(F.count("*").alias("a"))
    dft = a_tbl.groupBy("tok").agg(F.sum("a").cast("long").alias("df_t"))
    n_c = df.groupBy(F.col(label_column).alias("label")).agg(
        F.count("*").alias("n_c")
    )
    n_tot = df.agg(F.count("*").alias("n"))
    grid = (
        dft.crossJoin(F.broadcast(n_c))
        .join(a_tbl, ["tok", "label"], "left")
        .crossJoin(F.broadcast(n_tot))
        .select(
            "tok",
            F.coalesce("a", F.lit(0)).cast("long").alias("a"),
            "df_t",
            "n_c",
            "n",
        )
    )

    def cell(n_cell, row_tot):
        q = _qlog(
            F.col("n").cast("double") * n_cell / (row_tot * F.col("n_c"))
        )
        return F.when(n_cell > 0, n_cell * q).otherwise(F.lit(0))

    terms = grid.select(
        "tok",
        "df_t",
        "n",
        (
            cell(F.col("a"), F.col("df_t"))
            + cell(
                F.col("n_c") - F.col("a"), F.col("n") - F.col("df_t")
            )
        ).alias("contrib"),
    )
    scored = terms.groupBy("tok").agg(
        F.first("df_t").alias("df_t"),
        F.round(F.sum("contrib") / F.first("n")).cast("long").alias("mi_micro"),
    )
    return scored.orderBy(F.desc("mi_micro"), "tok").limit(top_k)
