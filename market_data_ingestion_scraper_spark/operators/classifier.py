"""Linear quality classifier — CCNet/fastText-style corpus filtering,
Spark-first.

A large-scale training-data pipeline keeps or drops documents with a
cheap linear model over quality signals (Wenzek et al. 2020 "CCNet"
filters on a scored signal; Joulin et al. 2016 fastText is the standard
linear text classifier).  The pipeline shape that survives 100 TB:

- FEATURIZE relationally: the per-document quality signals already exist
  (`text.quality_features` — token counts, punctuation/stopword ratios),
  all rounded to 6 decimals, so every downstream step can run in exact
  int64 micro-units.
- TRAIN with bounded driver work: either one exact full-batch gradient
  step computed DISTRIBUTED (``gradient_step_weights`` — from a zero
  init the logistic gradient needs no sigmoid, since sigma(0) = 1/2
  exactly, so the step is a plain aggregate ``lr/2n * sum(x * s)`` with
  s = +-1; bit-exact in SQL), or multi-step numpy gradient descent over
  a capped sample (``fit_lr`` — the `fit_ivf_centroids` pattern: the
  driver touches at most ``sample_cap`` rows, never the corpus).
- SCORE with a broadcast: the weight vector is one tiny row (or a
  Python list of literals); the logit is an exact integer dot product
  (micro-unit weights x micro-unit features), so keep/drop decisions
  are integer-sign comparisons — bit-for-bit reproducible across
  engines, which is what the `quality_ensemble` oracle's clf vote pins.

Nothing here derives from the reference repo (a Selenium scraper,
/root/reference/main.py); linear classifiers and logistic regression
are textbook public knowledge.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: classifier feature names, in scoring order (bias first)
FEATURE_COLS: tuple[str, ...] = (
    "x_bias",
    "x_len",
    "x_avg",
    "x_punct",
    "x_stop",
)


def classifier_features(
    quality: DataFrame,
    label_threshold: float = 0.6,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """Stage (doc_id, x_bias..x_stop, s) from a `quality_features` frame:
    every feature saturates into [0, 1] and is rounded to 6 decimals so
    micro-unit arithmetic downstream is exact; ``s`` is the +-1 weak
    label (composite quality_score >= threshold) the gradient step
    consumes.  Callers with real labels can overwrite ``s`` — anything
    +-1 works.  ``keep`` carries extra columns through (streaming
    serving keeps the original row beside its features)."""
    return quality.select(
        "doc_id",
        *keep,
        F.lit(1.0).alias("x_bias"),
        F.round(F.least(F.col("n_tokens") / 100.0, F.lit(1.0)), 6).alias(
            "x_len"
        ),
        F.round(
            F.least(F.col("avg_token_len") / 10.0, F.lit(1.0)), 6
        ).alias("x_avg"),
        F.col("punct_ratio").alias("x_punct"),
        F.col("stopword_ratio").alias("x_stop"),
        F.when(F.col("quality_score") >= label_threshold, F.lit(1))
        .otherwise(F.lit(-1))
        .alias("s"),
    )


def _micro(c: Column) -> Column:
    return F.round(c * 1e6).cast("long")


def gradient_step_weights(
    feats: DataFrame, lr: float = 1.0
) -> DataFrame:
    """ONE exact full-batch logistic-regression gradient step from a
    zero initialization, as a 1-row weight frame (w_<col> double,
    wm_<col> micro-unit long, n_rows).

    From w = 0 every prediction is sigma(0) = 1/2 exactly, so the step
    ``w_j = lr/n * sum_i x_ij (y_i - 1/2) = lr/(2n) * sum_i x_ij s_i``
    is a plain aggregate — no transcendental functions, hence bit-exact
    in int64 micro-units and SQL-twinnable.  One scan, one map-side
    combined reduce to a single row; at any corpus size the shuffle is
    |features| longs.  sum(micro * s) stays within int64 up to ~9e12
    rows (features saturate at 1.0 = 1e6 micro-units)."""
    sums = feats.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[
            F.sum(_micro(F.col(c)) * F.col("s")).alias(f"g_{c}")
            for c in FEATURE_COLS
        ],
    )
    half_lr = float(lr) * 0.5
    return sums.select(
        "n_rows",
        *[
            F.round(
                F.lit(half_lr)
                * F.col(f"g_{c}").cast("double")
                / 1e6
                / F.col("n_rows"),
                6,
            ).alias(f"w_{c}")
            for c in FEATURE_COLS
        ],
    ).select(
        "n_rows",
        *[F.col(f"w_{c}") for c in FEATURE_COLS],
        *[_micro(F.col(f"w_{c}")).alias(f"wm_{c}") for c in FEATURE_COLS],
    )


def logit_scores(feats: DataFrame, weights: DataFrame) -> DataFrame:
    """Score every row against a 1-row weight frame: (doc_id, logit,
    keep).  The dot product is exact integer arithmetic — micro-unit
    features x micro-unit weights, summed in int64 — so ``keep`` is an
    integer sign test and ``logit`` its 6-decimal readback.  The weight
    row broadcasts (1 row); the corpus never shuffles."""
    wcols = [f"wm_{c}" for c in FEATURE_COLS]
    dot = None
    for c in FEATURE_COLS:
        term = _micro(F.col(c)) * F.col(f"wm_{c}")
        dot = term if dot is None else dot + term
    return (
        feats.crossJoin(F.broadcast(weights.select(*wcols)))
        .withColumn("_dot", dot)
        .select(
            "doc_id",
            F.round(F.col("_dot").cast("double") / 1e12, 6).alias("logit"),
            (F.col("_dot") > 0).alias("keep"),
        )
    )


def score_with_literal_weights(
    feats: DataFrame, weights: list[float], keep: tuple[str, ...] = ()
) -> DataFrame:
    """Serving path: score against a persisted/trained weight vector
    passed as Python literals (scoring order = FEATURE_COLS).  Same
    exact micro-unit arithmetic as :func:`logit_scores`; weights are
    rounded to 6 decimals on entry so stored artifacts and literals
    agree.  ``keep`` carries extra columns into the output (streaming
    admission returns the original row beside its verdict)."""
    if len(weights) != len(FEATURE_COLS):
        raise ValueError(
            f"expected {len(FEATURE_COLS)} weights, got {len(weights)}"
        )
    wm = [int(round(round(float(w), 6) * 1e6)) for w in weights]
    dot = None
    for c, m in zip(FEATURE_COLS, wm):
        term = _micro(F.col(c)) * F.lit(m)
        dot = term if dot is None else dot + term
    return feats.withColumn("_dot", dot).select(
        "doc_id",
        *keep,
        F.round(F.col("_dot").cast("double") / 1e12, 6).alias("logit"),
        (F.col("_dot") > 0).alias("keep"),
    )


def fit_lr(
    feats: DataFrame,
    n_iter: int = 50,
    lr: float = 1.0,
    sample_cap: int = 100_000,
) -> list[float]:
    """Multi-step logistic regression on the driver over a BOUNDED
    sample (the `fit_ivf_centroids` pattern): deterministic
    ``orderBy(doc_id).limit(sample_cap)`` selection, full-batch numpy
    gradient descent from zeros, float64.  Returns the weight vector in
    FEATURE_COLS order, rounded to 6 decimals for literal serving.

    The sample bounds driver memory at any corpus size; the full-data
    path for one step is :func:`gradient_step_weights`.  Deterministic:
    no randomness anywhere (fixed init, fixed order, full-batch)."""
    import numpy as np

    rows = (
        feats.select("doc_id", *FEATURE_COLS, "s")
        .orderBy("doc_id")
        .limit(int(sample_cap))
        .collect()
    )
    if not rows:
        raise ValueError("fit_lr: empty feature frame")
    x = np.array([[r[c] for c in FEATURE_COLS] for r in rows], dtype=np.float64)
    y = np.array([(1.0 if r["s"] > 0 else 0.0) for r in rows], dtype=np.float64)
    w = np.zeros(x.shape[1], dtype=np.float64)
    for _ in range(max(0, int(n_iter))):
        p = 1.0 / (1.0 + np.exp(-(x @ w)))
        w += lr * (x.T @ (y - p)) / len(y)
    return [round(float(v), 6) for v in w]


def save_quality_weights(
    weights: list[float], path: str, meta: dict | None = None
) -> None:
    """Persist a trained weight vector as a small JSON artifact — the
    classifier twin of the ann-index `_quantizer.json` lesson: serving
    must derive its parameters from the artifact, never from caller
    memory.  Records the feature schema so a loader can refuse a vector
    trained against different features."""
    import json

    if len(weights) != len(FEATURE_COLS):
        raise ValueError(
            f"expected {len(FEATURE_COLS)} weights, got {len(weights)}"
        )
    doc = {
        "kind": "linear-quality",
        "feature_cols": list(FEATURE_COLS),
        "weights": [round(float(w), 6) for w in weights],
    }
    if meta:
        doc["meta"] = dict(meta)
    with open(path, "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)


def load_quality_weights(path: str) -> list[float]:
    """Load a `save_quality_weights` artifact, validating kind and the
    feature schema (a weight vector scored against features it was not
    trained on is silent garbage — mismatch raises instead)."""
    import json

    with open(path) as f:
        doc = json.load(f)
    if doc.get("kind") != "linear-quality":
        raise ValueError(f"not a linear-quality artifact: {doc.get('kind')}")
    if tuple(doc.get("feature_cols", ())) != FEATURE_COLS:
        raise ValueError(
            "feature schema mismatch: artifact has "
            f"{doc.get('feature_cols')}, serving expects {list(FEATURE_COLS)}"
        )
    w = doc["weights"]
    if len(w) != len(FEATURE_COLS):
        raise ValueError(f"expected {len(FEATURE_COLS)} weights, got {len(w)}")
    return [float(v) for v in w]


def logistic_loss(feats: DataFrame, weights: list[float]) -> float:
    """Mean logistic loss of a weight vector over a feature frame —
    the training diagnostic (pytest pins monotone decrease).  One
    aggregate; log1p/exp are float but this is a metric, not a gated
    result."""
    if len(weights) != len(FEATURE_COLS):
        raise ValueError(
            f"expected {len(FEATURE_COLS)} weights, got {len(weights)}"
        )
    z = None
    for c, w in zip(FEATURE_COLS, [round(float(w), 6) for w in weights]):
        term = F.col(c) * F.lit(w)
        z = term if z is None else z + term
    margin = z * F.col("s").cast("double")
    row = feats.agg(
        F.avg(F.log1p(F.exp(-margin))).alias("loss")
    ).collect()[0]
    return float(row["loss"])
