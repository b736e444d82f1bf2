"""X33 leakage-safe temporal train/val split CONSTRUCTION: instead of
checking an existing split for contamination, construct one with the
guarantees a temporal evaluation needs (standard public methodology:
time-based holdout with an embargo/purge window, López de Prado 2018
*Advances in Financial Machine Learning* ch. 7 purged K-fold + embargo;
warm/cold-start entity stratification is the recsys evaluation
standard).

Guarantees, by construction:

- **Temporal**: every ``train`` row's timestamp is strictly before the
  cutoff; every ``val_*`` row's is at or after cutoff + embargo.
- **Embargo (purge)**: rows inside ``[cutoff, cutoff + embargo)`` are
  assigned ``embargo`` and belong to NEITHER side — the buffer that
  keeps windowed/lagged features computed near the boundary from
  straddling it (the leakage a plain two-way cut bakes in).
- **Entity stratification**: val rows split into ``val_warm`` (the
  entity has at least one train row — its history is legitimately
  available at inference time) and ``val_cold`` (entity unseen in
  train — the cold-start subset).  Evaluating the two separately is
  what prevents "the model memorized the user" from reading as
  generalization.  Rows with a NULL entity are ``val_cold`` (no
  history can be attributed to them); rows with a NULL TIMESTAMP are
  ``embargo`` (they cannot be placed on either side of a temporal
  boundary, so they join neither — the conservative choice).

Spark-first shape at 100 TB: ONE scan builds the distinct train-entity
table (map-side-combined aggregate — the shuffle carries bare entity
ids, bounded by |entities|, never events), then ONE scan assigns every
row via an entity-keyed LEFT equi-join (AQE broadcasts the entity table
when it fits; bucket both sides by the entity column otherwise) and a
branch-free CASE projection.  The assignment is a pure function of
(row, cutoff, embargo, train-entity set): deterministic under any
partitioning, and the SQL oracle reproduces it bit-for-bit.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _valid_ts(literal: str, what: str) -> str:
    """Fail fast on a malformed timestamp literal (it is spliced into an
    INTERVAL expression — a typo'd value must raise here, not parse as
    NULL and silently send every row to one side) and NORMALIZE it:
    Python's fromisoformat accepts compact forms ('20240125',
    '2024-01-25T00') that Spark's timestamp parser rejects at ACTION
    time with a DateTimeException the callers don't catch (r15 review
    finding) — re-emitting the canonical 'YYYY-MM-DD HH:MM:SS' form
    makes everything fromisoformat accepts Spark-safe."""
    try:
        parsed = datetime.fromisoformat(literal)
    except ValueError as exc:
        raise ValueError(f"{what} must be an ISO timestamp, got {literal!r}") from exc
    return parsed.isoformat(sep=" ")


def train_entities(
    events: DataFrame,
    cutoff: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Distinct entities with at least one pre-cutoff row — the
    persistable artifact of the split (freeze it next to the cutoff and
    every later job, including the streaming tagger, reproduces the
    identical warm/cold assignment)."""
    cut = F.lit(_valid_ts(cutoff, "cutoff")).cast("timestamp")
    return (
        events.filter(F.col(ts_col) < cut)
        .select(F.col(user_col).alias(user_col))
        .where(F.col(user_col).isNotNull())
        .distinct()
    )


def split_expr(
    cutoff: str,
    embargo_days: int,
    ts_col: str = "ts",
    seen_col: str = "_seen_in_train",
):
    """The one CASE expression both the batch and streaming taggers
    compile to — factored so the two paths cannot drift."""
    if int(embargo_days) < 0:
        raise ValueError(f"embargo_days must be >= 0, got {embargo_days}")
    cut = F.lit(_valid_ts(cutoff, "cutoff")).cast("timestamp")
    val_start = F.expr(
        f"timestamp'{_valid_ts(cutoff, 'cutoff')}'"
        f" + INTERVAL {int(embargo_days)} DAYS"
    )
    return (
        # POLICY: a NULL timestamp cannot be placed on either side of a
        # temporal boundary — without this branch it would fall through
        # the two comparisons (NULL reads false) into val_* and
        # contaminate the validation set (r15 review finding).  Label it
        # embargo: excluded from BOTH sides, the conservative choice.
        F.when(F.col(ts_col).isNull(), F.lit("embargo"))
        .when(F.col(ts_col) < cut, F.lit("train"))
        .when(F.col(ts_col) < val_start, F.lit("embargo"))
        .when(F.col(seen_col), F.lit("val_warm"))
        .otherwise(F.lit("val_cold"))
    )


def temporal_split(
    events: DataFrame,
    cutoff: str,
    embargo_days: int = 1,
    id_col: str = "event_id",
    user_col: str = "user_id",
    ts_col: str = "ts",
    entities: DataFrame | None = None,
) -> DataFrame:
    """Assign every event to (train | embargo | val_warm | val_cold) —
    see the module docstring for the guarantees.  Returns
    ``(id_col, split)``, one row per input row.

    ``entities`` accepts a frozen :func:`train_entities` table (the
    serving form — the split artifact persisted once and reused);
    omitted, it is derived in-plan from the same events frame (the
    oracle-gate form; Spark computes it once either way)."""
    return _assigned(
        events, cutoff, embargo_days, id_col, user_col, ts_col, entities
    ).select(id_col, "split")


def with_seen_flag(
    rows: DataFrame, entities: DataFrame, user_col: str
) -> DataFrame:
    """LEFT-join the train-entity membership flag onto ``rows`` — the
    ONE join both the batch constructor and the streaming tagger
    compile to (factored like :func:`split_expr`, so the stream ≡ batch
    guarantee holds by construction).  The entity side is defensively
    deduplicated: a caller passing a NON-distinct frame as the frozen
    artifact (e.g. the raw pre-cutoff projection) would otherwise fan
    every matching row out once per duplicate and silently break the
    one-row-per-input-row contract (r15 review finding)."""
    seen = entities.select(
        F.col(user_col), F.lit(True).alias("_seen_in_train")
    ).dropDuplicates([user_col])
    return rows.join(seen, user_col, "left").withColumn(
        "_seen_in_train", F.coalesce("_seen_in_train", F.lit(False))
    )


def _assigned(
    events: DataFrame,
    cutoff: str,
    embargo_days: int,
    id_col: str,
    user_col: str,
    ts_col: str,
    entities: DataFrame | None,
) -> DataFrame:
    """(id, user, split) — shared by the assignment and the report."""
    if entities is None:
        entities = train_entities(events, cutoff, user_col, ts_col)
    joined = with_seen_flag(
        events.select(id_col, user_col, ts_col), entities, user_col
    )
    return joined.select(
        id_col,
        user_col,
        split_expr(cutoff, embargo_days, ts_col).alias("split"),
    )


def temporal_split_report(
    events: DataFrame,
    cutoff: str,
    embargo_days: int = 1,
    id_col: str = "event_id",
    user_col: str = "user_id",
    ts_col: str = "ts",
    entities: DataFrame | None = None,
) -> DataFrame:
    """|splits|-row dashboard over :func:`temporal_split`: per split the
    row count, distinct entities, and the exact half-up row-share ppm —
    the numbers that decide whether the cutoff/embargo leave a usable
    validation set.  All corpus-sized work is the split assignment
    itself; the report is a 4-row aggregate plus a bounded window."""
    from ..functions.scalar import bounded_window

    per = (
        _assigned(
            events, cutoff, embargo_days, id_col, user_col, ts_col, entities
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct(user_col).alias("n_entities"),
        )
    )
    w = bounded_window("split")
    staged = per.withColumn("_tot", F.sum("n_rows").over(w))
    share_ppm = F.expr(
        "(CAST(n_rows AS DECIMAL(38,0)) * 2000000 + _tot) DIV (2 * _tot)"
    )
    return staged.select(
        "split",
        "n_rows",
        "n_entities",
        share_ppm.cast("long").alias("row_share_ppm"),
    )


def decontaminated_holdout(
    documents: DataFrame,
    holdout_ppm: int = 100_000,
    k: int = 5,
    min_hits: int = 1,
    cutoff: str | None = None,
    ts_col: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """X36 contamination-aware eval-split BUILDER: construct a held-out
    evaluation set that is decontaminated against its own training side
    by word-``k``-gram overlap — the composition of the X29 gram
    machinery (:func:`~.decontam.gram_hits`) with the X33
    split discipline (every document gets exactly one label; anything
    unplaceable is excluded from BOTH sides, never silently assigned).

    Assignment, one row per document — ``(doc_id, split, n_hit_grams,
    n_train_docs_hit)`` with ``split`` in:

    - ``train`` — not selected for the holdout (stats NULL: the train
      side is never gram-checked, that cost belongs to the bounded
      eval side);
    - ``eval`` — selected and CLEAN: shares fewer than ``min_hits``
      distinct ``k``-grams with the training side AS A WHOLE (the
      contamination aggregate counts distinct shared grams across ALL
      train documents, strictly stronger than any per-train-document
      check; stats are the sub-threshold actuals, usually 0);
    - ``quarantine`` — selected but CONTAMINATED (>= ``min_hits``
      distinct grams shared with the train side; stats record the
      evidence), or UNPLACEABLE with stats NULL: a NULL id (no
      deterministic hash side, either mode) or — temporal mode — a NULL
      timestamp (no side of a time boundary), the X33 NULL policy.
      Quarantined documents join NEITHER side: promoting
      them to train would be fine for leakage but would silently change
      the train distribution mid-build; surfacing them keeps the
      curation decision explicit (the X10 funnel can re-admit them).

    Holdout selection is deterministic and engine-portable:

    - hash mode (default): the document is a candidate iff
      ``portable_token_hash('holdout:' || doc_id) % 1e6 <
      holdout_ppm`` — seed-free, partitioning-invariant, and stable
      under corpus growth (a document's side never changes when new
      documents arrive, so incremental rebuilds don't churn the split);
    - temporal mode (``cutoff=`` + ``ts_col=``): candidates are the
      documents at or after the cutoff — the X33 time-based holdout,
      with the contamination check replacing the entity-embargo notion
      of leakage (eval text the model saw verbatim in train).

    Documents with fewer than ``k`` tokens (or NULL text) carry no
    checkable gram and admit to ``eval`` vacuously clean — by
    definition they cannot leak a ``k``-gram.

    Scale shape at 100 TB: THREE column-pruned scans of (id, text) per
    action — the train-side gram explode, the eval-side gram explode,
    and the final assignment join each read the source (Catalyst does
    not share a scan across plan branches; persist the slim two-column
    projection upstream to make it one read plus cache traffic, the
    call the CLI/bench scale does not need).  Candidacy itself is a
    pure projection; the gram check is :func:`~.decontam.gram_hits` —
    the train-side gram explode equi-joins the holdout-side distinct
    gram table on ``g`` (both shuffles carry grams of THEIR side only;
    the holdout side is ``holdout_ppm``-fractional, and AQE broadcasts
    it at runtime whenever it fits) — and the contamination aggregate
    is bounded by matched eval docs.  The final assignment is an id-keyed LEFT join of the
    corpus against that bounded contamination table.  Exact string
    grams keep the oracle bit-for-bit; swap
    :func:`~.dedup.shingles` hashed grams for long-key shuffles at
    extreme scale.
    """
    from .decontam import gram_hits
    from .dedup import portable_token_hash

    if not 0 < int(holdout_ppm) < 1_000_000:
        raise ValueError(
            f"holdout_ppm must be in (0, 1000000), got {holdout_ppm}"
        )
    if int(min_hits) < 1:
        raise ValueError(f"min_hits must be >= 1, got {min_hits}")
    if (cutoff is None) != (ts_col is None):
        raise ValueError(
            "temporal mode needs BOTH cutoff= and ts_col= (hash mode: "
            "neither)"
        )
    if cutoff is not None:
        cut = F.lit(_valid_ts(cutoff, "cutoff")).cast("timestamp")
        is_cand = F.col(ts_col) >= cut
        # a NULL timestamp — or a NULL id, which has no deterministic
        # hash side either — cannot be placed: quarantine, the X33
        # NULL policy (without the id branch a NULL-id row would fall
        # through the 3VL comparisons into eval UNCHECKED)
        unplaced = F.col(ts_col).isNull() | F.col(id_col).isNull()
    else:
        is_cand = (
            F.pmod(
                portable_token_hash(
                    F.concat(
                        F.lit("holdout:"), F.col(id_col).cast("string")
                    )
                ),
                F.lit(1_000_000),
            )
            < F.lit(int(holdout_ppm))
        )
        unplaced = F.col(id_col).isNull()
    base = documents.select(
        F.col(id_col),
        F.col(text_col),
        is_cand.alias("_cand"),
        unplaced.alias("_unplaced"),
    )
    evals = base.filter(F.col("_cand") & ~F.col("_unplaced")).select(
        F.col(id_col).alias("_eval_id"), F.col(text_col)
    )
    train = base.filter(~F.col("_cand") & ~F.col("_unplaced"))
    contam = (
        gram_hits(
            train,
            evals,
            k=k,
            id_col=id_col,
            text_col=text_col,
            ref_id_col="_eval_id",
        )
        .groupBy("_eval_id")
        .agg(
            F.countDistinct("g").alias("_n_hit_grams"),
            F.countDistinct(id_col).alias("_n_train_docs_hit"),
        )
        # NO min_hits filter here: the threshold decides the LABEL, not
        # whether the evidence is recorded — filtering would misreport a
        # sub-threshold candidate's stats as 0 instead of the documented
        # actuals (r17 review finding; only quarantine checks min_hits)
    )
    joined = base.join(
        contam, base[id_col] == contam["_eval_id"], "left"
    )
    null_long = F.lit(None).cast("long")
    return joined.select(
        F.col(id_col),
        F.when(F.col("_unplaced"), F.lit("quarantine"))
        .when(~F.col("_cand"), F.lit("train"))
        .when(
            F.coalesce(F.col("_n_hit_grams"), F.lit(0)) >= int(min_hits),
            F.lit("quarantine"),
        )
        .otherwise(F.lit("eval"))
        .alias("split"),
        F.when(F.col("_unplaced") | ~F.col("_cand"), null_long)
        .otherwise(F.coalesce(F.col("_n_hit_grams"), F.lit(0)))
        .alias("n_hit_grams"),
        F.when(F.col("_unplaced") | ~F.col("_cand"), null_long)
        .otherwise(F.coalesce(F.col("_n_train_docs_hit"), F.lit(0)))
        .alias("n_train_docs_hit"),
    )


#: JSON sidecar filename written next to a persisted split assignment —
#: records the selection parameters (above all the gram width ``k``) the
#: split was decontaminated at, so every serving path can REFUSE a
#: mismatch instead of documenting it (r17 review: a k=7 split served
#: through k=5 sidecars would silently break batch ≡ serve parity).
#: Underscore-prefixed so ``spark.read.parquet`` ignores it.
SPLIT_SIDECAR = "_holdout_split.json"


class HoldoutSplit:
    """A :func:`decontaminated_holdout` assignment PLUS the frozen
    selection parameters it was built with, travelling as one handle —
    the :class:`~.similarity.AnnIndex` discipline: every consumer that
    needs a parameter derives it from the handle's metadata instead of
    re-typing it, and conflicting explicit values are refused (r17
    verdict: the ``k`` hazard on ``holdout_gram_hashes(assignment=)``
    was documented but unvalidated).

    Tuple-unpacks as ``(assignment_df, meta)`` for dict-style callers.
    ``meta`` always carries ``kind='holdout-split'`` and ``k``; hash
    mode records ``holdout_ppm``, temporal mode ``cutoff``/``ts_col``;
    ``min_hits`` rides along for provenance."""

    def __init__(self, df: DataFrame, meta: dict):
        if meta.get("kind") != "holdout-split":
            raise ValueError(f"not a holdout-split meta: {meta}")
        if "k" not in meta:
            raise ValueError(
                "holdout-split meta must record the gram width 'k' — it "
                "is the parameter the sidecar exists to freeze"
            )
        self.df = df
        self.meta = dict(meta)

    @property
    def k(self) -> int:
        return int(self.meta["k"])

    def __iter__(self):  # (df, meta) unpacking compatibility
        return iter((self.df, self.meta))


def check_split_meta(
    meta: dict,
    k: int,
    holdout_ppm: int | None = None,
    cutoff: str | None = None,
    ts_col: str | None = None,
    what: str = "holdout split artifact",
) -> None:
    """Refuse serving-parameter / build-parameter mismatches against a
    recorded split (or gram-bloom sidecar) metadata dict.  Only keys
    PRESENT in ``meta`` are checked — older sidecars without a recorded
    parameter keep loading (they just keep the documented hazard)."""
    mk = meta.get("k")
    if mk is not None and int(mk) != int(k):
        raise ValueError(
            f"gram-width mismatch: {what} was built at k={mk} but the "
            f"caller asked for k={k} — a split decontaminated at one "
            "gram width served through another silently breaks the "
            "batch ≡ serve parity; pass the artifact's k (or none, "
            "to derive it)"
        )
    # selection-MODE mismatch: a recorded cutoff means the split was
    # temporal; a recorded holdout_ppm (and no cutoff) means hash mode.
    # Serving the other mode routes arrivals to the wrong side even
    # when every shared parameter happens to agree.
    if meta.get("cutoff") is not None and cutoff is None:
        raise ValueError(
            f"selection-mode mismatch: {what} was built TEMPORAL "
            f"(cutoff={meta['cutoff']!r}) but the caller is serving "
            "hash mode — pass the artifact's cutoff=/ts_col="
        )
    if (
        meta.get("holdout_ppm") is not None
        and meta.get("cutoff") is None
        and cutoff is not None
    ):
        raise ValueError(
            f"selection-mode mismatch: {what} was built HASH-selected "
            f"(holdout_ppm={meta['holdout_ppm']}) but the caller is "
            "serving temporal mode"
        )
    mp = meta.get("holdout_ppm")
    if (
        holdout_ppm is not None
        and cutoff is None
        and mp is not None
        and int(mp) != int(holdout_ppm)
    ):
        raise ValueError(
            f"holdout_ppm mismatch: {what} was built at "
            f"holdout_ppm={mp} but the caller asked for {holdout_ppm} — "
            "arrivals would be routed to the wrong side"
        )
    for key, val in (("cutoff", cutoff), ("ts_col", ts_col)):
        mv = meta.get(key)
        if mv is not None and val is not None and str(mv) != str(val):
            raise ValueError(
                f"{key} mismatch: {what} was built with {key}={mv!r} "
                f"but the caller asked for {val!r}"
            )


def write_holdout_split(
    assignment: DataFrame,
    path: str,
    k: int,
    holdout_ppm: int | None = 100_000,
    min_hits: int = 1,
    cutoff: str | None = None,
    ts_col: str | None = None,
    extra_meta: dict | None = None,
) -> dict:
    """Persist a :func:`decontaminated_holdout` assignment as parquet
    plus the authoritative :data:`SPLIT_SIDECAR` — the split artifact a
    100 TB build hands to every later consumer (``assignment=`` reuse,
    bloom-sidecar builds, the streaming tagger), carrying the gram
    width ``k`` and the selection mode so those consumers can refuse a
    mismatch.  Returns the sidecar dict written."""
    import json
    import os

    from ..sources.writer import write_gold
    from ..util import require_local_path

    require_local_path(path)
    write_gold(assignment, path, sort_within=("doc_id",))
    meta: dict = {"kind": "holdout-split", "k": int(k),
                  "min_hits": int(min_hits)}
    if cutoff is not None:
        meta["cutoff"] = str(cutoff)
        meta["ts_col"] = str(ts_col)
    elif holdout_ppm is not None:
        meta["holdout_ppm"] = int(holdout_ppm)
    if extra_meta:
        meta.update(extra_meta)
    with open(os.path.join(path, SPLIT_SIDECAR), "w") as f:
        json.dump(meta, f)
    return meta


def load_holdout_split(spark, path: str) -> HoldoutSplit:
    """Load ``(assignment, meta)`` as a :class:`HoldoutSplit` handle;
    pass it straight to :func:`holdout_gram_hashes` via ``assignment=``
    so the gram width is DERIVED from the sidecar, never re-typed."""
    import json
    import os

    from ..util import require_local_path

    require_local_path(path)
    with open(os.path.join(path, SPLIT_SIDECAR)) as f:
        meta = json.load(f)
    return HoldoutSplit(spark.read.parquet(path), meta)


def holdout_gram_hashes(
    documents: DataFrame,
    side: str,
    holdout_ppm: int = 100_000,
    k: int | None = None,
    min_hits: int = 1,
    cutoff: str | None = None,
    ts_col: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    assignment: DataFrame | HoldoutSplit | None = None,
) -> DataFrame:
    """Distinct md5 gram hashes of one SIDE of a
    :func:`decontaminated_holdout` split — the input to the frozen
    bloom sidecars the streaming tagger
    (:func:`~..streaming.pipeline.stream_holdout_tag`) serves from.

    ``side='train'`` feeds the artifact that keeps NEW eval candidates
    clean of existing training text; ``side='eval'`` (clean eval docs
    only — quarantined docs belong to neither side) feeds the artifact
    that keeps the FROZEN eval set uncontaminated by newly admitted
    training text.  Grams are the SAME :func:`~.dedup.string_shingles`
    the batch builder checks (md5 is only the bloom key), so the two
    paths cannot drift.

    Scale shape: one assignment build + a side-filtered gram explode
    into a map-side-combined distinct — the shuffle carries 32-byte
    hashes bounded by the side's distinct-gram count; build the bloom
    with :func:`~.bloom.build_hash_bloom` and persist with
    :func:`~.bloom.write_hash_bloom`.  Building BOTH sidecars?  Compute
    the assignment once (persist or write it — it is the split artifact
    anyway) and pass it as ``assignment=`` so the gram-overlap plan does
    not run once per side.  The SELECTION parameters (holdout_ppm /
    min_hits / cutoff / ts_col) are then ignored in its favor — but
    ``k`` is NOT: it sets the gram width of the sidecar itself and must
    match the width the split was decontaminated at (r17 review: a
    k=7 split served through k=5 sidecars would silently break the
    batch ≡ serve parity).  Pass a :class:`HoldoutSplit` handle (from
    :func:`load_holdout_split` or built in-memory) and the width is
    DERIVED from its metadata — an explicitly conflicting ``k`` is
    REFUSED instead of silently producing the wrong-width sidecar (r17
    verdict nit: the hazard was documented but unvalidated; bare
    DataFrame assignments keep the documented hazard for
    compatibility).  ``k=None`` (the default) means: the handle's
    width, or 5 when there is no handle."""
    from .dedup import string_shingles

    if side not in ("train", "eval"):
        raise ValueError(f"side must be 'train' or 'eval', got {side!r}")
    if isinstance(assignment, HoldoutSplit):
        if k is not None:
            check_split_meta(
                assignment.meta, k=k, what="holdout split assignment"
            )
        k = assignment.k
        assignment = assignment.df
    if k is None:
        k = 5
    if assignment is None:
        assignment = decontaminated_holdout(
            documents,
            holdout_ppm=holdout_ppm,
            k=k,
            min_hits=min_hits,
            cutoff=cutoff,
            ts_col=ts_col,
            id_col=id_col,
            text_col=text_col,
        )
    assigned = assignment.filter(F.col("split") == side)
    docs_side = documents.join(
        assigned.select(id_col), id_col, "left_semi"
    )
    return (
        docs_side.select(
            F.explode(string_shingles(text_col, k)).alias("_g")
        )
        .select(F.md5(F.col("_g").cast("binary")).alias("gram_hash"))
        .distinct()
    )
