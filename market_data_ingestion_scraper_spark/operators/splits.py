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

    The parameters pass :func:`split_params`, the check every persisted
    split record passes (:func:`write_holdout_split`).

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

    params = split_params(
        _split_record(k, holdout_ppm, min_hits, cutoff, ts_col),
        "holdout split",
    )
    is_cand, unplaced = holdout_candidacy(params, id_col)
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
            k=params["k"],
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
            F.coalesce(F.col("_n_hit_grams"), F.lit(0)) >= params["min_hits"],
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
#: the split record: the selection parameters (above all the gram width
#: ``k``) the split was decontaminated at, which every serving path
#: reads instead of taking them again as arguments (r17 review: a k=7
#: split served through k=5 sidecars would silently break batch ≡ serve
#: parity).  Underscore-prefixed so ``spark.read.parquet`` ignores it.
SPLIT_SIDECAR = "_holdout_split.json"


def _split_record(
    k: int,
    holdout_ppm: int | None,
    min_hits: int,
    cutoff: str | None,
    ts_col: str | None,
) -> dict:
    """The split parameters as an unchecked record: temporal mode when
    ``cutoff`` or ``ts_col`` is given, hash mode otherwise."""
    record: dict = {"k": k, "min_hits": min_hits}
    if cutoff is not None or ts_col is not None:
        record.update(cutoff=cutoff, ts_col=ts_col)
    else:
        record["holdout_ppm"] = holdout_ppm
    return record


def split_params(record: dict, what: str = "holdout split record") -> dict:
    """The one check of a split record — the :data:`SPLIT_SIDECAR` of
    :func:`write_holdout_split`, or a gram-bloom sidecar of the
    training-data build, which carries the same keys.  Refuses a record
    that misses a key (rebuild the artifact: no consumer takes the split
    parameters as arguments any more), whose ``k`` or ``min_hits`` is
    below 1, or that does not name exactly one selection mode —
    ``holdout_ppm`` in (0, 1000000) for hash mode, or ``cutoff`` (an ISO
    timestamp) together with ``ts_col`` for temporal mode.

    Returns the parameters: ``k``, ``min_hits`` and either
    ``holdout_ppm`` or ``cutoff`` (normalized) and ``ts_col``."""

    def rebuild(problem: str) -> ValueError:
        return ValueError(
            f"{what} {problem}: rebuild the artifact — every consumer "
            "reads its split parameters from the record"
        )

    for key in ("k", "min_hits"):
        if record.get(key) is None:
            raise rebuild(f"does not record {key!r}")
    params = {"k": int(record["k"]), "min_hits": int(record["min_hits"])}
    for key, val in params.items():
        if val < 1:
            raise ValueError(f"{key} must be >= 1, got {val}")
    temporal = any(record.get(key) is not None for key in ("cutoff", "ts_col"))
    if temporal and record.get("holdout_ppm") is not None:
        raise rebuild(
            "records both selection modes (holdout_ppm and cutoff/ts_col)"
        )
    if temporal:
        if record.get("cutoff") is None or record.get("ts_col") is None:
            raise rebuild(
                "is half temporal: temporal mode needs BOTH cutoff and "
                "ts_col (hash mode: neither)"
            )
        params["cutoff"] = _valid_ts(str(record["cutoff"]), "cutoff")
        params["ts_col"] = str(record["ts_col"])
        return params
    if record.get("holdout_ppm") is None:
        raise rebuild(
            "records no selection mode (holdout_ppm, or cutoff and ts_col)"
        )
    params["holdout_ppm"] = int(record["holdout_ppm"])
    if not 0 < params["holdout_ppm"] < 1_000_000:
        raise ValueError(
            "holdout_ppm must be in (0, 1000000), got "
            f"{params['holdout_ppm']}"
        )
    return params


def holdout_candidacy(params: dict, id_col: str):
    """``(is_cand, unplaced)`` columns of the selection rule that
    :func:`split_params` ``params`` name — the one rule the batch
    builder and the streaming tagger both apply."""
    from .dedup import portable_token_hash

    if "cutoff" in params:
        ts = F.col(params["ts_col"])
        # a NULL timestamp — or a NULL id, which has no deterministic
        # hash side either — cannot be placed: quarantine, the X33
        # NULL policy (without the id branch a NULL-id row would fall
        # through the 3VL comparisons into eval UNCHECKED)
        return (
            ts >= F.lit(params["cutoff"]).cast("timestamp"),
            ts.isNull() | F.col(id_col).isNull(),
        )
    is_cand = (
        F.pmod(
            portable_token_hash(
                F.concat(F.lit("holdout:"), F.col(id_col).cast("string"))
            ),
            F.lit(1_000_000),
        )
        < F.lit(params["holdout_ppm"])
    )
    return is_cand, F.col(id_col).isNull()


class HoldoutSplit:
    """A :func:`decontaminated_holdout` assignment PLUS the split record
    it was built with, travelling as one handle — the
    :class:`~.similarity.AnnIndex` discipline: every consumer reads the
    split parameters from the handle and takes none of them again as an
    argument.  The record (``kind='holdout-split'``) is checked by
    :func:`split_params` on construction; ``params`` holds the result."""

    def __init__(self, df: DataFrame, meta: dict):
        if meta.get("kind") != "holdout-split":
            raise ValueError(f"not a holdout-split meta: {meta}")
        self.params = split_params(meta)
        self.df = df

    @property
    def k(self) -> int:
        return self.params["k"]


def write_holdout_split(
    assignment: DataFrame,
    path: str,
    k: int,
    holdout_ppm: int | None = 100_000,
    min_hits: int = 1,
    cutoff: str | None = None,
    ts_col: str | None = None,
) -> dict:
    """Persist a :func:`decontaminated_holdout` assignment as parquet
    plus its split record, the :data:`SPLIT_SIDECAR` — the split
    artifact a 100 TB build hands to every later consumer (bloom-sidecar
    builds through :func:`holdout_gram_hashes`, the streaming tagger),
    which read ``k``, ``min_hits`` and the selection mode from it.  The
    record is checked by :func:`split_params` before anything is
    written.  Returns the record written."""
    import json
    import os

    from ..sources.writer import write_gold
    from ..util import require_local_path

    require_local_path(path)
    meta = {
        "kind": "holdout-split",
        **split_params(
            _split_record(k, holdout_ppm, min_hits, cutoff, ts_col)
        ),
    }
    write_gold(assignment, path, sort_within=("doc_id",))
    with open(os.path.join(path, SPLIT_SIDECAR), "w") as f:
        json.dump(meta, f)
    return meta


def load_holdout_split(spark, path: str) -> HoldoutSplit:
    """Load a persisted split as a :class:`HoldoutSplit` handle (its
    record checked); pass it straight to :func:`holdout_gram_hashes`,
    which reads the gram width from it."""
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
    assignment: HoldoutSplit,
    id_col: str = "doc_id",
    text_col: str = "text",
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

    ``assignment`` is the split as a :class:`HoldoutSplit` handle (from
    :func:`load_holdout_split`, or built in memory from the assignment
    and its record): the gram width ``k`` of the sidecar is read from
    its record, so a sidecar cannot be built at another width than the
    split was decontaminated at.  A bare DataFrame carries no width and
    is refused.

    Scale shape: a side-filtered gram explode of the documents (a
    semi-join against the assignment) into a map-side-combined distinct
    — the shuffle carries 32-byte hashes bounded by the side's
    distinct-gram count; build the bloom with
    :func:`~.bloom.build_hash_bloom` and persist with
    :func:`~.bloom.write_hash_bloom`.  Building BOTH sidecars?  Persist
    or write the assignment first (it is the split artifact anyway), so
    its gram-overlap plan does not run once per side."""
    from .dedup import string_shingles

    if side not in ("train", "eval"):
        raise ValueError(f"side must be 'train' or 'eval', got {side!r}")
    if not isinstance(assignment, HoldoutSplit):
        raise TypeError(
            "assignment must be a HoldoutSplit (load_holdout_split, or "
            "HoldoutSplit(df, record)): the sidecar's gram width is read "
            "from its record"
        )
    assigned = assignment.df.filter(F.col("split") == side)
    docs_side = documents.join(
        assigned.select(id_col), id_col, "left_semi"
    )
    return (
        docs_side.select(
            F.explode(string_shingles(text_col, assignment.k)).alias("_g")
        )
        .select(F.md5(F.col("_g").cast("binary")).alias("gram_hash"))
        .distinct()
    )
