"""X21 LM-scoring operators: stupid-backoff trigram LM on a held-out
hash split, and CCNet-style per-language perplexity terciles.

The trigram test scores a hand-built corpus with an INDEPENDENT pure-
Python twin (hashlib split + dict counts + math.log) constructed so that
every backoff branch fires at least once: seen trigram, unseen trigram
with seen backoff bigram, unseen bigram with seen unigram, and OOV floor.
"""

from __future__ import annotations

import hashlib
import math
import re

from market_data_ingestion_scraper_spark.operators.text import (
    perplexity_buckets,
    trigram_backoff_logprob,
)

ALPHA = 0.4
SALT = "tri-v1"


def _is_train(doc_id: int) -> bool:
    return hashlib.md5(f"{SALT}{doc_id}".encode()).hexdigest()[0] < "8"


def _toks(text: str) -> list[str]:
    return [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]


def _py_twin(rows: list[tuple[int, str]]) -> dict[int, tuple[int, float]]:
    """Independent reference: counts from the train half, stupid-backoff
    scores for the eval half, micro-unit snapping like the operator."""
    train = [(i, _toks(t)) for i, t in rows if _is_train(i) and _toks(t)]
    ev = [(i, _toks(t)) for i, t in rows if not _is_train(i) and _toks(t)]
    cu: dict[str, int] = {}
    cb: dict[tuple[str, str], int] = {}
    ct: dict[tuple[str, str, str], int] = {}
    for _, ts in train:
        for w in ts:
            cu[w] = cu.get(w, 0) + 1
        for a, b in zip(ts, ts[1:]):
            cb[(a, b)] = cb.get((a, b), 0) + 1
        for a, b, c in zip(ts, ts[1:], ts[2:]):
            ct[(a, b, c)] = ct.get((a, b, c), 0) + 1
    n = sum(cu.values())

    def p_uni(w: str) -> float:
        return cu[w] / n if w in cu else 0.5 / n

    out: dict[int, tuple[int, float]] = {}
    for i, ts in ev:
        lps = []
        for pos, w in enumerate(ts):
            if pos == 0:
                s = p_uni(w)
            elif pos == 1:
                w1 = ts[0]
                s = cb[(w1, w)] / cu[w1] if (w1, w) in cb else ALPHA * p_uni(w)
            else:
                w1, w2 = ts[pos - 2], ts[pos - 1]
                if (w1, w2, w) in ct:
                    s = ct[(w1, w2, w)] / cb[(w1, w2)]
                elif (w2, w) in cb:
                    s = ALPHA * (cb[(w2, w)] / cu[w2])
                else:
                    s = ALPHA * ALPHA * p_uni(w)
            lps.append(round(math.log(s) * 1e6))
        out[i] = (len(lps), round(sum(lps) / len(lps) / 1e6, 6))
    return out


def test_trigram_backoff_all_branches(spark):
    # dynamically pick ids on each side of the md5 split so the fixture
    # cannot rot if the salt changes
    train_ids = [i for i in range(100) if _is_train(i)][:2]
    eval_ids = [i for i in range(100) if not _is_train(i)][:3]
    rows = [
        (train_ids[0], "a b c a b d"),
        (train_ids[1], "b c e"),
        # seen trigram (a,b,c); seen bigrams
        (eval_ids[0], "a b c"),
        # c,a seen bigram; (c,a,q) OOV floor; (a,q,b) unseen-bigram
        # backoff to seen unigram b; (q,b,c) backoff to seen bigram
        # (b,c); (b,c,x) OOV floor
        (eval_ids[1], "c a q b c x"),
        # OOV first token; unseen bigram (q,a) -> alpha * p_uni(a)
        (eval_ids[2], "q a"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_tokens"], r["avg_logprob"])
        for r in trigram_backoff_logprob(df).collect()
    }
    want = _py_twin(rows)
    assert set(got) == set(want) == set(eval_ids)
    for i in want:
        assert got[i][0] == want[i][0], i
        assert abs(got[i][1] - want[i][1]) <= 2e-6, (i, got[i], want[i])


def test_trigram_backoff_branches_distinct(spark):
    """The branch scores must actually differ (guards against a refactor
    collapsing the CASE into one arm and still matching a degenerate
    twin)."""
    train_ids = [i for i in range(100) if _is_train(i)][:1]
    eval_ids = [i for i in range(100) if not _is_train(i)][:2]
    rows = [
        (train_ids[0], "a b c a b c"),
        (eval_ids[0], "a b c"),  # all-seen path
        (eval_ids[1], "z z z"),  # pure OOV-floor path
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["avg_logprob"] for r in trigram_backoff_logprob(df).collect()}
    assert got[eval_ids[0]] > got[eval_ids[1]]


def test_perplexity_buckets_atomic_groups(spark):
    # en: 7 docs, two sharing identical text (one atomic score group);
    # de: 2 docs (k1 = ceil(2/3) = 1 -> head gets the top group only)
    rows = [
        (1, "the quick brown fox", "en"),
        (2, "the quick brown fox", "en"),  # tie with doc 1
        (3, "the the the the", "en"),
        (4, "aardvark zymurgy", "en"),
        (5, "the quick fox", "en"),
        (6, "quick brown quick brown", "en"),
        (7, "fox fox the", "en"),
        (8, "der hund", "de"),
        (9, "die katze und der hund", "de"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = perplexity_buckets(df).collect()
    by_lang: dict[str, dict[str, tuple[int, float, float]]] = {}
    for r in out:
        by_lang.setdefault(r["lang"], {})[r["ppl_bucket"]] = (
            r["n_docs"],
            r["min_logprob"],
            r["max_logprob"],
        )
    # doc counts conserved per language
    assert sum(v[0] for v in by_lang["en"].values()) == 7
    assert sum(v[0] for v in by_lang["de"].values()) == 2
    # buckets are ordered: head's min score >= middle's max >= tail's max
    en = by_lang["en"]
    assert set(en) == {"head", "middle", "tail"}
    assert en["head"][1] >= en["middle"][2] >= en["tail"][2]
    # ties are atomic: docs 1 and 2 share one score group, so no bucket
    # boundary can split them — verify total group integrity by checking
    # the tie score appears in exactly one bucket's [min, max] as an
    # endpoint pair (n_docs for that bucket >= 2)
    tie_buckets = [
        b for b, (nd, lo, hi) in en.items() if nd >= 2 and lo <= hi
    ]
    assert tie_buckets  # at least one bucket absorbed the 2-doc group


def test_trigram_model_lifecycle_single_pass_parity(spark, tmp_path):
    """fit → persist → load → score must reproduce the inline split
    scorer bit-for-bit when fitted on the same train half; loading a
    wrong-kind artifact must refuse."""
    import json
    import pytest
    from market_data_ingestion_scraper_spark.operators.text import (
        fit_trigram_model,
        load_trigram_model,
        score_with_trigram_model,
    )

    rows = [(i, f"w{i % 7} common words here w{i % 5} tail w{(i * 3) % 11}")
            for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    train = df.filter(F_is_train_col())
    inline = {
        (r["doc_id"]): (r["n_tokens"], r["avg_logprob"])
        for r in trigram_backoff_logprob(df).collect()
    }
    path = str(tmp_path / "trigram")
    meta = fit_trigram_model(train, path)
    assert meta["kind"].startswith("trigram-stupid-backoff")
    model = load_trigram_model(spark, path)
    ev = df.filter(~F_is_train_col())
    served = {
        r["doc_id"]: (r["n_tokens"], r["avg_logprob"])
        for r in score_with_trigram_model(ev, model).collect()
    }
    assert served == inline
    # wrong-kind sidecar refused
    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "_model.json").write_text(json.dumps({"kind": "rp", "total": 5}))
    with pytest.raises(ValueError, match="expected"):
        load_trigram_model(spark, str(bad))


def F_is_train_col():
    from pyspark.sql import functions as F

    return (
        F.substring(
            F.md5(F.concat(F.lit(SALT), F.col("doc_id").cast("string")).cast("binary")),
            1,
            1,
        )
        < "8"
    )


def test_literal_trigram_matches_relational_when_uncapped(spark, tmp_path):
    from market_data_ingestion_scraper_spark.operators.text import (
        fit_trigram_model,
        load_trigram_model,
        score_with_literal_trigram,
        score_with_trigram_model,
        trigram_literal_model,
    )

    ref = spark.createDataFrame(
        [(i, f"alpha beta w{i % 6} gamma delta w{i % 4}") for i in range(20)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "m")
    fit_trigram_model(ref, path)
    model = load_trigram_model(spark, path)
    lit = trigram_literal_model(
        model, max_unigrams=10_000, max_bigrams=10_000, max_trigrams=10_000
    )
    incoming = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),          # seen path
            (2, "alpha zebra beta unseen"),   # backoff + OOV paths
            (3, "zzz"),                       # pure OOV
            (4, ""),                          # no tokens -> null score
        ],
        "doc_id long, text string",
    )
    rel = {
        r["doc_id"]: (r["n_tokens"], r["avg_logprob"])
        for r in score_with_trigram_model(incoming, model).collect()
    }
    got = {
        r["doc_id"]: (r["n_tokens"], r["avg_logprob"])
        for r in score_with_literal_trigram(incoming, lit).collect()
    }
    # relational scorer drops no-token rows; literal scorer nulls them
    assert got[4] == (None, None)
    for k in (1, 2, 3):
        assert got[k] == rel[k], (k, got[k], rel[k])


def test_stream_perplexity_filter_admission(spark, tmp_path):
    """Streaming fluency gate: fluent-looking (model-like) docs admitted,
    gibberish dropped, no-token rows dropped.  Stream ≡ batch."""
    from market_data_ingestion_scraper_spark.operators.text import (
        fit_trigram_model,
        load_trigram_model,
        trigram_literal_model,
    )
    from market_data_ingestion_scraper_spark.streaming import pipeline as P

    ref = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog") for i in range(10)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "m")
    fit_trigram_model(ref, path)
    lit = trigram_literal_model(load_trigram_model(spark, path))
    incoming = spark.createDataFrame(
        [
            (1, "the quick brown fox"),
            (2, "zxqv wvut qqqq pzzt"),
            (3, "   "),
        ],
        "doc_id long, text string",
    )
    batch = P.stream_perplexity_filter(incoming, lit, min_avg_logprob=-6.0)
    got = {r["doc_id"]: r["avg_logprob"] for r in batch.collect()}
    assert set(got) == {1}
    ddir = str(tmp_path / "docs")
    incoming.write.parquet(ddir)
    stream = spark.readStream.schema(incoming.schema).parquet(ddir)
    out = P.run_to_memory(
        P.stream_perplexity_filter(stream, lit, min_avg_logprob=-6.0),
        "t_ppl_adm",
        spark,
        mode="append",
    )
    assert {r["doc_id"]: r["avg_logprob"] for r in out.collect()} == got


def test_literal_trigram_capped_matches_capped_twin(spark, tmp_path):
    """Capping must only move mass through the DEFINED branches: an
    independent Python twin that applies the same hierarchical caps must
    reproduce the capped scores exactly."""
    from decimal import ROUND_HALF_UP, Decimal

    from market_data_ingestion_scraper_spark.operators.text import (
        fit_trigram_model,
        load_trigram_model,
        score_with_literal_trigram,
        trigram_literal_model,
    )

    ref_rows = [
        (i, "aa bb cc dd " * 3 + f"rare{i} aa bb") for i in range(12)
    ]
    ref = spark.createDataFrame(ref_rows, "doc_id long, text string")
    path = str(tmp_path / "m")
    fit_trigram_model(ref, path)
    model = load_trigram_model(spark, path)
    # tiny caps: only the hottest n-grams survive -> backoff fires a lot
    lit = trigram_literal_model(
        model, max_unigrams=4, max_bigrams=3, max_trigrams=2
    )
    assert len(lit["u"]) == 4 and len(lit["b"]) == 3 and len(lit["t"]) == 2
    # hierarchical consistency invariants
    for (w1, w2) in lit["b"]:
        assert w1 in lit["u"] and w2 in lit["u"]
    for (w1, w2, w3) in lit["t"]:
        assert (w1, w2) in lit["b"]

    incoming = spark.createDataFrame(
        [(1, "aa bb cc dd aa"), (2, "rare3 aa zz bb cc")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["avg_logprob"])
        for r in score_with_literal_trigram(incoming, lit).collect()
    }

    def twin(ts):
        import math

        n_total, a = lit["total"], lit["alpha"]
        u, b, t = lit["u"], lit["b"], lit["t"]

        def p_uni(w):
            return u[w] / n_total if w in u else 0.5 / n_total

        lps = []
        for pos, w in enumerate(ts):
            if pos == 0:
                s = p_uni(w)
            elif pos == 1:
                w1 = ts[0]
                s = b[(w1, w)] / u[w1] if (w1, w) in b else a * p_uni(w)
            else:
                w1, w2 = ts[pos - 2], ts[pos - 1]
                if (w1, w2, w) in t:
                    s = t[(w1, w2, w)] / b[(w1, w2)]
                elif (w2, w) in b:
                    s = a * (b[(w2, w)] / u[w2])
                else:
                    s = a * a * p_uni(w)
            k = math.log(s) * 1e6
            lps.append(int(Decimal(repr(k)).quantize(Decimal(1), ROUND_HALF_UP)))
        return (len(lps), float(round(sum(lps) / len(lps) / 1e6, 6)))

    for doc_id, text in [(1, "aa bb cc dd aa"), (2, "rare3 aa zz bb cc")]:
        want = twin(_toks(text))
        assert got[doc_id][0] == want[0]
        assert abs(got[doc_id][1] - want[1]) <= 2e-6, (doc_id, got[doc_id], want)


def test_fit_trigram_model_refuses_empty_corpus(spark, tmp_path):
    import pytest
    from market_data_ingestion_scraper_spark.operators.text import (
        fit_trigram_model,
    )

    empty = spark.createDataFrame([(1, "   "), (2, "!!!")],
                                  "doc_id long, text string")
    with pytest.raises(ValueError, match="no tokens"):
        fit_trigram_model(empty, str(tmp_path / "m"))


def test_fit_trigram_model_refuses_uri_before_writing(spark, tmp_path):
    """The model sidecar is written with open(), so a URI path is refused
    before Spark writes the count tables — not after, which left a model
    without its sidecar."""
    import os

    import pytest
    from market_data_ingestion_scraper_spark.operators.text import (
        fit_trigram_model,
    )

    docs = spark.createDataFrame([(1, "aa bb cc dd")], "doc_id long, text string")
    local = str(tmp_path / "m")
    with pytest.raises(ValueError, match="local filesystem path required"):
        fit_trigram_model(docs, "file://" + local)
    assert not os.path.exists(local)


def test_load_trigram_model_refuses_bad_alpha(spark, tmp_path):
    import json
    import pytest
    from market_data_ingestion_scraper_spark.operators.text import (
        TRIGRAM_MODEL_KIND,
        load_trigram_model,
    )

    bad = tmp_path / "bad_alpha"
    bad.mkdir()
    (bad / "_model.json").write_text(
        json.dumps({"kind": TRIGRAM_MODEL_KIND, "total": 100, "alpha": 0})
    )
    with pytest.raises(ValueError, match="alpha"):
        load_trigram_model(spark, str(bad))
