"""Seeded input generator for the benchmark.

Every input the program under test sees comes from here, as a pure
function of the workload seed: the same seed writes byte-identical files,
and two seeds write different content of the same size (the same files,
each with the same number of records).  ``python3 perfbench/gen.py
WORKLOAD SEED DIR`` writes one workload's inputs; the benchmark runs it in
a second process to check the first claim on every run.

The corpora follow the shape of the sf0.1 ``documents`` table:

- tokens drawn uniformly from 30 words, plus a ``dup`` marker ending about
  5% of documents;
- 10 to 100 tokens per document;
- five languages in the fixture's proportions (en 2059 / zh 753 /
  es 744 / fr 742 / de 702 of 5,000);
- 20 sources, assigned round-robin;
- about 1% planted duplicates: copies of an earlier document's text that
  differ only in case and spaces, so the engine's normalized content hash
  (lower, trim, collapse whitespace) maps them together.

Fresh, contiguous ``doc_id``s start at a seeded base.  The corpus is
generated rather than taken from ``operators.scaling.replicate_corpus``:
that helper prefixes each replica's tokens, and the quality gate then
drops most replicas (at 10x it kept 4,036 of 50,000 documents), so every
stage after the gate would run at the base size.

Only spaces are planted as whitespace, and only ASCII text is generated,
so the plain-Python normalization in :func:`norm` equals the engine's
Spark expression exactly.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import re
import sys

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (2059, 753, 744, 742, 702)
N_SOURCES = 20
DUP_MARKER_SHARE = 0.05
PLANTED_DUP_SHARE = 0.01
CORRUPT_SHARE = 0.005

# ingest: two JSONL landings, the second with re-crawls of the first
LANDING_DOCS = 5_000
LANDING_FILES = 8
RECRAWL_SHARE = 0.10
# build: the corpus to build and index, and the arrival files streamed
# through the built sidecars and index
CORPUS_DOCS = 5_000
STREAM_FILES = 10
ROWS_PER_FILE = 200
STREAM_RECRAWL_SHARE = 0.20

_WS = re.compile(r"\s+")


def norm(text: str) -> str:
    """The engine's content normalization (``jobs._content_hash``)."""
    return _WS.sub(" ", text.strip().lower())


def _rng(seed: int, tag: str) -> random.Random:
    # string seeds hash with sha512, independent of PYTHONHASHSEED
    return random.Random(f"perfbench:{seed}:{tag}")


def _variant(rng: random.Random, text: str) -> str:
    """A case/space variant of ``text`` with the same normalized form."""
    toks = [t.upper() if rng.random() < 0.3 else t for t in text.split(" ")]
    spaced = "".join(
        t + (" " * rng.randint(1, 3)) for t in toks[:-1]
    ) + toks[-1]
    return " " * rng.randint(0, 2) + spaced + " " * rng.randint(0, 2)


def documents(seed: int, n: int, tag: str = "docs") -> list[dict]:
    """``n`` documents ``(doc_id, text, lang, source, n_chars)``."""
    rng = _rng(seed, tag)
    # contiguous ids from a seeded base, like the fixture's 0..4999: the
    # instruction-pair constructor pairs id-adjacent documents
    base = rng.randrange(1 << 20) << 20
    docs = []
    for i in range(n):
        doc_id = base + i
        if i > 0 and rng.random() < PLANTED_DUP_SHARE:
            text = _variant(rng, docs[rng.randrange(i)]["text"])
        else:
            toks = [rng.choice(WORDS) for _ in range(rng.randint(10, 100))]
            if rng.random() < DUP_MARKER_SHARE:
                toks.append("dup")
            text = " ".join(toks)
        docs.append(
            {
                "doc_id": doc_id,
                "text": text,
                "lang": rng.choices(LANGS, LANG_WEIGHTS)[0],
                "source": f"src{i % N_SOURCES}",
                "n_chars": len(text),
            }
        )
    return docs


def recrawls(seed: int, base: list[dict], n: int, share: float, tag: str) -> list[dict]:
    """``n`` fresh documents, of which ``share`` are re-crawls of ``base``
    (new ids, upper-cased text); used for the second ingest batch."""
    rng = _rng(seed, tag)
    docs = documents(seed, n, tag)
    for d in docs:
        if rng.random() < share:
            text = rng.choice(base)["text"].upper()
            d["text"], d["n_chars"] = text, len(text)
    return docs


def write_parquet(docs: list[dict], path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            ("doc_id", pa.int64()),
            ("text", pa.string()),
            ("lang", pa.string()),
            ("source", pa.string()),
            ("n_chars", pa.int64()),
        ]
    )
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.Table.from_pylist(docs, schema), path, compression="snappy")


def write_jsonl_landing(
    seed: int, docs: list[dict], path: str, n_files: int, tag: str
) -> list[dict]:
    """Write ``docs`` as ``n_files`` JSONL files under ``path``, with about
    ``CORRUPT_SHARE`` of the lines replaced by truncated objects that the
    engine must quarantine.  Returns the clean documents."""
    rng = _rng(seed, tag)
    os.makedirs(path, exist_ok=True)
    clean = []
    lines: list[list[str]] = [[] for _ in range(n_files)]
    for i, d in enumerate(docs):
        line = json.dumps(d, separators=(",", ":"))
        if rng.random() < CORRUPT_SHARE:
            line = line[: rng.randint(5, len(line) - 2)]
        else:
            clean.append(d)
        lines[i % n_files].append(line)
    for j, chunk in enumerate(lines):
        with open(os.path.join(path, f"part-{j:05d}.jsonl"), "w") as f:
            f.write("\n".join(chunk) + "\n")
    return clean


def write_stream_files(docs: list[dict], path: str, per_file: int) -> None:
    """Split ``docs`` into parquet files of ``per_file`` rows, named so the
    file source lists them in generation order."""
    for j in range(0, len(docs), per_file):
        write_parquet(
            docs[j: j + per_file],
            os.path.join(path, f"part-{j // per_file:05d}.parquet"),
        )


def ingest_inputs(seed: int, root: str) -> dict:
    """Landings ``landing_a`` and ``landing_b`` under ``root``; returns the
    clean documents of each and the number of corrupt lines planted."""
    a = documents(seed, LANDING_DOCS, "landing-a")
    b = recrawls(seed, a, LANDING_DOCS, RECRAWL_SHARE, "landing-b")
    clean_a = write_jsonl_landing(
        seed, a, os.path.join(root, "landing_a"), LANDING_FILES, "corrupt-a")
    clean_b = write_jsonl_landing(
        seed, b, os.path.join(root, "landing_b"), LANDING_FILES, "corrupt-b")
    return {
        "clean": (clean_a, clean_b),
        "n_corrupt": (len(a) - len(clean_a), len(b) - len(clean_b)),
        "sizes": {"landing_docs": [len(a), len(b)], "landing_files": LANDING_FILES},
    }


def build_inputs(seed: int, root: str) -> dict:
    """The corpus to build and index under ``corpus`` and the arrival
    files under ``arrivals``, of which ``STREAM_RECRAWL_SHARE`` re-crawl
    the corpus."""
    corpus = documents(seed, CORPUS_DOCS, "corpus")
    arrivals = documents(seed, STREAM_FILES * ROWS_PER_FILE, "arrivals")
    rng = _rng(seed, "recrawl")
    for d in arrivals:
        if rng.random() < STREAM_RECRAWL_SHARE:
            d["text"] = rng.choice(corpus)["text"]
            d["n_chars"] = len(d["text"])
    write_parquet(corpus, os.path.join(root, "corpus", "part-00000.parquet"))
    write_stream_files(arrivals, os.path.join(root, "arrivals"), ROWS_PER_FILE)
    return {"sizes": {"corpus_docs": CORPUS_DOCS, "stream_files": STREAM_FILES,
                      "rows_per_file": ROWS_PER_FILE}}


INPUTS = {"ingest": ingest_inputs, "build": build_inputs}


def files(root: str) -> dict[str, tuple[str, int]]:
    """Per file under ``root``: its sha256 and its number of records
    (lines of a JSONL file, rows of a parquet file)."""
    import pyarrow.parquet as pq

    out = {}
    for dirpath, _, names in os.walk(root):
        for name in names:
            path = os.path.join(dirpath, name)
            with open(path, "rb") as f:
                data = f.read()
            n = (pq.ParquetFile(path).metadata.num_rows if name.endswith(".parquet")
                 else data.count(b"\n"))
            out[os.path.relpath(path, root)] = (hashlib.sha256(data).hexdigest(), n)
    return out


if __name__ == "__main__":
    workload, seed, root = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    INPUTS[workload](seed, root)
