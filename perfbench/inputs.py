"""Seeded benchmark inputs, written as parquet part files and cached.

Two corpora, each a pure function of (kind, seed, docs, parts):

- ``spans``: ``fixtures.gen_doc`` span documents (log-normal sizes, a 0.2%
  mega-doc tail at every 500th doc id, media spans).
- ``text``: plain multi-line text documents with planted near-duplicate
  pairs (every ``PAIR_EVERY``-th doc is an edited copy of the one before)
  and one hot line shared by ``HOT_SHARE`` of the documents.

A corpus is written as ``parts`` files, like a table of many files: one
scan task per file. Span files keep the fixture layout of one row group
per mega-doc.

The cache lives in ``.bench_cache/`` of the checkout, keyed by kind,
seed, size, layout and a hash of the generator sources; a stale or
partial entry is never reused.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import time

CACHE = ".bench_cache"

PAIR_EVERY = 10
HOT_SHARE = 0.3
HOT_LINE = "all rights reserved by the example news network and its partners"
EDIT_SHARE = 0.03


def _span_schema():
    import pyarrow as pa

    span = pa.struct(
        [
            ("kind", pa.string()),
            ("text", pa.string()),
            ("media_ref", pa.string()),
            ("offset", pa.int32()),
        ]
    )
    return pa.schema(
        [("doc_id", pa.string()), ("spans", pa.list_(span)), ("n_chars", pa.int64())]
    )


def _text_schema():
    import pyarrow as pa

    return pa.schema([("doc_id", pa.string()), ("text", pa.string())])


def _write_span_part(path: str, rows: list[dict]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from parse_html_spark import fixtures

    schema = _span_schema()
    with pq.ParquetWriter(path, schema) as w:
        # one row group per mega-doc, as fixtures.write_corpus_parquet does
        cut = [k for k, r in enumerate(rows) if r["n_chars"] > fixtures.MEGA_MIN]
        bounds = sorted({0, len(rows), *cut, *[k + 1 for k in cut]})
        for lo, hi in zip(bounds, bounds[1:]):
            chunk = rows[lo:hi]
            w.write_table(
                pa.table(
                    {
                        "doc_id": [r["doc_id"] for r in chunk],
                        "spans": [
                            [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in r["spans"]]
                            for r in chunk
                        ],
                        "n_chars": [r["n_chars"] for r in chunk],
                    },
                    schema=schema,
                )
            )


def _vocab(rng: random.Random, n: int = 3000) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    return ["".join(rng.choice(letters) for _ in range(rng.randint(3, 9))) for _ in range(n)]


def text_docs(seed: int, docs: int) -> tuple[list[tuple[str, str]], list[tuple[str, str]]]:
    """(rows, planted_pairs): rows are (doc_id, text); each planted pair
    (id_a, id_b) has id_b an edited copy of id_a, with id_a < id_b."""
    rng = random.Random(seed * 7919 + 17)
    vocab = _vocab(rng)
    rows: list[tuple[str, str]] = []
    pairs: list[tuple[str, str]] = []
    for i in range(docs):
        doc_id = f"nd-{i:07d}"
        if i % PAIR_EVERY == 1:
            base_id, base = rows[-1]
            lines = [ln.split(" ") for ln in base.split("\n")]
            words = [(a, b) for a, ln in enumerate(lines) for b in range(len(ln))]
            for a, b in rng.sample(words, max(1, int(len(words) * EDIT_SHARE))):
                if " ".join(lines[a]) != HOT_LINE:
                    lines[a][b] = rng.choice(vocab)
            rows.append((doc_id, "\n".join(" ".join(ln) for ln in lines)))
            pairs.append((base_id, doc_id))
            continue
        lines = [
            " ".join(rng.choice(vocab) for _ in range(rng.randint(6, 16)))
            for _ in range(rng.randint(6, 14))
        ]
        if rng.random() < HOT_SHARE:
            lines.insert(rng.randrange(len(lines) + 1), HOT_LINE)
        rows.append((doc_id, "\n".join(lines)))
    return rows, pairs


def _write_text_part(path: str, rows: list[tuple[str, str]]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {"doc_id": [r[0] for r in rows], "text": [r[1] for r in rows]},
            schema=_text_schema(),
        ),
        path,
    )


def _source_hash() -> str:
    from parse_html_spark import fixtures

    h = hashlib.sha256()
    for path in (__file__, fixtures.__file__):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def _split(n: int, parts: int) -> list[tuple[int, int]]:
    step = -(-n // parts)
    return [(lo, min(n, lo + step)) for lo in range(0, n, step)]


def corpus(kind: str, seed: int, docs: int, parts: int) -> dict:
    """Generate (or reuse) a corpus; returns its meta record:
    ``dir`` (the parquet directory), ``files``, ``docs``, ``chars``,
    ``gen_s`` and, for ``text``, ``pairs`` (the planted pairs)."""
    key = f"{kind}-s{seed}-n{docs}-p{parts}-{_source_hash()}"
    root = os.path.join(CACHE, "inputs", key)
    meta_path = os.path.join(root, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return json.load(f)
    tmp = root + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    data = os.path.join(tmp, "data")
    os.makedirs(data)
    t0 = time.perf_counter()
    meta: dict = {"kind": kind, "seed": seed, "docs": docs}
    files = []
    if kind == "text":
        rows, pairs = text_docs(seed, docs)
        meta["pairs"] = pairs
        meta["chars"] = sum(len(t) for _i, t in rows)
        for k, (lo, hi) in enumerate(_split(docs, parts)):
            files.append(f"part-{k:04d}.parquet")
            _write_text_part(os.path.join(data, files[-1]), rows[lo:hi])
    elif kind == "spans":
        from parse_html_spark import fixtures

        rows = [fixtures.gen_doc(i, seed) for i in range(docs)]
        meta["chars"] = sum(r["n_chars"] for r in rows)
        for k, (lo, hi) in enumerate(_split(docs, parts)):
            files.append(f"part-{k:04d}.parquet")
            _write_span_part(os.path.join(data, files[-1]), rows[lo:hi])
    else:
        raise ValueError(f"unknown corpus kind {kind!r}")
    meta["gen_s"] = time.perf_counter() - t0
    meta["files"] = files
    meta["dir"] = os.path.join(root, "data")
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(root, ignore_errors=True)
    os.rename(tmp, root)
    return meta
