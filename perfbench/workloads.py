"""The two workloads: their Spark operations and their single-process
reference compositions.

Each workload names a corpus (see ``inputs``), a default size, and a list
of operations. An operation is one Spark action: a function of the input
DataFrame that returns the output DataFrame. The reference composition
calls the program's public per-document functions in the same order as
the pipeline's own per-document loop, over the same Arrow batches, and
returns one pandas DataFrame per operation with the operation's output
rows. Its digest must equal the Spark output's digest.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

# workload -> (corpus kind, default number of documents)
WORKLOADS = {
    "page_extract": ("spans", 3000),
    "near_dup": ("text", 8000),
}

BATCH_ROWS = 256  # spark.sql.execution.arrow.maxRecordsPerBatch in session.get_spark


def spark_ops(workload: str, df) -> list[tuple[str, object]]:
    """(name, thunk) per operation; the thunk builds the output DataFrame
    (operators that checkpoint run their first job inside it)."""
    from parse_html_spark import pipeline as P
    from parse_html_spark.functions import dedup

    if workload == "page_extract":
        return [("extract_page", lambda: P.extract_page(df))]
    if workload == "near_dup":
        return [
            ("minhash_lsh_pairs", lambda: dedup.minhash_lsh_pairs(df)),
            ("dedup_lines_global", lambda: dedup.dedup_lines_global(df)),
        ]
    raise ValueError(workload)


# -- reference compositions ------------------------------------------------


def _batches(meta: dict):
    """The input's Arrow batches as the map stages see them: one scan task
    per file, ``BATCH_ROWS`` rows per batch."""
    import pyarrow.parquet as pq

    for fn in meta["files"]:
        yield from pq.ParquetFile(os.path.join(meta["dir"], fn)).iter_batches(
            batch_size=BATCH_ROWS
        )


def _frames(tr, meta, per_batch):
    """Run ``per_batch(pdf) -> pandas.DataFrame`` over every input batch,
    timing the Arrow boundary on both sides; returns the concatenation."""
    import pandas as pd
    import pyarrow as pa

    out = []
    for k, batch in enumerate(_batches(meta)):
        pdf = tr.call("pipeline.to_pandas", batch.to_pandas, trace_id=f"batch-{k}")
        res = per_batch(pdf)
        tr.call("pipeline.to_arrow", pa.RecordBatch.from_pandas, res, trace_id=f"batch-{k}")
        out.append(res)
    return pd.concat(out, ignore_index=True)


def _doc_spans(row_spans) -> list:
    return list(row_spans) if row_spans is not None else []


def _page(tr, pdf):
    """extract_page's per-document loop."""
    import pandas as pd

    from parse_html_spark.boilerplate import main_content_spans
    from parse_html_spark.dom import PH
    from parse_html_spark.extract import extract_form, extract_table_list, to_plain
    from parse_html_spark.pipeline import assemble
    from parse_html_spark.tokenizer import DocIndex

    cols: dict[str, list] = defaultdict(list)
    for doc_id, row_spans in zip(pdf["doc_id"], pdf["spans"]):
        d = tr.begin("pipeline.doc", doc_id)
        html, media = tr.call("pipeline.assemble", assemble, _doc_spans(row_spans))
        t = tr.begin("tokenizer.DocIndex")
        doc = DocIndex(html)
        tr.end(t, doc.n)
        b = tr.begin("boilerplate.main_content_spans")
        spans = main_content_spans(doc, media)
        tr.end(b, len(spans))
        ph = PH(html, doc=doc)
        title_sel = ph.find("title")
        e = tr.begin("extract.extract_table_list")
        tables = extract_table_list(ph.find("table"), val_only=True)
        tr.end(e, len(tables))
        form = tr.call("extract.to_plain", to_plain, tr.call("extract.extract_form", extract_form, ph))
        cols["doc_id"].append(doc_id)
        cols["is_media"].append([k == "media" for k, _t, _r in spans])
        cols["texts"].append([t for _k, t, _r in spans])
        cols["media_refs"].append([r for _k, _t, r in spans])
        cols["tables_json"].append(
            json.dumps([tr.call("extract.to_plain", to_plain, t) for t in tables], ensure_ascii=False)
        )
        cols["form_json"].append(json.dumps(form, ensure_ascii=False))
        cols["title"].append(tr.call("dom.PH.text", title_sel.text))
        cols["n_nodes"].append(doc.n)
        tr.end(d, len(html))
    out = pd.DataFrame(cols)
    out["n_nodes"] = out["n_nodes"].astype("int32")
    return out


# -- near-duplicate reference ----------------------------------------------

NUM_HASHES, BANDS, SHINGLE_WORDS, MAX_BUCKET, MIN_LINE_CHARS = 32, 8, 3, 8192, 15
_M32 = 0xFFFFFFFF


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def _mix(h1: int, k1: int) -> int:
    k1 = _rotl((k1 * 0xCC9E2D51) & _M32, 15)
    h1 ^= (k1 * 0x1B873593) & _M32
    return (_rotl(h1, 13) * 5 + 0xE6546B64) & _M32


def spark_hash_longs(values, seed: int = 42) -> int:
    """Spark's ``hash()`` (Murmur3 x86_32, seed 42) of an array<bigint>:
    each element is hashed as a long with the running hash as seed."""
    h = seed
    for v in values:
        v &= 0xFFFFFFFFFFFFFFFF
        h1 = _mix(_mix(h, v & _M32), v >> 32)
        h1 ^= 8
        h1 ^= h1 >> 16
        h1 = (h1 * 0x85EBCA6B) & _M32
        h1 ^= h1 >> 13
        h1 = (h1 * 0xC2B2AE35) & _M32
        h = h1 ^ (h1 >> 16)
    return h


def _near_dup(tr, meta) -> dict:
    """minhash_lsh_pairs and dedup_lines_global, single process: the
    program's per-document ``_minhash_sig`` (layer ``dedup``), then the
    banding, bucket cap, pair join and line dedup re-stated here (layer
    ``ref``, not reported) from the operators' documented semantics."""
    import pandas as pd

    from parse_html_spark.functions import dedup

    coeffs = dedup._mh_coeffs(NUM_HASHES)
    texts: dict[str, str] = {}
    sigs: dict[str, list[int]] = {}

    def per_batch(pdf):
        out = []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            d = tr.begin("pipeline.doc", doc_id)
            texts[doc_id] = text
            m = tr.begin("dedup.minhash_sig")
            sig = dedup._minhash_sig(text or "", NUM_HASHES, SHINGLE_WORDS, coeffs)
            tr.end(m)
            sigs[doc_id] = sig
            out.append(sig)
            tr.end(d, len(text or ""))
        return pd.DataFrame({"sig": out})

    b = tr.begin("ref.minhash_signatures")
    _frames(tr, meta, per_batch)
    tr.end(b, len(sigs))

    b = tr.begin("ref.lsh_pairs")
    rows = NUM_HASHES // BANDS
    buckets: dict[tuple[int, int], list[str]] = defaultdict(list)
    for doc_id, sig in sigs.items():
        for band in range(BANDS):
            buckets[(band, spark_hash_longs(sig[band * rows : (band + 1) * rows]))].append(doc_id)
    pairs = set()
    for members in buckets.values():
        if len(members) > MAX_BUCKET:
            continue
        members.sort()
        for i, a in enumerate(members):
            for bb in members[i + 1 :]:
                if a < bb:
                    pairs.add((a, bb))
    tr.end(b, len(pairs))
    pairs_df = pd.DataFrame(sorted(pairs), columns=["id_a", "id_b"])

    b = tr.begin("ref.lines_global")
    first: dict[str, tuple[str, int]] = {}
    split = {k: v.split("\n") for k, v in texts.items() if v is not None}
    for doc_id, lines in split.items():
        for pos, line in enumerate(lines):
            if len(line) >= MIN_LINE_CHARS:
                key = (doc_id, pos)
                if line not in first or key < first[line]:
                    first[line] = key
    ids, kept_text, n_kept, n_dropped = [], [], [], []
    for doc_id in texts:
        lines = split.get(doc_id, [])
        kept = [
            ln for pos, ln in enumerate(lines)
            if len(ln) < MIN_LINE_CHARS or first[ln] == (doc_id, pos)
        ]
        ids.append(doc_id)
        kept_text.append("\n".join(kept))
        n_kept.append(len(kept))
        n_dropped.append(len(lines) - len(kept))
    tr.end(b, sum(n_dropped))
    lines_df = pd.DataFrame(
        {"doc_id": ids, "text_dedup": kept_text, "n_kept": n_kept, "n_dropped": n_dropped}
    )
    return {"minhash_lsh_pairs": pairs_df, "dedup_lines_global": lines_df}


def reference(workload: str, meta: dict, tr) -> dict:
    """{operation name: pandas DataFrame of its output rows}."""
    with tr.patched():
        if workload == "page_extract":
            return {"extract_page": _frames(tr, meta, lambda p: _page(tr, p))}
        if workload == "near_dup":
            return _near_dup(tr, meta)
    raise ValueError(workload)
