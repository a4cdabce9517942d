"""Measure the Python-side per-batch costs of the extraction map stage
off-Spark: Arrow->pandas conversion of the spans column, assemble(),
engine, output-frame build, and output->Arrow — vs a pyarrow-native
(mapInArrow-style) alternative that never builds per-span dicts.

    python tools/bench_boundary.py [nrows] [batch]
"""

from __future__ import annotations

import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from parse_html_spark.boilerplate import main_content_spans  # noqa: E402
from parse_html_spark.pipeline import _spans_of_row, assemble  # noqa: E402
from parse_html_spark.tokenizer import DocIndex  # noqa: E402

CORPUS = "/tmp/phs_bench_corpus_60000.parquet"


def t(f, *a):
    t0 = time.perf_counter()
    r = f(*a)
    return time.perf_counter() - t0, r


def main() -> None:
    nrows = int(sys.argv[1]) if len(sys.argv) > 1 else 8000
    batch = int(sys.argv[2]) if len(sys.argv) > 2 else 256
    tbl = pq.read_table(CORPUS, columns=["doc_id", "spans"]).slice(0, nrows)
    batches = tbl.to_batches(max_chunksize=batch)
    print(f"{nrows} rows, {len(batches)} batches of <= {batch}")

    # -- pandas path (what mapInPandas does today) -------------------------
    wall = {"to_pandas": 0.0, "rowify": 0.0, "assemble": 0.0, "engine": 0.0,
            "outbuild": 0.0, "to_arrow": 0.0}
    import pandas as pd

    for b in batches:
        dt, pdf = t(lambda b=b: pa.Table.from_batches([b]).to_pandas())
        wall["to_pandas"] += dt
        ids, kinds, texts, refs = [], [], [], []
        for doc_id, row_spans in zip(pdf["doc_id"], pdf["spans"]):
            dt, spans = t(_spans_of_row, row_spans)
            wall["rowify"] += dt
            dt, (html, media) = t(assemble, spans)
            wall["assemble"] += dt
            dt, out = t(lambda h=html, m=media: main_content_spans(DocIndex(h), m))
            wall["engine"] += dt
            t0 = time.perf_counter()
            ids.append(doc_id)
            kinds.append([k == "media" for k, _t, _r in out])
            texts.append([x for _k, x, _r in out])
            refs.append([r for _k, _t, r in out])
            wall["outbuild"] += time.perf_counter() - t0
        t0 = time.perf_counter()
        opdf = pd.DataFrame(
            {"doc_id": ids, "is_media": kinds, "texts": texts,
             "media_refs": refs}
        )
        pa.Table.from_pandas(opdf, preserve_index=False)
        wall["to_arrow"] += time.perf_counter() - t0
    total = sum(wall.values())
    print("pandas path:")
    for k, v in wall.items():
        print(f"  {k:10s} {v * 1000:8.1f} ms")
    print(f"  {'TOTAL':10s} {total * 1000:8.1f} ms")

    # -- pyarrow-native path ----------------------------------------------
    wall2 = {"explode": 0.0, "assemble+engine": 0.0, "outbuild": 0.0}
    for b in batches:
        t0 = time.perf_counter()
        ids = b.column(0).to_pylist()
        spans_col = b.column(1)
        offs = spans_col.offsets.to_pylist()
        # a batch sliced out of a row group has offsets starting past 0,
        # while flatten() returns only its own values
        offs = [o - offs[0] for o in offs]
        flat = spans_col.flatten()
        f_kind = flat.field(0).to_pylist()
        f_text = flat.field(1).to_pylist()
        f_ref = flat.field(2).to_pylist()
        f_off = flat.field(3).to_pylist()
        wall2["explode"] += time.perf_counter() - t0
        out_ids, kinds, texts, refs = [], [], [], []
        t0 = time.perf_counter()
        for i, doc_id in enumerate(ids):
            lo, hi = offs[i], offs[i + 1]
            idx = sorted(range(lo, hi), key=f_off.__getitem__)
            parts, media = [], []
            pos = 0
            for j in idx:
                if f_kind[j] == "text":
                    txt = f_text[j] or ""
                    parts.append(txt)
                    pos += len(txt)
                else:
                    media.append((pos, f_ref[j] or ""))
            html = "".join(parts)
            out = main_content_spans(DocIndex(html), media)
            out_ids.append(doc_id)
            kinds.append([k == "media" for k, _t, _r in out])
            texts.append([x for _k, x, _r in out])
            refs.append([r for _k, _t, r in out])
        wall2["assemble+engine"] += time.perf_counter() - t0
        t0 = time.perf_counter()
        pa.record_batch(
            [pa.array(out_ids, pa.string()),
             pa.array(kinds, pa.list_(pa.bool_())),
             pa.array(texts, pa.list_(pa.string())),
             pa.array(refs, pa.list_(pa.string()))],
            names=["doc_id", "is_media", "texts", "media_refs"],
        )
        wall2["outbuild"] += time.perf_counter() - t0
    total2 = sum(wall2.values())
    print("pyarrow path:")
    for k, v in wall2.items():
        print(f"  {k:15s} {v * 1000:8.1f} ms")
    print(f"  {'TOTAL':15s} {total2 * 1000:8.1f} ms")


if __name__ == "__main__":
    main()
