"""End-to-end Spark pipeline tests (local[4], Arrow mapInPandas path --
the real distributed codepath, not pandas-only)."""

import json
import os

import pytest

from parse_html_spark.dom import PH
from parse_html_spark.fixtures import gen_doc, write_corpus_parquet
from parse_html_spark.pipeline import (
    assemble,
    extract_forms_df,
    extract_spans,
    extract_tables_df,
    prepare_partitions,
    run_resumable,
    select_spans,
)

N_DOCS = 40


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("corpus") / "docs.parquet")
    write_corpus_parquet(path, N_DOCS)
    return spark.read.parquet(path)


def test_extract_spans_invariants(spark, corpus):
    out = extract_spans(corpus).toPandas()
    assert set(out["kind"].unique()) <= {"text", "media"}
    assert out["doc_id"].nunique() == N_DOCS
    for doc_id, grp in out.groupby("doc_id"):
        orders = sorted(grp["order"])
        assert orders == list(range(len(orders))), doc_id
    # text spans are non-empty; media spans carry refs and empty text
    texts = out[out["kind"] == "text"]
    media = out[out["kind"] == "media"]
    assert (texts["text"].str.len() > 0).all()
    assert (media["text"] == "").all()
    assert media["media_ref"].notna().all()


def test_extract_spans_strips_boilerplate(spark, corpus):
    out = extract_spans(corpus).toPandas()
    joined = " ".join(out[out["kind"] == "text"]["text"])
    # nav/footer/aside link text lives only inside <a> inside boiler tags;
    # none of the href path fragments may leak into extracted text
    assert "/ref/" not in joined  # hrefs never in text at all
    # input media spans survive with their refs
    refs = set(out[out["kind"] == "media"]["media_ref"])
    assert any(r.startswith("media://img-") for r in refs)


def test_extract_spans_matches_local_engine(spark, corpus):
    """The distributed result equals the per-doc engine run locally."""
    from parse_html_spark.boilerplate import main_content_spans
    from parse_html_spark.tokenizer import DocIndex

    out = extract_spans(corpus).toPandas()
    for i in [0, 3, 17]:
        d = gen_doc(i)
        html, media = assemble(d["spans"])
        expected = main_content_spans(DocIndex(html), media)
        got = out[out["doc_id"] == d["doc_id"]].sort_values("order")
        got_spans = list(zip(got["kind"], got["text"], got["media_ref"]))
        norm = [(k, t, r if r is not None else None) for k, t, r in expected]
        assert got_spans == norm, d["doc_id"]


def test_select_spans_matches_ph(spark, corpus):
    for selector in ["p", "article .intro", "table td", "a[href^=\"/\"]"]:
        out = select_spans(corpus, selector, mode="text").toPandas()
        for i in [1, 5]:
            d = gen_doc(i)
            html, _ = assemble(d["spans"])
            ph = PH(html).find(selector)
            vals = [
                PH(html, ph.doc, [n]).text() for n in ph.nodes
            ]
            got = out[out["doc_id"] == d["doc_id"]].sort_values("match_order")
            assert list(got["value"]) == vals, (selector, i)


def test_select_spans_multi_matches_single(spark, corpus):
    from parse_html_spark.pipeline import select_spans_multi

    sels = {"paras": "article p.intro", "cells": "table td", "bad": "div,"}
    multi = select_spans_multi(corpus, sels).toPandas()
    assert set(multi["query"].unique()) <= {"paras", "cells"}
    for name in ("paras", "cells"):
        single = select_spans(corpus, sels[name], mode="text").toPandas()
        got = multi[multi["query"] == name][
            ["doc_id", "match_order", "value"]
        ]
        a = {tuple(r) for r in got.itertuples(index=False)}
        b = {tuple(r) for r in single.itertuples(index=False)}
        assert a == b, name


def test_selector_modes_validated_on_driver(spark, corpus):
    """A bad mode (or 'attr' without attr_name) raises before any job
    runs, instead of silently returning another mode's values or NULLs;
    select_spans_multi has no attr_name, so 'attr' is rejected there."""
    from parse_html_spark.pipeline import select_spans_multi

    for mode, attr_name in (("txt", None), ("attr", None), ("attr", "")):
        with pytest.raises(ValueError):
            select_spans(corpus, "p", mode=mode, attr_name=attr_name)
    for mode in ("attr", "HTML"):
        with pytest.raises(ValueError):
            select_spans_multi(corpus, {"q": "p"}, mode=mode)


def test_tables_and_forms(spark, corpus):
    tdf = extract_tables_df(corpus).toPandas()
    assert len(tdf) > 0
    for cj in tdf["cells_json"].head(20):
        json.loads(cj)  # valid JSON
    fdf = extract_forms_df(corpus).toPandas()
    assert len(fdf) == N_DOCS
    forms = [json.loads(x) for x in fdf["form_json"]]
    assert any(f for f in forms)  # some docs have forms
    assert any("go" in f for f in forms if f)


def test_extract_page_one_pass(spark, corpus):
    import json

    from parse_html_spark.pipeline import extract_page

    out = extract_page(corpus).toPandas()
    assert len(out) == N_DOCS
    assert (out["n_nodes"] > 0).all()
    assert (out["title"].str.len() > 0).all()
    # spans agree with the dedicated pipeline
    flat = extract_spans(corpus).toPandas()
    for d in [out.iloc[0], out.iloc[7]]:
        got = list(d["texts"])
        exp = list(
            flat[flat["doc_id"] == d["doc_id"]].sort_values("order")["text"]
        )
        assert got == exp
    # tables/forms agree with the dedicated pipelines
    tdf = extract_tables_df(corpus).toPandas()
    for _i, d in out.iterrows():
        tables = json.loads(d["tables_json"])
        n_ded = len(tdf[tdf["doc_id"] == d["doc_id"]])
        assert len(tables) == n_ded
        json.loads(d["form_json"])


def test_media_interleave_golden(spark):
    rows = [
        (
            "d1",
            [
                {"kind": "text", "text": "<div id=m><p>alpha ", "media_ref": None, "offset": 0},
                {"kind": "img", "text": "", "media_ref": "media://x", "offset": 19},
                {"kind": "text", "text": "beta</p></div>", "media_ref": None, "offset": 20},
            ],
        )
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    out = extract_spans(df).toPandas().sort_values("order")
    got = list(zip(out["kind"], out["text"], out["media_ref"]))
    assert got == [
        ("text", "alpha ", None),
        ("media", "", "media://x"),
        ("text", "beta", None),
    ]


def test_compact_equals_exploded(spark, corpus):
    from parse_html_spark.pipeline import (
        explode_compact,
        extract_spans_compact,
    )

    a = {
        tuple(r)
        for r in explode_compact(extract_spans_compact(corpus)).collect()
    }
    b = {tuple(r) for r in extract_spans(corpus).collect()}
    assert a == b


def test_extract_docs_equals_reassembled(spark, corpus):
    from parse_html_spark.pipeline import extract_docs
    from parse_html_spark.training import reassemble_docs

    fused = extract_docs(corpus).toPandas().set_index("doc_id")
    two_pass = (
        reassemble_docs(extract_spans(corpus)).toPandas().set_index("doc_id")
    )
    # docs with zero output spans appear only in the fused form
    common = two_pass.index
    assert len(common) == N_DOCS
    for d in common:
        assert fused.loc[d, "text"] == two_pass.loc[d, "text"]
        assert list(fused.loc[d, "media_refs"]) == list(
            two_pass.loc[d, "media_refs"]
        )


def test_partition_metrics(spark, corpus):
    from parse_html_spark.pipeline import partition_metrics

    import pyspark.sql.functions as F

    out = extract_spans(corpus, with_partition_id=True)
    m = partition_metrics(out).toPandas()
    assert m["n_docs"].sum() == N_DOCS
    assert (m["n_spans"] > 0).all()
    # the id is the partition the doc was extracted in: one per doc
    per_doc = out.groupBy("doc_id").agg(
        F.countDistinct("partition_id").alias("n")
    ).toPandas()
    assert len(per_doc) == N_DOCS and (per_doc["n"] == 1).all()


def test_prepare_partitions_runs(spark, corpus):
    df = prepare_partitions(corpus, partitions=4, mega_chars=10_000)
    assert extract_spans(df).count() == extract_spans(corpus).count()


def test_resumable_bucketed_pruning(spark, tmp_path):
    """Bucketed layout resume equals flat resume output exactly."""
    from parse_html_spark.pipeline import write_bucketed

    src = str(tmp_path / "flat.parquet")
    write_corpus_parquet(src, 20)
    bsrc = str(tmp_path / "bucketed")
    write_bucketed(spark.read.parquet(src), bsrc, buckets=4)
    out_a = str(tmp_path / "a")
    out_b = str(tmp_path / "b")
    run_resumable(spark, src, out_a, buckets=4, partitions=4)
    run_resumable(
        spark, bsrc, out_b, buckets=4, partitions=4, bucketed_input=True
    )
    a = {tuple(r) for r in spark.read.parquet(os.path.join(out_a, "bucket=*")).collect()}
    b = {tuple(r) for r in spark.read.parquet(os.path.join(out_b, "bucket=*")).collect()}
    assert a == b


def test_resumable_kill_and_resume(spark, tmp_path):
    src = str(tmp_path / "in.parquet")
    write_corpus_parquet(src, 30)
    out1 = str(tmp_path / "single")
    run_resumable(spark, src, out1, buckets=4, partitions=4)
    full = spark.read.parquet(os.path.join(out1, "bucket=*"))
    n_full = full.count()

    # simulate a crash after 2 buckets: rewind the manifest + delete dirs
    out2 = str(tmp_path / "resumed")
    run_resumable(spark, src, out2, buckets=4, partitions=4)
    manifest_path = os.path.join(out2, "_manifest.json")
    with open(manifest_path) as fh:
        manifest = json.load(fh)
    import shutil

    for b in manifest["done"][2:]:
        shutil.rmtree(os.path.join(out2, f"bucket={b}"))
    manifest["done"] = manifest["done"][:2]
    with open(manifest_path, "w") as fh:
        json.dump(manifest, fh)

    # resume: must recompute exactly the missing buckets
    run_resumable(spark, src, out2, buckets=4, partitions=4)
    resumed = spark.read.parquet(os.path.join(out2, "bucket=*"))
    assert resumed.count() == n_full
    a = {tuple(r) for r in full.collect()}
    b = {tuple(r) for r in resumed.collect()}
    assert a == b


def test_prepare_partitions_ingest_size_pushdown(spark, corpus):
    """With the ingest-time n_chars column, the mega split is a
    pushed-down parquet predicate (no size recompute from spans, no
    driver count action), and routing equals the derived-size path."""
    assert "n_chars" in corpus.columns
    routed = prepare_partitions(corpus, partitions=4, mega_chars=10_000)
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "n_chars" in plan
    legacy = prepare_partitions(
        corpus.select("doc_id", "spans"), partitions=4, mega_chars=10_000
    )
    got = {
        tuple(r)
        for r in extract_spans(routed.select("doc_id", "spans")).collect()
    }
    want = {tuple(r) for r in extract_spans(legacy).collect()}
    assert got == want


def test_resumable_metrics_in_warehouse(spark, tmp_path):
    """Per-bucket extraction metrics land in the snapshot-manifest
    warehouse (Iceberg stand-in): one immutable snapshot per resume leg,
    lineage recording the covered buckets, time travel across legs."""
    import json

    from parse_html_spark.sources.warehouse import Warehouse

    src = str(tmp_path / "in.parquet")
    write_corpus_parquet(src, 20)
    out = str(tmp_path / "out")
    run_resumable(spark, src, out, buckets=4, partitions=4)
    wh = Warehouse(spark, os.path.join(out, "_metrics_wh"))
    snaps = wh.snapshots("extraction_metrics")
    assert len(snaps) == 1
    assert sorted(snaps[0]["lineage"]["buckets"]) == [0, 1, 2, 3]
    m = wh.read("extraction_metrics")
    assert m.count() == 4
    assert m.agg({"n_spans": "sum"}).first()[0] > 0

    # rewind two buckets and resume: metrics append as a SECOND snapshot
    man_path = os.path.join(out, "_manifest.json")
    man = json.load(open(man_path))
    man["done"] = man["done"][:2]
    json.dump(man, open(man_path, "w"))
    run_resumable(spark, src, out, buckets=4, partitions=4)
    snaps2 = wh.snapshots("extraction_metrics")
    assert len(snaps2) == 2
    assert wh.read("extraction_metrics").count() == 6  # 4 + 2 resumed
    assert wh.read("extraction_metrics", as_of=0).count() == 4  # time travel


def test_node_table_attrs_opt_in(spark, corpus):
    """attrs is opt-in and arrives JVM-side via map_from_arrays over
    parallel key/value primitive arrays (no per-node Python dicts);
    values must match the per-doc engine's attrs()."""
    from parse_html_spark.pipeline import node_table
    from parse_html_spark.tokenizer import DocIndex

    lean = node_table(corpus)
    assert "attrs" not in lean.columns  # default: no map column at all
    nodes = node_table(corpus, with_attrs=True).toPandas()
    assert "attrs" in nodes.columns
    d = gen_doc(2)
    html, _ = assemble(d["spans"])
    doc = DocIndex(html)
    got = nodes[nodes["doc_id"] == d["doc_id"]].sort_values("node_id")
    assert len(got) == doc.n
    for i, row_attrs in zip(got["node_id"], got["attrs"]):
        want = {
            k: ("" if v is None else v) for k, v in doc.attrs(int(i)).items()
        }
        assert dict(row_attrs) == want, (d["doc_id"], i)
    # a batch with no element at all still packs its array columns
    bare = spark.createDataFrame(
        [("t0", [("text", "no tags here", None, 0)]), ("t1", None)],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    ).coalesce(1)
    assert node_table(bare, with_attrs=True).count() == 0


def test_resumable_metrics_match_written_rows(spark, tmp_path):
    """n_spans comes from an observed metric on the write action (no
    post-write re-read); it must equal the rows actually written."""
    from parse_html_spark.sources.warehouse import Warehouse

    src = str(tmp_path / "in.parquet")
    write_corpus_parquet(src, 20)
    out = str(tmp_path / "out")
    run_resumable(spark, src, out, buckets=2, partitions=4)
    wh = Warehouse(spark, os.path.join(out, "_metrics_wh"))
    m = wh.read("extraction_metrics")
    total_metric = m.agg({"n_spans": "sum"}).first()[0]
    total_actual = spark.read.parquet(os.path.join(out, "bucket=*")).count()
    assert total_metric == total_actual


def test_worker_tasks_do_not_reread_zip_directories(spark):
    """Once a Python worker has imported the package, the per-task
    importlib.invalidate_caches() in PySpark's setup_spark_files no longer
    re-reads the directory of pyspark.zip (or any unchanged archive).
    Each task reports the zipimport._read_directory calls its worker made
    since the previous task's probe; a worker is primed by its first
    probe (package import plus one invalidation pass)."""
    import sys

    def probe(batches):
        import importlib
        import os
        import zipimport

        import pandas as pd

        import parse_html_spark  # noqa: F401  (installs the gate)

        primed = hasattr(zipimport._read_directory, "calls")
        if not primed:
            importlib.invalidate_caches()
            read = zipimport._read_directory

            def counting(path):
                counting.calls += 1
                return read(path)

            counting.calls = 0
            zipimport._read_directory = counting
        counting = zipimport._read_directory
        rereads, counting.calls = counting.calls, 0
        for _ in batches:
            pass
        yield pd.DataFrame({"pid": [os.getpid()], "primed": [primed], "rereads": [rereads]})

    parts = 2 * spark.sparkContext.defaultParallelism
    df = spark.range(0, parts, 1, parts)
    out = df.mapInPandas(probe, "pid long, primed boolean, rereads long").toPandas()
    assert len(out) == parts
    primed = out[out["primed"]]
    assert len(primed) > 0, out  # workers are reused across tasks
    if sys.version_info < (3, 12):
        assert (primed["rereads"] == 0).all(), out
