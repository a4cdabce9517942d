"""Layered benchmark of parse_html_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload page_extract --seed 42 --seconds 18 --trace 0

One process, ``local[nproc]``, a closed loop: one Spark action at a time,
each ending in the ``noop`` sink and observing an order-independent
digest of its output, which must equal the digest of the single-process
reference composition (and, for seed 42 at the default size, the digest
pinned in ``perfbench/digests.json``). ``--trace 0`` prints the
end-to-end metrics, ``--trace 1`` the per-layer ones. The last line of
standard output is one JSON object; see perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

SETUPS = 3
MIN_PASSES = 3
# untimed passes first: near_dup's first pass runs ~30% and its second
# ~10% slower than the rest; counted, not timed, so that a slow host is
# as warm as a fast one when timing starts
WARM_PASSES = 2
PINS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")
PIN_SEED = 42


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """A progress line, stamped with seconds since start."""
    print(f"[{time.perf_counter() - _T0:7.2f}s] {msg}", flush=True)


def host_probe() -> float:
    """Fixed single-thread CPU work; its time tracks the host's clock."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i % 7
    return time.perf_counter() - t0


def median(xs):
    return statistics.median(xs) if xs else 0.0


def quantile(xs, q):
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, int(q * len(s)))]


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=None, help="input size (default: the workload's)")
    ap.add_argument(
        "--corrupt", action="store_true",
        help="drop one document from every Spark output (self-test of the output check)",
    )
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "parse_html_spark", "pipeline.py")):
        print("perfbench: run from a checkout root holding parse_html_spark/", file=sys.stderr)
        return 2
    sys.path.insert(0, root)

    import inputs
    import sparkside
    import workloads
    from spans import NullTracer, Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    kind, default_docs = workloads.WORKLOADS[args.workload]
    docs = args.docs or default_docs
    cpus = len(os.sched_getaffinity(0))

    load_start = os.getloadavg()[0]
    probe_s = host_probe()
    meta = inputs.corpus(kind, args.seed, docs, parts=2 * cpus)
    log(
        f"input: {kind} seed={args.seed} docs={meta['docs']} chars={meta['chars']} "
        f"files={len(meta['files'])} gen_s={meta['gen_s']:.3f} cpus={cpus}"
    )

    sparkside.configure_env(inputs.CACHE)
    from parse_html_spark.session import get_spark

    session = [None]
    monitor = sparkside.Monitor(lambda: session[0])
    monitor.start()
    stopped = []  # kept alive so each new context gets a fresh id
    get_s, warm_s, setup_s = [], [], []
    try:
        for k in range(SETUPS):
            if session[0] is not None:
                session[0].stop()
                stopped.append(session[0])
            t0 = time.perf_counter()
            spark = session[0] = get_spark(cpus=cpus, app="perfbench")
            t1 = time.perf_counter()
            # the warm job: the workload's first operation over one input
            # file, spread so that every core starts its Python worker
            warm = spark.read.parquet(os.path.join(meta["dir"], meta["files"][0])).repartition(cpus)
            _name, build = workloads.spark_ops(args.workload, warm)[0]
            sparkside.run_action(spark, build, f"warm-{k}", monitor)
            t2 = time.perf_counter()
            get_s.append(t1 - t0)
            warm_s.append(t2 - t1)
            setup_s.append(t2 - t0)
        log("setup_s: " + " ".join(f"{s:.3f}" for s in setup_s))

        # traced runs sit between two untraced ones; the faster untraced
        # run is the base of trace.overhead_ratio
        tracer = Tracer() if args.trace else NullTracer()
        untraced_s, ref_s = [], 0.0
        for tr in ([NullTracer(), tracer, NullTracer()] if args.trace else [tracer]):
            t0 = time.perf_counter()
            out = workloads.reference(args.workload, meta, tr)
            if tr is tracer:
                ref, ref_s = out, time.perf_counter() - t0
            else:
                untraced_s.append(time.perf_counter() - t0)
        log(f"reference_s: {ref_s:.3f} untraced: {untraced_s}")

        pins = {}
        if args.seed == PIN_SEED and docs == default_docs and os.path.exists(PINS):
            with open(PINS) as f:
                pins = json.load(f).get(args.workload, {})

        df = spark.read.parquet(meta["dir"])
        ops = workloads.spark_ops(args.workload, df)
        ref_digest: dict[str, dict] = {}
        op_walls: dict[str, list[float]] = {name: [] for name, _b in ops}
        pass_walls: list[float] = []
        attempted = failed = 0
        mismatches: list[str] = []

        def one_pass(p: int) -> float:
            """Run every operation once and check its output; returns the
            summed action walls (output checks excluded)."""
            nonlocal attempted, failed
            total = 0.0
            for name, build in ops:
                attempted += 1
                t0 = time.perf_counter()
                try:
                    wall, got, schema = sparkside.run_action(
                        spark, build, f"pass-{p}", monitor, corrupt=args.corrupt
                    )
                except Exception as e:  # the operation failed: count it, keep going
                    total += time.perf_counter() - t0
                    failed += 1
                    mismatches.append(f"pass {p} {name}: {type(e).__name__}: {str(e)[:200]}")
                    continue
                total += wall
                if name not in ref_digest:
                    ref_digest[name] = sparkside.digest_of(spark, ref[name], schema)
                    log(f"digest {name}: {json.dumps(ref_digest[name])}")
                    if name in pins and pins[name] != ref_digest[name]:
                        mismatches.append(f"{name}: reference digest differs from the pinned one")
                if got != ref_digest[name] or got != pins.get(name, got):
                    failed += 1
                    mismatches.append(
                        f"pass {p} {name}: digest {got} != reference {ref_digest[name]}"
                        f" / pinned {pins.get(name)}"
                    )
                elif p >= 0:
                    op_walls[name].append(wall)
            return total

        # untimed passes (numbered below 0) warm every operation's plan and
        # compute the reference digests; they are checked like the rest
        for p in range(-1, -WARM_PASSES - 1, -1):
            one_pass(p)
        monitor.sampling = True
        start = time.perf_counter()
        p = 0
        while p < MIN_PASSES or time.perf_counter() - start < args.seconds:
            pass_walls.append(one_pass(p))
            p += 1
        monitor.sampling = False
        log(
            f"passes: {p} pass_s median {median(pass_walls):.3f} "
            + " ".join(f"{n}={median(w):.3f}(n={len(w)})" for n, w in op_walls.items())
            + " walls " + json.dumps({n: [round(x, 3) for x in w] for n, w in op_walls.items()})
        )
        for m in mismatches:
            log("FAILED " + m)

        if args.trace:
            extra = layer_metrics(
                spark, monitor, args.workload, meta, ref, tracer, p - 1, op_walls, df
            )
            extra.update(
                {
                    "session.get_spark_s": (median(get_s), "s"),
                    "session.warm_job_s": (median(warm_s), "s"),
                    "host.probe_s": (probe_s, "s"),
                    "host.loadavg_start": (load_start, "load"),
                    "inputs.gen_s": (meta["gen_s"], "s"),
                    "trace.overhead_ratio": (ref_s / min(untraced_s), "ratio"),
                }
            )
            path = os.path.join(inputs.CACHE, "traces", f"{args.workload}-s{args.seed}.jsonl")
            os.makedirs(os.path.dirname(path), exist_ok=True)
            tracer.write(path)
            log(f"spans: {len(tracer.names)} written to {path}")
            metrics = extra
        else:
            metrics = {
                "docs_per_s": (docs / median(pass_walls) if pass_walls else 0.0, "1/s"),
                "job_s": (max((median(w) for w in op_walls.values()), default=0.0), "s"),
                "setup_s": (median(setup_s), "s"),
                "py_worker_peak_rss_mb": (monitor.peak_mb, "MB"),
            }
    finally:
        monitor.close()
        if session[0] is not None:
            sparkside.shutdown(session[0])

    log("stopped")
    result = {
        "correct": failed == 0 and not mismatches,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


def layer_metrics(spark, monitor, workload, meta, ref, tr, last_pass, op_walls, df) -> dict:
    """Per-layer numbers: Spark's counters for the last timed pass, the
    traced reference composition's spans and, for near_dup, the dedup
    operators' walls and pair counts."""
    import sparkside
    from parse_html_spark import dom
    from parse_html_spark.functions import dedup

    out = sparkside.plan_counters(spark, f"pass-{last_pass}")
    own = tr.self_by_layer()
    for layer in ("pipeline", "tokenizer", "boilerplate", "dom", "matcher", "extract", "dedup"):
        out[f"{layer}.self_s"] = (own.get(layer, 0.0), "s")
    chars = tr.counts("pipeline.doc")
    tok_s = own.get("tokenizer", 0.0)
    bp = [d * 1e3 for d in tr.durations("boilerplate.main_content_spans")]
    cache = dom._cached_plan.cache_info()
    lookups = cache.hits + cache.misses
    out.update(
        {
            "pipeline.assemble_s": (sum(tr.durations("pipeline.assemble")), "s"),
            "pipeline.to_pandas_s": (sum(tr.durations("pipeline.to_pandas")), "s"),
            "pipeline.to_arrow_s": (sum(tr.durations("pipeline.to_arrow")), "s"),
            "tokenizer.ns_per_char": (tok_s * 1e9 / chars if chars else 0.0, "ns"),
            "tokenizer.nodes": (tr.counts("tokenizer.DocIndex"), "count"),
            "boilerplate.doc_ms_p50": (median(bp), "ms"),
            "boilerplate.doc_ms_p99": (quantile(bp, 0.99), "ms"),
            "boilerplate.doc_s_max": (max(bp, default=0.0) / 1e3, "s"),
            "boilerplate.spans_out": (tr.counts("boilerplate.main_content_spans"), "count"),
            "dom.find_s": (tr.inclusive({"dom.PH.find", "matcher.find_nodes"}), "s"),
            "matcher.matches": (tr.counts("matcher.find_nodes"), "count"),
            "selector.plan_cache_hit_ratio": (cache.hits / lookups if lookups else 0.0, "ratio"),
            "extract.tables_s": (sum(tr.durations("extract.extract_table_list")), "s"),
            "extract.form_s": (sum(tr.durations("extract.extract_form")), "s"),
            "extract.to_plain_s": (sum(tr.durations("extract.to_plain")), "s"),
            "extract.tables_out": (tr.counts("extract.extract_table_list"), "count"),
        }
    )
    sig_s = found = 0
    pairs = lines = None
    if workload == "near_dup":
        sig_s, _d, _s = sparkside.run_action(
            spark, lambda: dedup.minhash_signatures(df), "signatures", monitor
        )
        pairs = set(map(tuple, ref["minhash_lsh_pairs"][["id_a", "id_b"]].values.tolist()))
        found = len(pairs & set(map(tuple, meta["pairs"])))
        lines = ref["dedup_lines_global"]
    out.update(
        {
            "dedup.signatures_s": (sig_s, "s"),
            "dedup.pairs_s": (median(op_walls.get("minhash_lsh_pairs", [])), "s"),
            "dedup.lines_s": (median(op_walls.get("dedup_lines_global", [])), "s"),
            "dedup.candidate_pairs": (len(pairs) if pairs else 0, "count"),
            "dedup.true_pair_ratio": (found / len(pairs) if pairs else 0.0, "ratio"),
            "dedup.pair_recall": (found / len(meta["pairs"]) if pairs else 0.0, "ratio"),
            "dedup.lines_dropped": (int(lines["n_dropped"].sum()) if lines is not None else 0, "count"),
        }
    )
    return out


if __name__ == "__main__":
    sys.exit(main())
