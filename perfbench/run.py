"""Repository benchmark: three workloads through the library's public
entry points, every operation checked against an independent oracle.

    python3 perfbench/run.py --workload etl_write --seed 1 --seconds 10 --trace 0

One JVM, one client thread, closed loop: the next operation starts when
the previous one returns.  A run generates its inputs from ``--seed``,
computes the oracles, sets the session up (JVM launch plus one untimed
priming round of its own operations), then runs whole rounds of
operations until ``--seconds`` have passed.  Outputs are checked after
the window.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` runs one
round untraced, then the next round with spans around every call into
the library's layers, and prints the per-layer metrics: time and Spark
jobs by module, read from Spark's status store by job group, plus the
tracing overhead.  Metric names, units and order come from
``BENCHMARK.json``.  The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the lines before it
hold per-operation counters (and, traced, the spans).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import harness as H  # noqa: E402

# rounds run by the traced run: fixed, so its counters repeat exactly
TRACE_ROUNDS = {"etl_write": 2, "query_mix": 1, "stream_ingest": 1}

BENCHMARK_JSON = os.path.join(ROOT, "BENCHMARK.json")


def run_ops(h, wl, rounds, stop, tracer=None, prefix="op"):
    """Closed loop over ``rounds`` until ``stop(n_rounds_done)``.  Each
    operation runs under its own Spark job group (``<prefix><i>``)."""
    ops = []
    for n, rnd in enumerate(rounds):
        for what in rnd:
            i = len(ops)
            group = f"{prefix}{i:04d}"
            if tracer is None:
                h.set_group(group, str(what))
                t0 = time.perf_counter()
                handle, err = _call(wl, h, i, what, None)
                dt = time.perf_counter() - t0
            else:
                with tracer.span("op", str(what), span_id=group):
                    t0 = time.perf_counter()
                    handle, err = _call(wl, h, i, what, tracer)
                    dt = time.perf_counter() - t0
            ops.append({"i": i, "what": what, "group": group, "s": dt,
                        "handle": handle, "error": err})
        if stop(n + 1):
            break
    return ops


def _call(wl, h, i, what, tracer):
    try:
        return wl.run_op(h.spark, i, what, tracer), None
    except Exception:  # an operation that crashes counts as failed
        return None, traceback.format_exc(limit=3)


def check_ops(h, wl, ops) -> None:
    h.set_group("check", "output checks")
    for op in ops:
        if op["error"] is None:
            try:
                op["ok"], op["why"] = wl.check(h.spark, op["i"], op["what"],
                                               op["handle"])
            except Exception:
                op["ok"], op["why"] = False, traceback.format_exc(limit=3)
        else:
            op["ok"], op["why"] = False, op["error"]


def op_counters(ops, groups, wl, members=None) -> list[dict]:
    """Per-operation counters; ``members`` maps an op's group to every job
    group under it (a traced op's jobs run in its spans' groups)."""
    rows = []
    for op in ops:
        g = H.sum_counters(groups, (members or {}).get(op["group"],
                                                       [op["group"]]))
        row = {"op": op["group"], "what": op["what"], "s": round(op["s"], 4),
               "ok": op["ok"]}
        row.update({k: g.get(k, 0) for k in
                    ("jobs", "stages", "tasks", "shuffle_read_bytes",
                     "shuffle_write_bytes", "spill_bytes")})
        row.update(wl.extra.get(op["i"], {}))
        if not op["ok"]:
            row["why"] = op["why"]
        rows.append(row)
    return rows


def end_to_end(h, wl, ops, wall, groups, rss) -> dict:
    lat = [op["s"] for op in ops]
    in_bytes = sum(wl.input_bytes(op["what"]) for op in ops)
    c = H.sum_counters(groups, [op["group"] for op in ops])
    created = wl.bytes_written(ops) + c["shuffle_write_bytes"] \
        + c["spill_bytes"]
    return {
        "setup_s": h.setup_s,
        "rows_per_s": sum(wl.input_rows(op["what"]) for op in ops) / wall,
        "op_p50_s": H.percentile(lat, 0.5),
        "op_p90_s": H.percentile(lat, 0.9),
        "ok_ratio": sum(op["ok"] for op in ops) / len(ops),
        "write_amp": created / in_bytes,
        "peak_rss_mb": rss,
    }


def timed_run(seconds, h, wl, rng) -> tuple[dict, dict, list]:
    t0 = time.perf_counter()
    ops = run_ops(h, wl, wl.rounds(rng),
                  lambda n: time.perf_counter() - t0 >= seconds)
    wall = time.perf_counter() - t0
    rss = H.peak_rss_mb([os.getpid(), h.jvm_pid()])
    check_ops(h, wl, ops)
    groups = H.StatusStore(h.sc).by_group()
    metrics = end_to_end(h, wl, ops, wall, groups, rss)
    detail = {"ops": op_counters(ops, groups, wl), "window_s": wall,
              "op_n": len(ops),
              "op_p90_note": ("op_p90_s has fewer than ten samples beyond "
                              "it at this op count" if len(ops) < 100
                              else "")}
    return metrics, detail, ops


def traced_run(h, wl, rng_seed) -> tuple[dict, dict, list, list]:
    from perfbench import trace
    from perfbench.workloads import QUERY_TABLES, permutation_rng

    n_rounds = TRACE_ROUNDS[wl.name]
    # one round untraced, then the next round traced: same shapes (the
    # stream continues, so its traced epochs are its next ones)
    rounds = wl.rounds(permutation_rng(rng_seed))
    plain = run_ops(h, wl, rounds, lambda n: n >= n_rounds, prefix="plain")
    tracer = trace.Tracer(h)
    trace.install(tracer, list(QUERY_TABLES))
    ops = run_ops(h, wl, rounds, lambda n: n >= n_rounds, tracer=tracer)
    check_ops(h, wl, ops)
    groups = H.StatusStore(h.sc).by_group()
    metrics = layer_metrics(h, wl, ops, tracer.spans, groups)
    metrics["trace.overhead_pct"] = 100.0 * (
        sum(op["s"] for op in ops) / sum(op["s"] for op in plain) - 1.0)
    members: dict[str, list] = {}
    for sp in tracer.spans:
        members.setdefault(sp["op"], []).append(sp["id"])
    detail = {"ops": op_counters(ops, groups, wl, members),
              "layers": trace.layer_table(tracer.spans, groups),
              "untraced_s": [round(op["s"], 4) for op in plain]}
    spans = [dict(s, jobs=groups.get(s["id"], {}).get("jobs", 0))
             for s in tracer.spans]
    return metrics, detail, ops, spans


def layer_metrics(h, wl, ops, spans, groups) -> dict:
    from perfbench import trace
    from perfbench.workloads import QUERY_TABLES

    n = len(ops)
    kids = trace.children(spans)

    def per(sel, denom=n):
        """Inclusive seconds and subtree counters of the spans ``sel``
        picks, each divided by ``denom``."""
        chosen = [s for s in spans if sel(s)]
        d = max(denom, 1)
        c = H.sum_counters(groups, [i for s in chosen
                                    for i in trace.subtree_ids(s, kids)])
        secs = sum(s["end"] - s["start"] for s in chosen)
        return secs / d, {k: v / d for k, v in c.items()}

    def extra(key):
        return sum(wl.extra.get(op["i"], {}).get(key, 0) for op in ops) / n

    m = {"session.start_s": h.start_s, "session.warm_s": h.warm_s}
    s, c = per(lambda s: s["layer"] == "sources"
               and s["name"] in ("read", "load_table"))
    m["sources.read.s"], m["sources.read.jobs"] = s, c["jobs"]
    allc = H.sum_counters(groups, [op["group"] for op in ops]
                          + [s["id"] for s in spans])
    m["sources.scan.tasks"] = allc["scan_tasks"] / n
    m["sources.scan.input_bytes"] = allc["input_bytes"] / n
    s, c = per(lambda s: s["layer"] == "sources" and s["name"] == "write")
    m["sources.write.s"], m["sources.write.jobs"] = s, c["jobs"]
    is_stream = wl.sink_layer == "streaming"
    for k in ("files", "row_groups", "bytes"):
        m[f"sources.write.{k}"] = 0.0 if is_stream else extra(f"written_{k}")
    table = trace.layer_table(spans, groups)
    for layer in ("sources", "exec", "streaming"):
        m[f"{layer}.self_s"] = table.get(layer, {}).get("self_s", 0.0) / n
    m["operators.build_s"] = table.get("operators", {}).get("self_s", 0.0) / n
    m["operators.build_jobs"] = table.get("operators", {}).get("jobs", 0) / n
    for q in list(QUERY_TABLES) + ["sort_hilbert"]:
        k = sum(1 for s in spans if s["layer"] == "operators"
                and s["name"] == q)
        s, c = per(lambda s, q=q: s["layer"] == "operators"
                   and s["name"] == q, k)
        m[f"operators.{q}.build_s"], m[f"operators.{q}.build_jobs"] = \
            s, c["jobs"]
    sink = (lambda s: s["layer"] == wl.sink_layer
            and s["name"] in ("sink", "epoch"))
    s, c = per(sink)
    m["exec.s"] = s
    for k in ("jobs", "stages", "tasks", "shuffle_read_bytes",
              "shuffle_write_bytes", "spill_bytes", "executor_run_ms",
              "executor_cpu_ms"):
        m[f"exec.{k}"] = c[k]
    m["exec.run_minus_cpu_ms"] = m["exec.executor_run_ms"] \
        - m["exec.executor_cpu_ms"]
    s, c = per(lambda s: s["layer"] == "streaming" and s["name"] == "epoch")
    m["streaming.epoch.s"], m["streaming.epoch.jobs"] = s, c["jobs"]
    m["streaming.chain_len"] = extra("chain_len")
    m["streaming.epoch.bytes_written"] = (extra("written_bytes")
                                          if is_stream else 0.0)
    m["streaming.kept_ratio"] = wl.kept_ratio(ops)
    return m


def run(args, work: str) -> tuple[dict, list]:
    from perfbench import gen
    from perfbench.workloads import WORKLOADS, permutation_rng

    host = H.hermetic_env(work)
    lines = [{"host": host, "workload": args.workload, "seed": args.seed,
              "trace": args.trace}]
    t0 = time.perf_counter()
    wl = WORKLOADS[args.workload](args.seed, work)
    t1 = time.perf_counter()
    wl.prepare()
    t2 = time.perf_counter()
    kernels = {}
    if args.trace:
        # kernels are timed before any JVM exists, on the etl_write
        # seed's coordinates
        from perfbench.kernels import kernel_metrics
        from perfbench.workloads import EtlWrite

        kernels = kernel_metrics(*gen.etl_points(args.seed, EtlWrite.ROWS))
    h = H.Harness()
    try:
        h.setup(lambda: run_ops(h, wl, wl.prime_rounds(), lambda n: True,
                                prefix="prime"))
        if args.trace:
            metrics, detail, ops, spans = traced_run(h, wl, args.seed)
            metrics.update(kernels)
            detail["spans"] = spans
        else:
            metrics, detail, ops = timed_run(args.seconds, h, wl,
                                             permutation_rng(args.seed))
    finally:
        h.stop()
    lines[0].update({"input": wl.input_summary(),
                     "generate_s": t1 - t0, "oracle_s": t2 - t1,
                     "session_start_s": h.start_s,
                     "session_warm_s": h.warm_s})
    lines.append(detail)
    failed = sum(not op["ok"] for op in ops)
    with open(BENCHMARK_JSON) as fh:
        wanted = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    result = {"correct": failed == 0, "attempted": len(ops), "failed": failed,
              "metrics": {m["name"]: {"value": metrics[m["name"]],
                                      "unit": m["unit"]} for m in wanted}}
    return result, lines


def main(argv=None) -> int:
    from perfbench.workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "geoparquet_io_spark")):
        print(f"perfbench: no geoparquet_io_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    work = os.path.join(H.WORK_ROOT, str(os.getpid()))
    try:
        result, lines = run(args, work)
    finally:
        H.remove_tree(work)
    for line in lines:
        print(json.dumps(line, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
