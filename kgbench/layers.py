"""The traced run: per-layer metrics for one workload.

A traced run first repeats the untraced loop for half of its time (the
session counters and the event-log figures come from those iterations,
so they describe the job a user runs), then runs further iterations,
on fresh inputs of the same size, with ``trace.instrument`` for the
other half, then times the kernel
alone on a sample of the workload's documents. Every metric is the
median over iterations of a per-iteration value.
"""

from __future__ import annotations

import json
import os
import statistics
import time

from kgbench import sparkstats
from kgbench.trace import instrument, self_times, total

SELF_TIME_LAYERS = ["sources", "extract", "dedup", "linking", "cc",
                    "pipeline"]


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _data_files(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if not f.startswith((".", "_")):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


def _count_hook(counts: dict):
    """Counts recorded where each layer's work happens, on the
    materialized outputs."""

    def add(key, v):
        counts[key] = counts.get(key, 0) + v

    def on_call(name, args, kwargs, result):
        if name == "extract.extract_triples":
            triples, acc = result
            add("extract.triples", triples.count())
            parts = acc.value or {}
            add("extract.docs", sum(n for n, _, _ in parts.values()))
            add("extract.udf_decode_s", sum(s for _, s, _ in parts.values()))
            add("extract.truncated_docs",
                sum(t for _, _, t in parts.values()))
        elif name == "linking.mention_nodes":
            add("linking.nodes", result.count())
        elif name == "linking.lsh":
            add("linking.lsh_edges", result.count())
        elif name == "linking.coref":
            add("linking.coref_edges", result.count())
        elif name == "cc.incremental":
            add("cc.components",
                result.select("component").distinct().count())
        elif name == "dedup.incremental":
            add("dedup.survivors", result.count())
            add("dedup.batch_docs", args[0].count())

    return on_call


def _traced_iteration_metrics(spans, counts: dict, cores: int) -> dict:
    m = {
        "sources.scan_s": total(spans, "sources.scan"),
        "sources.write_s": total(spans, "sources.write"),
        "extract.s": total(spans, "extract.extract_triples"),
        "dedup.incremental_s": total(spans, "dedup.incremental"),
        "dedup.band_table_s": total(spans, "dedup.band_table"),
        "linking.mention_nodes_s": total(spans, "linking.mention_nodes"),
        "linking.lsh_s": total(spans, "linking.lsh"),
        "cc.s": total(spans, "cc.solve"),
        "cc.incremental_s": total(spans, "cc.incremental"),
        "pipeline.extraction_s": total(spans, "pipeline.extraction"),
    }
    for key in ("extract.docs", "extract.triples", "extract.truncated_docs",
                "extract.udf_decode_s", "linking.nodes", "linking.lsh_edges",
                "linking.coref_edges", "cc.components", "sources.bytes_written",
                "sources.files_written", "dedup.state_rows"):
        m[key] = counts.get(key, 0)
    m["dedup.survivor_ratio"] = (counts["dedup.survivors"]
                                 / counts["dedup.batch_docs"]
                                 if counts.get("dedup.batch_docs") else 0.0)
    m["extract.slot_efficiency"] = (m["extract.udf_decode_s"]
                                    / (m["extract.s"] * cores)
                                    if m["extract.s"] else 0.0)
    selfs = self_times(spans)
    for layer in SELF_TIME_LAYERS:
        m[f"{layer}.self_s"] = selfs.get(layer, 0.0)
    return m


def kernel_probe(tracer, sample: list[tuple[str, str]]) -> dict:
    """Direct single-core kernel calls, no Spark: a first (cold) pass
    over the sample in this process, then a warm pass timed per doc."""
    from dygiepp_spark.kernel.model import triples_rows
    from dygiepp_spark.kernel.weights import get_weights
    w = get_weights()
    n_tok = sum(len(t.split()) for _, t in sample)
    with tracer.span("kernel.cold_pass"):
        t0 = time.perf_counter()
        for url, text in sample:
            triples_rows(url, text, w)
        cold = time.perf_counter() - t0
    per_doc = []
    with tracer.span("kernel.warm_pass"):
        for url, text in sample:
            t0 = time.perf_counter()
            triples_rows(url, text, w)
            per_doc.append(time.perf_counter() - t0)
    ms = sorted(1000.0 * d for d in per_doc)
    return {"kernel.tokens_per_s": n_tok / sum(per_doc),
            "kernel.cold_tokens_per_s": n_tok / cold,
            "kernel.doc_ms_p50": statistics.median(ms),
            "kernel.doc_ms_p99": statistics.quantiles(ms, n=100)[98]
            if len(ms) > 1 else ms[0]}


def traced_run(h, seconds: float, deadline: float, record: dict) -> dict:
    wl, tracer, spark = h.wl, h.tracer, h.spark
    plain = h.loop(seconds / 2, 2, "plain", deadline)
    sc = spark.sparkContext
    session = [sparkstats.group_counts(sc, r["group"]) for r in plain]

    def traced_iteration(inp) -> dict:
        counts: dict = {}
        before = _data_files(wl.out)
        with tracer.span("bench.iteration") as root, \
                instrument(tracer, _count_hook(counts)):
            res = wl.iteration(spark, inp)
        after = _data_files(wl.out)
        new = [p for p, size in after.items() if before.get(p) != size]
        counts["sources.files_written"] = len(new)
        counts["sources.bytes_written"] = sum(after[p] for p in new)
        counts["dedup.state_rows"] = wl.state_rows(spark)
        return {**res, "span": root, "counts": counts}

    traced = h.loop(seconds / 2, 2, "traced", deadline, traced_iteration)
    kernel = kernel_probe(tracer, wl.kernel_sample())
    record["iterations"] = plain + traced
    record["app_id"] = sc.applicationId
    per_it = [_traced_iteration_metrics(tracer.subtree(r["span"]),
                                        r["counts"], h.cores)
              for r in traced if r["ok"]]
    out = {k: _median([m[k] for m in per_it]) for k in per_it[0]} \
        if per_it else {}
    out.update(kernel)
    ok_plain = [r for r in plain if r["ok"]]
    docs_per_s = (sum(r["docs"] for r in ok_plain)
                  / sum(r["wall_s"] for r in ok_plain)) if ok_plain else 0.0
    kernel_docs_per_s = (kernel["kernel.tokens_per_s"]
                         / wl.mean_tokens_per_doc())
    out["extract.parallel_eff"] = docs_per_s / (h.cores * kernel_docs_per_s)
    traced_walls = [tracer.subtree(r["span"])[0].duration
                    for r in traced if r["ok"]]
    out["trace.overhead_s"] = (_median(traced_walls)
                               - _median([r["wall_s"] for r in ok_plain]))
    for key in ("jobs", "stages", "tasks", "failed_tasks"):
        out[f"session.{key}"] = _median([s[key] for s in session])
    out["session.start_s"] = _median(h.start_s)
    record["plain_groups"] = [r["group"] for r in ok_plain]
    return out


def finish_traced(out: dict, log_dir: str, record: dict) -> dict:
    """Add the event-log figures (readable once the session stopped)
    and return {name: (value, unit)} for every per-layer metric."""
    path = sparkstats.event_log_path(log_dir, record["app_id"])
    groups = sparkstats.event_log_metrics(path) if path else {}
    plain = [groups[g] for g in record["plain_groups"] if g in groups]
    for key in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
                "gc_s", "task_skew"):
        out[f"session.{key}"] = _median([g[key] for g in plain])
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer"]
    return {m["name"]: (float(out.get(m["name"], 0.0)), m["unit"])
            for m in declared}
