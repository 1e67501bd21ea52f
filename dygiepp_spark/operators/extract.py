"""The extraction operator: pages -> wide triples, via `mapInPandas`.

This is the Spark realization of SURVEY.md §3 E1's execute stage
(M1–M10 + §2.9 decode), fused into ONE vectorized UDF per the §2.11
design: the per-sentence pair joins J1/J2 happen inside the kernel
(per-sentence beam k is tiny), which removes three shuffles from the
plan. Decode is embarrassingly parallel per document, so the operator
is a NARROW transformation — `mapInPandas` over the scan partitions,
ZERO shuffles, and Catalyst prunes the scan to exactly the input
columns (url, html[, partition_id]); the 100 TB `html` column never
travels anywhere except scan -> UDF.

At 1000-executor scale the only knobs are input split size
(`spark.sql.files.maxPartitionBytes`) and Arrow batch size — there is
no shuffle to skew. Oversized documents only skew *within* a task;
`repartition` by url is available but deliberately NOT default (it
would add the pipeline's only wide dependency).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

TRIPLE_SCHEMA = (
    "url string, kind string, subj string, pred string, obj string, "
    "subj_start int, subj_end int, obj_start int, obj_end int, "
    "sent_id int, score double"
)
TRIPLE_SCHEMA_PART = TRIPLE_SCHEMA + ", partition_id int"

_COLS = ["url", "kind", "subj", "pred", "obj", "subj_start", "subj_end",
         "obj_start", "obj_end", "sent_id", "score"]


class _PartitionTimingParam:
    """AccumulatorParam merging {partition_id: (n_docs, secs,
    n_truncated)} — the A5 per-WARC-partition docs/sec metric plus
    the MAX_DOC_TOKENS cut count, measured where the work happens
    (inside the decode UDF) instead of inferred globally."""

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        for k, (n, s, t) in b.items():
            n0, s0, t0 = a.get(k, (0, 0.0, 0))
            a[k] = (n0 + n, s0 + s, t0 + t)
        return a


class PartitionCountParam:
    """AccumulatorParam summing {partition_id: count} — the decode
    UDF's per-partition triple count (see extract_triples_with_metrics)."""

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        for k, n in b.items():
            a[k] = a.get(k, 0) + n
        return a


def _decode_batches(batches: Iterator[pd.DataFrame],
                    from_html: bool,
                    with_partition: bool,
                    timing_acc=None,
                    weights_bc=None,
                    triples_acc=None) -> Iterator[pd.DataFrame]:
    # imports inside the UDF: executed on the executor python worker
    import time as _time
    from dygiepp_spark.kernel.model import triples_rows
    from dygiepp_spark.kernel.tokenize import extract_text
    from dygiepp_spark.kernel.weights import get_weights

    # weights: a broadcast model archive when provided (S2 — the
    # trained model.tar.gz path, one deserialize per executor), else
    # the seed-derived fixture built once per worker process
    w = weights_bc.value if weights_bc is not None else get_weights()
    cols = _COLS + (["partition_id"] if with_partition else [])
    for pdf in batches:
        rows: list[tuple] = []
        timing: dict[int, tuple[int, float, int]] = {}
        counts: dict[int, int] = {}
        if from_html:
            texts = [extract_text(h) for h in pdf["html"]]
        else:
            texts = [t if t is not None else "" for t in pdf["text"]]
        pids = pdf["partition_id"] if with_partition else None
        meta: dict = {}
        for i, (url, text) in enumerate(zip(pdf["url"], texts)):
            t0 = _time.perf_counter()
            doc_rows = triples_rows(url, text, w, meta=meta)
            dt = _time.perf_counter() - t0
            if with_partition:
                pid = int(pids.iloc[i])
                rows.extend(r + (pid,) for r in doc_rows)
                n0, s0, tr0 = timing.get(pid, (0, 0.0, 0))
                timing[pid] = (n0 + 1, s0 + dt,
                               tr0 + int(meta.get("truncated", False)))
                counts[pid] = counts.get(pid, 0) + len(doc_rows)
            else:
                rows.extend(doc_rows)
        if timing_acc is not None and timing:
            timing_acc.add(timing)
        if triples_acc is not None and counts:
            triples_acc.add(counts)
        yield pd.DataFrame(rows, columns=cols)


def extract_triples(pages: DataFrame, from_html: bool = True,
                    with_partition: bool = False,
                    length_bucketed: bool = False,
                    weights_bc=None) -> DataFrame:
    """pages -> triples. `from_html=True` runs the full X1 path
    (html -> byte-identical text -> decode); `False` short-circuits to
    the `text` column (identical output by the [BASELINE] invariant,
    golden-tested).

    `length_bucketed` applies the W4 physical optimization (SURVEY.md
    §2.5): sortWithinPartitions by document length before the UDF, so
    Arrow batches hold similarly-sized documents (evens out per-batch
    decode time; the reference's bucket-sampler analog). Semantics-free
    — decode output is per-document and tested invariant.

    `weights_bc` is an optional broadcast weight dict (from
    kernel.weights.broadcast_archive — the literal model.tar.gz S2
    path): pass it to run the distributed decode with trained weights
    instead of the seed-derived fixture."""
    from pyspark.sql import functions as F
    in_cols = ["url", "html" if from_html else "text"]
    if with_partition:
        in_cols.append("partition_id")
    schema = TRIPLE_SCHEMA_PART if with_partition else TRIPLE_SCHEMA

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return _decode_batches(batches, from_html, with_partition,
                               weights_bc=weights_bc)

    selected = pages.select(*in_cols)
    if length_bucketed:
        selected = selected.sortWithinPartitions(
            F.length(in_cols[1]).asc())
    return selected.mapInPandas(fn, schema)


def extract_triples_with_metrics(pages: DataFrame,
                                 from_html: bool = True,
                                 weights_bc=None,
                                 triples_acc=None):
    """Like extract_triples(with_partition=True) but also returns a
    per-partition timing accumulator: after an action on the returned
    DataFrame, `acc.value` is {partition_id: (n_docs, decode_secs,
    n_truncated)} — measured inside the UDF, the honest A5 docs/sec
    per WARC partition, plus the count of documents cut at
    MAX_DOC_TOKENS (a silent cut would be undebuggable at crawl
    scale). `triples_acc`, an optional accumulator built with
    PartitionCountParam, additionally receives {partition_id:
    n_triples} for the rows the UDF emits. Returns (triples_df, acc).

    The counts are exact when the UDF runs once per partition: in the
    result stage of a single action (see run_extraction)."""
    spark = pages.sparkSession
    acc = spark.sparkContext.accumulator({}, _PartitionTimingParam())
    in_cols = ["url", "html" if from_html else "text", "partition_id"]

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return _decode_batches(batches, from_html, True, timing_acc=acc,
                               weights_bc=weights_bc,
                               triples_acc=triples_acc)

    return (pages.select(*in_cols)
            .mapInPandas(fn, TRIPLE_SCHEMA_PART), acc)


def mentions_from_triples(triples: DataFrame) -> DataFrame:
    """Project the `mentions` table (FIXTURES.md §3) out of the wide
    triples stream — a pure narrow projection, no recompute."""
    from pyspark.sql import functions as F
    return (triples.filter(F.col("kind") == "ner")
            .select("url", "sent_id",
                    F.col("subj_start").alias("start"),
                    F.col("subj_end").alias("end"),
                    F.col("subj").alias("mention"),
                    F.col("obj").alias("label"),
                    "score"))
