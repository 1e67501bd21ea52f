"""Unit tests of the benchmark harness (no Spark session needed).

    python3 -m pytest kgbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from kgbench.gen import (LEN_MIN, CorpusSpec, describe, generate,  # noqa: E402
                         planned_lengths, write_documents)
from kgbench.trace import Span, Tracer, self_times, total  # noqa: E402

SPEC = CorpusSpec(n_docs=40, vocab_size=5000, zipf_s=1.0, punct_rate=0.1,
                  len_median=30, len_sigma=0.9, dup_share=0.25)
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _bytes(tmp_path, sub: str, seed: int) -> bytes:
    path = write_documents(generate(SPEC, seed), str(tmp_path / sub))
    with open(path, "rb") as f:
        return f.read()


def test_same_seed_gives_byte_identical_files(tmp_path):
    assert _bytes(tmp_path, "a", 3) == _bytes(tmp_path, "b", 3)
    assert _bytes(tmp_path, "a", 3) != _bytes(tmp_path, "c", 4)


def test_generator_honours_its_parameters():
    tab = generate(SPEC, 5, doc_id_start=100)
    assert tab.column_names == ["doc_id", "text", "lang", "source",
                                "n_chars"]
    assert tab.column("doc_id").to_pylist() == list(range(100, 140))
    texts = tab.column("text").to_pylist()
    assert all(LEN_MIN <= len(t.split()) <= planned_lengths(SPEC).max()
               for t in texts)
    assert any(t[-1] in ".!?" for doc in texts for t in doc.split())
    d = describe([tab])
    assert d["docs"] == 40 and d["tokens"] == sum(len(t.split())
                                                  for t in texts)
    assert 0 < d["dup_share"] < 1
    assert d["max_tokens_per_doc"] >= d["mean_tokens_per_doc"]


def test_closed_vocabulary_stays_closed():
    spec = CorpusSpec(n_docs=50, vocab_size=12, zipf_s=0.6, punct_rate=0.0,
                      len_median=40, len_sigma=0.3)
    assert describe([generate(spec, 1)])["distinct_tokens"] <= 12


def test_inputs_without_duplicates_hold_the_same_tokens():
    spec = CorpusSpec(n_docs=60, vocab_size=10_000, zipf_s=1.0,
                      punct_rate=0.1, len_median=50, len_sigma=0.9)
    lens = planned_lengths(spec)
    assert lens.max() > 4 * lens.min()        # long-tailed
    for seed, start in ((1, 0), (2, 60), (1, 120)):
        tab = generate(spec, seed, doc_id_start=start)
        got = sorted(len(t.split()) for t in tab.column("text").to_pylist())
        assert got == sorted(lens)


def _span(sid, name, start, end, parent=None):
    return Span(sid, name, start, end, parent, "r")


def test_self_time_subtracts_covered_child_time():
    spans = [
        _span(1, "pipeline.run", 0.0, 10.0),
        _span(2, "extract.x", 1.0, 4.0, 1),
        _span(3, "sources.write", 3.0, 6.0, 1),   # overlaps span 2
        _span(4, "sources.scan", 7.0, 8.0, 1),
        _span(5, "kernel.k", 1.5, 2.0, 2),
    ]
    st = self_times(spans)
    assert st["pipeline"] == 10.0 - 5.0 - 1.0   # union of [1,6] and [7,8]
    assert st["extract"] == 3.0 - 0.5
    assert st["sources"] == 3.0 + 1.0
    assert st["kernel"] == 0.5
    assert sum(st.values()) != 10.0   # overlap counted once per parent


def test_totals_sum_spans_of_one_name():
    spans = [
        _span(1, "cc.incremental", 0.0, 5.0),
        _span(2, "cc.solve", 1.0, 2.0, 1),
        _span(3, "cc.solve", 6.0, 9.0),
    ]
    assert total(spans, "cc.solve") == 4.0
    assert total(spans, "cc.incremental") == 5.0
    assert total(spans, "linking.lsh") == 0


def test_tracer_nests_spans_and_finds_subtrees():
    tr = Tracer("run")
    with tr.span("bench.iteration") as root:
        with tr.span("pipeline.extraction"):
            with tr.span("linking.lsh"):
                pass
    with tr.span("kernel.cold_pass"):
        pass
    names = {s.name for s in tr.subtree(root)}
    assert names == {"bench.iteration", "pipeline.extraction", "linking.lsh"}
    by_name = {s.name: s for s in tr.spans}
    assert (by_name["linking.lsh"].parent
            == by_name["pipeline.extraction"].span_id)
    assert by_name["kernel.cold_pass"].parent is None


def test_metric_names_are_valid():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared = bench["end_to_end"] + bench["per_layer"]
    names = [m["name"] for m in declared]
    assert len(names) == len(set(names))
    for m in declared:
        assert NAME_RE.match(m["name"]), m["name"]
        assert UNIT_RE.match(m["unit"]), m["unit"]
    from kgbench.workloads import WORKLOADS
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    setup = [m for m in bench["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
