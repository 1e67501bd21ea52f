"""The benchmark's workloads.

Each workload writes the seeded inputs its state needs, prepares the
state after set-up, writes a fresh input per iteration
(``next_input``, untimed), runs one unit of work on it per
``iteration`` (the harness times it) and checks the written outputs
afterwards. They call the engine
only through its public functions, and through module attributes, so
a traced run's wrappers (``trace.instrument``) see every layer call.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from dygiepp_spark.operators import cc, dedup, extract, linking
from dygiepp_spark.plans import pipeline, session
from dygiepp_spark.sources import catalog, pages

from kgbench.gen import CorpusSpec, describe, generate, write_documents

# tokens of the workload's documents the kernel probe decodes
KERNEL_SAMPLE_TOKENS = 8000


class Workload:
    name = ""

    def __init__(self, work: str, seed: int, cores: int):
        self.seed = seed
        self.cores = cores
        self.inputs = os.path.join(work, "inputs")
        self.out = os.path.join(work, "out")
        self.tables = []       # generated documents tables, for samples
        self.n_inputs = 0      # inputs handed out, over every phase

    def generate(self) -> None:
        """Write the inputs that ``prepare`` needs."""
        raise NotImplementedError

    def prepare(self, spark) -> None:
        """Untimed engine work after set-up: builds the workload's
        state and leaves the session warm for the timed loop."""
        raise NotImplementedError

    def next_input(self):
        """Write the next fresh input, outside the timed part. One
        counter runs over every phase of a run, so no input is ever
        run twice, and inputs never run out."""
        k = self.n_inputs
        self.n_inputs += 1
        return self._input(k)

    def _input(self, k: int):
        raise NotImplementedError

    def iteration(self, spark, inp) -> dict:
        """One timed unit of work on ``next_input()``'s result;
        returns {"docs", "triples"}."""
        raise NotImplementedError

    def check(self, spark) -> list[str]:
        """Output checks after the timed loop; returns failures."""
        raise NotImplementedError

    def state_rows(self, spark) -> int:
        """Rows of the workload's dedup state (none by default)."""
        return 0

    def describe(self) -> dict:
        """Descriptors of every input written so far."""
        return describe(self.tables)

    def kernel_sample(self) -> list[tuple[str, str]]:
        """A seeded sample of this workload's own documents."""
        texts = [t for tab in self.tables
                 for t in tab.column("text").to_pylist()]
        rng = np.random.default_rng([self.seed, 11])
        out, n = [], 0
        for i in rng.permutation(len(texts)):
            out.append((f"sample/{i}", texts[i]))
            n += len(texts[i].split())
            if n >= KERNEL_SAMPLE_TOKENS:
                break
        return out

    def mean_tokens_per_doc(self) -> float:
        return self.describe()["mean_tokens_per_doc"]

    def _write(self, spec: CorpusSpec, sf_dir: str, seed: int,
               doc_id_start: int = 0, dup_sources=None, keep=True):
        tab = generate(spec, seed, doc_id_start, dup_sources)
        write_documents(tab, sf_dir)
        if keep:
            self.tables.append(tab)
        return tab


def _sample_pages(spark, sf_dir: str, n: int, seed: int) -> list:
    """(url, html, text) rows of n seeded-random pages of one input."""
    rows = (pages.synth_pages(spark, sf_dir)
            .select("url", "html", "text").collect())
    rng = np.random.default_rng([seed, 13])
    return [rows[i] for i in sorted(rng.choice(len(rows), min(n, len(rows)),
                                                replace=False))]


class ExtractWeb(Workload):
    """Pages -> triples table + lineage via ``run_extraction``; each
    iteration reads a fresh slice, as new crawl pages would arrive.
    The slices hold no near-duplicates (nothing here deduplicates), so
    every slice holds the same number of tokens."""

    name = "extract_web"
    SPEC = CorpusSpec(n_docs=200, vocab_size=1_000_000, zipf_s=1.0,
                      punct_rate=0.08, len_median=120, len_sigma=0.9)
    CHECK_DOCS = 8

    def generate(self) -> None:
        self.warm_dir = os.path.join(self.inputs, "warm")
        # a full-size slice, so the workers' token caches hold the
        # Zipf head before the timed loop
        self._write(self.SPEC, self.warm_dir, self.seed + 1, keep=False)
        self.done: list[tuple[str, str]] = []

    def prepare(self, spark) -> None:
        pipeline.run_extraction(spark, self.warm_dir,
                                os.path.join(self.out, "warm"),
                                resume=False, parallelism=2 * self.cores)

    def _input(self, k: int) -> tuple[str, str]:
        sf = os.path.join(self.inputs, f"slice_{k:03d}")
        self._write(self.SPEC, sf, self.seed,
                    doc_id_start=k * self.SPEC.n_docs)
        return sf, os.path.join(self.out, f"it{k:03d}")

    def iteration(self, spark, inp) -> dict:
        sf, out = inp
        m = pipeline.run_extraction(spark, sf, out, resume=False,
                                    parallelism=2 * self.cores)
        self.done.append((sf, out))
        return {"docs": m["n_docs"], "triples": m["n_triples"]}

    def check(self, spark) -> list[str]:
        from dygiepp_spark.kernel.oracle import (TRIPLE_COLUMNS,
                                                 decode_corpus, triple_prf)
        from dygiepp_spark.kernel.tokenize import extract_text
        failures = []
        for i, (sf, out) in enumerate(self.done):
            sample = _sample_pages(spark, sf, self.CHECK_DOCS, self.seed + i)
            urls = [r.url for r in sample]
            for r in sample:
                if extract_text(r.html) != r.text:
                    failures.append(f"it{i}: extract_text differs for {r.url}")
            got = (spark.read.parquet(os.path.join(out, "triples"))
                   .filter(F.col("url").isin(urls))
                   .select(*TRIPLE_COLUMNS).toPandas())
            gold = decode_corpus([(r.url, r.text) for r in sample])
            prf = triple_prf(got, gold)
            if prf["precision"] != 1.0 or prf["recall"] != 1.0:
                failures.append(f"it{i}: triples vs oracle {prf}")
        return failures


class CrawlIncrement(Workload):
    """A closed loop with one client: each batch of new pages starts
    after the previous one is written. State (LSH band table, CC
    assignment, edge log) lives in parquet beside the reads, sized
    like the repo's sf0.1 corpus (5,000 documents)."""

    name = "crawl_increment"
    BASE = CorpusSpec(n_docs=5000, vocab_size=20_000, zipf_s=1.0,
                      punct_rate=0.08, len_median=80, len_sigma=0.3)
    BATCH = CorpusSpec(**{**BASE.__dict__, "n_docs": 50, "dup_share": 0.3})
    # bands per document in lsh_band_table's default banding
    N_BANDS = 4
    # doc ids: base 0..4999, warm-up batch from 50_000, batch k from
    # (k + 1) * 100_000
    WARM_ID = 50_000

    def generate(self) -> None:
        self.base_dir = os.path.join(self.inputs, "base")
        self._write(self.BASE, self.base_dir, self.seed)
        self.sources: list[str] = []   # texts near-duplicates may copy
        self.warm_dir = self._batch_input("warm", self.WARM_ID)

    def _batch_input(self, name: str, doc_id_start: int) -> str:
        """A batch whose near-duplicates copy an earlier batch's
        document (or, in the first batch, one of its own)."""
        d = os.path.join(self.inputs, f"batch_{name}")
        tab = self._write(self.BATCH, d, self.seed,
                          doc_id_start=doc_id_start,
                          dup_sources=self.sources or None)
        self.sources.extend(tab.column("text").to_pylist())
        return d

    def _input(self, k: int) -> str:
        return self._batch_input(f"{k:03d}", (k + 1) * 100_000)

    def _state(self, *parts: str) -> str:
        return os.path.join(self.out, "state", *parts)

    def _assign_path(self, version: int) -> str:
        return self._state(f"assign_{version:04d}")

    @staticmethod
    def _pages(spark, sf_dir: str):
        """The input's pages, spread over the cores (the input is one
        parquet split) and materialized once for their several uses."""
        return (session.spread(pages.synth_pages(spark, sf_dir))
                .localCheckpoint(eager=True))

    def prepare(self, spark) -> None:
        """Build the base corpus's state without extraction, then run
        one warm-up batch through the batch steps.

        The band table holds ``N_BANDS`` rows per base document with
        random signatures: the size of the base's ``lsh_band_table``
        (which costs more to build than the whole timed loop), with
        no near-duplicate among them, so batches copy only from
        earlier batches. The graph stands in for the base's mention
        graph: every word type of the base is a mention node, linked
        by ``lsh_candidate_edges``; the assignment is
        ``connected_components`` over those edges. Batch mentions of
        the same words land in the same nodes."""
        shutil.rmtree(self._state(), ignore_errors=True)
        n = self.BASE.n_docs
        rng = np.random.default_rng([self.seed, 17])
        bands = pd.DataFrame({
            "id": np.repeat([f"https://base.example/{i}" for i in range(n)],
                            self.N_BANDS),
            "band": np.tile(np.arange(self.N_BANDS, dtype=np.int32), n),
            "sig": rng.integers(np.iinfo(np.int64).min,
                                np.iinfo(np.int64).max, n * self.N_BANDS,
                                dtype=np.int64)})
        catalog.write_table(
            spark.createDataFrame(bands, "id string, band int, sig bigint"),
            self._state("bands"))
        words = (pages.synth_pages(spark, self.base_dir)
                 .select(F.explode(F.split("text", " ")).alias("w"))
                 .select(F.regexp_replace("w", "[.!?]$", "").alias("mention")))
        nodes = linking.mention_nodes(words).localCheckpoint(eager=True)
        edges = (linking.lsh_candidate_edges(nodes).select("src", "dst")
                 .unionByName(nodes.select(F.col("gid").alias("src"),
                                           F.col("gid").alias("dst")))
                 .localCheckpoint(eager=True))
        catalog.write_table(edges, self._state("edges"))
        catalog.write_table(cc.connected_components(edges),
                            self._assign_path(0))
        self.version = 0
        self._batch(spark, self.warm_dir)

    def iteration(self, spark, inp) -> dict:
        return {"docs": self.BATCH.n_docs,
                "triples": self._batch(spark, inp)}

    def _batch(self, spark, sf_dir: str) -> int:
        """The five batch steps; returns the batch's triple count."""
        pg = self._pages(spark, sf_dir)
        # 1. near-dup filter against the band state, with the batch's
        # band table built once for steps 1 and 5
        batch_bands = (dedup.lsh_band_table(pg, id_col="url")
                       .localCheckpoint(eager=True))
        survivors = dedup.lsh_dedup_incremental(
            pg, catalog.read_table(spark, self._state("bands")),
            id_col="url", bands=batch_bands)
        new_pages = (pg.join(survivors, "url", "left_semi")
                     .localCheckpoint(eager=True))
        # 2. extraction on the survivors
        triples, _ = extract.extract_triples_with_metrics(new_pages)
        triples = triples.localCheckpoint(eager=True)
        # 3. the batch's link graph, appended to the edge log
        nodes = linking.mention_nodes(extract.mentions_from_triples(triples))
        edges = (linking.lsh_candidate_edges(nodes).select("src", "dst")
                 .unionByName(linking.coref_edges(triples))
                 .unionByName(nodes.select(F.col("gid").alias("src"),
                                           F.col("gid").alias("dst")))
                 .localCheckpoint(eager=True))
        catalog.write_table(edges, self._state("edges"), mode="append")
        # 4. merge into the component assignment (a new version)
        prev = self._assign_path(self.version)
        assign = cc.cc_incremental(catalog.read_table(spark, prev), edges)
        catalog.write_table(assign, self._assign_path(self.version + 1))
        # 5. append the survivors' band rows to the state
        catalog.write_table(
            batch_bands.join(new_pages.select(F.col("url").alias("id")),
                             "id", "left_semi"),
            self._state("bands"), mode="append")
        self.version += 1
        shutil.rmtree(prev, ignore_errors=True)
        return triples.count()

    def state_rows(self, spark) -> int:
        return catalog.read_table(spark, self._state("bands")).count()

    def check(self, spark) -> list[str]:
        final = catalog.read_table(spark, self._assign_path(self.version))
        ref = cc.connected_components(
            catalog.read_table(spark, self._state("edges")))
        diff = (final.exceptAll(ref).count()
                + ref.exceptAll(final).count())
        if diff:
            return [f"incremental assignment differs from a full "
                    f"recompute in {diff} rows"]
        return []


WORKLOADS = {w.name: w for w in (ExtractWeb, CrawlIncrement)}
