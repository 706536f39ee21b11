"""``llm_corpus``: the north-star LLM-data operators.

``plans.catalog.build_indexes`` runs first in the fresh benchmark
process (empty index cache); then one client makes seeded passes over
the core mix, two of the 18 text, dedup and ANN catalog queries.
Traced runs then run the other sixteen once, for their per-query
figures and the ANN recall. This is the only workload that runs
``plans.textops``/``plans.simops`` and the dedup, IVF and PQ operators;
it is shuffle-heavy where ``cdc_lakehouse`` runs many small fixed-cost
batches."""

from __future__ import annotations

import os
import random
import time

import importlib

from common import canonical_rows, median, result_hash, rows_close

from sport_advantages_moderne_data_infrastructure_spark.plans import (
    catalog as C,
)

#: the timed mix of every run: the roadmap's first targets. A pass over
#: all 18 queries does not fit the run budget (README.md).
CORE_MIX = ["dedup_minhash_lsh", "text_bm25_topk"]
#: the rest of the 18 bench-flagged corpus queries, run once in traced
#: runs after the timed mix
COVERAGE = [
    "dedup_jaccard_pairs", "dedup_repeated_spans", "ann_lsh_bucketed",
    "ann_ivf_topk", "ann_cosine_topk", "ann_sq8_topk", "ann_pq_topk",
    "ann_ivfpq_topk", "ann_ivfpq_refined_topk", "ann_filtered_topk",
    "dedup_exact", "dedup_lsh_verified", "dedup_chunks",
    "bigram_surprisal_score", "mixture_token_budget",
    "training_order_shuffle",
]
CORPUS_MIX = CORE_MIX + COVERAGE
#: the approximate ANN queries without an oracle; their recall is taken
#: against ann_cosine_topk's exact answer
ANN_APPROX = ["ann_lsh_bucketed", "ann_ivf_topk", "ann_pq_topk",
              "ann_ivfpq_topk", "ann_ivfpq_refined_topk"]
ANN_EXACT = "ann_cosine_topk"
#: queries whose build/exec/jobs split is reported on its own (traced)
NAMED = CORE_MIX + ["dedup_jaccard_pairs", "dedup_repeated_spans"]
#: index builders that build_indexes calls, by artifact
BUILDERS = {"shingle": ("textops", "shingle_index"),
            "capped": ("textops", "capped_shingle_index"),
            "minhash": ("textops", "minhash_index"),
            "bm25": ("textops", "bm25_index"),
            "ivf": ("simops", "ensure_ivf_index"),
            "sq8": ("simops", "sq8_index"),
            "pq": ("simops", "ensure_pq_index")}


def _dir_bytes(root: str, prefix: str) -> int:
    total = 0
    for name in os.listdir(root):
        if name.startswith(prefix):
            for d, _, files in os.walk(os.path.join(root, name)):
                total += sum(os.path.getsize(os.path.join(d, f))
                             for f in files)
    return total


def duck_oracle(sf_dir: str, sql: str):
    import duckdb

    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(sf_dir)):
            if f.endswith(".parquet"):
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(sf_dir, f)}')")
        return con.execute(sql).df()
    finally:
        con.close()


class LlmCorpus:
    name = "llm_corpus"

    def __init__(self, run):
        self.run = run
        self.spark = run.spark
        self.rng = random.Random(run.seed)

    def setup(self) -> None:
        registry = C.bench_queries()
        missing = [q for q in CORPUS_MIX if q not in registry]
        if missing:
            raise RuntimeError(f"catalog lacks bench queries {missing}")
        self.queries = {q: registry[q] for q in CORPUS_MIX}

    # -- index build -----------------------------------------------------

    def build(self) -> None:
        """build_indexes, with a span around each builder it calls."""
        tr = self.run.tracer
        saved = []
        if tr.enabled:
            for art, (mod, fn) in BUILDERS.items():
                m = importlib.import_module(
                    "sport_advantages_moderne_data_infrastructure_spark"
                    f".plans.{mod}")
                real = getattr(m, fn)

                def wrapped(*a, _real=real, _art=art, **kw):
                    with tr.span(f"index.{_art}"):
                        return _real(*a, **kw)
                saved.append((m, fn, real))
                setattr(m, fn, wrapped)
        try:
            self.run.group("perfbench-index-build")
            C.build_indexes(self.spark, self.run.sf_dir)
        finally:
            for m, fn, real in saved:
                setattr(m, fn, real)

    def index_layers(self) -> dict:
        tr = self.run.tracer
        # the first call of each builder is its build; later calls from
        # sibling builders are cache hits
        first = {}
        for s in tr.spans:
            art = s["name"].removeprefix("index.")
            if s["name"].startswith("index.") and art not in first:
                first[art] = s["end"] - s["start"]
        out = {f"index.{a}_s": first.get(a, 0.0) for a in BUILDERS}
        text_chain = first.get("shingle", 0.0) + max(
            first.get("capped", 0.0), first.get("minhash", 0.0))
        out["index.critical_path_s"] = max(
            [text_chain] + [first.get(a, 0.0)
                            for a in ("bm25", "ivf", "sq8", "pq")])
        out["index.bytes"] = _dir_bytes(self.run.tmp, "samdis_")
        return out

    # -- measured loop ---------------------------------------------------

    def one_query(self, name: str, keep: bool):
        run, tr = self.run, self.run.tracer
        run.group(f"perfbench-{name}")
        with tr.span("query", query=name):
            t0 = time.perf_counter()
            with tr.span("plans.build"):
                df = self.queries[name].spark_fn(self.spark, run.sf_dir)
            t1 = time.perf_counter()
            with tr.span("spark.exec"):
                pdf = df.toPandas()
            t2 = time.perf_counter()
        counts = run.count_spark()
        rec = {"query": name, "build_s": t1 - t0, "exec_s": t2 - t1,
               "rows": len(pdf), "jobs": counts.get("jobs", 0)}
        if keep:
            self.results[name] = pdf
        return rec

    def loop(self, deadline: float) -> None:
        run = self.run
        self.results: dict = {}
        self.records: list[dict] = []
        self.passes: list[float] = []
        self.orders: list[list[str]] = []
        while not self.passes or time.perf_counter() < deadline:
            order = list(CORE_MIX)
            self.rng.shuffle(order)
            self.orders.append(order)
            t0 = time.perf_counter()
            for name in order:
                rec = None
                with run.checks.guard(f"{name} pass {len(self.passes)}"):
                    rec = self.one_query(name, keep=name not in self.results)
                if rec is None:
                    continue
                self.records.append(rec)
                want = self.results.get(name)
                if want is not None and len(want) != rec["rows"]:
                    run.checks.record(False, f"{name}: {rec['rows']} rows, "
                                      f"first run had {len(want)}")
            self.passes.append(time.perf_counter() - t0)

    def coverage(self) -> None:
        """The queries outside the core mix, once each (traced runs)."""
        for name in COVERAGE:
            with self.run.checks.guard(f"{name} coverage"):
                self.records.append(self.one_query(name, keep=True))

    # -- checks ----------------------------------------------------------

    def verify(self) -> None:
        """Each query's result against its DuckDB oracle where one exists,
        else against the expected hash recorded from its first result."""
        run = self.run
        self.hashes = {}
        for name in CORPUS_MIX:
            pdf = self.results.get(name)
            if pdf is None:
                continue  # its failure is already counted
            got = result_hash(pdf)
            self.hashes[name] = got
            oracle = self.queries[name].oracle
            with run.checks.guard(f"verify {name}"):
                if oracle is not None:
                    want_pdf = duck_oracle(run.sf_dir, oracle)
                    want = result_hash(want_pdf)
                    ok = (got == want or rows_close(canonical_rows(pdf),
                                                    canonical_rows(want_pdf)))
                else:
                    want, ok = got, True
                if name == run.corrupt:
                    want, ok = "corrupted-" + want, False
                if not ok:
                    raise AssertionError(
                        f"{name}: result hash {got} != expected {want}")

    def ann_recall(self) -> float:
        def pairs(pdf):
            return set(zip(pdf["query_id"], pdf["neighbor_id"]))
        exact = pairs(self.results[ANN_EXACT])
        return min(len(pairs(self.results[q]) & exact) / len(exact)
                   for q in ANN_APPROX)

    def run_workload(self, deadline_s: float):
        run, tr = self.run, self.run.tracer
        t0 = time.perf_counter()
        with tr.span("build"):
            self.build()
        build_s = time.perf_counter() - t0
        build_counts = run.count_spark()
        self.loop(time.perf_counter() + deadline_s)
        lat = [r["build_s"] + r["exec_s"] for r in self.records]
        if tr.enabled:
            self.coverage()
        self.verify()
        pass_s = median(self.passes)
        e2e = {"build_s": build_s, "run_s": build_s + pass_s}
        layers = {"loop.pass_s": pass_s, "corpus.query_p50_s": median(lat)}
        if tr.enabled:
            for name in NAMED:
                recs = [r for r in self.records if r["query"] == name]
                if not recs:
                    continue  # its failure is already counted
                for k in ("build_s", "exec_s", "jobs"):
                    layers[f"q.{name}.{k}"] = median([r[k] for r in recs])
            with run.checks.guard("ann recall"):
                layers["ann.recall"] = self.ann_recall()
            layers.update(self.index_layers())
            layers["index.jobs"] = build_counts.get("jobs", 0)
        detail = {"orders": self.orders, "passes_s": self.passes,
                  "records": self.records, "hashes": self.hashes}
        return e2e, layers, detail

    def speedup_pass(self) -> float:
        """A warm pass over the core mix, for the single-core baseline."""
        t0 = time.perf_counter()
        for name in CORE_MIX:
            with self.run.checks.guard(f"{name} scaling pass"):
                self.one_query(name, keep=False)
        return time.perf_counter() - t0
