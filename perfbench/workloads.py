"""The three benchmark workloads.

Each is a closed loop with one client: an operation starts when the
previous one has finished. A workload

- ``generate``s its inputs from the seed (benchmark code, untimed),
- ``setup``s the program on each fresh SparkContext (timed as
  ``setup_s``),
- yields the operations of one ``round``; the runner repeats whole
  rounds until the measuring time is up,
- ``check``s each operation's output against the expected answer
  outside the timed region.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

import gen_corpus
import gen_drop
import gen_star
import oracle

REF_YM = "202406"
STAR_MIX = ("q01", "q03", "q04", "q05", "q06", "q09", "q10", "q25", "e09")
CURATION_CHAIN = ("d03", "d15", "d13", "d18", "s06", "t06")
DROP_FACT_ROWS = 100_000
CORPUS_DOCS, CORPUS_VECS = 5_000, 2_000  # the sf0.1 corpus


@dataclass
class Op:
    """One timed operation: ``run`` returns the output ``check`` needs."""

    label: str
    run: object
    parts: dict = field(default_factory=dict)  # named sub-timings


def _registry():
    import __spark_entry__

    return __spark_entry__.queries(), __spark_entry__.oracle_sql()


def _resolve(names: tuple[str, ...]) -> dict[str, tuple[str, str]]:
    """Registry name -> (module, function name) for each query prefix."""
    queries, _ = _registry()
    out = {}
    for prefix in names:
        matches = [q for q in queries if q.split("_", 1)[0] == prefix]
        if len(matches) != 1:
            raise RuntimeError(f"query {prefix} not found in the registry")
        fn = queries[matches[0]]
        out[matches[0]] = (fn.__module__, fn.__name__)
    return out


def _call(spark, target: tuple[str, str], data_dir: str, tracer):
    """Call a query through its module attribute (so a traced run sees
    the wrapper), then materialise it inside an ``<layer>.exec`` span."""
    module, name = target
    df = getattr(sys.modules[module], name)(spark, data_dir)
    with tracer.span(f"{module.removeprefix('rfb_data_pipeline_spark.')}.exec"):
        return df.toPandas()


class Workload:
    name = ""

    def hooks(self) -> dict:
        """Per-function hooks for the traced run: name -> f(tracer, args, kwargs, out)."""
        return {}

    def after_traced_op(self, tracer, out) -> None:
        return None


# ---------------------------------------------------------------- month_load
class MonthLoad(Workload):
    """A fresh ``run_month`` over a seeded RFB drop served from a
    ``file://`` portal, then the resume no-op on its manifest."""

    name = "month_load"

    def __init__(self, work_dir: str, seed: int) -> None:
        self.work_dir = work_dir
        self.seed = seed
        self.portal = os.path.join(work_dir, "portal")
        self.truth: gen_drop.DropTruth | None = None
        self._n = 0
        self.flaky_left = 0

    def generate(self) -> None:
        self.truth = gen_drop.write_drop(self.seed, self.portal, DROP_FACT_ROWS)

    def _fetch(self, url: str) -> str:
        with open(url.removeprefix("file://"), encoding="utf-8") as f:
            return f.read()

    def _stream(self, url: str, dest: str) -> int:
        # the portal drops the first transfer of one archive
        if os.path.basename(url) == self.truth.flaky_zip and self.flaky_left:
            self.flaky_left -= 1
            raise ConnectionResetError("portal reset the connection")
        shutil.copyfile(url.removeprefix("file://"), dest)
        return os.path.getsize(dest)

    def _config(self, tag: str):
        from rfb_data_pipeline_spark.pipeline.run import RunConfig

        return RunConfig(
            base_url=f"file://{self.portal}/index.html",
            work_dir=os.path.join(self.work_dir, f"run-{tag}", "work"),
            out_dir=os.path.join(self.work_dir, f"run-{tag}", "silver"),
            ref_ym=REF_YM,
            fetch=self._fetch,
            stream=self._stream,
        )

    def setup(self, spark) -> None:
        # the plan stage on the new context: discovery + manifest
        from rfb_data_pipeline_spark.pipeline import manifest as mf
        from rfb_data_pipeline_spark.pipeline.discovery import discover_files

        files = discover_files(f"file://{self.portal}/index.html", self._fetch)
        mf.new_manifest(spark, files).count()

    def round(self, spark, rng: random.Random, tracer) -> list[Op]:
        from rfb_data_pipeline_spark.pipeline import run as run_mod

        self._n += 1
        cfg = self._config(str(self._n))
        op = Op("month", None)

        def run():
            self.flaky_left = 1
            t0 = time.perf_counter()
            first = run_mod.run_month(spark, cfg)
            t1 = time.perf_counter()
            resume = run_mod.run_month(spark, cfg)
            op.parts["month_load_s"] = t1 - t0
            op.parts["resume_noop_s"] = time.perf_counter() - t1
            return cfg, first, resume

        op.run = run
        return [op]

    def check(self, op: Op, out) -> list[str]:
        cfg, first, resume = out
        t = self.truth
        problems = []
        loads = {lr.table: lr for lr in first.loads}
        if set(loads) != set(t.raw_rows):
            problems.append(f"loaded tables {sorted(loads)}")
        for table, lr in loads.items():
            got = (lr.n_raw, lr.n_corrupt, lr.passed)
            want = (t.raw_rows.get(table), t.corrupt_rows.get(table), t.passed.get(table))
            if got != want:
                problems.append(f"{table}: got {got}, want {want}")
        with open(first.manifest_path, encoding="utf-8") as f:
            manifest = {r["arquivo"]: r for r in json.load(f)}
        status = {a: r["status_carga"] for a, r in manifest.items()}
        if status != t.zip_status:
            problems.append(f"manifest statuses {status}")
        if manifest.get(t.flaky_zip, {}).get("tentativas_download") != 2:
            problems.append("the dropped transfer was not retried once")
        if resume.loads:
            problems.append("resume re-loaded tables")
        shutil.rmtree(os.path.dirname(cfg.work_dir), ignore_errors=True)
        return problems

    def layer_metrics(self, tracer, per: int) -> dict:
        c = tracer.counters
        ingest_s = tracer.busy("pipeline.ingest")
        return {
            "pipeline.run.extract_s": tracer.busy("pipeline.run.extract") / per,
            "pipeline.run.self_s": tracer.self_time("pipeline.run.run_month") / per,
            "pipeline.discovery.busy_s": tracer.busy("pipeline.discovery") / per,
            "pipeline.download.busy_s": tracer.busy("pipeline.download") / per,
            "pipeline.download.retries": c["pipeline.download.retries"] / per,
            "pipeline.manifest.busy_s": tracer.busy("pipeline.manifest") / per,
            "pipeline.manifest.spark_jobs": tracer.jobs("pipeline.manifest") / per,
            "pipeline.ingest.busy_s": ingest_s / per,
            "pipeline.ingest.rows_per_s": c["pipeline.ingest.rows"] / ingest_s if ingest_s else 0.0,
            "pipeline.ingest.spark_jobs": tracer.jobs("pipeline.ingest") / per,
            "pipeline.ingest.bytes_written_per_raw_byte": c["pipeline.ingest.bytes_written"]
            / (self.truth.raw_bytes * per),
            "pipeline.validate.checks_failed": c["pipeline.validate.checks_failed"] / per,
            "sources.rfb_csv.corrupt_ratio": c["pipeline.ingest.corrupt"] / c["pipeline.ingest.rows"]
            if c["pipeline.ingest.rows"] else 0.0,
            "sources.encoding.busy_s": tracer.busy("sources.encoding") / per,
        }

    def hooks(self) -> dict:
        def download(tracer, args, kwargs, out):
            tracer.counters["pipeline.download.retries"] += sum(r["attempts"] - 1 for r in out)

        def load(tracer, args, kwargs, out):
            c = tracer.counters
            c["pipeline.ingest.rows"] += out.n_raw
            c["pipeline.ingest.corrupt"] += out.n_corrupt
            c["pipeline.validate.checks_failed"] += not out.validations.get("passed", True)

        return {
            "pipeline.download.download_pending": download,
            "pipeline.ingest.load_table": load,
        }

    def after_traced_op(self, tracer, out) -> None:
        cfg = out[0]
        tracer.counters["pipeline.ingest.bytes_written"] += _tree_bytes(cfg.out_dir)


def _tree_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


# -------------------------------------------------------------- star_queries
class StarQueries(Workload):
    """Read-only relational and event queries. One op is the whole mix,
    one query after the other in a seeded order, like a report refresh;
    the per-query latencies are reported alongside."""

    name = "star_queries"

    def __init__(self, work_dir: str, seed: int) -> None:
        self.data = os.path.join(work_dir, "star")
        self.seed = seed
        self.expected: dict[str, str] = {}
        self.queries = _resolve(STAR_MIX)

    def generate(self) -> None:
        gen_star.write_star(self.seed, self.data)
        _, sql = _registry()
        answers = oracle.duckdb_answers(
            self.data, gen_star.STAR_TABLES, {q: sql[q] for q in self.queries}
        )
        self.expected = {q: oracle.result_hash(df) for q, df in answers.items()}

    def setup(self, spark) -> None:
        from rfb_data_pipeline_spark import catalog

        catalog.load_tables(spark, self.data, tables=gen_star.STAR_TABLES)

    def round(self, spark, rng: random.Random, tracer) -> list[Op]:
        order = list(self.queries)
        rng.shuffle(order)
        op = Op("mix", None)

        def run():
            outs, times = {}, []
            for q in order:
                t0 = time.perf_counter()
                outs[q] = _call(spark, self.queries[q], self.data, tracer)
                times.append(time.perf_counter() - t0)
            op.parts["query_p50_s"] = statistics.median(times)
            op.parts["query_max_s"] = max(times)
            return outs

        op.run = run
        return [op]

    def check(self, op: Op, out) -> list[str]:
        return [
            f"{q}: result differs from the DuckDB oracle"
            for q, df in out.items()
            if oracle.result_hash(df) != self.expected[q]
        ]

    def layer_metrics(self, tracer, per: int) -> dict:
        rel = tracer.busy("operators.relational")
        rel_exec = tracer.busy("operators.relational.exec")
        ev = tracer.busy("operators.events")
        ev_exec = tracer.busy("operators.events.exec")
        return {
            "operators.relational.plan_s": (rel - rel_exec) / per,
            "operators.relational.exec_s": rel_exec / per,
            "operators.relational.spark_jobs": tracer.jobs("operators.relational") / per,
            "operators.events.plan_s": (ev - ev_exec) / per,
            "catalog.load_tables.busy_s": tracer.busy("catalog.load_tables") / per,
        }


# ------------------------------------------------------------- corpus_curate
def _union_find_clusters(pairs) -> dict[int, list[int]]:
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    clusters: dict[int, list[int]] = {}
    for x in list(parent):
        clusters.setdefault(find(x), []).append(x)
    return clusters


def _d15_frame(clusters: dict[int, list[int]]):
    import pandas as pd

    rows = [
        (root, len(m), len(m) - 1, ",".join(sorted(str(x) for x in m)))
        for root, m in clusters.items()
    ]
    return pd.DataFrame(rows, columns=["cluster_id", "n_docs", "n_redundant", "members"])


class CorpusCurate(Workload):
    """The curation chain over a fresh relabelled corpus per op."""

    name = "corpus_curate"
    ID_COLUMNS = {
        "d03": {"doc_a": "doc", "doc_b": "doc"},
        "d18": {"doc_id": "doc"},
        "t06": {"doc_id": "doc"},
        "s06": {"vec_a": "vec", "vec_b": "vec"},
    }

    def __init__(self, work_dir: str, seed: int) -> None:
        self.work_dir = work_dir
        self.base = os.path.join(work_dir, "corpus-base")
        self.seed = seed
        self.chain = _resolve(CURATION_CHAIN)
        self.expected: dict[str, str] = {}
        self._n = 0

    def generate(self) -> None:
        _, sql = _registry()
        d03, d15, s06 = (
            next(q for q in self.chain if q.startswith(p)) for p in ("d03", "d15", "s06")
        )
        by_sql = {q: sql[q] for q in self.chain if q not in (d15, s06)}
        gen_corpus.write_corpus(self.seed, self.base, CORPUS_DOCS, CORPUS_VECS)
        answers = oracle.duckdb_answers(self.base, ("documents", "embeddings"), by_sql)
        answers[s06] = oracle.banded_pairs_answer(self.base, sql[s06])
        # d15 is the connected components of d03's pairs; union-find
        # over the oracle's d03 answer is cheaper than DuckDB's
        # recursive CTE and checks the same thing
        answers[d15] = _d15_frame(_union_find_clusters(
            answers[d03][["doc_a", "doc_b"]].itertuples(index=False)
        ))
        self.expected = {q: oracle.result_hash(df) for q, df in answers.items()}

    def setup(self, spark) -> None:
        from rfb_data_pipeline_spark import catalog

        catalog.load_tables(spark, self.base, tables=("documents", "embeddings"))

    def round(self, spark, rng: random.Random, tracer) -> list[Op]:
        self._n += 1
        corpus = os.path.join(self.work_dir, f"corpus-op{self._n}")
        maps = gen_corpus.relabel(rng.randrange(2**31), self.base, corpus)
        chain = self.chain

        def run():
            outs = {q: _call(spark, target, corpus, tracer) for q, target in chain.items()}
            return corpus, maps, outs

        return [Op("chain", run)]

    def check(self, op: Op, out) -> list[str]:
        corpus, (doc_map, vec_map), outs = out
        shutil.rmtree(corpus, ignore_errors=True)
        maps = {"doc": doc_map, "vec": vec_map}
        problems = []
        for q, df in outs.items():
            df = df.copy()
            prefix = q.split("_", 1)[0]
            for col, kind in self.ID_COLUMNS.get(prefix, {}).items():
                df[col] = maps[kind].inverse(df[col].to_numpy())
            if prefix == "d15":
                clusters = {
                    int(doc_map.inverse([r.cluster_id])[0]): [
                        int(x) for x in doc_map.inverse([int(v) for v in r.members.split(",")])
                    ]
                    for r in df.itertuples(index=False)
                }
                df = _d15_frame(clusters)
            if oracle.result_hash(df) != self.expected[q]:
                problems.append(f"{q}: result differs from the oracle")
        return problems

    def layer_metrics(self, tracer, per: int) -> dict:
        c = tracer.counters
        out = {
            "memo.lookups": c["memo.lookups"] / per,
            "memo.hit_ratio": 1.0 - c["memo.misses"] / c["memo.lookups"]
            if c["memo.lookups"] else 0.0,
            "memo.build_s": tracer.busy("memo.build") / per,
            "plans.stage.calls": tracer.count("plans.stage") / per,
            "plans.stage.busy_s": tracer.busy("plans.stage") / per,
        }
        for layer in ("operators.dedup", "operators.similarity", "operators.text"):
            out[f"{layer}.busy_s"] = tracer.busy(layer) / per
            out[f"{layer}.spark_jobs"] = tracer.jobs(layer) / per
        return out


WORKLOADS = {w.name: w for w in (MonthLoad, StarQueries, CorpusCurate)}
