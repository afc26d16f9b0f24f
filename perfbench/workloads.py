"""The benchmark's workloads and their correctness checks.

A workload is a list of items run back to back by one driver (a closed loop
with one client). An item is a registry query from ``__spark_entry__`` or a
``scalding_spark.job`` Job. The cold pass collects each query's rows, which
are then compared, order-insensitively, with its DuckDB ``oracle_sql()`` or
its ``py_oracle()`` golden; warm passes force each query through the noop
sink.
"""

from __future__ import annotations

import ast
import collections
import glob
import os
import re
from dataclasses import dataclass

from gen import REPO, TABLES


@dataclass(frozen=True)
class Workload:
    name: str
    scale: str           # corpus scale, a key of gen.SCALES
    queries: tuple[str, ...]
    jobs: tuple[str, ...] = ()


# Why each workload exists is recorded in BENCHMARK.json.
WORKLOADS = {w.name: w for w in [
    # fixed cost per job: Pipe/GroupBuilder/joins, TPC-H, event, text, web,
    # evaluation, LM and mixing shapes, plus Scalding's WordCount Job with
    # its TSV sink; no iterative or pair-generating operator
    Workload(
        "etl_sf0.01", "sf0.01",
        queries=(
            "q1_pricing_summary", "q3_shipping_priority",
            "q_join_revenue_by_segment", "q_broadcast_join", "q_scan_cumsum",
            "q_events_daily", "q_asof_join", "q_sessionize",
            "q_calibration_by_slice", "q_flatmap_wordcount",
            "q_url_canonical", "q_corpus_kl", "q_mix_proportions"),
        jobs=("wordcount",)),
    # driver-action bound: Lloyd rounds, ngram pairs with star CC rounds,
    # Bloom build then probe, COO matmul
    Workload(
        "iterative_sf0.01", "sf0.01",
        queries=("q_kmeans", "q_dedup_clusters", "q_bloom_anti_join",
                 "q_matmul")),
]}


def _load_norm():
    """``norm`` from scripts/driver_check.py, the oracle gate's
    order-insensitive row normalisation. That script runs the whole gate
    at import, so only the function's source is taken from it."""
    path = os.path.join(REPO, "scripts", "driver_check.py")
    with open(path) as fh:
        tree = ast.parse(fh.read(), path)
    fn = next(n for n in tree.body
              if isinstance(n, ast.FunctionDef) and n.name == "norm")
    ns: dict = {"math": __import__("math")}
    exec(compile(ast.Module([fn], []), path, "exec"), ns)
    return ns["norm"]


class Runner:
    """Runs one workload's items against one session and corpus."""

    def __init__(self, spark, workload: Workload, sf_dir: str, out_dir: str):
        import __spark_entry__ as entry
        from scalding_spark.session import release_materialized

        self.spark, self.workload, self.sf_dir = spark, workload, sf_dir
        self.out_dir = out_dir
        self._release = release_materialized
        self._queries = entry.queries()
        self._sql = entry.oracle_sql()
        self._py = entry.py_oracle()
        self._norm = _load_norm()
        self._duck = None
        missing = [q for q in workload.queries if q not in self._queries]
        if missing:
            raise SystemExit(f"unknown queries: {missing}")
        if workload.jobs:
            _docs_text(self)  # the jobs' input, built before any timed pass

    @property
    def items(self) -> list[str]:
        return list(self.workload.queries) + [f"job:{j}" for j in self.workload.jobs]

    def run(self, item: str, collect: bool = False):
        """One execution of ``item``: a query forced through the noop sink,
        or with ``collect`` its rows and column names returned; a job runs
        with its real file sinks."""
        out = None
        if item.startswith("job:"):
            JOBS[item[4:]](self)
        else:
            df = self._queries[item](self.spark, self.sf_dir)
            if collect:
                out = ([tuple(r) for r in df.collect()], [f.name for f in df.schema])
            else:
                df.write.mode("overwrite").format("noop").save()
        self._release(self.spark)
        return out

    def check(self, item: str, result) -> str | None:
        """Compare ``result`` (from ``run(item, collect=True)``; a job's
        output files) with the item's oracle; returns the mismatch, or
        None."""
        if item.startswith("job:"):
            return JOB_CHECKS[item[4:]](self)
        rows, cols = result
        if item in self._sql:
            o = self.duck().execute(self._sql[item])
            orows, ocols = o.fetchall(), [d[0] for d in o.description]
            if sorted(cols) != sorted(ocols):
                return f"schema {sorted(cols)} vs oracle {sorted(ocols)}"
            if self._norm(rows, cols) != self._norm(orows, ocols):
                return f"{len(rows)} rows vs oracle {len(orows)}; values differ"
            return None
        if item in self._py:
            return self._py[item](self.sf_dir, rows, cols)
        return "no oracle"

    def duck(self):
        if self._duck is None:
            import duckdb
            self._duck = duckdb.connect()
            for t in TABLES:
                self._duck.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                   f"'{self.sf_dir}/{t}.parquet'")
        return self._duck

    def close(self) -> None:
        if self._duck is not None:
            self._duck.close()


# -- jobs -----------------------------------------------------------------

def _docs_text(r: Runner) -> str:
    """The corpus' documents as a TextLine input, one document per line."""
    path = os.path.join(r.sf_dir, "documents.txt")
    if not os.path.exists(path):
        import pyarrow.parquet as pq
        texts = pq.read_table(os.path.join(r.sf_dir, "documents.parquet"),
                              columns=["text"]).column("text").to_pylist()
        with open(path + ".tmp", "w") as fh:
            fh.writelines(t.replace("\n", " ") + "\n" for t in texts)
        os.replace(path + ".tmp", path)
    return path


def _wordcount(r: Runner) -> None:
    from examples.wordcount_job import WordCountJob
    WordCountJob.run_all(["--input", _docs_text(r),
                          "--output", os.path.join(r.out_dir, "wordcount")],
                         r.spark)


def _check_wordcount(r: Runner) -> str | None:
    from scalding_spark.functions.text import TOKEN_SPLIT_RE
    want: collections.Counter = collections.Counter()
    with open(_docs_text(r)) as fh:
        for line in fh:
            want.update(t for t in re.split(TOKEN_SPLIT_RE, line.rstrip("\n").lower())
                        if t)
    got: dict[str, int] = {}
    for part in glob.glob(os.path.join(r.out_dir, "wordcount", "part-*")):
        with open(part) as fh:
            for line in fh:
                word, n = line.rstrip("\n").split("\t")
                got[word] = got.get(word, 0) + int(n)
    if got != dict(want):
        return f"{len(got)} words vs {len(want)} expected; counts differ"
    return None


JOBS = {"wordcount": _wordcount}
JOB_CHECKS = {"wordcount": _check_wordcount}
