"""Closed-loop batch benchmark for scalding_spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --smoke

One driver process runs one workload (see ``workloads.py``) on
``local[nproc]``: it builds the seed's corpus (cached under ``.bench_work/``),
starts a fresh JVM and SparkSession, runs a cold pass that collects every
output (compared with its oracle after the pass, untimed), one untimed
warm-up pass, then warm passes for ``--seconds`` (at least MIN_WARM_PASSES).
A single client submits the queries one after another, as a batch user
does, and every query releases the library's persisted frames.

End-to-end metrics (``--trace 0``): ``setup_s`` (fresh JVM and session until
a trivial action completes), ``cold_pass_s`` (the first pass, results
collected), ``warm_pass_s`` (median warm pass, noop sink) and ``peak_rss_mb``
(peak RSS of the driver process tree). Failed or mismatching executions are
counted in ``failed``/``attempted`` and printed as the error rate.
``--trace 1`` replaces the timed warm passes with a traced pass between two
untraced ones and reports the per-layer metrics (see ``tracing.py``). The last
line of stdout is the result: ``{"correct", "attempted", "failed",
"metrics"}``; the lines before it give the per-run record (host, corpus rows
and bytes, per-item times).

``--smoke`` runs every workload once untraced and once traced on a sf0.001
corpus and checks that each run reports exactly the metric names declared
in BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
# warm_pass_s is never a single pass: on a slow shared host one pass can
# fill the whole --seconds window, and one pass swings with the host
MIN_WARM_PASSES = 2


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# -- host -----------------------------------------------------------------

def host_info() -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(l for l in fh if l.startswith("MemTotal")).split()[1])
    import pyspark
    return {"cpus": len(os.sched_getaffinity(0)), "ram_mb": mem_kb // 1024,
            "spark": pyspark.__version__, "python": platform.python_version()}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class RssSampler:
    """Peak summed RSS of this process and its descendants (the JVM and
    its Python workers), sampled from /proc; ``at_peak`` is the per-process
    split of the peak sample."""

    def __init__(self, interval: float = 0.2):
        self.interval, self.peak = interval, 0
        self.at_peak: dict[str, int] = {}
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> dict[str, int]:
        out = {}
        for pid in [os.getpid()] + descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    rss = int(fh.read().split()[1]) * self._page
                with open(f"/proc/{pid}/comm") as fh:
                    out[f"{pid}:{fh.read().strip()}"] = rss
            except (OSError, IndexError, ValueError):
                pass
        return out

    def _loop(self) -> None:
        while not self._stop.is_set():
            sample = self._sample()
            total = sum(sample.values())
            if total > self.peak:
                self.peak, self.at_peak = total, sample
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


# -- session --------------------------------------------------------------

def session_conf(ram_mb: int) -> dict[str, str]:
    """Confs sized for this host; every file Spark writes stays in WORK.
    The driver heap is pinned (-Xms = -Xmx) so that peak RSS does not
    depend on G1's timing-driven heap resizing."""
    heap = f"{max(1, min(2, ram_mb // 8192))}g"
    tmp = os.path.join(WORK, "tmp")
    return {
        "spark.driver.memory": heap,
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Xms{heap} -Djava.io.tmpdir={tmp} -Dderby.system.home={WORK}",
        "spark.ui.showConsoleProgress": "false",
        # keep every job of a run in the status store for the traced run
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def start_session(cpus: int, ram_mb: int):
    """A fresh JVM and SparkSession, returned once a trivial action ran."""
    from scalding_spark.session import get_spark
    spark = get_spark(app_name="perfbench", master=f"local[{cpus}]",
                      shuffle_partitions=cpus,
                      extra_conf=session_conf(ram_mb))
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, and wait until every child has exited."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 15
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while descendants(os.getpid()) and time.time() < deadline + 5:
        time.sleep(0.1)


def calibration_s(spark) -> float:
    """Fixed-work drift probe: median of three constant 10M-row aggregates."""
    times = []
    for _ in range(3):
        t = time.perf_counter()
        spark.range(10_000_000).selectExpr("sum(id % 7) AS s").collect()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def cache_bytes_held(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


# -- protocol -------------------------------------------------------------

def _describe(ex: Exception) -> str:
    return f"{type(ex).__name__}: {(str(ex).splitlines() or [''])[0][:200]}"


def run_pass(runner, per_item: dict[str, list[float]],
             errors: list[tuple[str, str]], collect: bool = False) -> dict:
    """Run every item once, appending its time to ``per_item``; returns the
    results of the items that ran. A raising item is counted in ``errors``
    and the pass goes on."""
    results = {}
    for item in runner.items:
        t = time.perf_counter()
        try:
            results[item] = runner.run(item, collect)
        except Exception as ex:
            errors.append((item, _describe(ex)))
        per_item.setdefault(item, []).append(time.perf_counter() - t)
    return results


def check_results(runner, results: dict, errors: list[tuple[str, str]]) -> None:
    """Compare each result with its oracle, outside any timed region."""
    for item, result in results.items():
        try:
            err = runner.check(item, result)
        except Exception as ex:
            err = _describe(ex)
        if err:
            errors.append((item, err))


def summarize(name: str, xs: list[float]) -> str:
    """Median and the highest percentile with ten samples beyond it (the
    maximum when the sample is too small for one), with the count."""
    xs = sorted(xs)
    n = len(xs)
    pct = 100 * (1 - 10 / n) if n >= 20 else None
    tail = (f"p{pct:g}={xs[int(n * pct / 100) - 1]:.3f}" if pct
            else f"max={xs[-1]:.3f}")
    return f"{name}: median={statistics.median(xs):.3f} {tail} n={n}"


def run(workload_name: str, seed: int, seconds: float, traced: bool,
        scale: str | None = None) -> dict:
    sys.path[:0] = [ROOT, HERE]
    import gen
    from workloads import WORKLOADS, Runner

    wl = WORKLOADS.get(workload_name)
    if wl is None:
        _fail(f"unknown workload {workload_name!r}; one of {sorted(WORKLOADS)}")
    scale = scale or wl.scale
    if scale not in gen.SCALES:
        _fail(f"unknown scale {scale!r}; one of {sorted(gen.SCALES)}")
    for d in ("tmp", "spark-local", "warehouse", "data", "out"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    # Python workers import scalding_spark from the checkout; temp files
    # (gateway handshake, FingerprintStore tables) stay inside WORK
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(WORK, "tmp")

    host = host_info()
    t = time.perf_counter()
    sf_dir = gen.corpus(os.path.join(WORK, "data"), seed, scale)
    record = {"workload": wl.name, "seed": seed, "traced": traced,
              "scale": scale, **host,
              "corpus_s": time.perf_counter() - t,
              "tables": gen.table_stats(sf_dir)}
    print(f"corpus {sf_dir} ready in {record['corpus_s']:.2f}s", file=sys.stderr)

    out_dir = tempfile.mkdtemp(prefix=f"{wl.name}-", dir=os.path.join(WORK, "out"))
    errors: list[tuple[str, str]] = []
    cold_items: dict[str, list[float]] = {}
    warm_items: dict[str, list[float]] = {}
    warm: list[float] = []
    with RssSampler() as rss:
        t = time.perf_counter()
        spark = start_session(host["cpus"], host["ram_mb"])
        record["setup_s"] = time.perf_counter() - t
        runner = None
        try:
            runner = Runner(spark, wl, sf_dir, out_dir)
            t = time.perf_counter()
            results = run_pass(runner, cold_items, errors, collect=True)
            record["cold_pass_s"] = time.perf_counter() - t
            t = time.perf_counter()
            check_results(runner, results, errors)
            record["check_s"] = time.perf_counter() - t
            # the cold pass and one untimed pass warm the JIT and caches
            run_pass(runner, {}, errors)
            if traced:
                # untraced passes on both sides of the traced one, so the
                # overhead estimate cancels the passes' warm-up drift
                t = time.perf_counter()
                run_pass(runner, warm_items, errors)
                warm.append(time.perf_counter() - t)
                metrics = traced_pass(runner, errors, record)
                t = time.perf_counter()
                run_pass(runner, warm_items, errors)
                warm.append(time.perf_counter() - t)
                metrics["bench.tracing_overhead_s"] -= statistics.mean(warm)
                metrics["host.calibration_s"] = calibration_s(spark)
            else:
                # passes until the next would end past --seconds
                t0 = time.perf_counter()
                while len(warm) < MIN_WARM_PASSES or (
                        time.perf_counter() - t0
                        + statistics.median(warm) <= seconds):
                    t = time.perf_counter()
                    run_pass(runner, warm_items, errors)
                    warm.append(time.perf_counter() - t)
        finally:
            if runner is not None:
                runner.close()
            t = time.perf_counter()
            stop_session(spark)
            record["teardown_s"] = time.perf_counter() - t
            shutil.rmtree(out_dir, ignore_errors=True)
    passes = 3 + len(warm) if traced else 2 + len(warm)
    attempted = passes * len(runner.items)
    record.update(warm_passes_s=warm,
                  cold_items_s={k: v[0] for k, v in cold_items.items()},
                  warm_items_s={k: statistics.median(v)
                                for k, v in warm_items.items()},
                  peak_rss_mb=rss.peak / 2**20,
                  peak_rss_split_mb={k: v / 2**20 for k, v in rss.at_peak.items()},
                  errors=errors,
                  error_rate=len(errors) / attempted)
    if not traced:
        metrics = {"setup_s": record["setup_s"],
                   "cold_pass_s": record["cold_pass_s"],
                   "warm_pass_s": statistics.median(warm),
                   "peak_rss_mb": record["peak_rss_mb"]}
    record["metrics"] = metrics
    return {"record": record, "attempted": attempted, "failed": len(errors)}


def traced_pass(runner, errors: list[tuple[str, str]], record: dict) -> dict:
    """One warm pass with every layer wrapped; returns the per-layer
    metrics (``bench.tracing_overhead_s`` still holds the traced pass
    time) and stores the spans and top functions in ``record``."""
    from tracing import Tracer, reduce_pass, status_snapshot, top_functions

    spark = runner.spark
    tracer = Tracer(ROOT)
    tracer.install()
    t0 = time.time()
    try:
        run_pass(runner, {}, errors)
    finally:
        t1 = time.time()
        tracer.uninstall()
    metrics = reduce_pass(tracer, status_snapshot(spark, since_ms=t0 * 1000 - 1),
                          t0, t1)
    metrics["bench.tracing_overhead_s"] = t1 - t0
    metrics["cache.bytes_held_after_release"] = cache_bytes_held(spark)
    record["top_functions"] = top_functions(tracer)
    record["spans"] = [[s[0], s[1], s[2] - t0, s[3] - t0, s[4]]
                       for s in tracer.spans]
    return metrics


def declared(traced: bool) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if traced else "end_to_end"]}


def report(res: dict, traced: bool) -> dict:
    rec = res["record"]
    units = declared(traced)
    for item, err in rec["errors"]:
        print(f"MISMATCH {item}: {err}")
    print(summarize("warm_pass_s", rec["warm_passes_s"]))
    print(f"error_rate: {rec['error_rate']:.4f} ({res['failed']} of "
          f"{res['attempted']} query executions)")
    for name, val in rec["metrics"].items():
        print(f"{name}: {val:.6g} {units.get(name, '?')}")
    for fn, calls, self_s in rec.get("top_functions", []):
        print(f"  top self time: {fn} calls={calls} self_s={self_s:.3f}")
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    with open(os.path.join(WORK, "records", f"{rec['workload']}-seed{rec['seed']}-"
                           f"trace{int(traced)}-{int(time.time())}.json"), "w") as fh:
        json.dump(rec, fh, indent=1, default=str)
    print("record: " + json.dumps({k: v for k, v in rec.items()
                                   if k not in ("metrics", "top_functions", "spans")},
                                  default=str))
    return {"correct": res["failed"] == 0, "attempted": res["attempted"],
            "failed": res["failed"],
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in rec["metrics"].items() if k in units}}


def smoke() -> int:
    """Every workload once untraced and once traced at sf0.001, each in its
    own process; each must report exactly the declared metric names."""
    from workloads import WORKLOADS
    bad = 0
    for name in WORKLOADS:
        for traced in (0, 1):
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", name,
                 "--seed", "1", "--seconds", "1", "--trace", str(traced),
                 "--scale", "sf0.001"],
                cwd=ROOT, capture_output=True, text=True, timeout=600)
            lines = out.stdout.strip().splitlines()
            try:
                res = json.loads(lines[-1])
                names = set(res["metrics"])
            except (IndexError, ValueError, KeyError):
                res, names = {}, set()
            want = set(declared(bool(traced)))
            ok = out.returncode == 0 and names == want and res.get("correct")
            bad += not ok
            print(f"smoke {name} trace={traced}: "
                  f"{'ok' if ok else 'FAIL'} rc={out.returncode} "
                  f"missing={sorted(want - names)} extra={sorted(names - want)}"
                  f" correct={res.get('correct')}")
            if not ok:
                print(out.stdout[-2000:], out.stderr[-2000:], sep="\n")
    return 1 if bad else 0


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", help="override the workload's corpus scale")
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    for need in ("__spark_entry__.py", "scalding_spark", "scripts/gen_sf.py",
                 "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            _fail(f"{need} not found under {ROOT}: run from a full checkout")
    if a.smoke:
        sys.exit(smoke())
    if not a.workload:
        _fail("--workload is required")
    res = run(a.workload, a.seed, a.seconds, bool(a.trace), a.scale)
    print(json.dumps(report(res, bool(a.trace))))


if __name__ == "__main__":
    main()
