"""Layered benchmark of the esgkg pipeline: one workload per run.

    python3 perfbench/run.py --workload kg-build --seed 1 --seconds 10 --trace 0

Run from the repository root. The session is `local[<nproc>]` in this one
driver process, with the driver heap sized from /proc/meminfo. Inputs come
from `--seed` only. Every operation's output is checked; a wrong output
counts as a failed operation. The last stdout line is one JSON object:
`{"correct", "attempted", "failed", "metrics"}` with the end-to-end metrics
(`--trace 0`) or the per-layer metrics (`--trace 1`); host facts and every
sample go to the `detail` line printed just before it. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import probes  # noqa: E402

# Sizes fitted to a 4-core / 15 GB host and a ~60 s run (README.md).
BUILD_PAGES = 5_000
WARM_PAGES = 500
# Operation times fall over the first two or three operations of a session
# while the JIT and the python workers warm up, so set-up runs that many
# untimed operations first (README.md, "Warm-up"). The timed loop then
# runs for --seconds, and at least MIN_OPS operations, and reports their
# median.
MIN_OPS = 2
QUERY_SF = 0.01
QUERIES = [
    "q01_pricing_summary", "q02_top_nations_revenue",
    "q03_order_rank_window", "q06_token_frequency", "q11_cosine_topk",
    "q12_char_jaccard_pairs", "q13_adamic_adar", "q14_html_roundtrip",
    "q20_knn_join",
]
TABLES = ["linked_triples", "triples", "nodes", "edges", "predicted_links"]
FORCED = ["linked_triples", "edges", "predicted_links"]


class Run:
    """State of one benchmark run: the session, operation counts and the
    scratch directory inside the checkout."""

    def __init__(self, seed: int, seconds: float, work: Path):
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        # every session object stays referenced until exit, so no id (part
        # of the program's build memo key) is ever reused
        self.sessions: list = []
        self.spark = None
        self._seeds = 0

    def next_seed(self) -> int:
        """Input seeds derived from --seed, never repeated within a run."""
        self._seeds += 1
        return self.seed * 1000 + self._seeds

    # -- session ---------------------------------------------------------
    def start(self, cores: int):
        from esgkg import session

        zip_path = self.work / "esgkg_pyfiles.zip"
        # ship the package from inside the checkout, not the system tmp
        session.build_pkg_zip = lambda: _zip_package(zip_path)
        jtmp = self.work / "jvm-tmp"
        jtmp.mkdir(parents=True, exist_ok=True)
        os.environ["ESGKG_DRIVER_MEM"] = probes.driver_mem()
        # overrides the spark.local.dir that get_spark sets
        os.environ["SPARK_LOCAL_DIRS"] = str(self.work / "spark-local")
        t0 = time.perf_counter()
        self.spark = session.get_spark(
            cores=cores, app="perfbench",
            extra={"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={jtmp}"},
        )
        return time.perf_counter() - t0

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop Spark, end the JVM and wait for it and every python worker
        it started to exit."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is None or proc is None:
            return
        kids = probes.descendants(os.getpid())
        gw.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
        probes.reap(kids, timeout=20)

    def fresh_session(self):
        s = self.spark.newSession()
        self.sessions.append(s)
        return s

    # -- bookkeeping -----------------------------------------------------
    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(f"FAILED: {what}")
            print(f"perfbench: check failed: {what}", file=sys.stderr)
        return ok

    def guarded(self, what: str, fn, *a, **kw):
        """Run one operation; an exception counts as a failed operation."""
        try:
            return fn(*a, **kw)
        except Exception:  # noqa: BLE001 - the run reports and continues
            traceback.print_exc()
            self.check(False, f"{what} raised")
            return None


def _zip_package(path: Path) -> str:
    import zipfile

    if not path.exists():
        with zipfile.ZipFile(path, "w") as zf:
            for p in sorted((ROOT / "esgkg").rglob("*.py")):
                zf.write(p, f"esgkg/{p.relative_to(ROOT / 'esgkg')}")
    return str(path)


# --------------------------------------------------------------------------
# KG builds
# --------------------------------------------------------------------------

def build(run: Run, pages: int, seed: int, base_dir: str | None = None):
    """One `build_kg` call forced through linked_triples, edges and
    predicted_links, none of which may be empty. Returns (seconds,
    outputs, linked count, jobs)."""
    from esgkg import pipeline

    spark = run.fresh_session()
    j0 = probes.job_high_water(run.spark)
    t0 = time.perf_counter()
    out = pipeline.build_kg(spark, pages, seed=seed, base_dir=base_dir)
    counts = [out[k].count() for k in FORCED]
    dt = time.perf_counter() - t0
    if not all(counts):
        raise RuntimeError(f"empty build output: {dict(zip(FORCED, counts))}")
    return dt, out, counts[0], probes.job_high_water(run.spark) - j0


def digests(out, places: int | None = None) -> dict:
    return {k: probes.digest(out[k], places) for k in TABLES}


def release(out) -> None:
    for df in out.values():
        df.unpersist()


def kg_setup(run: Run) -> dict:
    """Session start and warm-up: a cold WARM_PAGES build, the same build
    again in a new session (its digests must match), and one untimed
    BUILD_PAGES build."""
    t_setup = run.start(probes.host_cores())
    t0 = time.perf_counter()
    seed = run.next_seed()
    w = run.guarded("warm-up build", build, run, WARM_PAGES, seed)
    if w is not None:
        # taken now: the next build overwrites the program's bench-mode
        # parquet scratch, which this build's outputs read lazily
        ref = run.guarded("digests", digests, w[1])
        release(w[1])
        again = run.guarded("repeat build", build, run, WARM_PAGES, seed)
        if again is not None:
            run.check(run.guarded("digests", digests, again[1]) == ref,
                      "repeated build gave different digests")
            release(again[1])
    full = run.guarded("warm-up build", build, run, BUILD_PAGES,
                       run.next_seed())
    if full is not None:
        release(full[1])
    warm_s = time.perf_counter() - t0
    return {"setup_s": [t_setup + warm_s], "session_start_s": t_setup,
            "session_warm_s": warm_s}


def kg_build(run: Run) -> dict:
    """Bench-mode builds of BUILD_PAGES pages after `kg_setup`, each with a
    seed not built before in this run: the python workers keep a
    per-sentence memo, so a repeated seed would time a memo-warm kernel.
    Each build also runs in a new session object, so its `build_kg` memo
    key is new and the build does real work (asserted from the job count)."""
    res = kg_setup(run)
    builds, rates = [], []
    t_end = time.perf_counter() + run.seconds
    while len(builds) < MIN_OPS or time.perf_counter() < t_end:
        seed = run.next_seed()
        r = run.guarded("build", build, run, BUILD_PAGES, seed)
        if r is None:
            break
        dt, out, n, jobs = r
        run.check(jobs > 0, f"build launched no Spark jobs ({jobs})")
        builds.append(dt)
        rates.append(n / dt)
        release(out)
    res.update({"main_s": builds, "main_items_per_s": rates})
    return res


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------

def query_pass(run: Run, data: str, deltas: dict | None = None):
    """One pass over the nine queries; returns (seconds per query, results).
    With `deltas`, each query's status-store delta is stored there."""
    import __spark_entry__ as entry

    qs = entry.queries()
    times, results = {}, {}
    for name in QUERIES:
        if deltas is not None:
            with probes.StoreDelta(run.spark) as sd:
                rows = qs[name](run.spark, data).collect()
            deltas[name] = sd
            times[name] = sd.wall_s
        else:
            t0 = time.perf_counter()
            df = qs[name](run.spark, data)
            rows = df.collect()
            times[name] = time.perf_counter() - t0
        cols = list(rows[0].__fields__) if rows else []
        results[name] = (cols, rows)
    return times, results


def oracle_check(run: Run, data: str, results: dict) -> None:
    """Compare each result with DuckDB on `oracle_sql()`, where one exists;
    q20 has none and is checked for a stable, non-empty result instead."""
    import duckdb
    from check_entry import rowset

    import __spark_entry__ as entry

    osql = entry.oracle_sql()
    con = duckdb.connect()
    for t in ("nation", "customer", "orders", "lineitem", "documents",
              "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    for name in QUERIES:
        cols, rows = results[name]
        if name not in osql:
            run.check(len(rows) > 0, f"{name} returned no rows")
            continue
        rel = con.sql(osql[name])
        ok = rowset(cols, rows) == rowset(rel.columns, rel.fetchall())
        run.check(ok, f"{name} differs from the DuckDB oracle")
    con.close()


def queries_workload(run: Run, deltas: dict | None = None) -> dict:
    """Nine read-only analytic queries over seeded tables: a cold pass and
    two warm-up passes in set-up, then timed passes until the time is up.
    With `deltas`, a traced pass follows, then one more untimed pass."""
    import gen
    from check_entry import rowset

    data = str(run.work / "tables")
    gen.generate(data, QUERY_SF, run.seed)
    t_setup = run.start(probes.host_cores())
    t0 = time.perf_counter()
    cold = run.guarded("cold query pass", query_pass, run, data)
    if cold:
        oracle_check(run, data, cold[1])

    def checked_pass(traced=None):
        r = run.guarded("query pass", query_pass, run, data, traced)
        if r is not None and cold:
            for q in QUERIES:
                run.check(rowset(*r[1][q]) == rowset(*cold[1][q]),
                          f"{q} result changed between passes")
        return r

    for _ in range(2):
        checked_pass()
    warm_s = time.perf_counter() - t0
    per_query: dict[str, list[float]] = {q: [] for q in QUERIES}
    passes = []
    t_end = time.perf_counter() + run.seconds
    while len(passes) < MIN_OPS or time.perf_counter() < t_end:
        r = checked_pass()
        if r is None:
            break
        passes.append(sum(r[0].values()))
        for q, t in r[0].items():
            per_query[q].append(t)
    res = {
        "setup_s": [t_setup + warm_s], "main_s": passes,
        "main_items_per_s": [len(QUERIES) / p for p in passes],
        "per_query": per_query,
        "session_start_s": t_setup, "session_warm_s": warm_s,
    }
    if deltas is not None:
        checked_pass(deltas)
        after = checked_pass()
        if after is not None:
            res["after_traced_s"] = [sum(after[0].values())]
    return res


WORKLOADS = {
    "kg-build": kg_build,
    "queries": queries_workload,
}

E2E_UNITS = {"main_s": "s", "main_items_per_s": "1/s", "setup_s": "s"}


def end_to_end(res: dict) -> dict:
    return {k: {"value": statistics.median(res[k]), "unit": u}
            for k, u in E2E_UNITS.items()}


def _terminate(*_) -> None:
    signal.signal(signal.SIGTERM, signal.SIG_IGN)  # clean up only once
    sys.exit(143)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not ((ROOT / "esgkg" / "pipeline.py").is_file()
            and (ROOT / "__spark_entry__.py").is_file()):
        print(f"perfbench: no esgkg sources under {ROOT}", file=sys.stderr)
        return 2
    # the program, and tools/check_entry.py for its result comparison
    sys.path[:0] = [str(ROOT), str(ROOT / "tools")]
    # a terminated run still stops Spark and removes its scratch
    signal.signal(signal.SIGTERM, _terminate)
    work = ROOT / ".perfbench_work" / str(os.getpid())
    work.mkdir(parents=True)
    os.environ["TMPDIR"] = str(work)
    run = Run(args.seed, args.seconds, work)
    try:
        with probes.PeakRss() as rss:
            if args.trace:
                import layers

                res, metrics = layers.traced(run, args.workload, rss)
            else:
                res = WORKLOADS[args.workload](run)
                metrics = end_to_end(res)
            run.stop()
    finally:
        try:
            run.shutdown()
        finally:
            shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:  # another run is using it
            pass
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": probes.host_facts(), "driver_mem": probes.driver_mem(),
        "notes": run.notes, "peak_rss_mb": rss.peak,
        **{k: res[k] for k in ("session_start_s", "session_warm_s")
           if k in res},
        "rss_mb_at_peak": rss.at_peak,
        "samples": {k: probes.summary(v) for k, v in res.items()
                    if isinstance(v, list) and v},
        "per_query": {q: probes.summary(v)
                      for q, v in res.get("per_query", {}).items()},
    }
    print("detail " + json.dumps(detail))
    print(json.dumps({
        "correct": run.failed == 0 and run.attempted > 0,
        "attempted": max(run.attempted, 1),
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
