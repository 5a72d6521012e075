"""Traced mode: per-layer metrics, measured from outside `esgkg`.

Spans wrap calls into public functions only. After a timed build, each JVM
stage is replayed on the DataFrames `build_kg` returned (or on the replayed
output of the stage before it) and forced with a no-op write; the span's
numbers are the deltas of Spark's status stores around the call. Every
traced run emits every metric in `PER_LAYER`; a layer that the workload
does not run reads 0 (for example `manifest.*` and the JVM stages on
`queries`, and `query.*` on `kg-build`).
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import probes
import run as R

# size of the checkpointed build probed for the manifest layer
CKPT_PAGES = 4_000
STAGES = [
    "graph.surface_stats", "canon.canonical_map", "canon.rewrite_triples",
    "graph.nodes_edges", "complete.adamic_adar",
]
STAGE_FIELDS = [
    ("wall_s", "s"), ("executor_run_s", "s"), ("gc_s", "s"),
    ("shuffle_read_bytes", "B"), ("shuffle_write_bytes", "B"),
    ("spill_bytes", "B"), ("tasks", "count"),
]


def _spec() -> dict[str, tuple[str, str]]:
    """name -> (unit, better) for every per-layer metric."""
    s = {
        "session.start_s": ("s", "lower"),
        "session.warm_s": ("s", "lower"),
        "kernel.synth_us": ("us", "lower"),
        "kernel.page_text_us": ("us", "lower"),
        "kernel.extract_triples_us": ("us", "lower"),
        "kernel.hash_embed_us": ("us", "lower"),
        "kernel.triples_per_page": ("triples/page", "higher"),
        "udf.python_run_s": ("s", "lower"),
        "udf.bytes_to_python": ("B", "lower"),
        "udf.bytes_from_python": ("B", "lower"),
        "udf.rows_from_python": ("count", "lower"),
    }
    for st in STAGES:
        for f, unit in STAGE_FIELDS:
            s[f"{st}.{f}"] = (unit, "lower")
    s.update({
        "canon.surfaces_in": ("count", "higher"),
        "canon.canonical_out": ("count", "lower"),
        "manifest.build_s": ("s", "lower"),
        "manifest.build_triples_per_s": ("1/s", "higher"),
        "manifest.resume_s": ("s", "lower"),
        "manifest.bytes_written": ("B", "lower"),
        "manifest.files_written": ("count", "lower"),
        "manifest.commits": ("count", "lower"),
        "manifest.resume_new_commits": ("count", "lower"),
        "manifest.resume_jobs": ("count", "lower"),
        "pipeline.jobs": ("count", "lower"),
        "pipeline.stages": ("count", "lower"),
        "pipeline.tasks": ("count", "lower"),
        "pipeline.executor_run_s": ("s", "lower"),
        "pipeline.gc_s": ("s", "lower"),
        "pipeline.shuffle_bytes": ("B", "lower"),
        "pipeline.core_busy_ratio": ("ratio", "higher"),
    })
    for st in ["map"] + STAGES:
        s[f"scale.{st}.speedup_1v4"] = ("ratio", "higher")
    s["scale.e2e.eff_1v4"] = ("ratio", "higher")
    for q in R.QUERIES:
        s[f"query.{q}.p50_s"] = ("s", "lower")
        s[f"query.{q}.executor_run_s"] = ("s", "lower")
    s["query.geomean_s"] = ("s", "lower")
    s["trace.overhead_items_per_s"] = ("1/s", "higher")
    for k in ("peak_rss_mb", "jvm_rss_mb", "python_rss_mb"):
        s[f"mem.{k}"] = ("MiB", "lower")
    return s


PER_LAYER = _spec()


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _span(spark, fn):
    """(result of fn(), StoreDelta around it)."""
    with probes.StoreDelta(spark) as sd:
        out = fn()
    return out, sd


def _pipeline_metrics(run: R.Run, m: dict, spans, cores: int) -> None:
    """pipeline.* and udf.* over the given spans taken together. Every
    python-UDF metric must be reported by some plan node of the spans."""
    spark = run.spark
    wall = sum(sd.wall_s for sd in spans)
    tot = {f: sum(sd.stage_metrics()[f] for sd in spans)
           for f, _ in STAGE_FIELDS}
    m["pipeline.jobs"] = sum(sd.jobs for sd in spans)
    m["pipeline.stages"] = sum(sd.stages for sd in spans)
    m["pipeline.tasks"] = tot["tasks"]
    m["pipeline.executor_run_s"] = tot["executor_run_s"]
    m["pipeline.gc_s"] = tot["gc_s"]
    m["pipeline.shuffle_bytes"] = (tot["shuffle_read_bytes"]
                                   + tot["shuffle_write_bytes"])
    m["pipeline.core_busy_ratio"] = tot["executor_run_s"] / (wall * cores)
    ids = set().union(*(sd.exec_ids for sd in spans))
    tot, seen = probes.udf_totals(spark, ids)
    for k, v in tot.items():
        m[f"udf.{k}"] = v
    missing = sorted(set(tot) - seen)
    run.check(not missing, f"python-UDF metrics not found: {missing}")


def kernel_metrics(m: dict, seed: int, n: int = 1000) -> None:
    """Per-page cost of the python kernel, in this process: one warm pass
    over pages [0, n), then a timed pass over pages [n, 2n)."""
    from esgkg import kernel, synth

    groups = synth.default_groups(R.BUILD_PAGES)

    def one_pass(lo: int) -> dict[str, float]:
        t = {"synth": 0.0, "text": 0.0, "extract": 0.0, "embed": 0.0}
        triples = 0
        for i in range(lo, lo + n):
            t0 = time.perf_counter()
            p = synth.make_page(i, seed, groups)
            t1 = time.perf_counter()
            text = kernel.page_text(p["html"])
            t2 = time.perf_counter()
            triples += len(kernel.extract_triples(text, p["url"]))
            t3 = time.perf_counter()
            kernel.hash_embed(text)
            t4 = time.perf_counter()
            t["synth"] += t1 - t0
            t["text"] += t2 - t1
            t["extract"] += t3 - t2
            t["embed"] += t4 - t3
        t["triples"] = triples
        return t

    one_pass(0)
    t = one_pass(n)
    m["kernel.synth_us"] = t["synth"] / n * 1e6
    m["kernel.page_text_us"] = t["text"] / n * 1e6
    m["kernel.extract_triples_us"] = t["extract"] / n * 1e6
    m["kernel.hash_embed_us"] = t["embed"] / n * 1e6
    m["kernel.triples_per_page"] = t["triples"] / n


def replay_stages(spark, out, pages: int, seed: int) -> dict:
    """One span per stage (and the map), replayed on the build's outputs:
    {stage: StoreDelta}, plus "_counts" = (surfaces in, canonical out)."""
    from pyspark.sql import functions as F

    from esgkg import vocab
    from esgkg.stages import canon, complete, graph, nlp

    protected = sorted(set(vocab.all_concept_surfaces().values())) + [
        "Organization"
    ]
    spans = {}
    _, spans["map"] = _span(spark, lambda: _force(
        nlp.synth_linked_narrow(spark, pages, seed)))
    stats, spans["graph.surface_stats"] = _span(spark, lambda: graph.surface_stats(
        out["linked_triples"]).localCheckpoint(eager=True))
    cmap, spans["canon.canonical_map"] = _span(spark, lambda: canon.canonical_map(
        stats.select(F.col("name").alias("surface")),
        exclude_exact=protected, assume_distinct=True,
    ).localCheckpoint(eager=True))
    _, spans["canon.rewrite_triples"] = _span(spark, lambda: _force(
        canon.rewrite_triples(out["linked_triples"], out["canon_map"])))

    def nodes_edges():
        _force(graph.materialize_nodes_from_stats(stats, out["canon_map"], spark))
        _force(graph.materialize_edges(out["triples"], spark, assume_closed=True))

    _, spans["graph.nodes_edges"] = _span(spark, nodes_edges)
    _, spans["complete.adamic_adar"] = _span(spark, lambda: _force(
        complete.adamic_adar(out["edges"], 10)))
    spans["_counts"] = (stats.count(),
                        cmap.select("canonical").distinct().count())
    return spans


def _dir_size(path: str) -> tuple[int, int]:
    n = size = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(dirpath, f))
    return size, n


def checkpoint_metrics(run: R.Run, m: dict) -> None:
    """A checkpointed build of CKPT_PAGES pages and two resumes on the same
    base_dir. Checks: the resume equals the fresh build, and bench mode
    gives the same digests as checkpointed mode at this size."""
    spark = run.spark
    seed = run.next_seed()
    base = str(run.work / "ckpt")
    manifest = os.path.join(base, "_manifest")
    c = run.guarded("checkpointed build", R.build, run, CKPT_PAGES, seed,
                    base_dir=base)
    b = run.guarded("bench build", R.build, run, CKPT_PAGES, seed)
    if b is None or c is None:
        return
    commits = spark.read.parquet(manifest).count()
    size, files = _dir_size(base)
    ref = R.digests(c[1])
    run.check(R.digests(b[1]) == ref,
              "bench and checkpointed modes gave different digests")
    resumes = []
    for _ in range(2):
        f = run.guarded("resume", R.build, run, CKPT_PAGES, seed,
                        base_dir=base)
        if f is not None:
            resumes.append(f)
            run.check(R.digests(f[1]) == ref, "resume gave different digests")
    if resumes:
        m["manifest.resume_s"] = statistics.median([f[0] for f in resumes])
        m["manifest.resume_jobs"] = statistics.median([f[3] for f in resumes])
    m["manifest.build_s"] = c[0]
    m["manifest.build_triples_per_s"] = c[2] / c[0]
    m["manifest.bytes_written"] = size
    m["manifest.files_written"] = files
    m["manifest.commits"] = commits
    m["manifest.resume_new_commits"] = (
        spark.read.parquet(manifest).count() - commits)
    R.release(b[1])
    shutil.rmtree(base, ignore_errors=True)


def traced_kg_build(run: R.Run, m: dict) -> dict:
    cores = probes.host_cores()
    setup = R.kg_setup(run)
    m["session.start_s"] = setup["session_start_s"]
    m["session.warm_s"] = setup["session_warm_s"]

    def untraced():
        u = run.guarded("untraced build", R.build, run, R.BUILD_PAGES,
                        run.next_seed())
        if u is not None:
            R.release(u[1])
        return u

    # untraced builds on both sides of the traced one, so a drift in build
    # times cancels out of the overhead. The second waits until the traced
    # build's outputs are read for the last time: every bench build writes
    # to the same parquet scratch, which those outputs read lazily.
    u = [untraced()]
    seed = run.next_seed()
    t, sd = _span(run.spark, lambda: R.build(run, R.BUILD_PAGES, seed))
    run.check(sd.jobs > 0, "traced build launched no Spark jobs")
    # Adamic-Adar scores are float sums whose order follows the partitioning,
    # so across core counts the outputs are compared at 9 decimal places
    ref = R.digests(t[1], 9)
    _pipeline_metrics(run, m, [sd], cores)
    four = replay_stages(run.spark, t[1], R.BUILD_PAGES, seed)
    m["canon.surfaces_in"], m["canon.canonical_out"] = four.pop("_counts")
    for st in STAGES:
        for f, v in four[st].stage_metrics().items():
            m[f"{st}.{f}"] = v
    u.append(untraced())
    u = [x for x in u if x is not None]
    if u:
        m["trace.overhead_items_per_s"] = t[2] / t[0] - statistics.mean(
            x[2] / x[0] for x in u)
    checkpoint_metrics(run, m)
    kernel_metrics(m, run.next_seed())
    # scale layer: the traced build and the replays again at local[1]
    run.stop()
    run.start(1)
    one = R.build(run, R.BUILD_PAGES, seed)
    run.check(R.digests(one[1], 9) == ref,
              "local[1] build gave different digests")
    single = replay_stages(run.spark, one[1], R.BUILD_PAGES, seed)
    single.pop("_counts")
    for st in ["map"] + STAGES:
        m[f"scale.{st}.speedup_1v4"] = single[st].wall_s / four[st].wall_s
    m["scale.e2e.eff_1v4"] = (one[0] / t[0]) / cores
    return {"setup_s": setup["setup_s"], "build_s": [t[0]],
            "build_1core_s": [one[0]],
            "untraced_build_s": [x[0] for x in u]}


def traced_queries(run: R.Run, m: dict) -> dict:
    cores = probes.host_cores()
    deltas: dict = {}
    res = R.queries_workload(run, deltas)
    m["session.start_s"] = res["session_start_s"]
    m["session.warm_s"] = res["session_warm_s"]
    for q in R.QUERIES:
        m[f"query.{q}.p50_s"] = statistics.median(res["per_query"][q])
        m[f"query.{q}.executor_run_s"] = (
            deltas[q].stage_metrics()["executor_run_s"])
    # a gain on a short query shows here beside q13
    m["query.geomean_s"] = statistics.geometric_mean(
        [m[f"query.{q}.p50_s"] for q in R.QUERIES])
    # the traced pass as a whole is this workload's pipeline span
    _pipeline_metrics(run, m, list(deltas.values()), cores)
    # against the untraced passes just before and just after it
    wall = sum(d.wall_s for d in deltas.values())
    around = res["main_s"][-1:] + res.get("after_traced_s", [])
    m["trace.overhead_items_per_s"] = len(R.QUERIES) / wall - statistics.mean(
        len(R.QUERIES) / p for p in around)
    kernel_metrics(m, run.next_seed())
    return {k: v for k, v in res.items() if isinstance(v, list)}


def traced(run: R.Run, workload: str, rss: probes.PeakRss
           ) -> tuple[dict, dict]:
    m = {k: 0.0 for k in PER_LAYER}
    fn = traced_kg_build if workload == "kg-build" else traced_queries
    res = fn(run, m)
    m["mem.peak_rss_mb"] = rss.peak
    m["mem.jvm_rss_mb"] = rss.at_peak.get("java", 0.0)
    m["mem.python_rss_mb"] = rss.peak - m["mem.jvm_rss_mb"]
    missing = set(m) - set(PER_LAYER)
    if missing:
        raise RuntimeError(f"unlisted per-layer metrics: {sorted(missing)}")
    metrics = {k: {"value": float(m[k]), "unit": PER_LAYER[k][0]}
               for k in PER_LAYER}
    return res, metrics
