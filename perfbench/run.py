#!/usr/bin/env python3
"""End-to-end curation benchmark (see perfbench/README.md).

    python3 perfbench/run.py --workload curate --seed 1 --seconds 8 --trace 0

Runs one workload on inputs generated from the seed, checks every output,
and prints one JSON object as the last stdout line: the end-to-end metrics
with ``--trace 0``, the per-layer metrics of a traced run with
``--trace 1``. Everything it writes stays under ``.perfbench/`` in the
checkout. Exits 1 when an output check fails, 2 when the program cannot be
imported.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
import traceback

import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
TMP = os.path.join(WORK, "tmp")

# docs per input; curate_long has about the same text bytes as curate
SIZES = {"curate": 10_000, "curate_long": 250, "dedup": 10_000}
# per-seed warm-up / oracle sample size (the others use a fixed sample,
# see inputs.ensure_fixed_sample)
CURATE_SAMPLE = 60
# after the small warm-up the first full-size run still reads ~20% slow
# (JIT, worker pool growth); the median of three runs leaves it out. A
# second run is also what lets a single altered row be caught.
MIN_REPS = 3
# a fixed, pre-touched driver heap: a growing heap made peak RSS depend on
# when G1 expanded it (2.2-3.3 GB over five runs of one workload)
DRIVER_HEAP = "2g"
TRACE_ROUNDS = 2
# the curation flow's stages in canonical_stages() order, as layer names
CURATE_LAYERS = ("url_filter", "langid", "quality_fused", "pii")
CURATE_ONLY = (
    "url_filter.self_s", "url_filter.dropped", "langid.self_s", "langid.docs_in", "langid.dropped",
    "quality_fused.self_s", "quality_fused.docs_in", "quality_fused.useful_frac", "quality_fused.dropped",
    "quality_fused.rewritten", "pii.self_s", "pii.docs_in", "pii.useful_frac", "pii.rewritten",
    "pipeline.write_s",
)
MINHASH_ONLY = (
    "minhash.signatures_s", "minhash.pairs_s", "minhash.pairs_task_skew", "minhash.shuffle_bytes",
    "minhash.spill_bytes", "minhash.components_s", "minhash.join_write_s", "minhash.edges", "minhash.dup_docs",
)


def _configure_env(trace: bool) -> None:
    """Keep every file the run writes inside the checkout, and let Spark's
    Python workers import the program (they start from a fresh interpreter,
    so without PYTHONPATH they fail with ModuleNotFoundError)."""
    for d in (TMP, os.path.join(WORK, "spark-local")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = TMP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_UI"] = "true" if trace else "false"
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_HEAP
    sys.path.insert(0, ROOT)


def _get_spark(cores: int):
    from datatrove_spark import session

    spark = session.get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={TMP} -Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits on EOF of its stdin
        gateway.proc.wait(timeout=60)


# --- workload flows -----------------------------------------------------------


def _with_doc_id(df):
    """dedup keys on the page id in the url, so a repartitioning cannot
    change its output the way ``monotonically_increasing_id`` would."""
    from pyspark.sql import functions as F

    return df.withColumn("doc_id", F.regexp_extract("url", r"/page/(\d+)", 1).cast("long"))


def _dedup_stage(df):
    from pyspark.sql import functions as F

    from datatrove_spark.operators import minhash

    out = minhash.apply(_with_doc_id(df))
    return out.withColumn("minhash_reason", F.when(F.col("dup_of").isNotNull(), F.lit("near_dup")))


def stages_for(workload: str):
    from datatrove_spark.plans.pipeline import Stage, canonical_stages

    return [Stage("minhash", _dedup_stage)] if workload == "dedup" else canonical_stages()


def run_flow(spark, workload: str, input_dir: str, out_dir: str) -> tuple[float, dict]:
    """One end-to-end run: read the input, run the flow, commit the
    ``keep=``-partitioned sink and its metrics.json. Returns (wall, metrics)."""
    from datatrove_spark.plans import pipeline

    t0 = time.perf_counter()
    metrics = pipeline.run_pipeline(
        spark, spark.read.parquet(input_dir), stages_for(workload), out_dir, resume=False
    )
    return time.perf_counter() - t0, metrics


def setup(workload: str, seed: int, cores: int) -> dict:
    """Session start, then the first (warm-up) run of the flow on the oracle
    sample, whose output is checked against the DuckDB oracle."""
    t0 = time.perf_counter()
    spark = _get_spark(cores)
    start_s = time.perf_counter() - t0
    try:
        return _prepare_and_warm(spark, workload, seed) | {"start_s": start_s}
    except BaseException:
        _stop(spark)
        raise


def _prepare_and_warm(spark, workload: str, seed: int) -> dict:
    import pyarrow.parquet as pq

    from perfbench import checks, inputs

    t_prep = time.perf_counter()
    pool = inputs.pool_path(WORK)
    input_dir, props = inputs.ensure_input(pool, workload, seed, SIZES[workload])
    if workload == "curate":
        sample_dir, sample = inputs.ensure_sample(input_dir, CURATE_SAMPLE)
        expected = checks.curate_oracle(inputs.with_doc_id(sample))
    else:
        sample_dir, expected = inputs.ensure_fixed_sample(pool, workload)
    warm_out = os.path.join(WORK, "out", f"{workload}-warm")
    t1 = time.perf_counter()
    prep_s = t1 - t_prep
    run_flow(spark, workload, sample_dir, warm_out)
    warm_s = time.perf_counter() - t1
    got = checks.Checker(workload, pq.read_table(sample_dir), expected).records(warm_out)
    problems = checks.compare(expected, got, "DuckDB oracle vs warm-up run")
    table = pq.read_table(input_dir)
    return {
        "spark": spark, "input_dir": input_dir, "sample_dir": sample_dir, "props": props,
        "table": table, "warm_s": warm_s, "prep_s": prep_s, "oracle_problems": problems,
        "checker": checks.Checker(workload, table, expected if workload == "curate" else {}),
    }


def timed_reps(s: dict, workload: str, seconds: float, sampler=None, min_reps: int = MIN_REPS) -> dict:
    """Repeat the flow for `seconds` (at least `min_reps` runs), checking
    each run's output outside the timed region."""
    out_dir = os.path.join(WORK, "out", workload)
    walls, peaks, failures, metrics, attempted = [], [], [], None, 0
    t_start = time.perf_counter()
    while True:
        attempted += 1
        if sampler:
            sampler.take_peak_mb()
            sampler.active = True
        try:
            wall, metrics = run_flow(s["spark"], workload, s["input_dir"], out_dir)
            problems = []
        except Exception:
            wall, problems = None, [traceback.format_exc(limit=3)]
        if sampler:
            sampler.active = False
            peaks.append(sampler.take_peak_mb())
        if wall is not None:
            problems = s["checker"].check(out_dir)
            walls.append(wall)
        if problems:
            failures.append(problems)
        if time.perf_counter() - t_start >= seconds and attempted >= min_reps:
            break
    return {"walls": walls, "peaks_mb": peaks, "failures": failures, "metrics": metrics, "out_dir": out_dir,
            "attempted": attempted}


def _result(correct: bool, attempted: int, failed: int, values: dict, units: dict) -> str:
    return json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    })


def _benchmark_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# --- traced run -----------------------------------------------------------------


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _identity(s: pd.Series) -> pd.Series:
    """Arrow round trip of a text column and nothing else (SNIPPETS [2])."""
    return s


def _prefix_jobs(spark, workload: str, input_dir: str, sink_dir: str) -> dict:
    """Jobs that each run a prefix of the flow; a layer's self time is the
    difference between consecutive prefixes."""
    from pyspark.sql import functions as F

    from datatrove_spark.operators import minhash
    from datatrove_spark.plans.pipeline import compose

    identity = F.pandas_udf(_identity, "string")

    read = lambda: spark.read.parquet(input_dir)  # noqa: E731
    jobs = {
        "scan": lambda: _noop(read().select(F.length("text"))),
        "identity": lambda: _noop(read().select(F.length(identity("text")))),
    }
    if workload == "dedup":
        jobs["signatures"] = lambda: _noop(minhash.signatures(_with_doc_id(read())))
        jobs["pairs"] = lambda: _noop(minhash.pairs_from_sigs(minhash.signatures(_with_doc_id(read()))))
    else:
        st = stages_for(workload)
        for k, name in enumerate(CURATE_LAYERS, start=1):
            jobs[name] = lambda k=k: _noop(compose(read(), st[:k]))
        jobs["sink"] = lambda: compose(read(), st).write.mode("overwrite").partitionBy("keep").parquet(sink_dir)
    return jobs


def _udf_nodes(spark, workload: str, input_dir: str) -> list[int]:
    """Arrow UDF eval nodes in the physical plan of each prefix of the
    flow (Spark may evaluate adjacent UDFs in one node, so a layer does not
    always add a JVM-Python crossing of its own)."""
    from datatrove_spark.plans.pipeline import compose

    if workload == "dedup":
        return [0, 1]  # the signature kernel; pairs, components and the join run in the JVM/driver
    st = stages_for(workload)
    df = spark.read.parquet(input_dir)
    return [compose(df, st[:k])._jdf.queryExecution().executedPlan().toString().count("ArrowEvalPython")
            for k in range(len(st) + 1)]


def _curate_counts(spark, input_dir: str) -> dict:
    """Docs into / dropped / rewritten by each layer, from one aggregate
    over the same stage chain with the intermediate texts kept."""
    from pyspark.sql import functions as F

    from datatrove_spark.config import DEFAULT_CONFIG
    from datatrove_spark.operators import langid, pii, quality_fused, url_filter

    d = url_filter.apply(spark.read.parquet(input_dir), cfg=DEFAULT_CONFIG.url_filter)
    d = quality_fused.apply(langid.apply(d))
    d = pii.apply(d, text_col="final_text")
    up = F.col("url_filter_reason").isNotNull() | F.col("langid_reason").isNotNull()
    q_rw = F.col("final_text") != F.col("text")
    p_rw = F.col("pii_text") != F.col("final_text")
    kept = ~up & F.col("drop_reason").isNull()

    def n(c):
        return F.sum(F.when(c, 1).otherwise(0))

    row = d.agg(
        F.count("*").alias("docs"),
        n(F.col("url_filter_reason").isNotNull()).alias("url_dropped"),
        n(F.col("url_filter_reason").isNull() & F.col("langid_reason").isNotNull()).alias("lang_dropped"),
        n(~up).alias("q_useful"),
        n(~up & F.col("drop_reason").isNotNull()).alias("q_dropped"),
        n(q_rw).alias("q_rewritten"),
        n(p_rw).alias("pii_rewritten"),
        n(kept).alias("kept"),
        F.sum(F.when(q_rw, F.octet_length("final_text")).otherwise(0)).alias("q_bytes"),
        F.sum(F.when(p_rw, F.octet_length("pii_text")).otherwise(0)).alias("p_bytes"),
    ).collect()[0]
    return row.asDict()


def _us_per_doc(fn, texts: list[str]) -> float:
    t0 = time.perf_counter()
    for t in texts:
        fn(t)
    return (time.perf_counter() - t0) / len(texts) * 1e6


def _kernel_us(texts: list[str]) -> dict:
    """Per-doc cost of each Python kernel on one core, driver-side, over a
    fixed sample of the workload's input."""
    from datatrove_spark.config import EngineConfig
    from datatrove_spark.operators import langid, minhash, pii
    from datatrove_spark.reference_impl import filters as rf

    cfg = EngineConfig()
    ws = {t: rf.words(t) for t in texts}
    return {
        "langid.us_per_doc": _us_per_doc(langid.py_langid, texts),
        "quality.words_us": _us_per_doc(rf.words, texts),
        "quality.gopher_repetition_us": _us_per_doc(lambda t: rf.gopher_repetition(t, cfg.gopher_repetition, ws=ws[t]), texts),
        "quality.gopher_quality_us": _us_per_doc(lambda t: rf.gopher_quality(t, cfg.gopher_quality, ws=ws[t]), texts),
        "quality.c4_us": _us_per_doc(lambda t: rf.c4_quality(t, cfg.c4), texts),
        "quality.fineweb_us": _us_per_doc(lambda t: rf.fineweb_quality(t, cfg.fineweb), texts),
        "pii.us_per_doc": _us_per_doc(pii.scrub, texts),
        "minhash.sig_us_per_doc": _us_per_doc(minhash.py_bucket_sigs, texts),
    }


def _continuity_docs_per_s(spark, input_dir: str, n_docs: int) -> float:
    """The old quality-only headline shape, kept for continuity:
    ``quality_pipeline(pages).filter("keep").count()``."""
    from datatrove_spark.registry import quality_pipeline

    pages = spark.read.parquet(input_dir)
    t0 = time.perf_counter()
    quality_pipeline(pages).filter("keep").count()
    return n_docs / (time.perf_counter() - t0)


def _scaling_eff(s: dict, workload: str, seed: int, t4: float) -> float:
    """Weak scaling, 1 vs 4 cores: the live process tree (driver, JVM and
    Python workers) is pinned to one core and runs a quarter of the input;
    efficiency = t(1 core, n/4) / t(all cores, n)."""
    from perfbench import host, inputs

    quarter, _ = inputs.ensure_input(inputs.pool_path(WORK), workload, seed, SIZES[workload] // 4)
    with host.pinned(1):
        t1, _ = run_flow(s["spark"], workload, quarter, os.path.join(WORK, "out", f"{workload}-scaling"))
    return t1 / t4


def _layer_table(workload: str, T: dict, nodes: list[int], tracer, root: int) -> dict:
    """Self time of each layer on the blocking path of the traced run.

    Work inside one Spark job cannot be spanned from the driver, so the
    layers from reading the input to the end of the first blocking job come
    from prefix jobs (T), each of which also reads and plans; the later
    driver-side layers (connected components' collect and union-find, the
    join + write, the metrics re-scan) come from the traced run's spans.
    `driver` is what the traced run spent outside all of these."""
    sp = tracer.spans

    def first(name: str) -> dict:
        return sp[tracer.descendants(root, name)[0]]

    # the first read is the input's; the metrics re-scan reads the sink later
    read, write, run = first("sources.read_parquet"), first("pipeline.write"), first("pipeline.run_pipeline")
    rt = T["identity"] - T["scan"]
    layers = {"sources": T["scan"], "udf_transport": nodes[-1] * rt}
    if workload == "dedup":
        cc = first("minhash.connected_components")
        count = sp[tracer.descendants(cc["id"], "spark.count")[0]]
        layers |= {
            "minhash.signatures": T["signatures"] - T["scan"] - rt,
            "minhash.pairs": T["pairs"] - T["signatures"],
            "minhash.components": cc["end"] - count["end"],
            "minhash.join_write": write["end"] - write["start"],
        }
        covered = (cc["end"] - read["start"]) + (run["end"] - write["start"])
    else:
        prev = "scan"
        for k, name in enumerate(CURATE_LAYERS, start=1):
            layers[name] = T[name] - T[prev] - (nodes[k] - nodes[k - 1]) * rt
            prev = name
        layers["pipeline.write"] = T["sink"] - T["pii"]
        covered = run["end"] - read["start"]
    # after the sink commits, run_pipeline only re-scans it for metrics.json
    return layers | {"pipeline.metrics": T["metrics"], "driver": tracer.duration(root) - covered}


def traced_run(s: dict, workload: str, seed: int) -> tuple[dict, dict]:
    """Untraced reps (the overhead baseline), one traced rep, the prefix
    jobs, stage metrics and driver-side kernel costs. Returns (metrics,
    report)."""
    from datatrove_spark.plans import pipeline
    from perfbench.tracing import StageMetrics, Tracer, install_layer_spans

    spark, sc, n = s["spark"], s["spark"].sparkContext, s["props"]["docs"]
    tracer = Tracer()
    jobs = _prefix_jobs(spark, workload, s["input_dir"], os.path.join(WORK, "out", f"{workload}-prefix"))
    nodes = _udf_nodes(spark, workload, s["input_dir"])
    # the first full-size run reads slow (see MIN_REPS): it settles the
    # session and is left out of the untraced baseline
    with tracer.span("phase:settle"):
        settle = timed_reps(s, workload, 0, min_reps=1)
    out_dir = settle["out_dir"]
    jobs["metrics"] = lambda: pipeline.run_pipeline(
        spark, spark.read.parquet(s["input_dir"]), stages_for(workload), out_dir, resume=True)
    # untraced run, traced run and prefix jobs interleave per round, so all
    # three see the same host state
    untraced, traced, tables, samples, problems = [], [], [], [], []
    for r in range(TRACE_ROUNDS):
        with tracer.span(f"phase:round{r}"):
            rep = timed_reps(s, workload, 0, min_reps=1)
            untraced += rep["walls"]
            problems += rep["failures"]
            install_layer_spans(tracer)
            sc.setJobGroup(f"e2e{r}", "traced run")
            try:
                with tracer.span("run") as root:
                    pipeline.run_pipeline(spark, spark.read.parquet(s["input_dir"]), stages_for(workload),
                                          out_dir, resume=False)
            finally:
                tracer.unwrap_all()
            traced.append(tracer.duration(root["id"]))
            if p := s["checker"].check(out_dir):
                problems.append(p)
            T = {}
            for name, job in jobs.items():
                sc.setJobGroup(f"layer:{name}", name)
                t0 = time.perf_counter()
                job()
                T[name] = time.perf_counter() - t0
            sc.setJobGroup("other", "other")
            samples.append(T)
            tables.append(_layer_table(workload, T, nodes, tracer, root["id"]))
    median = lambda rows: {k: statistics.median(row[k] for row in rows) for k in rows[0]}  # noqa: E731
    T, layers = median(samples), median(tables)
    base, wall, blocking = statistics.median(untraced), statistics.median(traced), sum(layers.values())
    stage = StageMetrics(sc)
    group = f"e2e{TRACE_ROUNDS - 1}"
    totals = stage.totals(group)

    # layers a workload does not run read 0
    m = dict.fromkeys(MINHASH_ONLY if workload != "dedup" else CURATE_ONLY, 0.0)
    if workload == "dedup":
        dups = sum(1 for v in s["checker"].records(out_dir).values() if v[1] is not None)
        m |= {
            "minhash.signatures_s": layers["minhash.signatures"],
            "minhash.pairs_s": layers["minhash.pairs"],
            "minhash.pairs_task_skew": stage.window_task_skew(group),
            "minhash.shuffle_bytes": totals["shuffle_write_bytes"],
            "minhash.spill_bytes": totals["spill_bytes"],
            "minhash.components_s": layers["minhash.components"],
            "minhash.join_write_s": layers["minhash.join_write"],
            "minhash.edges": dups,  # star edges: one per non-representative doc
            "minhash.dup_docs": dups,
            "udf_transport.bytes_out": 12 * 14 * n,  # (int32 bucket, int64 sig) x 14 buckets per doc
        }
    else:
        with tracer.span("phase:counts"):
            c = _curate_counts(spark, s["input_dir"])
        m |= {f"{k}.self_s": layers[k] for k in CURATE_LAYERS}
        m |= {
            "url_filter.dropped": c["url_dropped"],
            "langid.docs_in": c["docs"] - c["url_dropped"],
            "langid.dropped": c["lang_dropped"],
            "quality_fused.docs_in": c["docs"],
            "quality_fused.useful_frac": c["q_useful"] / c["docs"],
            "quality_fused.dropped": c["q_dropped"],
            "quality_fused.rewritten": c["q_rewritten"],
            "pii.docs_in": c["docs"],
            "pii.useful_frac": c["kept"] / c["docs"],
            "pii.rewritten": c["pii_rewritten"],
            "pipeline.write_s": layers["pipeline.write"],
            "udf_transport.bytes_out": c["q_bytes"] + c["p_bytes"],
        }
    with tracer.span("phase:kernels"):
        texts = s["table"].column("text").to_pylist()
        m |= _kernel_us(texts[:: max(1, n // CURATE_SAMPLE)] if workload != "curate_long" else texts[:8])
    with tracer.span("phase:continuity"):
        m["quality_fused.continuity_docs_per_s"] = _continuity_docs_per_s(spark, s["input_dir"], n)
    with tracer.span("phase:scaling"):
        m["spark.scaling_eff_1to4"] = _scaling_eff(s, workload, seed, base)
    sink_files = [os.path.join(d, f) for d, _, fs in os.walk(os.path.join(out_dir, "data"))
                  for f in fs if f.endswith(".parquet")]
    m |= {
        "session.start_s": s["start_s"],
        "session.warm_s": s["warm_s"],
        "sources.scan_s": T["scan"],
        "sources.input_bytes": sum(os.path.getsize(os.path.join(s["input_dir"], f))
                                   for f in os.listdir(s["input_dir"]) if f.endswith(".parquet")),
        "udf_transport.roundtrip_s": T["identity"] - T["scan"],
        "pipeline.metrics_s": T["metrics"],
        "pipeline.sink_bytes": sum(os.path.getsize(f) for f in sink_files),
        "pipeline.sink_files": len(sink_files),
        **{f"spark.{k}": v for k, v in totals.items()},
        "trace.wall_s": wall,
        "trace.blocking_sum_s": blocking,
        "trace.coverage": blocking / wall,
        "trace.overhead_s": wall - base,
    }
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    tracer.dump(os.path.join(WORK, "results", f"spans-{workload}-s{seed}.json"))
    failures = settle["failures"] + problems
    attempted = settle["attempted"] + 2 * TRACE_ROUNDS
    report = {
        "layers_s": layers, "prefix_s": T, "udf_nodes": nodes, "untraced_walls_s": settle["walls"] + untraced,
        "traced_walls_s": traced, "layers_s_per_round": tables,
        "phases_s": {sp["name"]: tracer.duration(sp["id"]) for sp in tracer.spans if sp["name"].startswith("phase:")},
        "sink_metrics": settle["metrics"], "attempted": attempted, "failed": len(failures), "failures": failures,
    }
    return m, report


# --- entry point ----------------------------------------------------------------


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--build-pool", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()
    _configure_env(bool(args.trace))
    try:
        import datatrove_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import inputs

    if args.build_pool:
        spark = _get_spark(len(os.sched_getaffinity(0)))
        try:
            inputs.ensure_pool(spark, WORK)
        finally:
            _stop(spark)
        return 0
    if not os.path.exists(inputs.pool_path(WORK)):
        # its own process, so that this run's set-up starts cold
        subprocess.run([sys.executable, os.path.abspath(__file__), "--build-pool", "--workload",
                        args.workload, "--seed", str(args.seed)], check=True, timeout=840)

    from perfbench import checks, host

    spec = _benchmark_spec()
    state = host.host_state()
    s = setup(args.workload, args.seed, state["cpus"])
    s["seed"] = args.seed
    try:
        report = {"workload": args.workload, "seed": args.seed, "host": state, "input": s["props"],
                  "setup_s": {"start": s["start_s"], "warm": s["warm_s"], "untimed_input_prep": s["prep_s"]},
                  "oracle_problems": s["oracle_problems"]}
        if args.trace:
            values, extra = traced_run(s, args.workload, args.seed)
            report |= extra
            attempted, failed = extra["attempted"] + 1, extra["failed"] + bool(s["oracle_problems"])
            values["failed_frac"] = failed / attempted
            kind = "per_layer"
        else:
            with host.RssSampler() as sampler:
                reps = timed_reps(s, args.workload, args.seconds, sampler)
            attempted = reps["attempted"] + 1  # + the warm-up run
            failed = len(reps["failures"]) + bool(s["oracle_problems"])
            values = {
                "docs_per_s": s["props"]["docs"] / statistics.median(reps["walls"]) if reps["walls"] else 0.0,
                "setup_s": s["start_s"] + s["warm_s"],
                "peak_rss_mb": max(reps["peaks_mb"]),
            }
            report |= {"walls_s": reps["walls"], "peaks_mb": reps["peaks_mb"], "failures": reps["failures"],
                       "sink_metrics": reps["metrics"]}
            kind = "end_to_end"
        if reps_metrics := report.get("sink_metrics"):
            report["input"]["keep_share"] = reps_metrics["kept"] / reps_metrics["total"]
        if s["checker"].first is not None:
            # compare across commits: equal digests = byte-identical output
            report["output_digest"] = checks.digest(s["checker"].first)
    finally:
        _stop(s["spark"])
    units = {x["name"]: x["unit"] for x in spec[kind]}
    missing = units.keys() - values.keys()
    if missing:
        raise RuntimeError(f"metrics not measured: {sorted(missing)}")
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump({"report": report, "metrics": values}, f, indent=1, default=str)
    print(json.dumps({"report": report}, default=str))
    print(_result(failed == 0, attempted, failed, values, units))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
