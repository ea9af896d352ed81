"""Benchmark entry point.

    python3 perfbench/run.py --workload extract_full --seed 1 --seconds 10 --trace 0

Runs one workload end to end at ``local[<cores available>]`` from the
root of a checkout: a closed loop with one client, one job at a time.
Untraced runs (``--trace 0``) report the end-to-end metrics; traced runs
(``--trace 1``) report the per-layer split. The last stdout line is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; the exit
code is non-zero when an output check fails. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
from pathlib import Path

T_PROCESS = time.perf_counter()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

HEAP = "2g"  # the JVM heap, fixed and touched at start so peak RSS does not
# drift with heap sizing or with how much of the heap a job happens to reach


def _env(work: Path) -> None:
    """Keep the JVM, its Python workers and every temp file inside ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(
        p
        for p in (
            os.environ.get("SPARK_SUBMIT_OPTS", ""),
            f"-Djava.io.tmpdir={tmp}",
            "-XX:-UsePerfData",
            f"-Xms{HEAP}",
            "-XX:+AlwaysPreTouch",
        )
        if p
    )
    sys.path.insert(0, str(ROOT))


def environment(args, wl, cpus: int) -> dict:
    import pandas
    import pyarrow
    import pyspark

    env = {
        "nproc": cpus,
        "master": f"local[{cpus}]",
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "python": sys.version.split()[0],
        "workload": wl.name,
        "trace": args.trace,
        "seed": args.seed,
        "size": args.size,
        "input_rows": wl.rows,
        "input_bytes": wl.in_bytes,
        "jvm_heap": HEAP,
    }
    if hasattr(wl, "n_pages"):
        from workloads import N_BUCKETS, PAGE_SCALE

        env.update(
            mean_page_bytes=wl.mean_page_bytes,
            page_scale=PAGE_SCALE,
            buckets=N_BUCKETS,
        )
    return env


def timed_reps(engine, wl, seconds: float, max_reps: int | None = None) -> list[dict]:
    """Closed loop: prepare (untimed) then run (timed), until ``seconds`` of
    timed work have passed and at least ``wl.min_reps`` reps have run."""
    from engine import Job, file_set

    reps: list[dict] = []
    spent = 0.0
    while not reps or (
        (spent < seconds or len(reps) < wl.min_reps) and (max_reps is None or len(reps) < max_reps)
    ):
        wl.prepare(engine.spark, len(reps))
        before = file_set(wl.out)
        with Job(engine) as job:
            info = wl.run(engine.spark)
        spent += job.wall_s
        reps.append(
            {
                "wall_s": job.wall_s,
                "cpu_s": job.cpu_s,
                "peak_rss": job.peak_rss,
                "peak_worker_rss": job.peak_worker_rss,
                "max_workers": job.max_workers,
                "steal_pct": job.steal_pct,
                "written": wl.written_bytes(before),
                "info": info,
            }
        )
    return reps


def end_to_end(wl, reps: list[dict], setup_s: float) -> dict:
    from engine import median

    run_s = median([r["wall_s"] for r in reps])
    return {
        "setup_s": setup_s,
        "run_s": run_s,
        "rows_per_s": wl.rows / run_s,
        "cpu_s_per_krow": median([r["cpu_s"] for r in reps]) * 1000.0 / wl.rows,
        "peak_rss_mb": median([r["peak_rss"] for r in reps]) / 2**20,
        "out_bytes_per_in_byte": median([r["written"] for r in reps]) / wl.in_bytes,
    }


def first_setup(engine, wl, cpus: int, event_log: bool = False) -> dict:
    """The process's one set-up: imports, JVM launch and session start,
    then the warm-up that spawns the Python workers. ``setup_s`` runs from
    process start to the end of the warm-up."""
    import_s = time.perf_counter() - T_PROCESS
    engine.setup(cpus, wl.warm, event_log=event_log)
    return {
        "session.import_s": import_s,
        "session.start_s": engine.session_s[0],
        "session.python_worker_spawn_s": engine.worker_s[0],
        "setup_s": time.perf_counter() - T_PROCESS,
    }


def untraced(engine, wl, args, cpus: int) -> tuple[dict, dict]:
    """Set-up, the inputs, then timed jobs; the first timed job is the
    first full-size job in the JVM, as in a spark-submit batch run."""
    setup = first_setup(engine, wl, cpus)
    marks = {"setup": _since_start()}
    wl.make_inputs(engine.spark)
    marks["inputs"] = _since_start()
    reps = timed_reps(engine, wl, args.seconds)
    marks["reps"] = _since_start()
    extra = {
        "reps": [_rep_line(r) for r in reps],
        "setup": {k: round(v, 3) for k, v in setup.items()},
        "marks": marks,
    }
    return end_to_end(wl, reps, setup["setup_s"]), extra


def _since_start() -> float:
    return round(time.perf_counter() - T_PROCESS, 2)


def _rep_line(r: dict) -> dict:
    out = {k: round(v, 4) if isinstance(v, float) else v for k, v in r.items() if k != "info"}
    out["phases"] = r["info"].get("phases")
    return out


def traced(engine, wl, args, cpus: int, work: Path) -> tuple[dict, dict, int, int]:
    """Per-layer split of the job an untraced run times.

    With Spark's event log on, the first full-size job in the JVM is
    traced, its output checked and the layer probes run. Then three warm
    jobs: traced at local[N] in the same session, plain at local[N] in a
    fresh one (tracing overhead), and local[1] on a quarter of the work in
    a third (scaling)."""
    import layers
    from engine import TRACE_GROUP, median, parse_event_log
    from workloads import AssetIngest, Curate, ExtractFull, check_extraction

    setup = first_setup(engine, wl, cpus, event_log=True)
    spark = engine.spark
    wl.make_inputs(spark)
    quarter = _quarter(wl, work / "quarter")
    quarter.make_inputs(spark)
    spark.sparkContext.setJobGroup(TRACE_GROUP, TRACE_GROUP)
    rep = timed_reps(engine, wl, 0, max_reps=1)[0]
    marks = {"traced": _since_start()}
    spark.sparkContext.setJobGroup("perfbench-check", "perfbench-check")
    attempted = failed = 0
    if not isinstance(wl, ExtractFull):  # extraction output is checked after the resume
        if args.corrupt_row:
            wl.corrupt()
        attempted, failed = wl.check(spark)

    m: dict[str, float] = {}
    probe = work / "probe"
    kern, pages_pdf = layers.kernel_probe(wl.seed % 1000 * layers.KERNEL_BATCH)
    m.update(kern)
    m.update(layers.codecs_probe(wl.seed % 1000 * 7))
    marks["kernel"] = _since_start()

    # sources.lineage: the workload's own job when it is an extraction,
    # otherwise a fresh extraction of the kernel probe's pages
    if isinstance(wl, ExtractFull):
        pages_dir, lin_out, lin_info, expected = wl.pages_dir, wl.out, rep["info"], wl.expected
    else:
        pages_dir, lin_out = probe / "pages", probe / "lineage"
        expected = layers.write_probe_pages(spark, pages_pdf, pages_dir)
        lin_info = layers.lineage_probe(spark, pages_dir, lin_out)
    m.update(layers.lineage_metrics(lin_info, lin_out))
    m["sources.lineage.resume_s"], redo, resume_failed = layers.resume_probe(
        spark, pages_dir, lin_out, expected["bucket"], wl.seed
    )
    spark.sparkContext.setJobGroup("perfbench-check", "perfbench-check")
    if isinstance(wl, ExtractFull) and args.corrupt_row:
        wl.corrupt()
    attempted += len(expected)
    failed += resume_failed + check_extraction(spark, lin_out, expected)
    m["sources.lineage.write_with_manifests_s"] = layers.write_with_manifests_probe(
        spark, lin_out, probe / "wwm"
    )
    marks["lineage"] = _since_start()

    if isinstance(wl, Curate):
        m.update(layers.curation_metrics(rep["info"], wl.out))
        docs_dir = wl.docs_dir
    else:
        cur = Curate(probe / "curate", wl.seed, "tiny")
        cur.make_inputs(spark)
        docs_dir = cur.docs_dir
        m.update(layers.curation_probe(spark, docs_dir, probe / "curation"))
    m.update(layers.operators_probe(spark, docs_dir))
    marks["curation"] = _since_start()

    if isinstance(wl, AssetIngest):
        ph = rep["info"]["phases"]
        m["multimodal.image_stats_s"] = ph["image_stats"]
        m["multimodal.image_dimensions_s"] = ph["image_dimensions"]
    else:
        assets = AssetIngest(probe / "assets", wl.seed, "tiny")
        assets.make_inputs(spark)
        m.update(layers.multimodal_probe(spark, assets.assets_dir, probe / "mm"))
    marks["multimodal"] = _since_start()
    spark.sparkContext.setJobGroup("perfbench-warm", "perfbench-warm")
    warm = {"traced": timed_reps(engine, wl, 0, max_reps=1)[0]}
    engine.stop()  # flushes the event log
    engine_dir = engine.event_dir
    ev_job = parse_event_log(engine_dir, TRACE_GROUP)
    ev_resume = parse_event_log(engine_dir, "probe-resume")

    for leg, n, w in (("plain", cpus, wl), ("local1", 1, quarter)):
        engine.setup(n, w.warm)
        warm[leg] = timed_reps(engine, w, 0, max_reps=1)[0]
        engine.stop()
    marks["warm"] = _since_start()

    m.update(layers.engine_metrics(ev_job))
    # the Arrow boundary of the workload's job, or of the probe extraction
    # when the job has none (curation is all JVM)
    if ev_job["py_bytes_in"]:
        m.update(layers.arrow_metrics(ev_job, wl.rows))
    else:
        m.update(layers.arrow_metrics(parse_event_log(engine_dir, "probe-lineage"), len(expected)))
    m["sources.lineage.input_bytes_scanned"] = ev_resume["input_bytes"]
    m["sources.lineage.rows_scanned_per_row_extracted"] = ev_resume["input_records"] / max(redo, 1)
    # 1.0: four cores finish four times the work in the time one core
    # takes for one quarter
    m["engine.scaling_eff_1to4"] = warm["local1"]["wall_s"] / warm["plain"]["wall_s"]
    m["engine.trace_overhead_frac"] = warm["traced"]["wall_s"] / warm["plain"]["wall_s"] - 1.0
    m["host.steal_pct"] = median([r["steal_pct"] for r in (rep, *warm.values())])
    m["engine.python_workers_peak_rss_mb"] = rep["peak_worker_rss"] / 2**20
    m.update((k, v) for k, v in setup.items() if k.startswith("session."))
    extra = {
        "reps": {"traced_first": _rep_line(rep), **{k: _rep_line(r) for k, r in warm.items()}},
        "event_log": ev_job,
        "layer_map": layers.LAYER_MAP,
        "marks": marks,
    }
    return m, extra, attempted, failed


def _quarter(wl, work: Path):
    """The workload on a quarter of its input rows, for the local[1] leg."""
    from workloads import SIZES

    q = type(wl)(work, wl.seed, wl.size)
    for attr, key in (("n_pages", "pages"), ("n_docs", "docs"), ("n_assets", "assets")):
        if hasattr(q, attr):
            n = SIZES[wl.size][key] // 4
            n -= n % 7 if key == "assets" else 0
            setattr(q, attr, n)
            q.rows = n
    return q


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument(
        "--corrupt-row",
        action="store_true",
        help="alter one output row before the checks (proves they are live)",
    )
    args = ap.parse_args(argv)

    if not (ROOT / "finetoo_sp_spark" / "__init__.py").is_file():
        print(f"perfbench: no finetoo_sp_spark package under {ROOT}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {d["name"]: d["unit"] for d in spec["per_layer" if args.trace else "end_to_end"]}

    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # run the cleanup below
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    _env(work)
    from engine import Engine, box_cpus

    cpus = box_cpus()
    wl = WORKLOADS[args.workload](work / "wl", args.seed, args.size)
    engine = Engine(work)
    try:
        if args.trace:
            metrics, extra, attempted, failed = traced(engine, wl, args, cpus, work)
        else:
            metrics, extra = untraced(engine, wl, args, cpus)
            if args.corrupt_row:
                wl.corrupt()
            attempted, failed = wl.check(engine.spark)
        env = environment(args, wl, cpus)
    finally:
        engine.shutdown()
        shutil.rmtree(work, ignore_errors=True)

    missing = sorted(set(units) - set(metrics))
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 3
    env["wall_s"] = time.perf_counter() - T_PROCESS
    print(json.dumps({"environment": env, **extra}, default=str))
    print(
        f"perfbench: {args.workload} failed_row_frac={failed / attempted:.6f} "
        f"({failed} of {attempted} rows)"
    )
    for name in units:
        print(f"perfbench: {name} = {metrics[name]:.6g} {units[name]}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
