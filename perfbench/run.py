#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload registry_sweep --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Inputs are generated from ``--seed``
under ``.perfbench_work/``; the program under test is the checkout's
own ``downloader_spark`` package on ``local[<cores>]``.  The last line
of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``).  See README.md in this
directory for the workloads, metrics and the layer record.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("registry_sweep", "archive_ingest")
SF = 0.01  # input scale: 60k lineitem rows
SETUPS = 3  # cold set-ups per run; setup_s is their median
PASS_INPUTS = 6  # distinct input copies the timed passes rotate through

def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # internal: one cold set-up in a fresh process, prints its seconds
    p.add_argument("--setup-probe", action="store_true", help=argparse.SUPPRESS)
    return p.parse_args(argv)


def check_checkout() -> None:
    """Refuse to run outside a checkout of the program."""
    need = [
        os.path.join(ROOT, "downloader_spark", "plans", "registry.py"),
        os.path.join(ROOT, "tests", "oracle.py"),
    ]
    missing = [p for p in need if not os.path.exists(p)]
    if missing:
        print(f"perfbench: not a checkout of the program (missing {missing})", file=sys.stderr)
        sys.exit(2)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(run_dir: str) -> None:
    """Environment for the session and its Python workers.  Workers
    import the checkout's package through PYTHONPATH, not the cwd."""
    local = os.path.join(run_dir, "spark-local")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(cores())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # no hsperfdata files in the system temp directory
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    sys.path.insert(0, ROOT)


def data_dirs(seed: int) -> list[str]:
    """Input copy 0 (warm-up and checks) and the timed passes' copies,
    all generated from ``seed``."""
    import datagen

    base = os.path.join(WORK, "data", f"seed-{seed}")
    return [
        datagen.write_tables(os.path.join(base, f"copy-{i}"), seed * 1000 + i, SF)
        for i in range(PASS_INPUTS + 1)
    ]


def start_session(run_dir: str, trace: bool):
    from downloader_spark.session import get_spark

    conf = {
        # the whole heap up front: peak RSS then tracks the program,
        # not how far the collector happened to grow the heap
        "spark.driver.extraJavaOptions": "-Xms2g -XX:-UsePerfData -Djava.io.tmpdir="
        + os.path.join(run_dir, "tmp"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if trace:
        from spans import event_log_conf

        conf.update(event_log_conf(os.path.join(run_dir, "eventlog")))
    spark = get_spark(app="perfbench", cpus=cores(), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def make_workload(name: str, spark, seed: int, dirs: list[str], tracer, run_dir: str):
    if name == "registry_sweep":
        from sweep import RegistrySweep

        return RegistrySweep(spark, seed, dirs, tracer)
    from ingest import ArchiveIngest

    return ArchiveIngest(spark, seed, dirs, tracer, run_dir)


def setup(args, run_dir: str, dirs: list[str], trace: bool):
    """One cold set-up: session (JVM) start, registry import, workload
    construction and the workload's first call (``warm_up``).  Returns
    the pieces and their seconds."""
    from spans import Tracer

    t0 = time.perf_counter()
    spark = start_session(run_dir, trace)
    t1 = time.perf_counter()
    from downloader_spark.plans.registry import registry

    registry()
    t2 = time.perf_counter()
    tracer = Tracer(spark, enabled=trace)
    wl = make_workload(args.workload, spark, args.seed, dirs, tracer, run_dir)
    wl.warm_up()
    t3 = time.perf_counter()
    times = {"session.start_s": t1 - t0, "plans.import_s": t2 - t1, "warmup.s": t3 - t2}
    return spark, tracer, wl, t3 - t0, times


def setup_probe(args) -> None:
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    prepare_env(run_dir)
    import datagen  # noqa: F401 - imported before timing, as in the main run

    dirs = data_dirs(args.seed)
    try:
        spark, _, _, seconds, _ = setup(args, run_dir, dirs, trace=False)
        stop_session(spark)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"setup_s": seconds}))


def probe_setups(args, n: int) -> list[float]:
    out = []
    for _ in range(n):
        cmd = [sys.executable, os.path.abspath(__file__), "--setup-probe",
               "--workload", args.workload, "--seed", str(args.seed)]
        res = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=150)
        if res.returncode != 0:
            sys.stderr.write(res.stderr[-4000:])
            raise RuntimeError(f"set-up probe exited with {res.returncode}")
        out.append(json.loads(res.stdout.strip().splitlines()[-1])["setup_s"])
    return out


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def end_to_end(setups, samples: dict[str, list[float]], rss) -> dict[str, float]:
    """Per operation the median over passes; a pass is the sum of its
    operations' medians."""
    med = [statistics.median(v) for v in samples.values()]
    return {
        "setup_s": statistics.median(setups),
        "pass_s": sum(med),
        "op_geomean_s": math.exp(statistics.fmean(math.log(x) for x in med)),
        "peak_rss_mb": rss,
    }


def per_layer(wl, tracer, times, windows, bare_walls, traced_walls, hyg, codecs, run_dir):
    """Per-layer metrics of a traced run, and the per-key layer record."""
    from spans import job_totals, jobs_in_windows, parse_event_log

    n = len(windows)
    jobs = jobs_in_windows(parse_event_log(os.path.join(run_dir, "eventlog")), windows)
    tot = job_totals(jobs)
    by_group: dict[str, float] = {}
    for j in jobs:
        by_group[j["group"] or ""] = by_group.get(j["group"] or "", 0.0) + 1
    wall = sum(traced_walls)
    out = dict(times)
    out.update({
        "exec.jobs": tot["jobs"] / n,
        "exec.stages": tot["stages"] / n,
        "exec.tasks": tot["tasks"] / n,
        "exec.task_s": tot["task_s"] / n,
        "exec.python_s": tot["python_s"] / n,
        "exec.busy_frac": tot["task_s"] / (wall * cores()),
        "exec.shuffle_write_mb": tot["shuffle_write_mb"] / n,
        "exec.shuffle_read_mb": tot["shuffle_read_mb"] / n,
        "exec.input_mb": tot["input_mb"] / n,
        "exec.spill_mb": tot["spill_mb"] / n,
        "operators.build_jobs": sum(v for g, v in by_group.items() if g.endswith(":build")) / n,
        "operators.unattributed_jobs": by_group.get("", 0.0) / n,
        "session.pinned_rdds": float(hyg["pinned_rdds"]),
        "session.storage_mb": hyg["storage_mb"],
        "trace.overhead_frac": statistics.median(traced_walls) / statistics.median(bare_walls) - 1.0,
    })
    out.update(codecs)
    if wl.name == "registry_sweep":
        out.update(wl.layer_metrics())
        record = key_record(wl, tracer, jobs, n)
    else:
        out.update(wl.layer_metrics(by_group))
        record = {"passes": wl.layer}
    return out, record


def key_record(wl, tracer, jobs, n) -> dict:
    """Per key: median build/plan/exec seconds over the traced passes,
    per-phase Spark job totals (per pass), plan fingerprint, and the
    session-hygiene counters read after each traced pass."""
    from spans import job_totals

    phases = ("build", "plan", "exec")
    per: dict[str, dict] = {}
    for s in tracer.spans:
        if s["name"] in phases:
            per.setdefault(s["key"], {}).setdefault(s["name"], []).append(s["end"] - s["start"])
    out = {}
    for key, rec in wl.records.items():
        row = {"class": rec["class"], "fingerprint": rec["fingerprint"],
               "hygiene": rec["hygiene"]}
        for ph in phases:
            row[f"{ph}_s"] = statistics.median(per.get(key, {}).get(ph, [0.0]))
            tot = job_totals([j for j in jobs if j["group"] == f"{key}:{ph}"])
            row[ph] = {k: v / n for k, v in tot.items()}
        out[key] = row
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    check_checkout()
    if args.setup_probe:
        setup_probe(args)
        return 0
    trace = bool(args.trace)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    prepare_env(run_dir)
    import datagen  # noqa: F401 - imported before any set-up is timed

    marks = [("start", time.perf_counter())]  # where a run's wall time goes
    dirs = data_dirs(args.seed)
    marks.append(("inputs", time.perf_counter()))
    setups = probe_setups(args, SETUPS - 1)
    spark, tracer, wl, seconds, times = setup(args, run_dir, dirs, trace)
    setups.append(seconds)
    marks.append(("setups", time.perf_counter()))

    wl.settle()
    marks.append(("settle", time.perf_counter()))
    times["warmup.s"] += marks[-1][1] - marks[-2][1]
    attempted = failed = 0
    samples: dict[str, list[float]] = {}  # operation -> seconds, untraced passes
    walls: list[float] = []  # untraced passes
    traced_walls: list[float] = []
    windows: list[tuple[float, float]] = []
    # closed loop, one client: whole passes.  Their number comes from
    # --seconds and the workload's nominal pass time, not from a clock,
    # so a slower program runs the same passes (later passes are faster:
    # a clock-stopped run would weigh a slower program's early passes
    # more).  A traced run alternates traced and bare passes.
    passes = max(wl.min_passes, round(args.seconds / wl.nominal_pass_s))
    for i in range(passes):
        traced = trace and i % 2 == 0
        d = dirs[1 + i % PASS_INPUTS]
        w0, t0 = time.time(), time.perf_counter()
        ops = wl.run_pass(d, traced=traced)
        wall = time.perf_counter() - t0
        (traced_walls if traced else walls).append(wall)
        if traced:
            windows.append((w0, time.time()))
        attempted += len(ops)
        failed += sum(1 for _, _, ok in ops if not ok)
        if not traced:
            for name, s, ok in ops:
                if ok:
                    samples.setdefault(name, []).append(s)
    marks.append(("measure", time.perf_counter()))
    n_checks, n_bad = wl.check(dirs[0])
    marks.append(("check", time.perf_counter()))
    attempted += n_checks
    failed += n_bad
    from spans import hygiene

    hyg = hygiene(spark)
    rss = vm_hwm_mb(os.getpid())
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        rss += vm_hwm_mb(proc.pid)
    codecs = {}
    if trace:
        from codec_probe import probe

        codecs = probe(dirs[0], args.seed)
    stop_session(spark)
    marks.append(("finish", time.perf_counter()))

    if trace:
        metrics, record = per_layer(wl, tracer, times, windows, walls, traced_walls,
                                    hyg, codecs, run_dir)
        units = declared_units("per_layer")
        # a layer the workload does not run reports 0
        metrics = {name: metrics.get(name, 0.0) for name in units}
    else:
        metrics = end_to_end(setups, samples, rss)
        record = {}
        units = declared_units("end_to_end")
    n_samples = sum(len(v) for v in samples.values())
    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "setups_s": setups, "passes": passes, "op_samples": n_samples,
        "phases_s": {b[0]: b[1] - a[1] for a, b in zip(marks, marks[1:])},
        "metrics": metrics, "samples": samples,
        "spans": tracer.spans, "keys": record,
    }
    rec_dir = os.path.join(WORK, "records")
    os.makedirs(rec_dir, exist_ok=True)
    rec_path = os.path.join(rec_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(rec_path, "w") as f:
        json.dump(summary, f, indent=1, default=str)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(
        f"perfbench: {args.workload} seed={args.seed} passes={passes} samples={n_samples} "
        f"setups={[round(s, 2) for s in setups]} record={rec_path}",
        file=sys.stderr,
    )
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": metrics[name], "unit": unit} for name, unit in units.items()},
    }
    print(json.dumps(result))
    return 0


def declared_units(section: str) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


if __name__ == "__main__":
    sys.exit(main())
