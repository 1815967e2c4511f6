"""Repository benchmark: seeded workloads through the program's public entry
points, correctness-checked, printing one JSON result line.

Run from the repository root:

    python3 perfbench/run.py --workload cadence_hourly --seed 0 --seconds 13 --trace 0

Workloads: ``cadence_hourly`` (hourly ticks of the reference graph) and
``corpus_day`` (a corpus day, a corrections merge and a maintenance pass).
``--seconds`` sets the amount of measured cadence work: a run does as many
hourly ticks as fit in that time at the tick's nominal speed (at least
two), so the work is the same on every run; a corpus run is one day
whatever ``--seconds``. ``--trace 0`` measures end-to-end metrics with no
instrumentation. ``--trace 1`` wraps each
layer's entry points in spans and prints the per-layer metrics instead; it
also writes the spans to ``.perfbench/traces/<workload>-seed<seed>.json``
and a per-layer self-time table to the ``.txt`` beside it, with the tracing
overhead against the last untraced run of the same workload and seed, when
there is one. ``BENCHMARK.json`` lists the metrics;
``perfbench/layer_map.json`` says which end-to-end metric each layer metric
should move.

The process uses one Spark driver in ``local[nproc]`` with ``nproc``
shuffle partitions and a fixed 1 GiB driver heap, and keeps every file it
writes under ``.perfbench/`` in the repository root. It exits 1 when a
correctness check fails and 2 when the program is not present.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
DRIVER_MEM = "1g"


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _configure_env(run_dir: Path, nproc: int) -> None:
    """Size Spark for this machine and keep its files inside ``run_dir``."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_GRAFT_SHUFFLE"] = str(nproc)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["TMPDIR"] = str(tmp)
    # every JVM, the spark-submit launcher's included: temp files here, no
    # hsperfdata under the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # Python workers unpickle closures that import the program
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )


def peak_rss_mb(jvm_pid: int | None) -> float:
    """VmHWM of this process plus that of the JVM, in MiB: an upper bound on
    their joint peak. The Python workers are left out: how many the JVM
    keeps forked varies from run to run."""
    kb = 0
    for pid in (os.getpid(), jvm_pid):
        if pid is None:
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


def _jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _walk_parquet(root: str):
    """(files, bytes, leaf directories holding parquet files)."""
    files = size = 0
    leaves = 0
    for dirpath, _dirs, names in os.walk(root):
        pq = [n for n in names if n.endswith(".parquet")]
        if pq:
            leaves += 1
            files += len(pq)
            size += sum(os.path.getsize(os.path.join(dirpath, n)) for n in pq)
    return files, size, leaves


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------
def end_to_end(session_s: float, out, rss_mb: float) -> dict:
    from perfbench.workloads import median

    return {
        "setup_s": (session_s + median(out.setup_reps) + out.setup_once_s, "s"),
        "unit_p50_ms": (1e3 * median(out.units), "ms"),
        "job_s": (out.job_s, "s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }


def _ancestor(spans_by_id: dict, sp: dict, name: str) -> dict | None:
    p = sp["parent"]
    while p is not None:
        anc = spans_by_id[p]
        if anc["name"] == name:
            return anc
        p = anc["parent"]
    return None


def layer_metrics(tracer, ctx, out, session_s: float) -> dict:
    """Per-layer metrics of a traced run. Times of layers that only one
    workload reaches are shares (%) of the traced run's wall time, session
    start to the end of the measured phase; on the other workload they
    read 0."""
    from perfbench.workloads import (
        CADENCE_GROUPS,
        CADENCE_MODELS,
        CORPUS_ASSETS,
        READ_KINDS,
        median,
    )

    unit_kind = out.unit_kind
    spans = tracer.spans
    by_id = {sp["id"]: sp for sp in spans}
    dur = lambda sp: sp["end"] - sp["start"]  # noqa: E731
    pct = lambda s: 100.0 * s / tracer.wall_s()  # noqa: E731

    # asset time = its fn span plus the write of its output by run_partition
    asset_group = {sp["asset"]: sp["group"] for sp in spans if sp["name"] == "orchestration.asset"}
    asset_s = dict.fromkeys(asset_group, 0.0)
    unit_s = {sp["unit"]: dur(sp) for sp in spans if sp["name"] == f"unit.{unit_kind}"}
    covered = 0.0
    for sp in spans:
        if sp["name"] == "orchestration.asset":
            asset_s[sp["asset"]] += dur(sp)
        elif sp["name"] == "io.write" and sp["table"] in asset_group:
            parent = by_id.get(sp["parent"])
            if parent is None or parent["name"] != "orchestration.run_partition":
                continue
            asset_s[sp["table"]] += dur(sp)
        else:
            continue
        if sp["unit"] in unit_s:
            covered += dur(sp)
    group_s = dict.fromkeys(CADENCE_GROUPS, 0.0)
    for a, secs in asset_s.items():
        if asset_group[a] in group_s:
            group_s[asset_group[a]] += secs

    plan_s = 0.0
    model_s = dict.fromkeys(CADENCE_MODELS, 0.0)
    models_run = 0
    for sp in spans:
        if _ancestor(by_id, sp, "runner.run_datamart") is None:
            continue
        if sp["name"] == "spark.sql":
            plan_s += dur(sp)
        elif sp["name"] in ("io.write", "io.read") and sp["table"] in model_s:
            model_s[sp["table"]] += dur(sp)
            models_run += sp["name"] == "io.write"
    exec_s = tracer.total("runner.run_datamart") - plan_s

    files = size = leaves = 0
    for root in out.stores:
        f, b, n = _walk_parquet(root)
        files, size, leaves = files + f, size + b, leaves + n
    listed = 0
    if out.listed_table:
        listed = _walk_parquet(os.path.join(out.stores[-1], out.listed_table))[2]

    su = [u[1:] for u in ctx.spark_units if u[0] == unit_kind]
    per_unit = [statistics.fmean(col) for col in zip(*su)] or [0.0] * 3

    return {
        "session.get_spark_s": (session_s, "s"),
        "sources.requests": (tracer.counts.get("sources.requests", 0), "count"),
        "sources.retries": (tracer.counts.get("sources.retries", 0), "count"),
        "orchestration.run_partition_calls": (tracer.calls("orchestration.run_partition"), "count"),
        "orchestration.run_partition_s": (tracer.total("orchestration.run_partition"), "s"),
        # share of the units' time inside asset fns and their output writes
        "orchestration.unit_cover_pct": (
            100.0 * covered / sum(unit_s.values()) if unit_s else 0.0, "%"),
        **{f"orchestration.asset_pct.{g}": (pct(s), "%") for g, s in group_s.items()},
        **{f"orchestration.asset_pct.{a}": (pct(asset_s.get(a, 0.0)), "%")
           for a in CORPUS_ASSETS},
        "io.write_calls": (tracer.calls("io.write"), "count"),
        "io.write_s": (tracer.total("io.write"), "s"),
        "io.read_calls": (tracer.calls("io.read"), "count"),
        "io.read_s": (tracer.total("io.read"), "s"),
        "io.merge_pct": (pct(tracer.total("io.merge")), "%"),
        "io.compact_pct": (pct(tracer.total("io.compact")), "%"),
        "io.write_bucketed_pct": (pct(tracer.total("io.write_bucketed")), "%"),
        "io.files_written": (files, "count"),
        "io.bytes_written": (size, "bytes"),
        "io.files_per_partition": (files / leaves if leaves else 0.0, "files/dir"),
        "io.partitions_in_table": (listed, "count"),
        "corpus.maintenance_pct": (pct(tracer.total("corpus.maintenance")), "%"),
        "runner.models_run": (models_run, "count"),
        "runner.plan_pct": (pct(plan_s), "%"),
        "runner.exec_pct": (pct(exec_s), "%"),
        **{f"runner.model_exec_pct.{k}": (pct(s), "%") for k, s in model_s.items()},
        **{f"reads.{k}_p50_ms": (1e3 * median(out.reads.get(k)), "ms")
           for k in READ_KINDS},
        "spark.jobs_per_unit": (per_unit[0], "count"),
        "spark.stages_per_unit": (per_unit[1], "count"),
        "spark.tasks_per_unit": (per_unit[2], "count"),
        "trace.unit_p50_ms": (1e3 * median(out.units), "ms"),
        "trace.bookkeeping_ms": (1e3 * tracer.bookkeeping_s, "ms"),
    }


def _result_line(correct: bool, out, metrics: dict) -> str:
    return json.dumps({
        "correct": correct,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    })


def main(argv=None) -> int:
    args = _parse(argv)
    if not (ROOT / "aave_etl_spark" / "__init__.py").is_file():
        print(f"perfbench: no program under {ROOT}/aave_etl_spark", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench.trace import Tracer, format_self_time_table
    from perfbench.workloads import WORKLOADS, Ctx, instrument, median

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    nproc = _nproc()
    base = ROOT / ".perfbench"
    run_dir = base / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    _configure_env(run_dir, nproc)
    tracer = Tracer() if args.trace else None

    t0 = time.perf_counter()
    from aave_etl_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        # a fixed-size heap: peak RSS then tracks the program, not the
        # collector's heap-growth decisions
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}",
    }
    if tracer:
        with tracer.span("session.get_spark"):
            spark = get_spark(app_name="perfbench", extra_conf=conf)
    else:
        spark = get_spark(app_name="perfbench", extra_conf=conf)
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")

    ctx = Ctx(spark=spark, seed=args.seed, seconds=args.seconds, run_dir=str(run_dir),
              tracer=tracer)
    try:
        if tracer:
            instrument(tracer, spark)
        out = WORKLOADS[args.workload](ctx)
        rss = peak_rss_mb(_jvm_pid())
        layers = layer_metrics(tracer, ctx, out, session_s) if tracer else None
    finally:
        if tracer:
            tracer.restore()
        _stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e = end_to_end(session_s, out, rss)
    correct = not out.errors
    for err in out.errors[:20]:
        print(f"CHECK FAILED: {err}")
    print(f"workload={args.workload} seed={args.seed} clients=1 "
          f"local[{nproc}] shuffle={nproc} driver_mem={DRIVER_MEM} trace={args.trace}")
    rate = out.failed / out.attempted if out.attempted else 0.0
    table = {
        **{k: (v, u) for k, (v, u) in e2e.items()},
        **{k: (v, u) for k, (v, u, _n) in out.table.items()},
        **{f"read_{k}_p50_ms": (1e3 * median(v), "ms") for k, v in out.reads.items()},
        "error_rate": (rate, "ratio"),
    }
    notes = {k: n for k, (_v, _u, n) in out.table.items()}
    for k, (v, u) in table.items():
        print(f"  {k:<18} {v:12.4f} {u:<6} {notes.get(k, '')}")

    results = base / "results"
    results.mkdir(parents=True, exist_ok=True)
    key = f"{args.workload}-seed{args.seed}"
    if tracer is None:
        (results / f"{key}.json").write_text(json.dumps({k: v for k, (v, _u) in table.items()}))
        metrics = e2e
    else:
        metrics = layers
        untraced = results / f"{key}.json"
        overhead = None
        if untraced.exists():
            ref = json.loads(untraced.read_text())["unit_p50_ms"]
            overhead = {
                "untraced_unit_p50_ms": ref,
                "traced_unit_p50_ms": e2e["unit_p50_ms"][0],
                "overhead_ms": e2e["unit_p50_ms"][0] - ref,
                "overhead_pct": 100.0 * (e2e["unit_p50_ms"][0] - ref) / ref if ref else None,
            }
        self_times = tracer.self_times()
        traces = base / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        path = traces / f"{key}.json"
        tracer.dump(str(path), {
            "workload": args.workload, "seed": args.seed,
            "job_s": out.job_s,
            "self_time_s": self_times,
            "tracing_overhead": overhead,
            "tracing_bookkeeping_ms": 1e3 * tracer.bookkeeping_s,
            "per_layer": {k: v for k, (v, _u) in layers.items()},
        })
        if overhead:
            note = (f"tracing overhead: traced unit p50 {overhead['traced_unit_p50_ms']:.1f} ms"
                    f" - untraced {overhead['untraced_unit_p50_ms']:.1f} ms"
                    f" = {overhead['overhead_ms']:+.1f} ms ({overhead['overhead_pct']:+.1f}%)")
        else:
            note = ("tracing overhead: no untraced run of this workload and seed to compare;"
                    f" bookkeeping {1e3 * tracer.bookkeeping_s:.1f} ms")
        report = f"{format_self_time_table(self_times, tracer.wall_s())}\n{note}\n"
        path.with_suffix(".txt").write_text(report)
        print(report, end="")
        print(f"spans: {path}, self-time table: {path.with_suffix('.txt')}")
    print(_result_line(correct, out, metrics))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
