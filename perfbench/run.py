"""Benchmark of the econdatapipeline_spark engine: daily ingest and the
read surface, closed loop from one Python client.

    python3 perfbench/run.py --workload ingest_daily --seed 1 --seconds 20 --trace 0

Run from the repository root. The last line of stdout is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run records spans and the Spark event log, and the metrics are the
per-layer ones. Everything the run writes goes under ``perfbench/_work``.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
READ_KINDS = (
    "revision_history", "point_lookup", "latest_values", "read_dataset",
    "export_wide", "dataset_stats", "resample_last",
)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("ingest_daily", "read_surface"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


# -- process accounting from /proc --------------------------------------
def process_tree(pid: int) -> list[int]:
    """``pid`` and all its live descendants (the JVM is a child)."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += children.get(p, [])
    return out


def cpu_seconds(pids: list[int]) -> float:
    """User + system CPU seconds of the given processes."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(fields[11]) + int(fields[12])  # utime, stime
    return total / tick


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of VmHWM (peak resident set) of the given processes."""
    kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


# -- session -------------------------------------------------------------
def start_session(work: str, trace: bool):
    from econdatapipeline_spark.session import get_spark  # noqa: PLC0415

    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "1g",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local} -XX:-UsePerfData -Xms1g -XX:TieredStopAtLevel=1 -XX:+UseSerialGC",
    }
    if trace:
        evdir = os.path.join(work, "events")
        os.makedirs(evdir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(
        app_name="perfbench", master="local[1]", shuffle_partitions=1, extra_conf=conf
    )


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext  # noqa: PLC0415

    gateway = SparkContext._gateway  # noqa: SLF001
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — never leave the JVM behind
            proc.kill()
            proc.wait()


def sentinel_s(spark) -> float:
    """Fixed-cost probe (bench.py style): median of three JVM range sums."""
    reps = []
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(10_000_000).selectExpr("sum(id)").collect()
        reps.append(time.perf_counter() - t0)
    return statistics.median(reps)


# -- the closed loop -----------------------------------------------------
def run_ops(ops, records: list, tracer=None, spark=None, wh_root=None) -> None:
    """Run one pass of ops back to back, appending one record per op.

    In a traced run every op is tagged with a job group, and every
    other op of the same label (dataset or read kind) records spans;
    the rest give the untraced baseline for ``trace.overhead_ratio``.
    Labels start out of phase, so a pass has both kinds of op.
    """
    from workloads import warehouse_files  # noqa: PLC0415

    for kind, fn, check in ops:
        i = len(records)
        label = getattr(fn, "label", kind)
        order = list(dict.fromkeys([r["label"] for r in records] + [label]))
        seen = sum(r["label"] == label for r in records)
        traced = tracer is not None and (seen + order.index(label)) % 2 == 0
        if tracer is not None:
            spark.sparkContext.setJobGroup(f"op{i}", kind)
        before = warehouse_files(wh_root) if traced and kind == "run_dataset" else None
        t0 = time.perf_counter()
        try:
            if traced:
                with tracer.op(i, f"op.{kind}"):
                    out = fn(tracer)
            else:
                out = fn(None)
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
            out = exc
        lat = time.perf_counter() - t0
        rec = {"kind": kind, "label": label, "out": out, "check": check, "lat": lat,
               "traced": traced}
        if before is not None:
            after = warehouse_files(wh_root)
            new = [p for p in after if p not in before]
            rec["files_written"] = len(new)
            rec["bytes_written"] = sum(after[p] for p in new)
            rec["user_bytes"] = fn.user_bytes
        records.append(rec)


def op_failed(rec) -> bool:
    if isinstance(rec["out"], Exception):
        return True
    try:
        return not rec["check"](rec["out"])
    except Exception:  # noqa: BLE001 — a checker that cannot read the output fails the op
        return True


def quantile(values, q: float) -> float:
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


def layer_metrics(records, tracer, jobs, stages, extra) -> dict:
    """Roll spans and event-log jobs up into per-op layer metrics."""
    from tracing import PATCHES, self_times, union_seconds  # noqa: PLC0415

    spans = tracer.spans
    selfs = self_times(spans)
    traced = [r for r in records if r["traced"]]
    n_tr = max(1, len(traced))
    by_name: dict[str, float] = {}
    for s in spans:
        by_name[s[1]] = by_name.get(s[1], 0.0) + (s[4] - s[3])
    m = dict(extra)
    for _owner, _attr, name in PATCHES:
        if name != "warehouse.apply_merge":
            m[f"{name}_s"] = by_name.get(name, 0.0) / n_tr
    for name in ("plans.build", "plans.plan", "plans.collect"):
        m[f"{name}_s"] = by_name.get(name, 0.0) / n_tr
    roots = [i for i, s in enumerate(spans) if s[2] is None]
    for kind in READ_KINDS:
        coll = [
            s[4] - s[3] for s in spans
            if s[1] == "plans.collect" and spans[s[2]][1] == f"op.{kind}"
        ]
        m[f"plans.collect_s.{kind}"] = statistics.fmean(coll) if coll else 0.0
    pl = [spans[i][4] - spans[i][3] for i in roots if spans[i][1] == "op.point_lookup"]
    m["warehouse.point_lookup_s"] = statistics.fmean(pl) if pl else 0.0
    ingest_roots = [i for i in roots if spans[i][1] == "op.run_dataset"]
    m["pipeline.self_s"] = (
        statistics.fmean(selfs[i] for i in ingest_roots) if ingest_roots else 0.0
    )
    cover = [1.0 - selfs[i] / (spans[i][4] - spans[i][3]) for i in roots]
    m["trace.span_coverage"] = statistics.fmean(cover) if cover else 0.0
    written = [r for r in traced if "files_written" in r]
    m["warehouse.files_written"] = (
        statistics.fmean(r["files_written"] for r in written) if written else 0.0
    )
    m["warehouse.bytes_written_per_user_byte"] = (
        sum(r["bytes_written"] for r in written) / sum(r["user_bytes"] for r in written)
        if written else 0.0
    )
    # merge.jobs: jobs submitted inside MergeResult.counts, per traced ingest op
    counts_spans = [(s[3], s[4]) for s in spans if s[1] == "merge.counts"]
    m["merge.jobs"] = sum(
        1 for j in jobs.values() if any(a <= j["start"] <= b for a, b in counts_spans)
    ) / max(1, len(ingest_roots))

    per_op = {f"op{i}": [] for i in range(len(records))}
    for j in jobs.values():
        if j["group"] in per_op and j["end"] is not None:
            per_op[j["group"]].append(j)
    agg = {k: 0.0 for k in ("jobs", "stages", "tasks", "job_s", "task_s", "gap_s", "shuf", "gc")}
    for i, rec in enumerate(records):
        js = per_op[f"op{i}"]
        sts = [stages[s] for j in js for s in j["stages"] if s in stages]
        job_s = union_seconds([(j["start"], j["end"]) for j in js])
        agg["jobs"] += len(js)
        agg["stages"] += len(sts)
        agg["tasks"] += sum(s["tasks"] for s in sts)
        agg["job_s"] += job_s
        agg["task_s"] += sum(s["run_s"] for s in sts)
        agg["gap_s"] += max(0.0, rec["lat"] - job_s)
        agg["shuf"] += sum(s["shuffle_bytes"] for s in sts)
        agg["gc"] += sum(s["gc_s"] for s in sts)
    n = max(1, len(records))
    m.update({
        "spark.jobs_per_op": agg["jobs"] / n,
        "spark.stages_per_op": agg["stages"] / n,
        "spark.tasks_per_op": agg["tasks"] / n,
        "spark.job_s": agg["job_s"] / n,
        "spark.task_s": agg["task_s"] / n,
        "spark.driver_gap_s": agg["gap_s"] / n,
        "spark.shuffle_bytes": agg["shuf"] / n,
        "spark.gc_s": agg["gc"] / n,
    })
    # per label: mean traced latency / mean untraced; geometric mean over labels
    ratios = []
    for label in {r["label"] for r in records}:
        tr = [r["lat"] for r in records if r["label"] == label and r["traced"]]
        un = [r["lat"] for r in records if r["label"] == label and not r["traced"]]
        if tr and un:
            ratios.append(statistics.fmean(tr) / statistics.fmean(un))
    m["trace.overhead_ratio"] = statistics.geometric_mean(ratios) if ratios else 1.0
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "econdatapipeline_spark", "__init__.py")):
        print(f"perfbench: no econdatapipeline_spark package under {ROOT}; "
              "run from a full checkout of the repository", file=sys.stderr)
        return 2
    work = os.path.join(WORK, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "spark-local")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    sys.path[:0] = [ROOT, HERE]
    from tracing import Tracer, read_event_log  # noqa: PLC0415
    from workloads import WORKLOADS, table_files  # noqa: PLC0415

    t0 = time.perf_counter()
    spark = start_session(work, bool(args.trace))
    session_s = time.perf_counter() - t0
    try:
        wl = WORKLOADS[args.workload](spark, os.path.join(work, "warehouse"), args.seed)
        t0 = time.perf_counter()
        wl.setup()
        build_s = time.perf_counter() - t0
        passes = wl.passes()
        warm: list = []
        for _ in range(wl.warm_passes):
            run_ops(next(passes), warm)
        errors = list(wl.setup_errors)
        errors += [f"warm op {r['kind']} failed" for r in warm if op_failed(r)]
        gc.collect()
        spark.sparkContext._jvm.System.gc()  # noqa: SLF001 — once, before timing
        tracer = None
        extra = {}
        if args.trace:
            tracer = Tracer()
            tracer.install()
            calib = [sentinel_s(spark)]
        setup_s = time.perf_counter() - T_START

        # Timed region: whole passes until --seconds and the workload's
        # minimum op count are reached, so every run times the same mix.
        # Wall time is the sum of pass times; generating a pass's inputs
        # and expected outputs is left out.
        records: list = []
        pass_times = []
        pids = process_tree(os.getpid())
        cpu0 = cpu_seconds(pids)
        while sum(pass_times) < args.seconds or len(records) < wl.min_ops:
            ops = next(passes)
            p0 = time.perf_counter()
            run_ops(ops, records, tracer, spark, wl.wh.root)
            pass_times.append(time.perf_counter() - p0)
        wall = sum(pass_times)
        cpu = cpu_seconds(pids) - cpu0
        rss = peak_rss_mb(process_tree(os.getpid()))
        if tracer is not None:
            spark.sparkContext.setJobGroup("check", "sentinel and output checks")
            calib.append(sentinel_s(spark))
            tracer.uninstall()
            extra = {
                "session.start_s": session_s,
                "setup.build_s": build_s,
                "warm.drift_ratio": pass_times[-1] / pass_times[0],
                "warehouse.table_files": table_files(wl.wh, wl.up.sources),
                "box.calib_s": statistics.fmean(calib),
            }
        failed = sum(op_failed(r) for r in records)
        errors += wl.final_check()
    finally:
        stop_session(spark)

    lat = [r["lat"] for r in records]
    if tracer is None:
        values = {
            "setup_s": setup_s,
            "ops_per_s": len(records) / wall,
            "latency_p50_s": statistics.median(lat),
            "latency_p90_s": quantile(lat, 0.9),
            "cpu_s_per_op": cpu / len(records),
            "rss_peak_mb": rss,
        }
    else:
        jobs, stages = read_event_log(os.path.join(work, "events"))
        values = layer_metrics(records, tracer, jobs, stages, extra)
        out_dir = os.path.join(WORK, "trace")
        os.makedirs(out_dir, exist_ok=True)
        stem = os.path.join(out_dir, f"{args.workload}-seed{args.seed}")
        tracer.dump(stem + ".spans.json")
        with open(stem + ".layers.json", "w") as fh:
            json.dump(values, fh, indent=1, sort_keys=True)
    # names and units as declared in BENCHMARK.json, which lists every
    # metric a run of this kind prints
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)["per_layer" if tracer is not None else "end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
    print(f"perfbench: setup {setup_s:.2f}s, timed passes "
          + ", ".join(f"{t:.2f}s" for t in pass_times), file=sys.stderr)
    print("perfbench: op latencies "
          + " ".join(f"{r['label']}={r['lat']:.3f}" for r in records), file=sys.stderr)
    for e in errors:
        print(f"perfbench: {e}", file=sys.stderr)
    shutil.rmtree(os.path.join(work, "warehouse"), ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0 and not errors,
        "attempted": len(records),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
