#!/usr/bin/env python3
"""Benchmark for the vulnerability-database engine.

    python3 vulnbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. One process is one closed-loop client on
``local[N]``, N = the CPUs this process may use. It writes the seed's
inputs under ``.vulnbench/``, starts the Spark session through
``session.get_spark`` (timed as ``setup_s``), then runs passes one at a
time until ``S`` seconds of passes have been measured, at least one:

- ``dbgen_fixture``: one pass is ``plans.pipeline.run`` followed by
  ``sinks.memdb.update_db`` over the seed's rewrite of the fixture feed
  corpus, i.e. what ``python -m vul_dbgen_spark`` does after setup.
- ``catalog_mix``: one pass runs each query of ``CATALOG_MIX`` in list
  order, as its ``fn`` call plus a full materialisation to Spark's
  ``noop`` sink, over tables drawn from the seed.

Each pass's output is checked after its timed section. The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` (one
attempt per dbgen pass, one per catalog query) and ``metrics``: the
end-to-end metrics with ``--trace 0``; with ``--trace 1`` the per-layer
metrics of a run whose layers are wrapped in spans (``tracing.py``).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".vulnbench")

sys.path.insert(0, HERE)

import checks  # noqa: E402
import inputs  # noqa: E402
from procstat import cpu_ticks, steal_ratio_since, tree_cpu_s, vm_hwm_mb  # noqa: E402
from tracing import Tracer, self_times  # noqa: E402

WORKLOADS = ("dbgen_fixture", "catalog_mix")

# one query per operator family that fits the run budget, run in this
# order: the cold pass's length depends on the order (each query's
# first-use cost depends on what ran before it), so a seed-permuted order
# would spread the metric across seeds; the notes give the measurements
CATALOG_MIX = [
    "q3_shipping_priority",
    "q5_region_revenue",
    "w1_running_total",
    "asof_order_before_event",
    "dedup_clusters",
    "bm25_topk",
    "ts_gapfill_locf",
]

# every feed the pipeline registers, for the per-feed trace metrics
FEEDS = [
    "alpine", "amazon", "chainguard", "debian", "mariner", "oracle", "photon",
    "redhat", "rocky", "suse", "ubuntu", "wolfi",
    "ghsa", "govuln", "k8s", "manual", "nginx", "openshift", "openssl", "ruby",
    "nvd",
]
LAYERS = ("sources", "plans", "enrich", "sinks", "queries")
DB_VERSION = "1.0"
UPDATE_TIME = "2024-01-01T00:00:00+00:00"

REQUIRED = (
    "vul_dbgen_spark/__init__.py",
    "fixtures/vul-source",
    "tools/gen_pipeline_scale.py",
    "tests/test_sink.py",
)


def per_layer_names() -> list[tuple[str, str]]:
    """(name, unit) of every metric a traced run reports."""
    out = [
        ("sources.build_s", "s"),
        ("sources.py4j_calls", "count"),
        ("sources.exec_s", "s"),
        ("sources.rows_out", "count"),
        ("sources.files_in", "count"),
        ("sources.input_bytes", "B"),
    ]
    out += [(f"sources.{feed}.exec_s", "s") for feed in FEEDS]
    out += [
        ("plans.namespacing.rows_out", "count"),
        ("plans.upsert.rows_in", "count"),
        ("plans.upsert.rows_out", "count"),
        ("plans.upsert.kept_ratio", "1"),
        ("plans.self_s", "s"),
        ("plans.shuffle_bytes", "B"),
        ("enrich.self_s", "s"),
        ("enrich.nvd_hit_ratio", "1"),
        ("enrich.gate_kept_ratio", "1"),
        ("enrich.shuffle_bytes", "B"),
        ("sinks.format_s", "s"),
        ("sinks.update_db_self_s", "s"),
        ("sinks.rows", "count"),
        ("sinks.read_s", "s"),
        ("sinks.db_bytes", "B"),
    ]
    for layer in LAYERS:
        out += [
            (f"{layer}.jobs", "count"),
            (f"{layer}.tasks", "count"),
            (f"{layer}.failed_tasks", "count"),
            (f"{layer}.executor_run_s", "s"),
            (f"{layer}.gc_s", "s"),
            (f"{layer}.shuffle_write_bytes", "B"),
        ]
    out.append(("spark.core_busy_ratio", "1"))
    for q in CATALOG_MIX:
        out += [(f"queries.{q}.s", "s"), (f"queries.{q}.jobs", "count")]
    out += [
        ("queries.build_s", "s"),
        ("queries.exec_s", "s"),
        ("trace.pass_s", "s"),
        ("trace.pass_cpu_s", "s"),
        ("host.steal_ratio", "1"),
        ("failed_ratio", "1"),
    ]
    return out


END_TO_END = [
    ("setup_s", "s"),
    ("cold_pass_s", "s"),
    ("cold_pass_cpu_s", "s"),
    ("driver_peak_rss_mb", "MB"),
    ("jvm_peak_rss_mb", "MB"),
]


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def layer_metrics(tracer, passes: int, pass_walls: list[float], cores: int, facts: dict) -> dict:
    """Per-layer metrics from the spans of a traced run, per pass."""
    spans = tracer.spans
    selfs = self_times(spans)
    n = max(passes, 1)
    m: dict[str, float] = {name: 0.0 for name, _ in per_layer_names()}

    def add(name: str, v: float) -> None:
        m[name] += v / n

    for s in spans:
        parts = s.name.split(".")
        is_exec = parts[-1] == "exec"
        if s.layer in LAYERS:
            c = s.counts
            add(f"{s.layer}.jobs", c["jobs"])
            add(f"{s.layer}.tasks", c["tasks"])
            add(f"{s.layer}.failed_tasks", c["failed_tasks"])
            add(f"{s.layer}.executor_run_s", c["executor_run_ms"] / 1000)
            add(f"{s.layer}.gc_s", c["gc_ms"] / 1000)
            add(f"{s.layer}.shuffle_write_bytes", c["shuffle_write_bytes"])
            if s.layer in ("plans", "enrich"):
                add(f"{s.layer}.shuffle_bytes", c["shuffle_write_bytes"] + c["shuffle_read_bytes"])
                add(f"{s.layer}.self_s", selfs.get(s.sid, 0.0))
        if s.layer == "sources":
            if is_exec:
                add("sources.exec_s", s.duration)
                if parts[1] in FEEDS:
                    add(f"sources.{parts[1]}.exec_s", s.duration)
            else:
                add("sources.build_s", selfs.get(s.sid, 0.0))
                add("sources.py4j_calls", s.counts["py4j_calls"])
        elif s.name in ("sinks.os_vuln_lines", "sinks.app_vuln_lines"):
            add("sinks.format_s", s.duration)
        elif s.name == "sinks.update_db":
            add("sinks.update_db_self_s", selfs.get(s.sid, 0.0))
        elif s.name == "sinks.read_db_file":
            add("sinks.read_s", s.duration)
        elif s.layer == "queries":
            q = parts[1]
            add(f"queries.{q}.jobs", s.counts["jobs"])
            if len(parts) == 2:
                add(f"queries.{q}.s", s.duration)
            elif parts[2] == "build":
                add("queries.build_s", s.duration)
            elif is_exec:
                add("queries.exec_s", s.duration)

    rows = tracer.rows
    add("sources.rows_out", rows["sources.rows_out"])
    add("plans.namespacing.rows_out", rows["plans.namespacing.rows_out"])
    add("plans.upsert.rows_in", rows["plans.upsert.rows_in"])
    add("plans.upsert.rows_out", rows["plans.upsert.rows_out"])
    m["plans.upsert.kept_ratio"] = _ratio(rows["plans.upsert.rows_out"], rows["plans.upsert.rows_in"])
    m["enrich.nvd_hit_ratio"] = _ratio(rows["enrich.meta.nvd_hits"], rows["enrich.meta.rows"])
    gate_in = sum(v for k, v in rows.items() if k.startswith("enrich.assign_") and k.endswith(".rows_in"))
    m["enrich.gate_kept_ratio"] = _ratio(rows["enrich.gate.rows_out"], gate_in)
    busy = sum(s.counts["executor_run_ms"] for s in spans) / 1000
    m["spark.core_busy_ratio"] = _ratio(busy, sum(pass_walls) * cores)
    m["trace.pass_s"] = statistics.median(pass_walls)
    m.update(facts)
    return m


# --- passes ---------------------------------------------------------------


class NoTrace:
    """Stand-in for ``tracing.Tracer`` in untraced runs."""

    def span(self, name: str):
        return contextlib.nullcontext()

    def charge_orphans(self) -> None:
        pass


def dbgen_pass(spark, corpus: str, out_dir: str) -> dict[str, str]:
    from vul_dbgen_spark.plans import pipeline
    from vul_dbgen_spark.sinks import memdb

    os_out, app_out = pipeline.run(spark, corpus)
    return memdb.update_db(os_out, app_out, out_dir, version=DB_VERSION, update_time=UPDATE_TIME)


class PassClock:
    """Wall time, process-tree CPU time and host steal of one pass."""

    def __init__(self) -> None:
        self.cpu0 = tree_cpu_s(os.getpid())
        self.ticks0 = cpu_ticks()
        self.t0 = time.perf_counter()

    def stop(self, res: dict) -> None:
        res["times"].append(time.perf_counter() - self.t0)
        res["cpu"].append(tree_cpu_s(os.getpid()) - self.cpu0)
        res["steal"].append(steal_ratio_since(self.ticks0))
        res["rss"] = max(res["rss"], vm_hwm_mb())


def new_result() -> dict:
    return {
        "times": [], "cpu": [], "steal": [], "attempted": 0, "failed": 0,
        "rss": 0.0, "facts": {},
    }


def run_dbgen(spark, tracer, info, seconds, work, log) -> dict:
    offset = info["id_offset"]
    pinned = checks.pinned_shas(offset)
    golden = checks.golden_counts()
    res = new_result()
    while not res["times"] or sum(res["times"]) < seconds:
        out_dir = inputs.fresh_dir(os.path.join(work, f"db{res['attempted']}"))
        res["attempted"] += 1
        clock = PassClock()
        try:
            with tracer.span("pass"):
                shas = dbgen_pass(spark, info["data"], out_dir)
            clock.stop(res)
            tracer.charge_orphans()
            problems, files = checks.check_db(out_dir, shas, pinned, golden)
        except Exception as exc:  # noqa: BLE001 - a pass that raises is a failed pass
            if len(res["times"]) < res["attempted"]:
                clock.stop(res)
            problems, files = [f"pass raised {type(exc).__name__}: {exc}"], {}
        if problems:
            res["failed"] += 1
            log(f"pass {res['attempted']} FAILED: " + "; ".join(problems))
        log(
            f"pass {res['attempted']}: {res['times'][-1]:.3f} s, cpu {res['cpu'][-1]:.2f} s, "
            f"steal {res['steal'][-1]:.1%} (id offset {offset})"
        )
        res["facts"] = {
            "sinks.rows": float(
                sum(len(b.splitlines()) for k, b in files.items() if k.endswith("_full.tb") or k == "apps.tb")
            ),
            "sinks.db_bytes": float(
                sum(os.path.getsize(os.path.join(out_dir, f)) for f in os.listdir(out_dir))
            ),
        }
    return res


def run_catalog(spark, tracer, info, seconds, work, log) -> dict:
    from vul_dbgen_spark.queries import catalog

    res = new_result()
    while not res["times"] or sum(res["times"]) < seconds:
        frames, problems, query_s = {}, {}, {}
        clock = PassClock()
        with tracer.span("pass"):
            for name in CATALOG_MIX:
                res["attempted"] += 1
                q0 = time.perf_counter()
                try:
                    with tracer.span(f"queries.{name}"):
                        with tracer.span(f"queries.{name}.build"):
                            df = catalog.REGISTRY[name].fn(spark, info["data"])
                        with tracer.span(f"queries.{name}.exec"):
                            df.write.format("noop").mode("overwrite").save()
                    frames[name] = df
                    query_s[name] = time.perf_counter() - q0
                except Exception as exc:  # noqa: BLE001 - a query that raises is a failure
                    problems[name] = [f"{name} raised {type(exc).__name__}: {exc}"]
        clock.stop(res)
        tracer.charge_orphans()
        for name, df in frames.items():
            try:
                rows = [tuple(r) for r in df.collect()]
                found = checks.check_query(
                    name, df.columns, rows, info["oracle"][name],
                    catalog.REGISTRY[name].expect_empty,
                )
            except Exception as exc:  # noqa: BLE001 - a failed read-back is a failure
                found = [f"{name} collect raised {type(exc).__name__}: {exc}"]
            if found:
                problems[name] = found
        res["failed"] += len(problems)
        for found in problems.values():
            log("FAILED: " + "; ".join(found))
        log(
            f"pass {len(res['times'])}: {res['times'][-1]:.3f} s, cpu {res['cpu'][-1]:.2f} s, "
            f"steal {res['steal'][-1]:.1%}; "
            + ", ".join(f"{q} {t:.3f}" for q, t in query_s.items())
        )
    return res


# --- one run ----------------------------------------------------------------


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def run(args, work: str, log) -> dict:
    cores = int(os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0)))))
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub))
    # keep Spark's, the JVM's and Python's scratch files inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"

    gen_args = [sys.executable, os.path.join(HERE, "inputs.py"), args.workload, str(args.seed), work]
    if args.workload == "catalog_mix":
        gen_args += CATALOG_MIX
    subprocess.run(gen_args, check=True, cwd=ROOT, stdout=sys.stderr)
    with open(os.path.join(work, "inputs.json"), encoding="utf-8") as f:
        info = json.load(f)
    log(f"inputs: {info['files']} files, {info['bytes']} bytes")

    sys.path.insert(0, ROOT)
    from vul_dbgen_spark import session

    t0 = time.perf_counter()
    spark = session.get_spark("vulnbench")
    setup_s = time.perf_counter() - t0
    try:
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        if args.trace:
            tracer = Tracer(spark)
            tracer.count_py4j()
            if args.workload == "dbgen_fixture":
                tracer.wrap_pipeline()
        else:
            tracer = NoTrace()
        runner = run_dbgen if args.workload == "dbgen_fixture" else run_catalog
        res = runner(spark, tracer, info, args.seconds, work, log)
        jvm_rss = vm_hwm_mb(jvm_pid)
    finally:
        stop_spark(spark)

    if args.trace:
        facts = dict(res["facts"])
        facts["sources.files_in"] = float(info["files"])
        facts["sources.input_bytes"] = float(info["bytes"])
        facts["failed_ratio"] = res["failed"] / res["attempted"]
        facts["trace.pass_cpu_s"] = statistics.median(res["cpu"])
        facts["host.steal_ratio"] = statistics.median(res["steal"])
        metrics = layer_metrics(tracer, len(res["times"]), res["times"], cores, facts)
        units = dict(per_layer_names())
        write_trace(tracer, args)
    else:
        metrics = {
            "setup_s": setup_s,
            "cold_pass_s": res["times"][0],
            "cold_pass_cpu_s": res["cpu"][0],
            "driver_peak_rss_mb": res["rss"],
            "jvm_peak_rss_mb": jvm_rss,
        }
        units = dict(END_TO_END)
    log(f"passes: {len(res['times'])}, median {statistics.median(res['times']):.3f} s")
    return {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }


def write_trace(tracer, args) -> None:
    """Write the run's spans, kept in memory until now, to ``.vulnbench/traces``."""
    selfs = self_times(tracer.spans)
    out = os.path.join(WORK, "traces")
    os.makedirs(out, exist_ok=True)
    spans = [
        {
            "id": s.sid, "name": s.name, "parent": s.parent,
            "start": s.start, "end": s.end, "self": selfs.get(s.sid),
            "counts": dict(s.counts),
        }
        for s in tracer.spans
    ]
    path = os.path.join(out, f"{args.workload}-seed{args.seed}.json")
    with open(path, "w", encoding="utf-8") as f:
        json.dump({"spans": spans, "rows": dict(tracer.rows)}, f)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"vulnbench: not a checkout of the engine, missing {missing}", file=sys.stderr)
        return 2

    def log(msg: str) -> None:
        print(f"[vulnbench {args.workload} seed={args.seed}] {msg}", file=sys.stderr, flush=True)

    work = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = run(args, work, log)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
