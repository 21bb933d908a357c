"""One benchmark run in a fresh driver process.

Started by ``run.py`` as ``python3 perfbench/driver.py <spec.json>``, with
``PERFBENCH_SPAWN_T`` holding the wall-clock time just before the spawn.
It sets up (see ``Run.setup``), runs whole passes until the
requested seconds have elapsed, verifies the first pass's outputs untimed,
and writes a JSON record to ``spec["out"]``. ``--setup-only`` imports the
metadata-plane modules, prints the time it was ready and exits;
``mesh_split`` uses it to time fresh interpreters.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _ROOT not in sys.path:
    sys.path.insert(0, _ROOT)

from perfbench import sparkstats  # noqa: E402
from perfbench import workloads as W  # noqa: E402
from perfbench.tracing import Probe, Tracer  # noqa: E402

SPARK_WORKLOADS = ("warehouse", "fixpoint", "dbt_build")
_SPARK_COUNTERS = ("jobs", "stages", "skipped_stages", "tasks", "shuffle_read_bytes",
                   "shuffle_write_bytes", "spill_bytes", "input_bytes", "output_bytes",
                   "executor_run_s", "executor_cpu_s", "gc_s")


def _import_metadata_plane() -> None:
    import dbt_meshify_spark.cli  # noqa: F401
    import dbt_meshify_spark.plans.grouper  # noqa: F401
    import dbt_meshify_spark.plans.selectors  # noqa: F401


def vm_hwm_kb(pid: int | str = "self") -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def tail_percentile(n: int) -> int:
    """Highest whole percentile with at least ten samples beyond it; the
    maximum (100) when there are fewer than 20 samples."""
    return int(100 * (n - 10) / n) if n >= 20 else 100


def percentile(values: list[float], pct: float) -> float:
    vals = sorted(values)
    k = (len(vals) - 1) * pct / 100
    lo = int(k)
    hi = min(lo + 1, len(vals) - 1)
    return vals[lo] + (vals[hi] - vals[lo]) * (k - lo)


def fresh_interpreter_setup() -> float:
    """Seconds from spawning ``driver.py --setup-only`` until it is ready."""
    t0 = time.time()
    out = subprocess.run([sys.executable, os.path.abspath(__file__), "--setup-only"],
                         capture_output=True, text=True, timeout=60, check=True)
    return float(out.stdout.split()[-1]) - t0


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


class Run:
    def __init__(self, spec: dict) -> None:
        self.spec = spec
        self.name = spec["workload"]
        self.trace = bool(spec["trace"])
        self.ctx = W.Context(root=spec["root"], work=spec["work"],
                             data_dir=spec.get("data_dir", ""), extras=spec.get("extras", {}))
        self.tracer = Tracer(self.trace)
        self.records: list[dict] = []
        self.kept: dict = {}
        self.passes: list[dict] = []
        self.probes: dict[str, Probe] = {}
        self.jvm_pid = None
        self.cores = os.cpu_count() or 1
        self.versions: dict = {}

    # -- set-up ------------------------------------------------------------------

    def setup(self, t_spawn: float) -> list[float]:
        """Set-up samples, the first from process start. Spark workloads:
        one cold set-up (interpreter, imports, JVM, session, warm-up); a
        second in this driver would start from a warm JVM and measure
        something else. ``mesh_split``: interpreter plus imports, here and
        in two fresh interpreters."""
        if self.name not in SPARK_WORKLOADS:
            _import_metadata_plane()
            samples = [time.time() - t_spawn]
            self.session = {"import_s": samples[0], "start_s": 0.0, "warm_s": 0.0}
            return samples + [fresh_interpreter_setup() for _ in range(2)]
        phases = W.spark_setup(self.ctx)
        samples = [time.time() - t_spawn]
        self.session = dict(phases, import_s=samples[0] - phases["start_s"] - phases["warm_s"])
        sc = self.ctx.spark.sparkContext
        self.jvm_pid = int(sc._jvm.java.lang.ProcessHandle.current().pid())
        self.cores = int(sc.defaultParallelism)
        self.versions = {"java": sc._jvm.java.lang.System.getProperty("java.version")}
        return samples

    def install_probes(self) -> None:
        """Traced runs: count calls into each layer's public functions."""
        from dbt_meshify_spark.plans import (changes, contracts, grouper, selectors, splitter,
                                             versions)
        from dbt_meshify_spark.project import loader, runner
        from dbt_meshify_spark.sources import registry

        def file_bytes(args, kwargs, out):
            return {"bytes": os.path.getsize(args[0]) if os.path.exists(args[0]) else 0}

        def change_count(args, kwargs, out):
            return {"changes": sum(len(cs) for cs in args[1])}

        table = {
            "sources.load": (registry, "load_table", None),
            "project.load": (loader.SparkProject, "load", None),
            "project.build": (runner.ProjectRunner, "build", None),
            "plans.build_subproject": (splitter, "build_subproject", None),
            "plans.resolve_selection": (selectors, "resolve_selection", None),
            "plans.initialize": (splitter.SubprojectCreator, "initialize", None),
            "plans.create_group": (grouper, "create_group", None),
            "plans.contract": (contracts, "generate_contract_from_columns", None),
            "plans.add_version": (versions, "add_version", None),
            "plans.bump_version": (versions, "bump_version", None),
            "plans.process": (changes.ChangeSetProcessor, "process", change_count),
            "plans.read_yaml": (changes, "read_yaml", file_bytes),
            "plans.write_yaml": (changes, "write_yaml", None),
        }
        for key, (owner, attr, measure) in table.items():
            self.probes[key] = Probe(owner, attr, measure).install()

    # -- timed passes ------------------------------------------------------------

    def pass_ops(self) -> list[W.Op]:
        ctx = self.ctx
        if self.name == "warehouse":
            return W.query_ops(ctx, W.WAREHOUSE_QUERIES)
        if self.name == "fixpoint":
            return W.query_ops(ctx, W.FIXPOINT_TIMED)
        if self.name == "dbt_build":
            return W.dbt_ops(ctx)
        return W.mesh_ops(ctx)

    def _mark(self):
        if not self.trace or self.ctx.spark is None:
            return None
        return self.tracer.timed(sparkstats.job_mark, self.ctx.spark)

    def run_pass(self) -> None:
        ops = self.pass_ops()
        index = len(self.passes)
        for p in self.probes.values():
            p.reset()
        tr = self.tracer
        p_span = tr.open(f"pass{index}", "pass")
        mark0 = self._mark()
        t_start = time.time()
        for op in ops:
            rec = {"op": op.name, "layer": op.layer, "pass": index, "ok": True}
            span = tr.open(op.name, "op", p_span, layer=op.layer)
            b_span = tr.open("build", "phase", span)
            a_span = None
            m0 = self._mark()
            t0 = time.perf_counter()
            t1 = m1 = out = None
            try:
                handle = op.build()
                t1 = time.perf_counter()
                tr.close(b_span)
                m1 = self._mark()
                a_span = tr.open("action", "phase", span)
                out = op.action(handle)
            except Exception as e:  # noqa: BLE001 - a raising op is a failed op
                rec.update(ok=False, error=f"{type(e).__name__}: {e}"[:500])
                if t1 is None:
                    t1 = time.perf_counter()
                    m1 = self._mark()
            t2 = time.perf_counter()
            m2 = self._mark()
            tr.close(a_span)
            tr.close(span)
            rec.update(latency_s=t2 - t0, build_s=t1 - t0, action_s=t2 - t1)
            rec["_trace"] = (span, b_span, a_span, m0, m1, m2)
            self.records.append(rec)
            if index == 0 and rec["ok"]:
                self.kept.setdefault(op.name, out)
        t_end = time.time()
        mark1 = self._mark()
        tr.close(p_span)
        self.passes.append({
            "wall_s": t_end - t_start, "start": t_start, "end": t_end,
            "marks": (mark0, mark1), "warehouse": self.ctx.extras.get("warehouse"),
            "probes": {k: {"calls": p.calls, "seconds": p.seconds, **p.extra}
                       for k, p in self.probes.items()},
        })

    # -- verification -------------------------------------------------------------

    def verify(self) -> list[W.Check]:
        if self.name in ("warehouse", "fixpoint"):
            return W.verify_queries(self.ctx, self.kept)
        if self.name == "dbt_build":
            return [W.verify_build(name, out) for name, out in self.kept.items()]
        checks = []
        for i, spec in enumerate(self.ctx.extras["projects"]):
            steps = [f"{step}:{i}" for step in ("split", "group", "contract", "version")]
            root = self.kept.get(steps[-1])
            if not all(s in self.kept for s in steps):
                checks.append(W.Check(steps[0], False, "the first cycle did not complete"))
            else:
                checks += W.verify_mesh(spec, root, i)
        return checks

    # -- trace analysis ------------------------------------------------------------

    def spark_layers(self) -> dict[str, float]:
        """Spark totals over every pass, attributed to operations by job-ID
        range; adds one span per job to the trace."""
        spark = self.ctx.spark
        sparkstats.drain(spark)
        m = {f"spark.{k}": 0.0 for k in _SPARK_COUNTERS}
        m["queries.build_jobs"] = 0.0
        busy = 0.0
        for index, p in enumerate(self.passes):
            intervals = []
            for rec in (r for r in self.records if r["pass"] == index):
                span, b_span, a_span, m0, m1, m2 = rec["_trace"]
                rec["jobs"] = {}
                for phase, lo, hi, parent in (("build", m0, m1, b_span),
                                              ("action", m1, m2, a_span)):
                    rs = sparkstats.collect(spark, lo, hi)
                    rec["jobs"][phase] = [j.job_id for j in rs.jobs]
                    for job in rs.jobs:
                        self.tracer.add(f"job{job.job_id}", "job", parent or span, job.start,
                                        job.end, [job.job_id], stages=job.stage_ids,
                                        tasks=job.tasks)
                        intervals.append((job.start, job.end))
                    if parent is not None:
                        parent.job_ids = rec["jobs"][phase]
                    m["spark.jobs"] += len(rs.jobs)
                    m["spark.stages"] += rs.stages
                    m["spark.skipped_stages"] += rs.skipped_stages
                    m["spark.tasks"] += rs.tasks
                    for k, v in rs.counters.items():
                        m[f"spark.{k}"] += v
                    if phase == "build" and rec["layer"] == "queries":
                        m["queries.build_jobs"] += len(rs.jobs)
                span.job_ids = rec["jobs"]["build"] + rec["jobs"]["action"]
            busy += sparkstats.busy_seconds(intervals, p["start"], p["end"])
        m["spark.exec_s"] = busy
        # Cross-check: jobs the store saw submitted inside a pass, found by
        # time rather than by ID range.
        starts = sparkstats.job_starts(spark)
        self.attribution = {
            "per_op_jobs": [len(r["jobs"]["build"]) + len(r["jobs"]["action"])
                            for r in self.records],
            "store_jobs_in_passes": sum(
                1 for t in starts.values()
                for p in self.passes if p["start"] <= t <= p["end"]),
        }
        return m

    def layer_metrics(self) -> dict[str, float]:
        """Per-layer metrics for one pass (totals divided by the pass count;
        shares and utilisation are over all passes)."""
        n = len(self.passes)
        wall = sum(p["wall_s"] for p in self.passes)
        if self.ctx.spark is not None:
            m = self.spark_layers()
        else:
            m = {f"spark.{k}": 0.0 for k in _SPARK_COUNTERS + ("exec_s",)}
            m["queries.build_jobs"] = 0.0
            self.attribution = {"per_op_jobs": [0] * len(self.records),
                                "store_jobs_in_passes": 0}
        m["spark.driver_idle_s"] = wall - m["spark.exec_s"]
        m["queries.build_s"] = sum(r["build_s"] for r in self.records if r["layer"] == "queries")

        def probe(key, field="seconds"):
            return float(sum(p["probes"].get(key, {}).get(field, 0) for p in self.passes))

        m["sources.load_calls"] = probe("sources.load", "calls")
        m["sources.load_s"] = probe("sources.load")
        m["project.load_s"] = probe("project.load")
        m["project.build_s"] = probe("project.build")
        m["project.models_built"] = m["project.tests_run"] = 0.0
        if self.name == "dbt_build":
            for r in self.records:
                out = self.kept.get(r["op"]) if r["pass"] == 0 and r["ok"] else None
                if out is not None:
                    m["project.models_built"] += n * sum(
                        s == "ok" for s in out[0].statuses.values())
                    m["project.tests_run"] += n * len(out[1])
        m["project.warehouse_bytes"] = float(sum(
            _du(p["warehouse"]) for p in self.passes if p["warehouse"]))
        m["plans.select_s"] = probe("plans.build_subproject") + probe("plans.resolve_selection")
        m["plans.plan_s"] = sum(probe(k) for k in ("plans.initialize", "plans.create_group",
                                                    "plans.contract", "plans.add_version",
                                                    "plans.bump_version"))
        m["plans.apply_s"] = probe("plans.process")
        m["plans.changes"] = probe("plans.process", "changes")
        m["plans.yaml_reads"] = probe("plans.read_yaml", "calls")
        m["plans.yaml_read_bytes"] = probe("plans.read_yaml", "bytes")
        m["plans.yaml_writes"] = probe("plans.write_yaml", "calls")
        out = {k: v / n for k, v in m.items()}
        out["spark.slot_util"] = m["spark.executor_run_s"] / (wall * self.cores)
        out["queries.build_share"] = m["queries.build_s"] / wall
        return out


def tally(records: list[dict], checks: list[W.Check]) -> tuple[int, int, set[str]]:
    """Operations attempted, operations failed, and the failing names. An
    operation fails when it raised or when a verification check on its
    output failed; every execution of a failing operation counts."""
    bad = {r["op"] for r in records if not r["ok"]} | {c.op for c in checks if not c.ok}
    return len(records), sum(r["op"] in bad for r in records), bad


def main(argv: list[str]) -> int:
    if argv[1:] == ["--setup-only"]:
        _import_metadata_plane()
        print(repr(time.time()), flush=True)
        return 0
    t_spawn = float(os.environ["PERFBENCH_SPAWN_T"])
    with open(argv[1]) as fh:
        spec = json.load(fh)
    run = Run(spec)
    setups = run.setup(t_spawn)
    if run.trace:
        run.install_probes()
    t_window = time.time()
    while True:
        run.run_pass()
        if time.time() - t_window >= float(spec["seconds"]):
            break
    hwm_kb = vm_hwm_kb() + (vm_hwm_kb(run.jvm_pid) if run.jvm_pid else 0)
    t_post = time.time()
    layers = run.layer_metrics() if run.trace else {}
    post_s = time.time() - t_post
    checks = run.verify()
    phases = {"setup_end": t_window - t_spawn, "window_end": t_post - t_spawn,
              "verify_end": time.time() - t_spawn}

    latencies = [r["latency_s"] for r in run.records]
    walls = [p["wall_s"] for p in run.passes]
    attempted, failed, bad_ops = tally(run.records, checks)
    pct = tail_percentile(len(latencies))
    if run.trace:
        layers.update({
            "ops.tail_s": percentile(latencies, pct),
            "ops.fail_frac": failed / attempted,
            **{f"session.{k}": v for k, v in run.session.items()},
            "trace.wall_s": statistics.median(walls),
            "trace.overhead_s": run.tracer.overhead_s / len(walls),
            "trace.post_s": post_s,
        })
        run.tracer.dump(os.path.join(spec["work"], "spans.json"))
    record = {
        "workload": run.name, "seed": spec["seed"], "trace": run.trace,
        "correct": not bad_ops, "attempted": attempted, "failed": failed,
        "e2e": {
            "setup_s": statistics.median(setups),
            "wall_s": statistics.median(walls),
            "op_p50_s": statistics.median(latencies),
            "peak_rss_mb": hwm_kb / 1024.0,
        },
        "layers": layers,
        "setup_samples_s": setups,
        "pass_walls_s": walls,
        "tail": {"percentile": pct, "n": len(latencies)},
        "ops": [{k: v for k, v in r.items() if k != "_trace"} for r in run.records],
        "checks": [vars(c) for c in checks],
        "attribution": getattr(run, "attribution", None),
        "cores": run.cores,
        "versions": run.versions,
        "phases_s": phases,
    }
    with open(spec["out"], "w") as fh:
        json.dump(record, fh)
    return 0


if __name__ == "__main__":
    code = main(sys.argv)
    sys.stdout.flush()
    # ``run.py`` kills this process group once the record is written;
    # skipping the JVM's orderly shutdown saves seconds per run.
    os._exit(code)
