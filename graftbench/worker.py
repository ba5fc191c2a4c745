"""One benchmark run inside a fresh Spark JVM.

Started by ``run.py`` as its own process session; generates the
workload's inputs, sets up ``SETUP_REPS`` times, warms up, measures
closed-loop passes for the window, checks every result, and writes
``result.json`` (metrics) and ``artifact.json`` (raw samples, spans,
per-kind breakdown) into the run directory.

Traced runs measure an untraced window first (the ``trace.overhead``
base), then the traced window whose spans and job groups feed the
per-layer metrics.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from contextlib import contextmanager, nullcontext

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from graftbench import eventlog  # noqa: E402
from graftbench.checks import Checker, parse_rendered  # noqa: E402
from graftbench.workloads import SETUP_REPS, WORKLOADS, Op  # noqa: E402

MIN_PASSES = 3  # measured passes per window, however long they take
_now = time.perf_counter


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def steal_s() -> float:
    """Host CPU time stolen from this VM so far (all CPUs), from /proc/stat."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def host_probe() -> float:
    """A fixed pure-Python loop: a calm-host reading taken before each
    pass. Recorded only; never used to drop or rescale anything."""
    t0 = _now()
    acc = 0
    for i in range(300_000):
        acc ^= i * 2654435761 & 0xFFFF
    return _now() - t0


class Tracer:
    """Spans kept in memory: (name, start, end, parent index)."""

    def __init__(self):
        self.spans: list[tuple[str, float, float, int]] = []
        self.stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        parent = self.stack[-1] if self.stack else -1
        self.spans.append((name, _now(), 0.0, parent))
        idx = len(self.spans) - 1
        self.stack.append(idx)
        try:
            yield
        finally:
            self.stack.pop()
            n, s, _, p = self.spans[idx]
            self.spans[idx] = (n, s, _now(), p)

    def self_times(self) -> dict[str, float]:
        """Total self time per span name (duration minus children)."""
        child = [0.0] * len(self.spans)
        for name, s, e, p in self.spans:
            if p >= 0:
                child[p] += e - s
        out: dict[str, float] = {}
        for i, (name, s, e, _) in enumerate(self.spans):
            key = name.split("#")[0]
            out[key] = out.get(key, 0.0) + (e - s) - child[i]
        return out


class Worker:
    def __init__(self, cfg: dict):
        self.cfg = cfg
        self.root = cfg["root"]
        self.cpus = cfg["cpus"]
        self.traced = bool(cfg["trace"])
        self.checker = Checker()
        self.tracer = Tracer()
        self.layer: dict[str, list[float]] = {}
        self.kinds: dict[str, list[float]] = {}
        self.cached_mb = 0.0
        self.steal: list[float] = []

    # ------------------------------------------------------------ set-up

    @contextmanager
    def timer(self, name: str):
        t0 = _now()
        with self.tracer.span(name):
            yield
        self.layer.setdefault(name, []).append(_now() - t0)

    def session(self, rep: int):
        from minoan_athenaeum_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.root, f"warehouse{rep}"),
            "spark.local.dir": os.path.join(self.root, "local"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.traced:
            os.makedirs(os.path.join(self.root, "eventlog"), exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + os.path.join(self.root, "eventlog"),
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "true",
                }
            )
        with self.timer("session.start_s"):
            spark = get_spark(app_name="graftbench", cpus=self.cpus, extra_conf=conf)
        return spark

    def setup(self, wl):
        samples, spark = [], None
        for rep in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            t0 = _now()
            spark = self.session(rep)
            wl.setup(spark, self.timer)
            samples.append(_now() - t0)
        return spark, samples

    # ------------------------------------------------------------ passes

    def run_op(self, spark, op: Op, tag: str, traced: bool) -> float:
        from minoan_athenaeum_spark.queries._util import release_tracked

        sc = spark.sparkContext
        t0 = _now()
        try:
            if traced:
                with self.tracer.span(f"op.{op.kind}#{tag}"):
                    result = self._traced_op(spark, op, tag)
            else:
                built = op.build()
                result = op.act(built)
        except Exception as exc:  # noqa: BLE001 - counted as a failed op
            print(f"[graftbench] {op.name} failed: {exc!r}"[:400], file=sys.stderr)
            self.checker.record_error(op.check_key)
            result = None
        dt = _now() - t0
        if traced:
            self.cached_mb = max(self.cached_mb, cached_mb(sc))
        release_tracked()
        if result is not None:
            self.checker.record(op.check_key, parse_rendered(result) if isinstance(result, str) else result)
        self.kinds.setdefault(op.kind, []).append(dt)
        return dt

    def _traced_op(self, spark, op: Op, tag: str):
        from minoan_athenaeum_spark.sink import format_results

        sc = spark.sparkContext
        group = f"{tag}:{op.name}"
        sc.setJobGroup(f"{group}:build", op.name)
        with self.tracer.span(f"build.{op.kind}"):
            built = op.build()
        if built is not None:
            sc.setJobGroup(f"{group}:plan", op.name)
            with self.tracer.span("plan"):
                built._jdf.queryExecution().executedPlan()
        sc.setJobGroup(f"{group}:action", op.name)
        with self.tracer.span("action"):
            if op.kind == "strict":
                rows = built.collect()
            else:
                result = op.act(built)
        if op.kind == "strict":
            with self.tracer.span("sink.format"):
                result = format_results(_Collected(built, rows))
        sc.setLocalProperty("spark.jobGroup.id", None)
        return result

    def run_pass(self, spark, wl, tag: str, traced: bool) -> float:
        wl.restore()
        total = 0.0
        with self.tracer.span(f"pass#{tag}") if traced else nullcontext():
            for op in wl.ops():
                dt = self.run_op(spark, op, tag, traced)
                total += dt
                wl.after_op(op, dt, traced)
        wl.after_pass()
        return total

    def window(self, spark, wl, label: str, traced: bool) -> tuple[list[float], list[float]]:
        passes, probes = [], []
        start = _now()
        while _now() - start < self.cfg["seconds"] or len(passes) < MIN_PASSES:
            probes.append(host_probe())
            stolen = steal_s()
            passes.append(self.run_pass(spark, wl, f"{label}{len(passes)}", traced))
            self.steal.append(steal_s() - stolen)
        return passes, probes

    # -------------------------------------------------------------- main

    def run(self) -> None:
        phases = {"start": _now()}
        wl = WORKLOADS[self.cfg["workload"]](self.root, self.cfg["seed"])
        phases["inputs"] = _now()
        spark, setup = self.setup(wl)
        phases["setup"] = _now()
        warm = [self.run_pass(spark, wl, f"w{i}", False) for i in range(wl.warmup_passes)]
        phases["warmup"] = _now()
        self.kinds.clear()
        for v in wl.samples.values():
            v.clear()
        passes, probes = self.window(spark, wl, "u", False)
        traced_passes = []
        if self.traced:
            ingest_e2e = {k: median(v) for k, v in wl.samples.items()}
            traced_passes, _ = self.window(spark, wl, "t", True)
        phases["window"] = _now()
        extra = wl.finish(spark, self.timer, self.checker)
        phases["finish"] = _now()
        spark.stop()
        phases["stop"] = _now()
        failed, problems = self.checker.evaluate(wl.oracle)
        phases["check"] = _now()
        metrics = {"setup_s": (median(setup), "s"), "pass_s": (median(passes), "s")}
        if self.traced:
            metrics = self.layer_metrics(wl, setup, passes, traced_passes, probes, ingest_e2e, extra)
        out = {
            "correct": failed == 0,
            "attempted": self.checker.attempted(),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
        artifact = {
            "config": self.cfg,
            "problems": problems,
            "phases_s": {k: v - phases["start"] for k, v in phases.items()},
            "setup_s": setup,
            "warmup_s": warm,
            "pass_s": passes,
            "traced_pass_s": traced_passes,
            "host_probe_s": probes,
            "host_steal_s": self.steal,
            "per_kind_s": self.kinds,
            "per_layer_samples": self.layer,
            "workload_samples": wl.samples,
            "spans": self.tracer.spans if self.traced else [],
            "self_s": self.tracer.self_times() if self.traced else {},
        }
        with open(os.path.join(self.root, "artifact.json"), "w") as fh:
            json.dump(artifact, fh)
        with open(os.path.join(self.root, "result.json"), "w") as fh:
            json.dump(out, fh)

    def layer_metrics(self, wl, setup, passes, traced, probes, ingest_e2e, extra) -> dict:
        groups = eventlog.fold(os.path.join(self.root, "eventlog"))
        # Per traced pass: span self-times by layer, event-log sums by phase.
        per_pass: dict[str, dict[str, float]] = {}

        def add(name, tag, value):
            per_pass.setdefault(name, {}).setdefault(tag, 0.0)
            per_pass[name][tag] += value

        tags = [f"t{i}" for i in range(len(traced))]
        for tag in tags:
            for key in ("build_jobs", "plan_s", "action_s", "format_s", "parse_s", "build_s"):
                add(key, tag, 0.0)
        for name, s, e, parent in self.tracer.spans:
            if parent < 0 or not self.tracer.spans[parent][0].startswith("op."):
                continue
            tag = self.tracer.spans[parent][0].split("#")[1]
            if tag not in tags:
                continue
            if name == "plan":
                add("plan_s", tag, e - s)
            elif name == "action":
                add("action_s", tag, e - s)
            elif name == "sink.format":
                add("format_s", tag, e - s)
            elif name == "build.strict":
                add("parse_s", tag, e - s)
            elif name in ("build.query", "build.serve"):
                add("build_s", tag, e - s)
        for group, acc in groups.items():
            tag, _, phase = group.partition(":")
            phase = phase.rsplit(":", 1)[-1]
            if tag not in tags:
                continue
            if phase == "build":
                add("build_jobs", tag, acc["jobs"])
            if phase == "action":
                for f in eventlog.FIELDS:
                    add(f"exec.{f}", tag, acc[f])
        med = {k: median(list(v.values())) for k, v in per_pass.items()}
        ex = lambda f: med.get(f"exec.{f}", 0.0)  # noqa: E731
        run_s, action_s = ex("run_s"), med["action_s"]
        ls = self.layer
        m = {
            "session.start_s": (median(ls.get("session.start_s", [])), "s"),
            "catalog.register_s": (median(ls.get("catalog.register_s", [])), "s"),
            "sources.ensure_s": (median(ls.get("sources.ensure_s", [])), "s"),
            "sources.append_s": (median(_kind(self.tracer, "op.append")), "s"),
            "sources.lookup_s": (median(_kind(self.tracer, "op.lookup")), "s"),
            "sources.files_per_lookup": (median(wl.layer.get("sources.files_per_lookup", [])), "count"),
            "sources.append_bytes_ratio": (median(wl.layer.get("sources.append_bytes_ratio", [])), "ratio"),
            "sources.compact_s": (median(ls.get("sources.compact_s", [])), "s"),
            "sources.compact_bytes_ratio": (extra.get("sources.compact_bytes_ratio", 0.0), "ratio"),
            "ingest.append_s": (ingest_e2e.get("append_s", 0.0), "s"),
            "ingest.serve_s": (ingest_e2e.get("serve_s", 0.0), "s"),
            "ingest.bytes_per_user_byte": (ingest_e2e.get("bytes_per_user_byte", 0.0), "ratio"),
            "queries.build_s": (med["build_s"], "s"),
            "queries.build_jobs": (med["build_jobs"], "count"),
            "plans.parse_s": (med["parse_s"], "s"),
            "sink.format_s": (med["format_s"], "s"),
            "plan.s": (med["plan_s"], "s"),
            "action.s": (action_s, "s"),
            "action.jobs": (ex("jobs"), "count"),
            "action.stages": (ex("stages"), "count"),
            "action.tasks": (ex("tasks"), "count"),
            "exec.run_s": (run_s, "s"),
            "exec.cpu_s": (ex("cpu_s"), "s"),
            "exec.gc_s": (ex("gc_s"), "s"),
            "exec.deser_s": (ex("deser_s"), "s"),
            "exec.sched_wait_s": (ex("sched_wait_s"), "s"),
            "exec.cpu_ratio": (ex("cpu_s") / run_s if run_s else 0.0, "ratio"),
            "exec.slot_util": (run_s / (action_s * self.cpus) if action_s else 0.0, "ratio"),
            "exec.failed_tasks": (ex("failed_tasks"), "count"),
            "exec.shuffle_read_mb": (ex("shuffle_read_mb"), "MB"),
            "exec.shuffle_write_mb": (ex("shuffle_write_mb"), "MB"),
            "exec.spill_mb": (ex("spill_mb"), "MB"),
            "exec.input_mb": (ex("input_mb"), "MB"),
            "spark.cached_mb": (self.cached_mb, "MB"),
            "host.probe_s": (median(probes), "s"),
            "trace.overhead": (median(traced) / median(passes), "ratio"),
        }
        return m


def _kind(tracer: Tracer, prefix: str) -> list[float]:
    return [e - s for name, s, e, _ in tracer.spans if name.startswith(prefix + "#")]


class _Collected:
    """A collected result shaped like the DataFrame ``format_results``
    reads, so the sink's own time is measured apart from the action."""

    def __init__(self, df, rows):
        self.columns, self.schema, self._rows = df.columns, df.schema, rows

    def collect(self):
        return self._rows


def cached_mb(sc) -> float:
    infos = sc._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() for i in infos) / (1024.0 * 1024.0)


if __name__ == "__main__":
    Worker(json.loads(sys.argv[1])).run()
