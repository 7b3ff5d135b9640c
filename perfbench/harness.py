"""Session lifetime, the pass loop, and the metrics a run reports."""

from __future__ import annotations

import os
import shutil
import signal
import time
import traceback

import pyspark

import spans
import workloads

CLK_TCK = os.sysconf("SC_CLK_TCK")


def workload_class(name: str):
    if name not in workloads.WORKLOADS:
        raise SystemExit(f"unknown workload {name!r}; choose from {sorted(workloads.WORKLOADS)}")
    return workloads.WORKLOADS[name]


# ---------------------------------------------------------------------------
# processes (from /proc; psutil is not installed)
# ---------------------------------------------------------------------------


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2 :].split()  # fields from 3 (state) on


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds of ``root`` and every live descendant, including
    children they have reaped (utime + stime + cutime + cstime)."""
    total = 0
    for pid in [root, *descendants(root)]:
        st = _stat(pid)
        if st is not None:
            total += sum(int(x) for x in st[11:15])
    return total / CLK_TCK


def jit_cpu_s(pid: int) -> float:
    """CPU seconds of the JVM's JIT compiler threads (part of a pass's
    CPU; recorded apart because it keeps falling for several passes)."""
    total = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if "CompilerThre" not in f.read():
                    continue
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        total += sum(int(x) for x in raw[raw.rindex(")") + 2 :].split()[11:13])
    return total / CLK_TCK


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------


class Session:
    """The package's session (``session.get_spark``) on a driver JVM
    that this process starts, and stops again in :meth:`close`. With
    ``listen``, a listener logs every streaming micro-batch's progress."""

    def __init__(self, work: str, listen: bool):
        from weather4cast_bigdata_spark.session import get_spark

        self.spark = get_spark(
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                # scan nodes are matched by input path; keep it unabridged
                "spark.sql.maxMetadataStringLength": "10000",
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            }
        )
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self.jvm_pid = self.sc._gateway.proc.pid
        self.store = spans.StatusStore(self.sc)
        self.progress = None
        if listen:  # streaming progress, for traced runs
            self.progress = spans.ProgressLog()
            self.spark.streams.addListener(self.progress)

    def close(self) -> None:
        """Stop Spark and wait for the JVM and every process below it
        (the Python worker daemon and its workers) to end."""
        kids = descendants(os.getpid())
        gateway = self.sc._gateway
        self.spark.stop()
        gateway.shutdown()
        proc = gateway.proc
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
        deadline = time.time() + 20
        while time.time() < deadline:
            alive = [p for p in kids if _stat(p) is not None and _stat(p)[0] != "Z"]
            if not alive:
                return
            time.sleep(0.1)
        for p in alive:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


# ---------------------------------------------------------------------------
# passes
# ---------------------------------------------------------------------------


class Run:
    """One workload's passes in one session: a first pass in the fresh
    session, then steady passes. Each pass starts from a clean output
    dir and releases every RDD it left persisted, after counting them."""

    def __init__(self, session: Session, wl, out_root: str):
        self.s, self.wl, self.out_root = session, wl, out_root
        self.passes: list[dict] = []
        self.traces: list[list[spans.Span]] = []
        self.progress: list[dict] = []

    def measure(self, seconds: float, traced: bool) -> None:
        """The first pass, then steady passes until ``seconds`` have
        passed: at least one, and with ``traced`` at least one traced
        and one untraced, alternating."""
        self._pass(traced=False)
        self.wl.reference(self.s.spark)
        self._check(self.passes[0])
        t0 = time.time()
        kinds = [True, False] if traced else [False]
        while True:
            steady = len(self.passes) - 1
            self._check(self._pass(traced=kinds[steady % len(kinds)]))
            if time.time() - t0 >= seconds and steady + 1 >= len(kinds):
                break

    def _pass(self, traced: bool) -> dict:
        i = len(self.passes)
        sc, store = self.s.sc, self.s.store
        out = os.path.join(self.out_root, f"pass{i}")
        shutil.rmtree(self.out_root, ignore_errors=True)
        os.makedirs(self.out_root)
        before = store.persisted_rdd_ids()
        group = f"pass{i}"
        tracer = spans.Tracer(sc, group) if traced else None
        if tracer is None:
            sc.setJobGroup(group, group)
        n_progress = len(self.s.progress.events) if self.s.progress else 0
        cpu0, jit0 = tree_cpu_s(os.getpid()), jit_cpu_s(self.s.jvm_pid)
        t0 = time.time()
        result, error = None, None
        try:
            result = self.wl.run_pass(self.s.spark, out, tracer)
        except Exception:  # a failed pass is counted, not fatal
            error = traceback.format_exc()
        t1 = time.time()
        cpu, jit = tree_cpu_s(os.getpid()) - cpu0, jit_cpu_s(self.s.jvm_pid) - jit0
        spans.clear_job_group(sc)

        # outside the timed interval: leak census, then hygiene
        leaked = store.persisted_rdd_ids() - before
        rdds = sc._jsc.getPersistentRDDs()
        for rid in leaked:
            rdds.get(rid).unpersist(False)
        self.s.spark.catalog.clearCache()
        # one client: every job submitted during the pass is the pass's
        # (the streaming ingest runs its jobs under the query's own group)
        jobs = [j for j in store.jobs() if t0 <= j.submitted <= t1]
        rec = {
            "i": i,
            "traced": traced,
            "wall_s": t1 - t0,
            "cpu_s": cpu,
            "jit_cpu_s": jit,
            "loadavg_1m": os.getloadavg()[0],
            "jobs": len(jobs),
            "stages": len({s for j in jobs for s in j.stage_ids}),
            "persisted_rdds_after": len(leaked),
            "scan_reads": scan_reads(self.s, self.wl, jobs),
            "staged_reads": staged_reads(self.s, self.wl, jobs),
            "result": result,
            "error": error,
            "ok": None,
        }
        if tracer is not None:
            spans.attach_job_metrics(store, tracer.spans, jobs)
            self.traces.append(tracer.spans)
            self.progress += self.s.progress.events[n_progress:]
        self.passes.append(rec)
        return rec

    def _check(self, rec: dict) -> None:
        rec["ok"] = rec["error"] is None and bool(self.wl.check(rec["result"]))

    # ------------------------------------------------------------------
    def record(self, **extra) -> dict:
        first, steady = self.passes[0], self.passes[1:]
        plain = [p for p in steady if not p["traced"]]
        traced = [p for p in steady if p["traced"]]
        med = spans.median
        end_to_end = {
            "setup_s": _m(extra["setup_s"], "s"),
            "first_pass_s": _m(first["wall_s"], "s"),
            "pass_s": _m(med([p["wall_s"] for p in plain]), "s"),
            "pass_cpu_s": _m(med([p["cpu_s"] for p in plain]), "s"),
        }
        per_layer = {}
        if traced:
            per_layer = self._per_layer(plain, traced)
        walls = [p["wall_s"] for p in plain]
        t = spans.tail(walls)
        return {
            **extra,
            "pyspark": pyspark.__version__,
            "attempted": len(self.passes),
            "failed": sum(not p["ok"] for p in self.passes),
            "end_to_end": end_to_end,
            "per_layer": per_layer,
            "pass_tail": None if t is None else {"value_s": t[0], "percentile": t[1], "n": t[2]},
            "passes": [
                {k: v for k, v in p.items() if k != "result"} for p in self.passes
            ],
        }

    def _per_layer(self, plain: list[dict], traced: list[dict]) -> dict:
        med = spans.median
        out = {}
        for name, field, unit in workloads.PER_LAYER:
            vals = []
            for tr in self.traces:
                per_pass = [s for s in tr if s.name == name]
                vals.append(sum(_span_value(s, field) for s in per_pass))
            out[f"{name}.{field}"] = _m(med(vals), unit)
        for name, key in PROGRESS_FIELDS.items():
            vals = [float(e[key]) for e in self.progress]
            out[f"streaming.progress.{name}"] = _m(med(vals) if vals else 0.0, PROGRESS_UNITS[name])
        out["streaming.staged_rows_read_per_row"] = _m(
            med([p["staged_reads"] for p in plain]), "ratio"
        )
        out["spark.jobs_per_pass"] = _m(med([p["jobs"] for p in plain]), "count")
        out["spark.stages_per_pass"] = _m(med([p["stages"] for p in plain]), "count")
        out["scan.reads_per_input"] = _m(med([p["scan_reads"] for p in plain]), "ratio")
        out["session.persisted_rdds_after_pass"] = _m(
            med([p["persisted_rdds_after"] for p in plain]), "count"
        )
        out["process.jit_cpu_s"] = _m(med([p["jit_cpu_s"] for p in plain]), "s")
        out["process.jvm_peak_rss_mb"] = _m(peak_rss_mb(self.s.jvm_pid), "MB")
        out["tracing_overhead_s"] = _m(
            med([p["wall_s"] for p in traced]) - med([p["wall_s"] for p in plain]), "s"
        )
        return out


# streaming progress metric -> field of a ProgressLog event
PROGRESS_FIELDS = {
    "add_batch_ms": "addBatch",
    "trigger_ms": "triggerExecution",
    "planning_ms": "queryPlanning",
    "latest_offset_ms": "latestOffset",
    "commit_ms": "commitOffsets",
    "rows_per_batch": "numInputRows",
}
PROGRESS_UNITS = {k: ("count" if k == "rows_per_batch" else "ms") for k in PROGRESS_FIELDS}


def per_layer_units() -> list[tuple[str, str]]:
    """Every per-layer metric a traced run reports, with its unit, in
    the order the run reports them."""
    return [(f"{n}.{f}", u) for n, f, u in workloads.PER_LAYER] + [
        *((f"streaming.progress.{k}", u) for k, u in PROGRESS_UNITS.items()),
        ("streaming.staged_rows_read_per_row", "ratio"),
        ("spark.jobs_per_pass", "count"),
        ("spark.stages_per_pass", "count"),
        ("scan.reads_per_input", "ratio"),
        ("session.persisted_rdds_after_pass", "count"),
        ("process.jit_cpu_s", "s"),
        ("process.jvm_peak_rss_mb", "MB"),
        ("tracing_overhead_s", "s"),
    ]


def _span_value(s: spans.Span, field: str) -> float:
    if field in s.metrics:
        return float(s.metrics[field])
    return float(s.counts.get(field, 0))


def _m(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def scan_reads(session: Session, wl, jobs) -> float:
    """Input rows the pass's scans read, divided by the input's size:
    1.0 means no branch of the plan read the input twice."""
    rows = spans.scan_rows(session.spark, {j.job_id for j in jobs}, wl.scan_format, wl.scan_path)
    return rows / wl.scan_rows


def staged_reads(session: Session, wl, jobs) -> float:
    """Rows the streaming ingest read back from its staging lake,
    divided by the rows it staged (0 for a workload without it)."""
    staged = getattr(wl, "staged_rows", 0)
    if not staged:
        return 0.0
    return spans.scan_rows(session.spark, {j.job_id for j in jobs}, "parquet", "/staging") / staged


def write_spans(path: str, run: Run, record: dict) -> None:
    flat = []
    for i, tr in enumerate(run.traces):
        for s in tr:
            s.counts["trace"] = i
            flat.append(s)
    spans.write_spans(
        path, flat, {k: record[k] for k in ("workload", "seed", "mode", "cpus", "props")}
    )
