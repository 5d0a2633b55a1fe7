"""Cold/warm, layer-by-layer benchmark of the engine.

Run from the repository root:

    python3 perfbench/run.py --workload tpch_events --seed 1 --seconds 6 --trace 0

One closed-loop client: a single driver process issues the workload's
ops one after another on ``local[N]`` (N = min(3, cores)). Every run is
a fresh process and does the same steps:

1. set up: imports, ``get_spark``, the registry's modules, one trivial job;
2. one cold pass over the ops, with empty in-process memos and an empty
   on-disk model cache for its input (the input is read through a
   per-run copy, and the model cache is keyed by the input's path);
3. warm passes in the same session: whole passes over the ops until
   ``--seconds`` have gone by (at least two).

Each op is timed in two parts from outside the engine: the call into
the program (plan build plus eager driver-side work) and the action.
Outputs are checked outside both parts: every op of the cold pass, every
call of ``trips_ingest``, and, after the warm passes, a seed-rotated
third of the query ops re-built on warm state.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the same
steps with the Spark event log on, one job group per op span, and prints
the per-layer metrics (see README.md). The last stdout line is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import re  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections.abc import Container  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
PACKAGE = "data_engineering_zoomcamp_projects_spark"
WORKLOAD_NAMES = ("tpch_events", "llm_corpus", "trips_ingest")
#: driver JVM heap; the benchmark also pins the initial heap to it, so
#: G1's heap resizing (which varied peak RSS by ~25% between runs of the
#: same code and slowed early passes by a varying amount) stays out of
#: the figures, and the heap does not follow the host's RAM
DRIVER_MEM = "3g"
#: local[N] threads; one of a 4-vCPU host's cores is left to the driver's
#: Python process and the JVM's scheduler, JIT and GC threads (llm_corpus
#: warm_s: median 4.10 s, spread 7% over 5 seeds at N = 3; 4.63 s, 18%
#: over 10 seeds at N = 4)
MAX_CORES = 3
#: warm passes run even when ``--seconds`` end sooner: on a slow host one
#: pass of ``tpch_events`` outlasts the warm phase, and a median of one
#: pass would read the JIT's warm-up
MIN_WARM_PASSES = 2
#: share of the query ops whose warm output is re-checked per run; the
#: re-checks run after every measurement, so the seed does not change
#: what is measured
RECHECK_EVERY = 3
#: how far an op's job-busy time may exceed its wall span before the
#: traced run calls the span mis-tagged (the event log keeps milliseconds)
IDLE_TOLERANCE_S = 0.02

#: per-layer metrics taken for each pass, as (name, unit)
PASS_LAYERS = (
    ("driver.build_s", "s"),
    ("driver.build_jobs", "count"),
    ("driver.idle_s", "s"),
    ("exec.action_s", "s"),
    ("exec.jobs", "count"),
    ("exec.stages", "count"),
    ("exec.tasks", "count"),
    ("sched.delay_s", "s"),
    ("executor.run_s", "s"),
    ("executor.cpu_s", "s"),
    ("executor.gc_s", "s"),
    ("shuffle.write_bytes", "bytes"),
    ("shuffle.read_bytes", "bytes"),
    ("shuffle.fetch_wait_s", "s"),
    ("spill.disk_bytes", "bytes"),
    ("scan.input_bytes", "bytes"),
    ("broadcast.bytes", "bytes"),
    ("broadcast.rows", "count"),
    ("pyudf.boot_s", "s"),
    ("pyudf.init_s", "s"),
    ("pyudf.run_s", "s"),
    ("pyudf.bytes_sent", "bytes"),
)
#: layer metric -> event-log counter summed over an op's build and action
_FROM_LOG = {
    "exec.stages": "stages",
    "exec.tasks": "tasks",
    "sched.delay_s": "sched_delay_s",
    "executor.run_s": "executor_run_s",
    "executor.cpu_s": "executor_cpu_s",
    "executor.gc_s": "executor_gc_s",
    "shuffle.write_bytes": "shuffle_write_bytes",
    "shuffle.read_bytes": "shuffle_read_bytes",
    "shuffle.fetch_wait_s": "shuffle_fetch_wait_s",
    "spill.disk_bytes": "spill_disk_bytes",
    "scan.input_bytes": "scan_input_bytes",
    "broadcast.bytes": "broadcast_bytes",
    "broadcast.rows": "broadcast_rows",
    "pyudf.boot_s": "pyudf_boot_s",
    "pyudf.init_s": "pyudf_init_s",
    "pyudf.run_s": "pyudf_run_s",
    "pyudf.bytes_sent": "pyudf_bytes_sent",
}
INGEST_LAYERS = (
    ("ingest.extract_s", "s"),
    ("ingest.scan_clean_s", "s"),
    ("ingest.write_s", "s"),
    ("ingest.verify_s", "s"),
    ("ingest.files_written", "count"),
    ("ingest.bytes_written", "bytes"),
    ("ingest.stored_bytes_ratio", "ratio"),
)
OTHER_LAYERS = (
    ("session.get_spark_s", "s"),
    ("session.first_job_s", "s"),
    ("trace.cold_overhead_frac", "frac"),
    ("trace.warm_overhead_frac", "frac"),
    ("trace.ungrouped_jobs", "count"),
)
#: per-op metrics, named <op>.<key>
OP_METRICS = (("cold_s", "s"), ("warm_s", "s"), ("cold_jobs", "count"), ("warm_jobs", "count"))
END_TO_END = (
    ("setup_s", "s"),
    ("cold_s", "s"),
    ("warm_s", "s"),
    ("retained_mb", "MB"),
    ("ok_frac", "frac"),
)


def _process_age_s() -> float:
    """Seconds since this process started (the kernel's start time)."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
    except (OSError, ValueError, IndexError):
        return 0.0
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


_AGE_AT_T0 = _process_age_s()


def _host_cpu_s() -> tuple[float, float]:
    """(busy, steal) CPU seconds of the machine: busy is what every
    process has used (idle, iowait and steal left out); steal is the time
    the hypervisor ran something else while a CPU had work."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    tick = os.sysconf("SC_CLK_TCK")
    steal = fields[7] if len(fields) > 7 else 0
    return (sum(fields) - fields[3] - fields[4] - steal) / tick, steal / tick


def _own_cpu_s() -> float:
    """CPU seconds of this process and of its children that have ended
    (the JVM and its Python workers, once the JVM has been waited for)."""
    t = os.times()
    return t.user + t.system + t.children_user + t.children_system


def _host_probe_s() -> float:
    """Seconds a fixed pure-Python loop takes: the machine's speed at the
    time of the run, apart from the engine (median of five)."""
    times = []
    for _ in range(5):
        t = time.perf_counter()
        sum(i * i for i in range(300_000))
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def _status_mb(pid: int | str, field: str) -> float:
    """A memory field of /proc/<pid>/status (VmHWM, VmRSS) in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def testdata_dir(root: Path) -> Path:
    """The read-only seed-42 sf0.1 tables, where TESTDATA.md records them."""
    doc = root / "TESTDATA.md"
    match = re.search(r"\|\s*0\.1\s*\|\s*`([^`]+)`", doc.read_text()) if doc.is_file() else None
    if match is None or not Path(match.group(1)).is_dir():
        raise SystemExit("perfbench: TESTDATA.md names no readable sf0.1 directory")
    return Path(match.group(1))


def alias_testdata(src: Path, alias: Path) -> str:
    """Copy the tables to `alias` and return the tag under which the
    engine's on-disk model cache files state trained on that path."""
    from data_engineering_zoomcamp_projects_spark.catalog import model_cache_path

    shutil.copytree(src, alias)
    return Path(model_cache_path(str(alias), "x", "documents", "")[0]).name[2:]


def model_cache_entries(root: Path, tag: str) -> list[Path]:
    cache_dir = root / ".localdata" / "model_cache"
    return sorted(cache_dir.glob(f"*{tag}*")) if cache_dir.is_dir() else []


def use_work_dir(work: Path) -> int:
    """Create `work` afresh and point the session's cores, heap, Spark
    local dirs and temp files at it; returns the local[N] core count."""
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        (work / sub).mkdir(parents=True)
    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    os.environ |= {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(work / "spark-local"),
        "TMPDIR": str(work / "tmp"),
    }
    return cores


def memo_entries() -> int:
    """Entries held by the engine's module-level ``*_MEMO`` dicts."""
    return sum(
        len(value)
        for name, module in list(sys.modules.items())
        if name.startswith(PACKAGE)
        for attr, value in vars(module).items()
        if attr.endswith("_MEMO") and isinstance(value, dict)
    )


def source_digest(root: Path) -> str:
    h = hashlib.sha256()
    for path in sorted((root / PACKAGE).rglob("*.py")):
        h.update(str(path.relative_to(root)).encode())
        h.update(path.read_bytes())
    return h.hexdigest()[:16]


def git_commit(root: Path) -> str | None:
    if not (root / ".git").exists():
        return None
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


class Run:
    """One benchmark run: its session, passes, spans and failures."""

    def __init__(self, args: argparse.Namespace, root: Path, work: Path):
        self.args = args
        self.root = root
        self.work = work
        self.attempted = 0
        self.failed = 0
        #: tags (``<pass>/<op>``) of the spans counted in ``failed``
        self.failed_tags: set[str] = set()
        self.spark = None
        #: pass name -> op -> (build_s, action_s)
        self.spans: dict[str, dict[str, tuple[float, float]]] = {}
        #: pass name -> wall seconds with checks taken out
        self.pass_wall: dict[str, float] = {}
        self.meta: dict = {}
        self.layers: dict[str, float] = {}

    # -- session ----------------------------------------------------------
    def set_up(self) -> None:
        sys.path.insert(0, str(self.root))
        sys.path.insert(0, str(HERE))
        from data_engineering_zoomcamp_projects_spark.registry import all_queries
        from data_engineering_zoomcamp_projects_spark.session import get_spark

        all_queries()  # imports every op module
        conf = {
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.work / 'tmp'} -XX:-UsePerfData -Xms{DRIVER_MEM}"
            ),
        }
        if self.args.trace:
            (self.work / "eventlog").mkdir()
            conf |= {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (self.work / "eventlog").as_uri(),
                "spark.eventLog.compress": "false",
            }
        t = time.perf_counter()
        self.spark = get_spark(app_name=f"perfbench-{self.args.workload}", extra_conf=conf)
        self.layers["session.get_spark_s"] = time.perf_counter() - t
        self.sc = self.spark.sparkContext
        self.sc.setJobGroup("setup", "setup")
        t = time.perf_counter()
        self.spark.range(1).count()
        self.layers["session.first_job_s"] = time.perf_counter() - t
        self.setup_s = _AGE_AT_T0 + (time.perf_counter() - _T0)
        self.jvm_pid = int(self.sc._jvm.java.lang.ProcessHandle.current().pid())

    def retained_mb(self) -> float:
        """Heap the JVM still holds after a full GC (memos, cached and
        checkpointed frames, broadcast blocks, Spark's status store) plus
        the driver Python process's resident set."""
        gc.collect()
        jvm = self.sc._jvm
        # the first GC drops the driver's last references to unused
        # broadcasts and checkpoints; Spark's cleaner then frees their
        # blocks on its own thread, and the second GC collects those
        jvm.java.lang.System.gc()
        time.sleep(1.0)
        jvm.java.lang.System.gc()
        heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
        self.meta["retained_mb_jvm_heap"] = heap.getUsed() / 2**20
        self.meta["retained_mb_python"] = _status_mb("self", "VmRSS")
        return self.meta["retained_mb_jvm_heap"] + self.meta["retained_mb_python"]

    def tear_down(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None) if gateway is not None else None
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)

    # -- passes -----------------------------------------------------------
    def _fail(self, what: str, tag: str | None = None) -> None:
        """Count one failure; a span (tag) is counted at most once."""
        if tag is not None:
            if tag in self.failed_tags:
                return
            self.failed_tags.add(tag)
        self.failed += 1
        print(f"perfbench: FAILED {what}", file=sys.stderr)

    def _check(self, wl, op: str, tag: str, built, acted) -> float:
        """Check one output under its own job group; returns seconds spent."""
        self.sc.setJobGroup(f"{tag}/check", tag)
        t = time.perf_counter()
        try:
            problem = wl.check(op, built, acted)
        except Exception:
            problem = f"{tag}: check raised\n{traceback.format_exc()}"
        if problem is not None:
            self._fail(problem, tag)
        return time.perf_counter() - t

    def run_pass(self, wl, name: str, check: Container[str]) -> None:
        """Run every op once, in order, and check the outputs of `check`."""
        spans: dict[str, tuple[float, float]] = {}
        checks_s = 0.0
        start = time.perf_counter()
        for op in wl.ops:
            tag = f"{name}/{op}"
            self.attempted += 1
            self.sc.setJobGroup(f"{tag}/build", tag)
            t0 = time.perf_counter()
            try:
                built = wl.build(op, tag)
                t1 = time.perf_counter()
                self.sc.setJobGroup(f"{tag}/action", tag)
                acted = wl.act(op, built)
                t2 = time.perf_counter()
            except Exception:
                self._fail(f"{tag} raised\n{traceback.format_exc()}")
                continue
            spans[op] = (t1 - t0, t2 - t1)
            if op in check:
                checks_s += self._check(wl, op, tag, built, acted)
            wl.release(op, built, acted)
        self.pass_wall[name] = time.perf_counter() - start - checks_s
        self.spans[name] = spans

    def run_workload(self, wl) -> None:
        """Cold pass, then whole warm passes until ``--seconds`` of warm
        time have gone by and at least MIN_WARM_PASSES have run."""
        self.meta["memo_entries_at_cold_start"] = memo_entries()
        self.meta["memos_started"] = "cold" if self.meta["memo_entries_at_cold_start"] == 0 else "warm"
        warm_checked = wl.ops if wl.check_every_pass else ()
        self.run_pass(wl, "cold", check=wl.ops)
        self.meta["memo_entries_after_cold"] = memo_entries()
        deadline = time.perf_counter() + self.args.seconds
        while True:
            self.run_pass(wl, f"warm{len(self.spans)}", check=warm_checked)
            if time.perf_counter() >= deadline and len(self.warm_passes()) >= MIN_WARM_PASSES:
                break
        # before the re-checks, so which ops were re-built does not show
        self.retained = self.retained_mb()
        if not wl.check_every_pass:
            picked = [op for k, op in enumerate(wl.ops) if (k + self.args.seed) % RECHECK_EVERY == 0]
            self.meta["warm_rechecked_ops"] = picked
            for op in picked:
                tag = f"recheck/{op}"
                self.attempted += 1
                self.sc.setJobGroup(f"{tag}/build", tag)
                try:
                    built = wl.build(op, tag)
                except Exception:
                    self._fail(f"{tag} raised\n{traceback.format_exc()}")
                    continue
                self._check(wl, op, tag, built, None)
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def warm_passes(self) -> list[str]:
        return [p for p in self.spans if p.startswith("warm")]

    def warm_median(self, op: str, value) -> float:
        """Median over the op's warm samples of value(pass name)."""
        samples = [value(p) for p in self.warm_passes() if op in self.spans[p]]
        return statistics.median(samples) if samples else 0.0

    # -- metrics ----------------------------------------------------------
    def end_to_end(self) -> dict[str, float]:
        return {
            "setup_s": self.setup_s,
            "cold_s": self.pass_wall["cold"],
            "warm_s": statistics.median(self.pass_wall[p] for p in self.warm_passes()),
            "retained_mb": self.retained,
            "ok_frac": (self.attempted - self.failed) / self.attempted,
        }

    def per_layer(self, groups: dict[str, dict[str, float]], wl) -> dict[str, float]:
        from eventlog import COUNTERS

        empty = dict.fromkeys(COUNTERS, 0.0)

        def op_layers(pass_name: str, op: str) -> dict[str, float]:
            build_s, action_s = self.spans[pass_name][op]
            b = groups.get(f"{pass_name}/{op}/build", empty)
            a = groups.get(f"{pass_name}/{op}/action", empty)
            out = {
                "driver.build_s": build_s,
                "driver.build_jobs": b["jobs"],
                "driver.idle_s": build_s + action_s - b["busy_s"] - a["busy_s"],
                "exec.action_s": action_s,
                "exec.jobs": a["jobs"],
            }
            for layer, counter in _FROM_LOG.items():
                out[layer] = b[counter] + a[counter]
            return out

        self.per_op = {p: {op: op_layers(p, op) for op in self.spans[p]} for p in self.spans}
        cold = self.per_op["cold"]
        out: dict[str, float] = dict.fromkeys((n for n, _ in per_layer_metrics()[2:]), 0.0)
        for layer, _unit in PASS_LAYERS:
            out[f"cold.{layer}"] = sum(v[layer] for v in cold.values())
            out[f"warm.{layer}"] = statistics.median(
                sum(v[layer] for v in self.per_op[p].values()) for p in self.warm_passes()
            )
        for op in wl.ops:
            jobs = lambda p: self.per_op[p][op]["driver.build_jobs"] + self.per_op[p][op]["exec.jobs"]  # noqa: E731
            out[f"{op}.cold_s"] = sum(self.spans["cold"].get(op, (0.0, 0.0)))
            out[f"{op}.warm_s"] = self.warm_median(op, lambda p: sum(self.spans[p][op]))
            out[f"{op}.cold_jobs"] = jobs("cold") if op in cold else 0.0
            out[f"{op}.warm_jobs"] = self.warm_median(op, jobs)
        ingest = getattr(wl, "ingest", {})
        for layer, _unit in INGEST_LAYERS:
            key = layer.split(".", 1)[1]
            vals = [v[key] for tag, v in ingest.items() if tag.startswith("warm")]
            out[layer] = statistics.median(vals) if vals else 0.0
        out["trace.ungrouped_jobs"] = groups.get("", empty)["jobs"]
        return out

    def check_trace(self, groups: dict[str, dict[str, float]]) -> None:
        """Fail every op span whose jobs the event log does not tag as
        the span's own: an action with no job (every action runs at
        least one), or more job-busy time than the span's wall time.
        Jobs outside any group after set-up fail the trace itself."""
        for pass_name, ops in self.per_op.items():
            for op, v in ops.items():
                if v["exec.jobs"] < 1 or v["driver.idle_s"] < -IDLE_TOLERANCE_S:
                    self._fail(
                        f"{pass_name}/{op}: event log shows {v['exec.jobs']:.0f} action jobs, "
                        f"{v['driver.idle_s']:.3f} s idle",
                        f"{pass_name}/{op}",
                    )
        self.attempted += 1
        ungrouped = groups.get("", {}).get("jobs", 0)
        if ungrouped:
            self._fail(f"event log has {ungrouped:.0f} jobs outside any op's job group")


def per_layer_metrics() -> list[tuple[str, str]]:
    """Every per-layer metric as (name, unit), in the order printed."""
    from workloads import WORKLOADS

    ops = [op for ops in WORKLOADS.values() for op in ops]
    return (
        list(OTHER_LAYERS[:2])
        + [(f"{p}.{n}", u) for p in ("cold", "warm") for n, u in PASS_LAYERS]
        + list(INGEST_LAYERS)
        + list(OTHER_LAYERS[2:])
        + [(f"{op}.{k}", u) for op in ops for k, u in OP_METRICS]
    )


def _history_path() -> Path:
    return HERE / ".work" / "history.jsonl"


def _history_key(args: argparse.Namespace, digest: str) -> dict:
    return {"workload": args.workload, "seconds": args.seconds, "source_digest": digest}


def untraced_reference(key: dict) -> dict[str, float] | None:
    """Median cold_s and warm_s of this checkout's untraced runs with the
    same workload, ``--seconds`` and engine sources, or None before the
    first one."""
    path = _history_path()
    rows = [json.loads(line) for line in path.read_text().splitlines()] if path.is_file() else []
    rows = [r for r in rows if all(r.get(k) == v for k, v in key.items())]
    if not rows:
        return None
    return {key: statistics.median(r[key] for r in rows) for key in ("cold_s", "warm_s")}


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    root = Path.cwd()
    if not (root / PACKAGE).is_dir():
        print(f"perfbench: no {PACKAGE}/ here; run from the repository root", file=sys.stderr)
        return 2
    sf_src = testdata_dir(root) if args.workload != "trips_ingest" else None

    work = HERE / ".work" / f"{args.workload}-{os.getpid()}"
    cores = use_work_dir(work)
    made_localdata = not (root / ".localdata").exists()
    load_at_start = os.getloadavg()
    host_cpu_at_start, own_cpu_at_start = _host_cpu_s(), _own_cpu_s()
    cache_tag = None
    run = Run(args, root, work)
    try:
        run.set_up()
        from workloads import WORKLOADS, QueryWorkload, TripsWorkload

        if sf_src is not None:
            alias = work / "sf0.1"
            cache_tag = alias_testdata(sf_src, alias)
            cached = model_cache_entries(root, cache_tag)
            run.meta["disk_cache_entries_at_start"] = len(cached)
            run.meta["disk_cache_started"] = "cold" if not cached else "warm"
            wl = QueryWorkload(run.spark, WORKLOADS[args.workload], str(alias))
        else:
            wl = TripsWorkload(run.spark, work, args.seed)
            run.meta["trips_input"] = {
                "files": len(wl.year.csv_paths) + len(wl.year.zip_paths),
                "csv_bytes": wl.year.input_bytes,
                "rows": wl.year.rows_in_files,
                "expected_rows": wl.year.expected_rows,
            }
        run.run_workload(wl)
        run.meta["peak_rss_mb_python"] = _status_mb("self", "VmHWM")
        run.meta["peak_rss_mb_jvm"] = _status_mb(run.jvm_pid, "VmHWM")
        import pyspark

        run.meta |= {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "git_commit": git_commit(root),
            "source_digest": source_digest(root),
            "pyspark": pyspark.__version__,
            "python": sys.version.split()[0],
            "nproc": os.cpu_count(),
            "master": f"local[{cores}]",
            "loadavg_at_start": [round(x, 2) for x in load_at_start],
            "op_cold_warm_s": {
                op: [round(sum(run.spans["cold"].get(op, (0.0, 0.0))), 4),
                     round(run.warm_median(op, lambda p: sum(run.spans[p][op])), 4)]  # noqa: B023
                for op in wl.ops
            },
            "ops": list(wl.ops),
            "pass_wall_s": {p: round(w, 4) for p, w in run.pass_wall.items()},
        }
        run.tear_down()
        wall_s = time.perf_counter() - _T0
        busy, steal = _host_cpu_s()
        others = (busy - host_cpu_at_start[0]) - (_own_cpu_s() - own_cpu_at_start)
        # other processes' load on the machine, and CPU time the hypervisor
        # took away, while this run ran, in cores
        run.meta["host_other_load"] = round(max(0.0, others) / wall_s, 3)
        run.meta["host_steal_load"] = round((steal - host_cpu_at_start[1]) / wall_s, 3)
        run.meta["host_probe_s"] = round(_host_probe_s(), 5)
        e2e = run.end_to_end()
        if args.trace:
            from eventlog import group_counters, read_events

            groups = group_counters(read_events(work / "eventlog"))
            metrics = run.layers | run.per_layer(groups, wl)
            run.check_trace(groups)
    finally:
        if run.spark is not None:
            run.tear_down()
        shutil.rmtree(work, ignore_errors=True)
        if cache_tag is not None:
            for p in model_cache_entries(root, cache_tag):
                shutil.rmtree(p, ignore_errors=True) if p.is_dir() else p.unlink(missing_ok=True)
        if made_localdata:
            shutil.rmtree(root / ".localdata", ignore_errors=True)

    key = _history_key(args, run.meta["source_digest"])
    if args.trace:
        ref = untraced_reference(key)
        run.meta["trace_reference_runs"] = "none" if ref is None else "untraced runs of this checkout"
        if ref is not None:
            metrics["trace.cold_overhead_frac"] = e2e["cold_s"] / ref["cold_s"] - 1.0
            metrics["trace.warm_overhead_frac"] = e2e["warm_s"] / ref["warm_s"] - 1.0
        listed = per_layer_metrics()
        print_op_table(run, wl.ops)
    else:
        with open(_history_path(), "a") as f:
            row = key | {"seed": args.seed, "cold_s": e2e["cold_s"], "warm_s": e2e["warm_s"]}
            f.write(json.dumps(row) + "\n")
        metrics = e2e
        listed = list(END_TO_END)

    print("perfbench meta " + json.dumps(run.meta, sort_keys=True))
    for name, unit in listed:
        print(f"  {name:<44} {metrics[name]:>18.6f} {unit}")
    print(f"  {'attempted':<44} {run.attempted:>18d} ops")
    print(f"  {'failed':<44} {run.failed:>18d} ops")
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {name: {"value": metrics[name], "unit": unit} for name, unit in listed},
    }
    print(json.dumps(result))
    return 0


def print_op_table(run: Run, ops: tuple[str, ...]) -> None:
    """Per-op layer figures of the cold pass and the median warm sample."""
    cols = [n for n, _ in PASS_LAYERS]
    print("perfbench per-op layers (cold, then median warm): " + ", ".join(cols))
    for op in ops:
        if op not in run.per_op["cold"]:
            continue
        cold = [run.per_op["cold"][op][c] for c in cols]
        warm = [run.warm_median(op, lambda p: run.per_op[p][op][c]) for c in cols]  # noqa: B023
        print(f"  {op:<28} cold " + " ".join(f"{v:.4g}" for v in cold))
        print(f"  {'':<28} warm " + " ".join(f"{v:.4g}" for v in warm))


if __name__ == "__main__":
    sys.exit(main())
