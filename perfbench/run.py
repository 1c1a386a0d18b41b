"""Benchmark entry point: one workload, one fresh process, one client.

    python3 perfbench/run.py --workload dag_lake --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The run writes only under
``.perfbench/`` in that checkout: its inputs, databases, ``TMPDIR`` and Spark
scratch live in a run directory that is deleted at the end, and one line of
box context and results is appended to ``.perfbench/history.jsonl``.

The last line of stdout is the result: ``{"correct", "attempted", "failed",
"metrics"}``. With ``--trace 0`` the metrics are the end-to-end metrics in
BENCHMARK.json; with ``--trace 1`` they are the per-layer metrics, and the
run also records spans, memo hits and Spark's event log. The lines before
it carry the box context (``perfbench.context``) and the workload's named
metrics (``perfbench.named``).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 4
DRIVER_MEM = "2g"
SETUP_REPEATS = 3
# the speed probe: a fixed loop, and its CPU time on the reference core
# (about the fastest this loop ran on the 4-vCPU measurement VM)
PROBE_LOOPS = 50_000
PROBE_REF_S = 0.003
# wall time ~ speed ** -SPEED_EXPONENT: the workloads' JVM and memory-heavy
# work slows more than the probe's loop does (README.md, "End-to-end metrics")
SPEED_EXPONENT = 1.5


def _process_age_s() -> float:
    """Seconds since this process started, from /proc (includes the
    interpreter's own start-up)."""
    try:
        with open("/proc/self/stat") as fh:
            start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as fh:
            uptime = float(fh.read().split()[0])
        return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return 0.0


T_PROCESS_START = time.perf_counter() - _process_age_s()


# -- box context and memory ----------------------------------------------------


def _spin_canary() -> float:
    """Best of five single-thread spins of a fixed loop, in seconds."""
    best = float("inf")
    for _ in range(5):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc += i * i
        best = min(best, time.perf_counter() - t0)
    return best


def _steal_s() -> float:
    """CPU time the hypervisor took from this machine since boot (all CPUs),
    from the ``steal`` column of /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return 0.0


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _status_mb(pid: int, field: str = "VmRSS") -> float:
    """A memory field of /proc/<pid>/status, in MB (0 once the process is gone)."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _probe_s() -> float:
    """CPU time this thread takes for a fixed loop: the core's speed at this
    moment. Thread CPU time leaves out the time the thread waits for a core,
    so the probe slows only when the core itself runs slower (another guest
    on the same physical core, shared caches)."""
    t0 = time.thread_time()
    acc = 0
    for i in range(PROBE_LOOPS):
        acc += i * i
    return time.thread_time() - t0


class Sampler(threading.Thread):
    """Every 0.2 s: the resident memory of this process plus every
    descendant (the JVM and its Python workers), from /proc, keeping the
    peak; every other tick, one speed probe."""

    def __init__(self, interval: float = 0.2) -> None:
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_mb = 0.0
        self.probes: list[tuple[float, float]] = []  # (perf_counter, probe seconds)
        self._halt = threading.Event()

    def sample(self) -> None:
        pid = os.getpid()
        total = _status_mb(pid) + sum(_status_mb(p) for p in _descendants(pid))
        self.peak_mb = max(self.peak_mb, total)

    def run(self) -> None:
        tick = 0
        while not self._halt.wait(self.interval):
            self.sample()
            tick += 1
            if tick % 2 == 0:
                self.probes.append((time.perf_counter(), _probe_s()))

    def speed(self, lo: float, hi: float) -> float:
        """Core speed over [lo, hi] relative to the reference: PROBE_REF_S
        over the mean probe time in that window (all probes if none fell
        in it)."""
        inside = [d for t, d in self.probes if lo <= t <= hi] or [d for _, d in self.probes]
        return PROBE_REF_S / statistics.fmean(inside) if inside else 1.0

    def stop(self) -> None:
        self._halt.set()
        if self.is_alive():
            self.join()
        self.sample()


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except OSError:
                pass
    return total


# -- the run context -------------------------------------------------------------


class Ctx:
    def __init__(self, args, run_dir: str) -> None:
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.tracing = bool(args.trace)
        self.root = ROOT
        self.work = os.path.join(run_dir, "work")
        self.input_dir = os.path.join(run_dir, "inputs")
        self.inputs: dict[str, str] = {}
        self.spark = None
        self.state: dict = {}
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.jobs: dict[str, tuple[float, float]] = {}  # part -> (wall seconds, end)
        self.named_metrics: dict[str, dict] = {}
        self.layers: dict[str, float] = {}
        self.samples: dict[str, list[float]] = {}
        self.phases: list[tuple[str, float, float]] = []
        self.records: dict = {}
        self._lock = threading.Lock()  # layer_add runs on Project.run's pool threads
        os.makedirs(self.work, exist_ok=True)

    # accounting
    def check(self, ok: bool, msg: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(msg)
            print(f"perfbench: check failed: {msg}", file=sys.stderr)

    def attempt(self, fn, *args, **kwargs):
        """Run one operation; an exception counts as a failed operation."""
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception as exc:  # noqa: BLE001 - every failure is counted
            self.failed += 1
            self.errors.append(f"{getattr(fn, '__name__', fn)}: {exc!r}")
            traceback.print_exc(file=sys.stderr)
            return None

    # timing
    @contextlib.contextmanager
    def phase(self, name: str):
        """A job group around one step of the workload: Spark jobs submitted
        from this thread carry it, and its wall-clock window attributes the
        jobs pool threads submit."""
        t0 = time.time()
        self.spark.sparkContext.setJobGroup(name, name)
        try:
            yield
        finally:
            self.spark.sparkContext.setJobGroup("perfbench", "between phases")
            self.phases.append((name, t0, time.time()))

    def span(self, name: str):
        return contextlib.nullcontext() if self.tracer is None else self.tracer.span(name)

    @contextlib.contextmanager
    def untraced(self):
        """Pause the package spans around the benchmark's own bookkeeping
        calls (for example the file listings behind a layer counter)."""
        if self.tracer is None:
            yield
            return
        self.tracer.paused = True
        try:
            yield
        finally:
            self.tracer.paused = False

    def set_job(self, part: str, seconds: float) -> None:
        """The wall time of one measured part of the workload (``batch`` or
        ``loop``, see README.md), which ends now."""
        self.jobs[part] = (seconds, time.perf_counter())

    def named(self, name: str, value, unit: str) -> None:
        self.named_metrics[name] = {"value": value, "unit": unit}

    # per-layer values
    def layer_add(self, name: str, value: float) -> None:
        with self._lock:
            self.layers[name] = self.layers.get(name, 0.0) + value

    def layer_sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    # history
    def record(self, key: str, value) -> None:
        self.records[key] = value

    def previous(self, key: str) -> list:
        out = []
        path = os.path.join(ROOT, ".perfbench", "history.jsonl")
        if os.path.exists(path):
            with open(path) as fh:
                for line in fh:
                    try:
                        rec = json.loads(line)
                    except ValueError:
                        continue
                    if rec.get("workload") == self.workload and rec.get("seed") == self.seed:
                        out.append(rec.get("records", {}).get(key))
        return out


# -- Spark session ---------------------------------------------------------------


def _submit_args(run_dir: str, tracing: bool) -> str:
    from tracing import eventlog_conf

    local = os.path.join(run_dir, "spark")
    os.makedirs(local, exist_ok=True)
    args = [
        # -XX:-UsePerfData: no hsperfdata file under /tmp
        "--driver-java-options", f"'-Djava.io.tmpdir={local} -XX:-UsePerfData'",
        "--conf", f"spark.local.dir={local}",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(local, 'warehouse')}",
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    if tracing:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        args += eventlog_conf(log_dir)
    return " ".join(args + ["pyspark-shell"])


def _wait_for_children(timeout: float) -> bool:
    """Reap exited children until this process has no descendants left;
    False if some are still running at the timeout."""
    deadline = time.time() + timeout
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
        if not _descendants(os.getpid()):
            return True
        if time.time() >= deadline:
            return False
        time.sleep(0.1)


def _stop_spark(spark) -> None:
    """Stop the session and its JVM, then wait for every child to end."""
    from pyspark import SparkContext

    try:
        spark.stop()
    except Exception:  # noqa: BLE001 - a broken gateway still gets shut down below
        traceback.print_exc(file=sys.stderr)
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
        if proc is not None:
            try:
                proc.stdin.close()  # the JVM exits when its stdin closes
            except OSError:
                pass
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    if not _wait_for_children(20):
        for pid in _descendants(os.getpid()):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        _wait_for_children(10)


# -- tracing -----------------------------------------------------------------------


def _install_tracing(ctx) -> list:
    """Wrap the package's public layer functions in spans and swap its memo
    dicts for counting spies. Returns the spies."""
    import importlib

    from tracing import Tracer, install_memo_spies

    # import every module a workload reaches, so that its functions are
    # wrapped and its memo dicts spied before the measured phase
    for mod in (
        "catalog", "dialect", "fs", "materialize", "project", "versioned",
        "sources.readers", "operators.corpus", "operators.release",
        "operators.shards", "operators.similarity", "operators.serving",
        "operators.text", "operators.kmeans",
    ):
        importlib.import_module(f"dbt_parquet_spark.{mod}")
    from dbt_parquet_spark import catalog, dialect, fs, materialize, project, versioned
    from dbt_parquet_spark.sources import readers

    tr = Tracer()
    ctx.tracer = tr
    tr.patch_method(project.Project, "run", "project.run")
    tr.patch_method(project.Project, "compile_sql", "project.compile")
    for t in ("test_unique", "test_not_null", "test_accepted_values", "test_relationships"):
        tr.patch_method(project.Project, t, "project.test")
    tr.patch_function(dialect, "translate_sql", "dialect.translate_sql")
    for m in ("register_view", "register_all_views", "get_columns", "docs_artifact"):
        tr.patch_method(catalog.FilesystemCatalog, m, f"catalog.{m}")
    for m in (
        "exists", "isdir", "isfile", "listdir", "open_input", "open_output",
        "rename", "getsize", "put_json_if_absent", "put_json_atomic", "get_json",
    ):
        tr.patch_method(fs.CatalogFS, m, f"fs.{m}")
    tr.patch_function(readers, "read_parquet", "sources.read_parquet")
    for f in (
        "write_versioned", "read_versioned", "merge_versioned", "delete_versioned",
        "read_versioned_changes", "apply_changes_versioned", "optimize_versioned",
        "vacuum_versions",
    ):
        tr.patch_function(versioned, f, f"versioned.{f}")

    def count_written(args, kwargs) -> None:
        catalog_, rel = args[1], args[2]
        path = catalog_.fs_path(rel)
        files = [path] if os.path.isfile(path) else [
            os.path.join(d, f) for d, _, names in os.walk(path) for f in names if f.endswith(".parquet")
        ]
        ctx.layer_add("materialize.files_written", len(files))
        ctx.layer_add("materialize.bytes_written", sum(os.path.getsize(f) for f in files))

    tr.patch_function(materialize, "create_table_as", "materialize.create_table_as", after=count_written)
    return install_memo_spies()


def _layer_metrics(ctx, spies, spark_totals: dict, tmp_bytes: int, end_to_end: dict) -> dict:
    from tracing import SPARK_COUNTERS
    from workloads import RETRIEVAL_QUERIES

    tr = ctx.tracer
    m: dict[str, float] = {}

    m["project.run.self_s"] = tr.self_time_of("project.run")
    m["project.compile.s"] = tr.total("project.compile")
    m["project.models_built"] = ctx.layers.get("project.models_built", 0)
    m["project.models_skipped"] = ctx.layers.get("project.models_skipped", 0)
    m["project.test.s"] = tr.total("project.test")
    for name in ("register_view", "get_columns"):
        m[f"catalog.{name}.s"] = tr.total(f"catalog.{name}")
        m[f"catalog.{name}.calls"] = tr.count(f"catalog.{name}")
    m["catalog.docs_artifact.s"] = tr.total("catalog.docs_artifact")
    m["materialize.create_table_as.s"] = tr.total("materialize.create_table_as")
    m["materialize.bytes_written"] = ctx.layers.get("materialize.bytes_written", 0)
    m["materialize.files_written"] = ctx.layers.get("materialize.files_written", 0)
    for call in ("exists", "isdir", "isfile", "listdir", "open_input", "rename", "put_json_if_absent"):
        m[f"fs.calls.{call}"] = tr.count(f"fs.{call}")
    m["fs.s"] = tr.layer_total("fs")
    m["sources.read_parquet.s"] = tr.total("sources.read_parquet")
    m["sources.read_parquet.calls"] = tr.count("sources.read_parquet")
    for stage in ("datasheet", "corpus_release", "release_substring_scrub"):
        m[f"operators.{stage}.build_s"] = tr.total(f"operators.{stage}.build")
        m[f"operators.{stage}.exec_s"] = tr.total(f"operators.{stage}.exec")
    m["operators.shards.s"] = tr.total("operators.shards")
    m["operators.memo.entries"] = sum(len(s) for s in spies)
    m["operators.memo.hits"] = sum(s.hits for s in spies)
    for _, q in RETRIEVAL_QUERIES:
        m[f"similarity.{q}.build_s"] = tr.total(f"similarity.{q}.build")
        m[f"similarity.{q}.exec_s"] = tr.total(f"similarity.{q}.exec")

    def p50(name: str) -> float:
        return statistics.median(ctx.samples[name]) if ctx.samples.get(name) else 0.0

    def mean(name: str) -> float:
        return statistics.fmean(ctx.samples[name]) if ctx.samples.get(name) else 0.0

    for op in ("merge", "delete", "append", "read"):
        m[f"versioned.{op}.p50_s"] = p50(f"versioned.{op}")
    m["versioned.files_rewritten_per_merge"] = mean("versioned.files_rewritten")
    m["versioned.files_scanned_per_read"] = mean("versioned.files_scanned")
    user_bytes = ctx.layers.get("versioned.user_bytes", 0.0)
    m["versioned.bytes_written_per_user_byte"] = (
        ctx.layers.get("versioned.bytes_written", 0.0) / user_bytes if user_bytes else 0.0
    )
    # the change feed is lazy: its span (workloads._lake_apply) covers the count
    m["versioned.changes.s"] = tr.total("versioned.changes")
    for f, name in (
        ("apply_changes_versioned", "apply"), ("optimize_versioned", "optimize"), ("vacuum_versions", "vacuum"),
    ):
        m[f"versioned.{name}.s"] = tr.total(f"versioned.{f}")
    for k in SPARK_COUNTERS:
        m[f"spark.{k}"] = spark_totals.get(k, 0.0)
    self_times = tr.self_times()
    for layer in SELF_LAYERS:
        m[f"self_s.{layer}"] = self_times.get(layer, 0.0)
    m["tmp.bytes_left"] = tmp_bytes
    m["trace.span_overhead_s"] = tr.overhead_s
    for part in JOB_PARTS:
        m[f"trace.{part}_s"] = end_to_end[f"{part}_s"]["value"]
    return m


JOB_PARTS = ("batch", "loop")
SELF_LAYERS = (
    "project", "dialect", "catalog", "materialize", "fs", "sources", "operators", "similarity", "versioned",
)


# -- main ----------------------------------------------------------------------------


def _terminate(signum, frame) -> None:
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "dbt_parquet_spark", "__init__.py")):
        print(f"perfbench: no dbt_parquet_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    sys.path.insert(1, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r} (have {sorted(WORKLOADS)})", file=sys.stderr)
        return 2
    tables, setup_fn, measure_fn = WORKLOADS[args.workload]

    base = os.path.join(ROOT, ".perfbench")
    os.makedirs(base, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"run-{args.workload}-{args.seed}-", dir=base)
    signal.signal(signal.SIGTERM, _terminate)
    sampler = Sampler()
    spark = None
    try:
        tmp_dir = os.path.join(run_dir, "tmp")
        os.makedirs(tmp_dir)
        os.environ["TMPDIR"] = tmp_dir
        tempfile.tempdir = None
        os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        os.environ["PYSPARK_SUBMIT_ARGS"] = _submit_args(run_dir, bool(args.trace))
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark")
        os.chdir(run_dir)
        context = {
            "nproc": os.cpu_count(),
            "loadavg_before": os.getloadavg(),
            "spin_canary_s": _spin_canary(),
        }
        steal_start = _steal_s()
        sampler.start()
        ctx = Ctx(args, run_dir)
        import datagen

        # set-up: the input derivation repeats (median kept); the session and
        # the workload's one-time build happen once
        gen_times = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            ctx.inputs = datagen.write_tables(ctx.input_dir, args.seed, tables)
            gen_times.append(time.perf_counter() - t0)
        from dbt_parquet_spark.session import get_spark

        spark = get_spark(f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        ctx.spark = spark
        with ctx.phase("setup"):
            setup_fn(ctx)
        spies = _install_tracing(ctx) if ctx.tracing else []
        t_ready = time.perf_counter()
        # process start to ready, counting the median input derivation once
        setup_s = t_ready - T_PROCESS_START - sum(gen_times) + statistics.median(gen_times)

        measure_fn(ctx)
        missing = [part for part in JOB_PARTS if part not in ctx.jobs]
        if missing:
            raise RuntimeError(f"workload measured no {missing} part: " + "; ".join(ctx.errors[:3]))
        tmp_bytes = _dir_bytes(tmp_dir)
        _stop_spark(spark)
        spark = None
        sampler.stop()
        spark_totals, per_group = {}, {}
        if ctx.tracing:
            from tracing import spark_layers

            measured = [ph for ph in ctx.phases if ph[0] != "setup"]
            spark_totals, per_group = spark_layers(os.path.join(run_dir, "eventlog"), measured)
    except Exception:  # noqa: BLE001 - reported, and the run prints no result
        traceback.print_exc(file=sys.stderr)
        return 1
    finally:
        # also on SIGTERM: no JVM, worker or run directory outlives the run
        try:
            if spark is not None:
                _stop_spark(spark)
            sampler.stop()
        finally:
            os.chdir(ROOT)
            shutil.rmtree(run_dir, ignore_errors=True)

    # the gated times are wall times scaled to the reference core speed
    # (README.md, "End-to-end metrics"); the walls stay in the named metrics
    speed = {"setup": sampler.speed(T_PROCESS_START, t_ready)}
    for part, (wall, end) in ctx.jobs.items():
        speed[part] = sampler.speed(end - wall, end)
    context["core_speed"] = speed
    context["probes"] = len(sampler.probes)
    ctx.named("setup_wall_s", setup_s, "s")
    setup_s *= speed["setup"] ** SPEED_EXPONENT
    end_to_end = {"setup_s": {"value": setup_s, "unit": "s"}}
    for part in JOB_PARTS:
        wall = ctx.jobs[part][0]
        ctx.named(f"{part}_wall_s", wall, "s")
        end_to_end[f"{part}_s"] = {"value": wall * speed[part] ** SPEED_EXPONENT, "unit": "s"}
    context["loadavg_after"] = os.getloadavg()
    context["cpu_steal_s"] = _steal_s() - steal_start
    context["tmp_bytes_left"] = tmp_bytes
    ctx.named("error_rate", ctx.failed / max(ctx.attempted, 1), "ratio")
    ctx.named("peak_rss_mb", sampler.peak_mb, "MB")
    end_to_end["driver_rss_mb"] = {"value": _status_mb(os.getpid(), "VmHWM"), "unit": "MB"}
    layer = _layer_metrics(ctx, spies, spark_totals, tmp_bytes, end_to_end) if ctx.tracing else {}
    if ctx.tracing:
        # the result carries the per-layer metrics BENCHMARK.json declares;
        # the "perfbench.layers" line carries every layer value measured
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            declared = json.load(fh)["per_layer"]
        metrics = {m["name"]: {"value": layer.get(m["name"], 0), "unit": m["unit"]} for m in declared}
    else:
        metrics = end_to_end
    with open(os.path.join(base, "history.jsonl"), "a") as fh:
        fh.write(json.dumps({
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "context": context, "named": ctx.named_metrics,
            "end_to_end": end_to_end, "layers": layer, "spark_groups": per_group, "records": ctx.records,
            "errors": ctx.errors[:20],
        }) + "\n")
    print("perfbench.context " + json.dumps(context))
    print("perfbench.named " + json.dumps(ctx.named_metrics))
    if ctx.tracing:
        print("perfbench.end_to_end " + json.dumps(end_to_end))
        print("perfbench.spark_groups " + json.dumps(per_group))
        print("perfbench.layers " + json.dumps(layer))
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": max(ctx.attempted, 1),
        "failed": ctx.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
